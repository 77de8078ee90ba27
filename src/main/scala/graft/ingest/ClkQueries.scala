package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._

/** CLK encoding, upload formats, hardening (BLIP, XOR folding) and the
  * privacy audits of the encodings: what a provider uploads and what an
  * attacker can learn from it.
  *
  * Inside the record-linkage boundary. */
object ClkQueries extends QueryFamily {
  override def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
    // distinct CLK bit positions per document (double-hashing scheme,
    // ClkEncoderSpec-gated); the q_clk_encode oracle rebuilds bytes, hex
    // and popcount from these, and the q_clk_blip oracle XORs in the
    // flip mask below — the folds are value-checked, the hashes spec'd
    "clk_positions" -> ((s, dir) => {
      val posUdf = udf((t: String) =>
        graft.ingest.ClkEncoder.positionsDistinct(if (t == null) "" else t))
      docs(s, dir).select(col("doc_id").as("doc"),
        explode(posUdf(col("text"))).as("pos"))
    }),
    // BLIP hardening flip mask per document (keyed-hash residue class,
    // ClkEncoderSpec-gated determinism/density/involution)
    "blip_flips" -> ((s, dir) => {
      val flipUdf = udf((id: Long) => graft.ingest.ClkEncoder.blipFlips(id))
      docs(s, dir).select(col("doc_id").as("doc"),
        explode(flipUdf(col("doc_id").cast("long"))).as("pos"))
    }),
    // BLIP flip masks keyed by (dp, entity_id) of the febrl4 fixture —
    // q_blip_eval XORs them into the fixture CLKs; record key = the
    // dp-disambiguated id (dp*1000000 + entity_id) so the two providers
    // draw independent masks
    "blip_flips_febrl4" -> ((s, _) => {
      val flipUdf = udf((id: Long) => graft.ingest.ClkEncoder.blipFlips(id))
      s.read.parquet(s"$FixturesDir/febrl4_clks.parquet")
        .select(col("dp"), col("entity_id"),
          explode(flipUdf(col("dp").cast("long") * 1000000L
            + col("entity_id"))).as("pos"))
    }),
    // attacker-side state for q_clk_attack: which shingles appear in
    // which documents (df replayed by the oracle) and which k positions
    // each shingle sets (the hash state the attack tries to recover;
    // the hashing itself is ClkEncoderSpec-gated)
    "shingle_doc" -> ((s, dir) => {
      val shUdf = udf((t: String) =>
        graft.ingest.ClkEncoder.shingles(if (t == null) "" else t).distinct)
      docs(s, dir).select(col("doc_id").as("doc"),
        explode(shUdf(col("text"))).as("sh"))
    }),
    "shingle_pos" -> ((s, dir) => {
      val shUdf = udf((t: String) =>
        graft.ingest.ClkEncoder.shingles(if (t == null) "" else t).distinct)
      val posUdf = udf((sh: String) =>
        graft.ingest.ClkEncoder.shinglePositions(sh))
      docs(s, dir).select(explode(shUdf(col("text"))).as("sh")).distinct()
        .select(col("sh"), explode(posUdf(col("sh"))).as("pos"))
    }),
  )

  val queries: Seq[Query] = Seq(
    // XOR-fold privacy/utility tradeoff on the real edge set: per t=0.8
    // kernel edge, the Dice over 512-bit FOLDED CLKs (fw[i] = w[i] xor
    // w[i+8]) next to the full-width sim — delta is what hardening costs
    // each matched pair; same codegen zip_with/bit_count kernel shape
    Query("q_fold_dice", (s, _) => {
      val folded = s.read.parquet(s"$FixturesDir/febrl4_clks.parquet")
        .select(col("dp"), col("entity_id"),
          zip_with(slice(col("words"), 1, 8), slice(col("words"), 9, 8),
            (x, y) => x.bitwiseXOR(y)).as("fw"))
        .withColumn("fpc", aggregate(col("fw"), lit(0L),
          (acc, w) => acc + bit_count(w).cast("long")))
      val edges = febrl4Edges(s, 0.8)
        .toDF()
      val andPc = aggregate(
        zip_with(col("fw0"), col("fw1"),
          (x, y) => bit_count(x.bitwiseAND(y)).cast("long")),
        lit(0L), (acc, x) => acc + x)
      edges
        .join(folded.select(col("dp").as("dp0"), col("entity_id").as("rec0"),
          col("fw").as("fw0"), col("fpc").as("fpc0")), Seq("dp0", "rec0"))
        .join(folded.select(col("dp").as("dp1"), col("entity_id").as("rec1"),
          col("fw").as("fw1"), col("fpc").as("fpc1")), Seq("dp1", "rec1"))
        .select(col("dp0"), col("rec0"), col("dp1"), col("rec1"), col("sim"),
          (lit(2.0) * andPc / (col("fpc0") + col("fpc1"))).as("sim_fold"))
        .withColumn("delta", col("sim") - col("sim_fold"))
        .orderBy(col("rec0"), col("rec1"))
    },
      // fold tradeoff replay: folded words via xor(w[i], w[i+8]), folded
      // popcounts, then the SAME double expression order as the kernel
      // (2.0 * Σ / (pc+pc)) for both widths — deltas are bit-equal doubles
      s"""WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '$FixturesDir/febrl4_clks.parquet'),
         g AS (SELECT dp, entity_id, pc, words,
                      list_transform(range(1, 9),
                        i -> xor(words[i], words[i + 8])) AS fw
               FROM c),
         h AS (SELECT dp, entity_id, pc, words, fw,
                      list_sum(list_transform(fw, w -> bit_count(w))) AS fpc
               FROM g),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc)
                    AS sim,
                  2.0 * list_sum(list_transform(range(1, 9),
                    i -> bit_count(a.fw[i] & b.fw[i]))) / (a.fpc + b.fpc)
                    AS sim_fold,
                  a.dp AS dp0, a.entity_id AS rec0,
                  b.dp AS dp1, b.entity_id AS rec1
           FROM h a JOIN h b ON a.dp < b.dp)
         SELECT dp0, rec0, dp1, rec1, sim, sim_fold, sim - sim_fold AS delta
         FROM p WHERE sim >= 0.8"""),
    // P4 encoding-size validation as a per-record decision surface over
    // a deliberately mixed-size upload fixture (10 good 128B + 64/96B
    // valid-but-mismatched + 20B non-multiple-of-8 + 1024B edge +
    // 1032B out-of-range)
    Query("q_encoding_validation", (s, _) =>
      ClkIO.validationReport(
          ClkIO.readJson(s, s"$FixturesDir/test_encodings_mixed.json", 0),
          declaredSize = 128)
        .orderBy(col("entity_id")),
      // P4: per-record verdicts re-derived from the raw upload bytes
      s"""WITH t AS (SELECT clks AS l
                    FROM read_json('$FixturesDir/test_encodings_mixed.json',
                      columns = {clks: 'VARCHAR[]'})),
         i AS (SELECT unnest(range(1, len(l) + 1)) AS idx, l FROM t),
         v AS (SELECT CAST(idx - 1 AS BIGINT) AS entity_id,
                      CAST(octet_length(from_base64(l[idx])) AS BIGINT) AS n_bytes
               FROM i)
         SELECT entity_id, n_bytes,
                n_bytes = 128 AS matches_declared,
                n_bytes BETWEEN 1 AND 1024 AND n_bytes % 8 = 0
                  AS valid_standalone
         FROM v"""),
    // S1/P1 JSON CLK scan + base64 codec: the reference's own
    // test_encoding.json fixture read through readJson (posexplode +
    // unbase64), re-encoded to base64; the oracle reads the same JSON
    // with DuckDB and replays positional ids + block slicing
    Query("q_clk_json", (s, _) =>
      ClkIO.readJson(s, s"$FixturesDir/test_encoding.json", 0)
        // Spark's base64 is MIME (RFC 2045: \r\n every 76 chars) — strip
        // the wrapping to get the canonical unchunked form the JSON holds
        .select(col("entity_id"),
          translate(base64(col("clk")), "\r\n", "").as("b64"),
          array_join(col("blocks"), ",").as("blocks_csv"))
        .orderBy(col("entity_id")),
      // JSON upload replayed positionally: row i-1 = clknblocks[i]
      s"""WITH t AS (SELECT clknblocks AS l
                    FROM read_json_auto('$FixturesDir/test_encoding.json')),
         i AS (SELECT unnest(range(1, len(l) + 1)) AS idx, l FROM t)
         SELECT CAST(idx - 1 AS BIGINT) AS entity_id,
                l[idx][1] AS b64,
                array_to_string(l[idx][2:], ',') AS blocks_csv
         FROM i"""),
    // S1 third upload format: "encodings" + external "blocks" map
    // (views/util.py:18-33). The committed fixture's map covers only ids
    // 0..9 of 12 encodings, so this also gates the reference's
    // drop-uncovered-ids semantics; the oracle replays the map join with
    // DuckDB map_entries over the same JSON
    Query("q_clk_json_blocks", (s, _) =>
      ClkIO.readJson(s, s"$FixturesDir/test_encodings_blocks.json", 0)
        .select(col("entity_id"),
          translate(base64(col("clk")), "\r\n", "").as("b64"),
          array_join(col("blocks"), ",").as("blocks_csv"))
        .orderBy(col("entity_id")),
      // encodings+blocks map join replayed via map_entries; DuckDB lists
      // are 1-based so encoding id k reads encodings[k+1]
      s"""WITH t AS (SELECT encodings, blocks
                    FROM read_json('$FixturesDir/test_encodings_blocks.json',
                      columns = {encodings: 'VARCHAR[]',
                                 blocks: 'MAP(VARCHAR, VARCHAR[])'})),
         e AS (SELECT unnest(map_entries(blocks)) AS ent, encodings FROM t)
         SELECT CAST(ent.key AS BIGINT) AS entity_id,
                encodings[CAST(ent.key AS INT) + 1] AS b64,
                array_to_string(ent.value, ',') AS blocks_csv
         FROM e"""),
    // P5 popcount driven end-to-end through the clk DataSourceV2: the
    // oracle recomputes every popcount with DuckDB bit_count over the
    // committed word-array fixture (same words the binary file packs)
    Query("q_popcount", (s, _) =>
      ClkIO.readBinary(s, s"$FixturesDir/febrl4_a.bin", 0, 128)
        .select(col("entityId").as("entity_id"), col("popcount"))
        .orderBy(col("entity_id")),
      // popcounts of the dp=0 binary upload recomputed word-by-word
      s"""SELECT entity_id,
           CAST(list_sum(list_transform(words, w -> bit_count(w))) AS INT)
             AS popcount
         FROM '$FixturesDir/febrl4_clks.parquet' WHERE dp = 0"""),
    // P2 `!I{n}s` byte-compat driven end-to-end: pack each fixture record
    // through BinaryCodec.pack (big-endian uint32 id + raw CLK bytes,
    // reference serialization.py:37-102), round-trip it through unpack,
    // and surface the wire bytes as hex; the oracle reconstructs the
    // exact layout with DuckDB integer/byte arithmetic from the
    // committed little-endian word fixture — no byte of the record is
    // taken on faith from this dump
    Query("q_binary_codec", (s, _) => {
      val packRec = udf((id: Long, clk: Array[Byte]) => {
        val rec = graft.core.BinaryCodec.pack(id, clk)
        val (uid, uclk) = graft.core.BinaryCodec.unpack(rec)
        (rec, uid == id && java.util.Arrays.equals(uclk, clk))
      })
      ClkIO.readBinary(s, s"$FixturesDir/febrl4_a.bin", 0, 128)
        .where(col("entityId") < 16)
        .select(col("entityId").as("entity_id"),
          packRec(col("entityId"), col("clk")).as("p"))
        .select(col("entity_id"),
          length(col("p._1")).cast("long").as("rec_len"),
          hex(col("p._1")).as("rec_hex"),
          col("p._2").as("round_trip_ok"))
        .orderBy(col("entity_id"))
    },
      // P2 `!I{n}s` wire layout rebuilt from the committed little-endian
      // word fixture with pure byte arithmetic: record = 4 big-endian id
      // bytes + the 128 CLK bytes ((words[wi] >> 8*bj) & 255 walks each
      // word's bytes in little-endian order)
      s"""WITH c AS (SELECT entity_id, words
                    FROM '$FixturesDir/febrl4_clks.parquet'
                    WHERE dp = 0 AND entity_id < 16)
         SELECT entity_id,
                CAST(4 + 8 * len(words) AS BIGINT) AS rec_len,
                upper(lpad(to_hex(entity_id), 8, '0') ||
                  list_aggregate(list_transform(range(1, 17), wi ->
                    list_aggregate(list_transform(range(0, 8), bj ->
                      lpad(to_hex((words[wi] >> (bj * 8)) & 255), 2, '0')),
                      'string_agg', '')),
                    'string_agg', '')) AS rec_hex,
                true AS round_trip_ok
         FROM c"""),
    // clkhash-style CLK encoding made driver-visible (the client-side
    // half of the reference pipeline, docs/concepts.rst:56-76 — clkhash
    // encodes, the service links): documents -> 1024-bit Bloom
    // bitvectors. The oracle rebuilds EVERY byte, the hex string and the
    // popcount from the clk_positions dump (positions→bytes fold
    // value-checked; the double hashing itself is ClkEncoderSpec's)
    Query("q_clk_encode", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id").as("doc"),
          graft.ingest.Ingest.clkUdf(col("text")).as("clk"))
        .select(col("doc"), lower(hex(col("clk"))).as("clk_hex"),
          graft.expr.popcount(col("clk")).as("popcount"))
        .orderBy(col("doc")),
      // CLK encoding rebuilt byte-by-byte from the distinct-positions dump:
      // byte b = Σ 1<<(pos&7) over positions in byte b (a left join against
      // the full 128-slot grid keeps zero bytes), hex via lpad, popcount =
      // count of distinct positions — hex string and count must both match
      s"""WITH p AS (SELECT doc, pos FROM '$OracleAuxDir/clk_positions/*.parquet'),
         g AS (SELECT doc_id AS doc, unnest(range(0, 128)) AS b FROM documents),
         bv AS (SELECT g.doc, g.b,
                       CAST(COALESCE(sum(1 << (p.pos % 8)), 0) AS INT) AS v
                FROM g LEFT JOIN p ON p.doc = g.doc AND p.pos // 8 = g.b
                GROUP BY g.doc, g.b),
         h AS (SELECT doc,
                      string_agg(lpad(lower(hex(v)), 2, '0'), '' ORDER BY b)
                        AS clk_hex
               FROM bv GROUP BY doc),
         pc AS (SELECT doc, count(*) AS n FROM p GROUP BY doc)
         SELECT h.doc, h.clk_hex, CAST(COALESCE(pc.n, 0) AS INT) AS popcount
         FROM h LEFT JOIN pc ON h.doc = pc.doc"""),
    // BLIP-style CLK hardening (privacy post-processing family the
    // reference's CLKs arrive under): deterministic keyed flip mask
    // XORed into each encoding; oracle = symmetric difference of the
    // positions and flip-mask dumps, rebuilt byte-by-byte
    Query("q_clk_blip", (s, dir) => {
      val hardenUdf = udf((id: Long, t: String) => {
        val e = graft.ingest.ClkEncoder
        e.applyFlips(e.encode(if (t == null) "" else t), e.blipFlips(id))
      })
      docs(s, dir)
        .select(col("doc_id").as("doc"),
          hardenUdf(col("doc_id").cast("long"), col("text")).as("clk"))
        .select(col("doc"), lower(hex(col("clk"))).as("clk_hex"),
          graft.expr.popcount(col("clk")).as("popcount"))
        .orderBy(col("doc"))
    },
      // BLIP hardening = XOR of the encoding with the flip mask: a bit
      // survives iff it is in exactly ONE of the two dumps (symmetric
      // difference), then the same byte/hex/popcount rebuild as q_clk_encode
      s"""WITH p AS (SELECT doc, pos FROM '$OracleAuxDir/clk_positions/*.parquet'),
         f AS (SELECT doc, pos FROM '$OracleAuxDir/blip_flips/*.parquet'),
         x AS (SELECT doc, pos FROM
                 (SELECT doc, pos FROM p UNION ALL SELECT doc, pos FROM f) u
               GROUP BY doc, pos HAVING count(*) = 1),
         g AS (SELECT doc_id AS doc, unnest(range(0, 128)) AS b FROM documents),
         bv AS (SELECT g.doc, g.b,
                       CAST(COALESCE(sum(1 << (x.pos % 8)), 0) AS INT) AS v
                FROM g LEFT JOIN x ON x.doc = g.doc AND x.pos // 8 = g.b
                GROUP BY g.doc, g.b),
         h AS (SELECT doc,
                      string_agg(lpad(lower(hex(v)), 2, '0'), '' ORDER BY b)
                        AS clk_hex
               FROM bv GROUP BY doc),
         pc AS (SELECT doc, count(*) AS n FROM x GROUP BY doc)
         SELECT h.doc, h.clk_hex, CAST(COALESCE(pc.n, 0) AS INT) AS popcount
         FROM h LEFT JOIN pc ON h.doc = pc.doc"""),
    // XOR-folding hardening (Schnell & Borgs 2016): CLK folded in half
    // by XORing the upper 512 bits into the lower 512 — each folded bit
    // is the PARITY of two original bits, so the oracle rebuilds it from
    // the positions dump as "position class pos%512 has odd multiplicity"
    Query("q_clk_fold", (s, dir) => {
      val foldUdf = udf((t: String) => {
        val e = graft.ingest.ClkEncoder
        e.foldXor(e.encode(if (t == null) "" else t))
      })
      docs(s, dir)
        .select(col("doc_id").as("doc"), foldUdf(col("text")).as("clk"))
        .select(col("doc"), lower(hex(col("clk"))).as("fold_hex"),
          graft.expr.popcount(col("clk")).as("popcount"))
        .orderBy(col("doc"))
    },
      // XOR-fold = parity per position class pos%512 (positions are
      // distinct, so multiplicity of {q, q+512} is 0/1/2; folded bit set
      // iff it is odd), then the byte/hex/popcount rebuild over 64 bytes
      s"""WITH p AS (SELECT doc, pos % 512 AS q, count(*) AS c
                     FROM '$OracleAuxDir/clk_positions/*.parquet'
                     GROUP BY doc, pos % 512),
         f AS (SELECT doc, q FROM p WHERE c % 2 = 1),
         g AS (SELECT doc_id AS doc, unnest(range(0, 64)) AS b FROM documents),
         bv AS (SELECT g.doc, g.b,
                       CAST(COALESCE(sum(1 << (f.q % 8)), 0) AS INT) AS v
                FROM g LEFT JOIN f ON f.doc = g.doc AND f.q // 8 = g.b
                GROUP BY g.doc, g.b),
         h AS (SELECT doc,
                      string_agg(lpad(lower(hex(v)), 2, '0'), '' ORDER BY b)
                        AS fold_hex
               FROM bv GROUP BY doc),
         pc AS (SELECT doc, count(*) AS n FROM f GROUP BY doc)
         SELECT h.doc, h.fold_hex, CAST(COALESCE(pc.n, 0) AS INT) AS popcount
         FROM h LEFT JOIN pc ON h.doc = pc.doc"""),
    // CLK bit-frequency disclosure audit: per bit position, how many
    // records set it raw vs after the BLIP mask — the non-uniformity an
    // attacker exploits, and the flattening the hardening buys. Plan:
    // two explode+count aggs left-joined onto the full position range
    Query("q_bit_freq", (s, dir) => {
      val posUdf = udf((t: String) =>
        graft.ingest.ClkEncoder.positionsDistinct(if (t == null) "" else t))
      val flipUdf = udf((id: Long) => graft.ingest.ClkEncoder.blipFlips(id))
      val d = docs(s, dir)
      val raw = d.select(col("doc_id").as("doc"),
        explode(posUdf(col("text"))).as("pos"))
      val flips = d.select(col("doc_id").as("doc"),
        explode(flipUdf(col("doc_id").cast("long"))).as("pos"))
      // hardened bit = XOR = symmetric difference of the two position sets
      val blip = raw.unionAll(flips).groupBy("doc", "pos")
        .agg(count(lit(1)).as("c")).where(col("c") === 1)
      val nRaw = raw.groupBy("pos").agg(count(lit(1)).as("n_raw"))
      val nBlip = blip.groupBy("pos").agg(count(lit(1)).as("n_blip"))
      s.range(1024).select(col("id").cast("int").as("pos"))
        .join(nRaw, Seq("pos"), "left").join(nBlip, Seq("pos"), "left")
        .select(col("pos"), coalesce(col("n_raw"), lit(0L)).as("n_raw"),
          coalesce(col("n_blip"), lit(0L)).as("n_blip"))
        .orderBy(col("pos"))
    },
      // bit-frequency audit replay: raw counts off the positions dump,
      // BLIP counts via the symmetric-difference fold, full 1024 range
      s"""WITH raw AS (SELECT doc, pos
                       FROM '$OracleAuxDir/clk_positions/*.parquet'),
         f AS (SELECT doc, pos FROM '$OracleAuxDir/blip_flips/*.parquet'),
         x AS (SELECT doc, pos FROM
                 (SELECT doc, pos FROM raw UNION ALL SELECT doc, pos FROM f) u
               GROUP BY doc, pos HAVING count(*) = 1),
         nr AS (SELECT pos, count(*) AS n FROM raw GROUP BY pos),
         nb AS (SELECT pos, count(*) AS n FROM x GROUP BY pos),
         g AS (SELECT CAST(unnest(range(0, 1024)) AS INT) AS pos)
         SELECT g.pos, CAST(COALESCE(nr.n, 0) AS BIGINT) AS n_raw,
                CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_blip
         FROM g LEFT JOIN nr ON nr.pos = g.pos
                LEFT JOIN nb ON nb.pos = g.pos"""),
    // frequency-alignment cryptanalysis audit (the simplified rank-
    // alignment variant of Christen/Ranbaduge/Schnell's Bloom-filter
    // attacks): align the i-th most frequent bit position with the i-th
    // most frequent shingle and test whether that position is really one
    // of the shingle's k hash positions — hit rate = how much structure
    // the raw (unhardened) CLKs leak. Top-k frames are
    // TakeOrderedAndProject (distributed); the rank window runs on 50
    // rows, never the corpus
    Query("q_clk_attack", (s, dir) => {
      val shUdf = udf((t: String) =>
        graft.ingest.ClkEncoder.shingles(if (t == null) "" else t).distinct)
      val posUdf = udf((t: String) =>
        graft.ingest.ClkEncoder.positionsDistinct(if (t == null) "" else t))
      val mapUdf = udf((sh: String) =>
        graft.ingest.ClkEncoder.shinglePositions(sh))
      val d = docs(s, dir)
      val byRank = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("k"))
      def top50(df: DataFrame) = df
        .orderBy(col("n").desc, col("k")).limit(50)
        .select(row_number().over(byRank).as("rank"), col("k"), col("n"))
      val st = top50(d.select(col("doc_id").as("doc"),
          explode(shUdf(col("text"))).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n")))
        .select(col("rank"), col("k").as("shingle"), col("n").as("df"))
      val pt = top50(d.select(col("doc_id").as("doc"),
          explode(posUdf(col("text"))).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n")))
        .select(col("rank"), col("k").as("pos"), col("n").as("n_set"))
      val mapping = st.select(col("shingle").as("msh")).distinct()
        .select(col("msh"), explode(mapUdf(col("msh"))).as("mpos"))
      st.join(pt, "rank")
        .join(mapping,
          col("msh") === col("shingle") && col("mpos") === col("pos"),
          "left")
        .select(col("rank"), col("shingle"), col("df"), col("pos"),
          col("n_set"), col("mpos").isNotNull.as("hit"))
        .orderBy(col("rank"))
    },
      // rank-alignment attack replay: both frequency rankings off the
      // dumps, deterministic (count DESC, key ASC) top-50, hit = the
      // aligned position is among the shingle's dumped hash positions
      s"""WITH sf AS (SELECT sh, CAST(count(*) AS BIGINT) AS df
                      FROM '$OracleAuxDir/shingle_doc/*.parquet' GROUP BY sh),
         st AS (SELECT CAST(row_number() OVER (ORDER BY df DESC, sh) AS INT)
                         AS rank,
                       sh AS shingle, df
                FROM sf ORDER BY df DESC, sh LIMIT 50),
         pf AS (SELECT pos, CAST(count(*) AS BIGINT) AS n_set
                FROM '$OracleAuxDir/clk_positions/*.parquet' GROUP BY pos),
         pt AS (SELECT CAST(row_number() OVER (ORDER BY n_set DESC, pos)
                         AS INT) AS rank,
                       pos, n_set
                FROM pf ORDER BY n_set DESC, pos LIMIT 50),
         mp AS (SELECT sh, pos FROM '$OracleAuxDir/shingle_pos/*.parquet')
         SELECT st.rank, st.shingle, st.df, pt.pos, pt.n_set,
                (mp.pos IS NOT NULL) AS hit
         FROM st JOIN pt USING (rank)
         LEFT JOIN mp ON mp.sh = st.shingle AND mp.pos = pt.pos"""),
    // the same rank-alignment attack against XOR-FOLDED CLKs: folded
    // bit = parity of the pos%512 class per record, attacker aligns
    // folded-position frequencies and wins iff the aligned class
    // contains one of the shingle's (mod-512) hash positions — the
    // hit-rate delta vs q_clk_attack is the hardening's measured value
    Query("q_clk_attack_fold", (s, dir) => {
      val shUdf = udf((t: String) =>
        graft.ingest.ClkEncoder.shingles(if (t == null) "" else t).distinct)
      val posUdf = udf((t: String) =>
        graft.ingest.ClkEncoder.positionsDistinct(if (t == null) "" else t))
      val mapUdf = udf((sh: String) =>
        graft.ingest.ClkEncoder.shinglePositions(sh).map(_ % 512).distinct)
      val d = docs(s, dir)
      val byRank = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("k"))
      def top50(df: DataFrame) = df
        .orderBy(col("n").desc, col("k")).limit(50)
        .select(row_number().over(byRank).as("rank"), col("k"), col("n"))
      val st = top50(d.select(col("doc_id").as("doc"),
          explode(shUdf(col("text"))).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n")))
        .select(col("rank"), col("k").as("shingle"), col("n").as("df"))
      // folded bit set iff the record's pos%512 class has odd multiplicity
      val foldedBits = d.select(col("doc_id").as("doc"),
          explode(posUdf(col("text"))).as("p"))
        .select(col("doc"), (col("p") % 512).as("q"))
        .groupBy("doc", "q").agg(count(lit(1)).as("c"))
        .where(col("c") % 2 === 1)
      val pt = top50(foldedBits.select(col("doc"), col("q").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n")))
        .select(col("rank"), col("k").as("pos"), col("n").as("n_set"))
      val mapping = st.select(col("shingle").as("msh")).distinct()
        .select(col("msh"), explode(mapUdf(col("msh"))).as("mpos"))
      st.join(pt, "rank")
        .join(mapping,
          col("msh") === col("shingle") && col("mpos") === col("pos"),
          "left")
        .select(col("rank"), col("shingle"), col("df"), col("pos"),
          col("n_set"), col("mpos").isNotNull.as("hit"))
        .orderBy(col("rank"))
    },
      // folded-attack replay: per-record odd-parity pos%512 classes, same
      // deterministic rankings, hit vs the shingle's mod-512 positions
      s"""WITH sf AS (SELECT sh, CAST(count(*) AS BIGINT) AS df
                      FROM '$OracleAuxDir/shingle_doc/*.parquet' GROUP BY sh),
         st AS (SELECT CAST(row_number() OVER (ORDER BY df DESC, sh) AS INT)
                         AS rank,
                       sh AS shingle, df
                FROM sf ORDER BY df DESC, sh LIMIT 50),
         fb AS (SELECT doc, pos % 512 AS q
                FROM '$OracleAuxDir/clk_positions/*.parquet'
                GROUP BY doc, pos % 512 HAVING count(*) % 2 = 1),
         pf AS (SELECT q AS pos, CAST(count(*) AS BIGINT) AS n_set
                FROM fb GROUP BY q),
         pt AS (SELECT CAST(row_number() OVER (ORDER BY n_set DESC, pos)
                         AS INT) AS rank,
                       pos, n_set
                FROM pf ORDER BY n_set DESC, pos LIMIT 50),
         mp AS (SELECT DISTINCT sh, pos % 512 AS pos
                FROM '$OracleAuxDir/shingle_pos/*.parquet')
         SELECT st.rank, st.shingle, st.df, pt.pos, pt.n_set,
                (mp.pos IS NOT NULL) AS hit
         FROM st JOIN pt USING (rank)
         LEFT JOIN mp ON mp.sh = st.shingle AND mp.pos = pt.pos"""),
    // fold privacy/utility capstone: edge-level precision/recall/F1 vs
    // ground truth for RAW vs FOLDED CLK scoring at t=0.7/0.75/0.8 —
    // what the hardening costs the BASELINE F1 gate itself. Exhaustive
    // 1000x1000 eval harness by design (the deliberate crossJoin is the
    // evaluation, mirroring the er_febrl4_edges oracle's own shape);
    // the production path stays the blocked pipeline
    Query("q_fold_eval", (s, _) => {
      val clks = s.read.parquet(s"$FixturesDir/febrl4_clks.parquet")
        .select(col("dp"), col("entity_id"), col("pc"), col("words"),
          zip_with(slice(col("words"), 1, 8), slice(col("words"), 9, 8),
            (x, y) => x.bitwiseXOR(y)).as("fw"))
        .withColumn("fpc", aggregate(col("fw"), lit(0L),
          (acc, w) => acc + bit_count(w).cast("long")))
      val a = clks.where(col("dp") === 0).select(
        col("entity_id").as("rec0"), col("pc").as("pc0"),
        col("words").as("w0"), col("fw").as("fw0"), col("fpc").as("fpc0"))
      val b = clks.where(col("dp") === 1).select(
        col("entity_id").as("rec1"), col("pc").as("pc1"),
        col("words").as("w1"), col("fw").as("fw1"), col("fpc").as("fpc1"))
      def andPc(x: String, y: String) = aggregate(
        zip_with(col(x), col(y),
          (u, v) => bit_count(u.bitwiseAND(v)).cast("long")),
        lit(0L), (acc, v) => acc + v)
      val truth = s.read.option("header", "true")
        .csv(s"$FixturesDir/febrl4_truth.csv")
        .select(col("row_a").cast("long").as("rec0"),
          col("row_b").cast("long").as("rec1"), lit(1L).as("ist"))
      val scored = a.crossJoin(b).select(col("rec0"), col("rec1"),
          (lit(2.0) * andPc("w0", "w1") / (col("pc0") + col("pc1")))
            .as("sraw"),
          (lit(2.0) * andPc("fw0", "fw1") / (col("fpc0") + col("fpc1")))
            .as("sfold"))
        .join(truth, Seq("rec0", "rec1"), "left")
        .withColumn("ist", coalesce(col("ist"), lit(0L)))
      val combos = for {
        (variant, c) <- Seq("raw" -> col("sraw"), "fold" -> col("sfold"))
        th <- Seq(0.7, 0.75, 0.8)
      } yield (variant, th, c)
      val aggCols = combos.flatMap { case (v, th, c) =>
        val k = s"${v}_${(th * 100).toInt}"
        Seq(sum(when(c >= th, 1L).otherwise(0L)).as(s"np_$k"),
          sum(when(c >= th, col("ist")).otherwise(0L)).as(s"tp_$k"))
      } :+ sum(col("ist")).as("nt")
      val one = scored.agg(aggCols.head, aggCols.tail: _*)
      val rows = combos.map { case (v, th, _) =>
        val k = s"${v}_${(th * 100).toInt}"
        one.select(lit(v).as("variant"), lit(th).as("threshold"),
          col(s"np_$k").as("n_pred"), col(s"tp_$k").as("tp"),
          col("nt").as("n_true"))
      }.reduce(_ unionByName _)
      rows
        .withColumn("precision", col("tp") / col("n_pred"))
        .withColumn("recall", col("tp") / col("n_true"))
        .withColumn("f1", lit(2) * col("precision") * col("recall")
          / (col("precision") + col("recall")))
        .orderBy(col("variant"), col("threshold"))
    },
      // fold-eval replay: the same exhaustive cross join + both sims, 12
      // conditional sums in one agg, 6 UNION ALL rows, identical double
      // expression order for precision/recall/F1
      s"""WITH c AS (SELECT dp, entity_id, pc, words,
                  list_transform(range(1, 9),
                    i -> xor(words[i], words[i + 8])) AS fw
                FROM '$FixturesDir/febrl4_clks.parquet'),
         h AS (SELECT dp, entity_id, pc, words, fw,
                      list_sum(list_transform(fw, w -> bit_count(w))) AS fpc
               FROM c),
         t AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                      CAST(row_b AS BIGINT) AS rec1, 1 AS ist
               FROM read_csv('$FixturesDir/febrl4_truth.csv',
                 header = true)),
         p AS (SELECT a.entity_id AS rec0, b.entity_id AS rec1,
                 2.0 * list_sum(list_transform(range(1, 17),
                   i -> bit_count(a.words[i] & b.words[i])))
                   / (a.pc + b.pc) AS sraw,
                 2.0 * list_sum(list_transform(range(1, 9),
                   i -> bit_count(a.fw[i] & b.fw[i])))
                   / (a.fpc + b.fpc) AS sfold
               FROM h a JOIN h b ON a.dp = 0 AND b.dp = 1),
         q AS (SELECT p.*, COALESCE(t.ist, 0) AS ist
               FROM p LEFT JOIN t ON t.rec0 = p.rec0 AND t.rec1 = p.rec1),
         g AS (SELECT
            CAST(sum(CASE WHEN sraw >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
              AS np_raw_70,
            CAST(sum(CASE WHEN sraw >= 0.7 THEN ist ELSE 0 END) AS BIGINT)
              AS tp_raw_70,
            CAST(sum(CASE WHEN sraw >= 0.75 THEN 1 ELSE 0 END) AS BIGINT)
              AS np_raw_75,
            CAST(sum(CASE WHEN sraw >= 0.75 THEN ist ELSE 0 END) AS BIGINT)
              AS tp_raw_75,
            CAST(sum(CASE WHEN sraw >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
              AS np_raw_80,
            CAST(sum(CASE WHEN sraw >= 0.8 THEN ist ELSE 0 END) AS BIGINT)
              AS tp_raw_80,
            CAST(sum(CASE WHEN sfold >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
              AS np_fold_70,
            CAST(sum(CASE WHEN sfold >= 0.7 THEN ist ELSE 0 END) AS BIGINT)
              AS tp_fold_70,
            CAST(sum(CASE WHEN sfold >= 0.75 THEN 1 ELSE 0 END) AS BIGINT)
              AS np_fold_75,
            CAST(sum(CASE WHEN sfold >= 0.75 THEN ist ELSE 0 END) AS BIGINT)
              AS tp_fold_75,
            CAST(sum(CASE WHEN sfold >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
              AS np_fold_80,
            CAST(sum(CASE WHEN sfold >= 0.8 THEN ist ELSE 0 END) AS BIGINT)
              AS tp_fold_80,
            CAST(sum(ist) AS BIGINT) AS nt
            FROM q),
         r AS (
           SELECT 'raw' AS variant, CAST(0.7 AS DOUBLE) AS threshold,
                  np_raw_70 AS n_pred, tp_raw_70 AS tp, nt AS n_true FROM g
           UNION ALL SELECT 'raw', CAST(0.75 AS DOUBLE),
                  np_raw_75, tp_raw_75, nt FROM g
           UNION ALL SELECT 'raw', CAST(0.8 AS DOUBLE),
                  np_raw_80, tp_raw_80, nt FROM g
           UNION ALL SELECT 'fold', CAST(0.7 AS DOUBLE),
                  np_fold_70, tp_fold_70, nt FROM g
           UNION ALL SELECT 'fold', CAST(0.75 AS DOUBLE),
                  np_fold_75, tp_fold_75, nt FROM g
           UNION ALL SELECT 'fold', CAST(0.8 AS DOUBLE),
                  np_fold_80, tp_fold_80, nt FROM g)
         SELECT variant, threshold, n_pred, tp, n_true,
                CAST(tp AS DOUBLE) / n_pred AS precision,
                CAST(tp AS DOUBLE) / n_true AS recall,
                2 * (CAST(tp AS DOUBLE) / n_pred)
                  * (CAST(tp AS DOUBLE) / n_true)
                  / ((CAST(tp AS DOUBLE) / n_pred)
                     + (CAST(tp AS DOUBLE) / n_true)) AS f1
         FROM r"""),
    // BLIP leg of the hardening trilogy (raw/fold in q_fold_eval): P/R/F1
    // of BLIP-hardened CLK scoring on the same exhaustive harness — the
    // keyed flip mask XORed into the fixture words record-by-record
    Query("q_blip_eval", (s, _) => {
      val flipWordsUdf = udf((id: Long) => {
        val w = new Array[Long](16)
        graft.ingest.ClkEncoder.blipFlips(id)
          .foreach(p => w(p >>> 6) = w(p >>> 6) | (1L << (p & 63)))
        w
      })
      val clks = s.read.parquet(s"$FixturesDir/febrl4_clks.parquet")
        .withColumn("fwd", flipWordsUdf(col("dp").cast("long") * 1000000L
          + col("entity_id")))
        .select(col("dp"), col("entity_id"),
          zip_with(col("words"), col("fwd"),
            (x, y) => x.bitwiseXOR(y)).as("hw"))
        .withColumn("hpc", aggregate(col("hw"), lit(0L),
          (acc, w) => acc + bit_count(w).cast("long")))
      val a = clks.where(col("dp") === 0).select(
        col("entity_id").as("rec0"), col("hw").as("h0"), col("hpc").as("p0"))
      val b = clks.where(col("dp") === 1).select(
        col("entity_id").as("rec1"), col("hw").as("h1"), col("hpc").as("p1"))
      val andPc = aggregate(
        zip_with(col("h0"), col("h1"),
          (u, v) => bit_count(u.bitwiseAND(v)).cast("long")),
        lit(0L), (acc, v) => acc + v)
      val truth = s.read.option("header", "true")
        .csv(s"$FixturesDir/febrl4_truth.csv")
        .select(col("row_a").cast("long").as("rec0"),
          col("row_b").cast("long").as("rec1"), lit(1L).as("ist"))
      val scored = a.crossJoin(b).select(col("rec0"), col("rec1"),
          (lit(2.0) * andPc / (col("p0") + col("p1"))).as("sblip"))
        .join(truth, Seq("rec0", "rec1"), "left")
        .withColumn("ist", coalesce(col("ist"), lit(0L)))
      val ths = Seq(0.7, 0.75, 0.8)
      val aggCols = ths.flatMap { th =>
        val k = (th * 100).toInt
        Seq(sum(when(col("sblip") >= th, 1L).otherwise(0L)).as(s"np_$k"),
          sum(when(col("sblip") >= th, col("ist")).otherwise(0L))
            .as(s"tp_$k"))
      } :+ sum(col("ist")).as("nt")
      val one = scored.agg(aggCols.head, aggCols.tail: _*)
      ths.map { th =>
        val k = (th * 100).toInt
        one.select(lit("blip").as("variant"), lit(th).as("threshold"),
          col(s"np_$k").as("n_pred"), col(s"tp_$k").as("tp"),
          col("nt").as("n_true"))
      }.reduce(_ unionByName _)
        .withColumn("precision", col("tp") / col("n_pred"))
        .withColumn("recall", col("tp") / col("n_true"))
        .withColumn("f1", lit(2) * col("precision") * col("recall")
          / (col("precision") + col("recall")))
        .orderBy(col("threshold"))
    },
      // blip-eval replay: flip words rebuilt from the keyed-mask dump
      // (signed-64 two's complement at bit 63 handled explicitly), XORed
      // into the fixture words, same harness/metric expression order
      s"""WITH c AS (SELECT dp, entity_id, words
                     FROM '$FixturesDir/febrl4_clks.parquet'),
         f AS (SELECT dp, entity_id, pos
               FROM '$OracleAuxDir/blip_flips_febrl4/*.parquet'),
         g AS (SELECT dp, entity_id, unnest(range(0, 16)) AS i FROM c),
         fw AS (SELECT g.dp, g.entity_id, g.i,
                       CAST(COALESCE(sum(
                         CASE WHEN f.pos % 64 = 63
                              THEN -9223372036854775808
                              ELSE (CAST(1 AS BIGINT) << (f.pos % 64)) END),
                         0) AS BIGINT) AS v
                FROM g LEFT JOIN f ON f.dp = g.dp
                  AND f.entity_id = g.entity_id AND f.pos // 64 = g.i
                GROUP BY g.dp, g.entity_id, g.i),
         fa AS (SELECT dp, entity_id, list(v ORDER BY i) AS fwd
                FROM fw GROUP BY dp, entity_id),
         h AS (SELECT c.dp, c.entity_id,
                      list_transform(range(1, 17),
                        i -> xor(c.words[i], fa.fwd[i])) AS hw
               FROM c JOIN fa ON fa.dp = c.dp
                 AND fa.entity_id = c.entity_id),
         h2 AS (SELECT dp, entity_id, hw,
                       list_sum(list_transform(hw, w -> bit_count(w))) AS hpc
                FROM h),
         t AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                      CAST(row_b AS BIGINT) AS rec1, 1 AS ist
               FROM read_csv('$FixturesDir/febrl4_truth.csv',
                 header = true)),
         p AS (SELECT a.entity_id AS rec0, b.entity_id AS rec1,
                 2.0 * list_sum(list_transform(range(1, 17),
                   i -> bit_count(a.hw[i] & b.hw[i])))
                   / (a.hpc + b.hpc) AS sblip
               FROM h2 a JOIN h2 b ON a.dp = 0 AND b.dp = 1),
         q AS (SELECT p.*, COALESCE(t.ist, 0) AS ist
               FROM p LEFT JOIN t ON t.rec0 = p.rec0 AND t.rec1 = p.rec1),
         gg AS (SELECT
            CAST(sum(CASE WHEN sblip >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
              AS np_70,
            CAST(sum(CASE WHEN sblip >= 0.7 THEN ist ELSE 0 END) AS BIGINT)
              AS tp_70,
            CAST(sum(CASE WHEN sblip >= 0.75 THEN 1 ELSE 0 END) AS BIGINT)
              AS np_75,
            CAST(sum(CASE WHEN sblip >= 0.75 THEN ist ELSE 0 END) AS BIGINT)
              AS tp_75,
            CAST(sum(CASE WHEN sblip >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
              AS np_80,
            CAST(sum(CASE WHEN sblip >= 0.8 THEN ist ELSE 0 END) AS BIGINT)
              AS tp_80,
            CAST(sum(ist) AS BIGINT) AS nt
            FROM q),
         r AS (
           SELECT 'blip' AS variant, CAST(0.7 AS DOUBLE) AS threshold,
                  np_70 AS n_pred, tp_70 AS tp, nt AS n_true FROM gg
           UNION ALL SELECT 'blip', CAST(0.75 AS DOUBLE),
                  np_75, tp_75, nt FROM gg
           UNION ALL SELECT 'blip', CAST(0.8 AS DOUBLE),
                  np_80, tp_80, nt FROM gg)
         SELECT variant, threshold, n_pred, tp, n_true,
                CAST(tp AS DOUBLE) / n_pred AS precision,
                CAST(tp AS DOUBLE) / n_true AS recall,
                2 * (CAST(tp AS DOUBLE) / n_pred)
                  * (CAST(tp AS DOUBLE) / n_true)
                  / ((CAST(tp AS DOUBLE) / n_pred)
                     + (CAST(tp AS DOUBLE) / n_true)) AS f1
         FROM r"""),
    // CLK popcount-distribution QA (the upload sanity readout anonlink
    // surfaces: saturated or empty filters break Dice discrimination):
    // per-provider histogram of popcount DIV 32 with per-dp shares
    Query("q_clk_popcount_dist", (s, _) => {
      val both = ClkIO.readBinary(s, s"$FixturesDir/febrl4_a.bin", 0, 128)
        .union(ClkIO.readBinary(s, s"$FixturesDir/febrl4_b.bin", 1, 128))
      val hist = both.select(col("dp"), expr("popcount DIV 32").as("bucket"))
        .groupBy("dp", "bucket").agg(count(lit(1)).as("n"))
      val tot = hist.groupBy("dp").agg(sum(col("n")).as("tot"))
      hist.join(broadcast(tot), Seq("dp"))
        .select(col("dp"), col("bucket"), col("n"),
          (col("n").cast("double") / col("tot")).as("share"))
        .orderBy(col("dp"), col("bucket"))
    },
      // popcount histogram re-derived word-by-word from the fixture
      s"""WITH c AS (SELECT dp,
                           CAST(list_sum(list_transform(words,
                             w -> bit_count(w))) AS INT) AS pc
                    FROM '$FixturesDir/febrl4_clks.parquet'),
         b AS (SELECT dp, CAST(pc // 32 AS BIGINT) AS bucket,
                      CAST(count(*) AS BIGINT) AS n
               FROM c GROUP BY 1, 2),
         t AS (SELECT dp, CAST(sum(n) AS BIGINT) AS tot FROM b GROUP BY dp)
         SELECT b.dp, b.bucket, b.n, CAST(b.n AS DOUBLE) / t.tot AS share
         FROM b JOIN t USING (dp)"""),
    // clkhash-style field normalization (the preprocessing clkhash runs
    // before encoding — reference schema "string transformations"):
    // deterministic accent injection, then fold = strip accents + lower
    // + punctuation collapse; norm is invariant under the dirtying,
    // which is the whole point of the stage
    Query("q_field_norm", (s, dir) => {
      val accented = "áéíóü" // á é í ó ü
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"))
      c.withColumn("raw",
          when(col("c_custkey") % 3 === 0,
            translate(col("c_name"), "aeiou", accented))
            .otherwise(col("c_name")))
        .select(col("c_custkey"), col("raw"),
          trim(regexp_replace(
            lower(translate(col("raw"), accented, "aeiou")),
            "[^a-z0-9]+", " ")).as("norm"),
          (col("raw") =!= col("c_name")).as("was_dirty"))
        .orderBy(col("c_custkey"))
    },
      // field normalization replayed with DuckDB's own translate/regexp
      """WITH d AS (SELECT c_custkey,
                CASE WHEN c_custkey % 3 = 0
                     THEN translate(c_name, 'aeiou', 'áéíóü')
                     ELSE c_name END AS raw,
                c_name
              FROM customer)
         SELECT c_custkey, raw,
                trim(regexp_replace(lower(translate(raw, 'áéíóü', 'aeiou')),
                  '[^a-z0-9]+', ' ', 'g')) AS norm,
                raw <> c_name AS was_dirty
         FROM d"""),
  )
}
