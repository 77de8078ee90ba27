package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._
import graft.link.Pipeline

/** CLK encoding, upload formats, hardening (BLIP, XOR folding) and the
  * privacy audits of the encodings: what a provider uploads and what an
  * attacker can learn from it.
  *
  * Inside the record-linkage boundary. */
object ClkQueries extends QueryFamily {
  private val shinglesUdf = udf((t: String) =>
    ClkEncoder.shingles(if (t == null) "" else t).distinct)
  private val positionsUdf = udf((t: String) =>
    ClkEncoder.positionsDistinct(if (t == null) "" else t))
  private val shinglePositionsUdf = udf((sh: String) =>
    ClkEncoder.shinglePositions(sh))
  private val flipsUdf = udf((id: Long) => ClkEncoder.blipFlips(id))
  /** The BLIP flip mask of `id` as 16 bigint words (bit p in word p / 64). */
  private val flipWordsUdf = udf((id: Long) => {
    val w = new Array[Long](16)
    ClkEncoder.blipFlips(id).foreach(p => w(p >>> 6) |= 1L << (p & 63))
    w
  })

  /** (doc, pos): the distinct CLK bit positions of each document. */
  private def positions(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id").as("doc"),
      explode(positionsUdf(col("text"))).as("pos"))

  /** (doc, pos): each document's BLIP flip mask. */
  private def flips(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id").as("doc"),
      explode(flipsUdf(col("doc_id").cast("long"))).as("pos"))

  /** (doc, sh): the distinct shingles of each document. */
  private def shingleDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id").as("doc"),
      explode(shinglesUdf(col("text"))).as("sh"))

  /** A febrl4 record's BLIP mask key: the dp-disambiguated id
    * dp * 1000000 + entity_id, so the two providers draw independent
    * masks. */
  private val febrl4FlipKey = col("dp").cast("long") * 1000000L + col("entity_id")

  /** The popcount of an array of bigint words, as a long. */
  private def popcountOf(words: Column): Column =
    aggregate(words, lit(0L), (acc, w) => acc + bit_count(w).cast("long"))

  /** Dice of two word arrays with popcounts pc0 and pc1, in the kernel's
    * double expression order: 2.0 * popcount(w0 & w1) / (pc0 + pc1). */
  private def dice(w0: Column, w1: Column, pc0: Column, pc1: Column): Column =
    lit(2.0) * aggregate(
      zip_with(w0, w1, (x, y) => bit_count(x.bitwiseAND(y)).cast("long")),
      lit(0L), (acc, x) => acc + x) / (pc0 + pc1)

  /** The fixture CLKs plus their 512-bit XOR folds `fw` (fw[i] = w[i] xor
    * w[i+8]) and the folds' popcounts `fpc`. */
  private def foldedClks(s: SparkSession): DataFrame =
    febrl4Clks(s)
      .withColumn("fw", zip_with(slice(col("words"), 1, 8),
        slice(col("words"), 9, 8), (x, y) => x.bitwiseXOR(y)))
      .withColumn("fpc", popcountOf(col("fw")))

  /** The oracle side of [[foldedClks]]: CTE `h`. */
  private val foldedClksSql =
    s"""h AS (SELECT *, list_sum(list_transform(fw, w -> bit_count(w))) AS fpc
               FROM (SELECT dp, entity_id, pc, words,
                            list_transform(range(1, 9),
                              i -> xor(words[i], words[i + 8])) AS fw
                     FROM '$FixturesDir/febrl4_clks.parquet'))"""

  private val EvalThresholds = Seq(0.7, 0.75, 0.8)
  private val FoldVariants = Seq(("raw", "words", "pc"), ("fold", "fw", "fpc"))
  private val BlipVariants = Seq(("blip", "hw", "hpc"))

  /** One (variant, threshold) cell of [[exhaustiveEval]] per variant and
    * threshold, with the suffix of its count columns. */
  private def evalCells(variants: Seq[(String, String, String)]) =
    for ((v, _, _) <- variants; th <- EvalThresholds)
      yield (v, th, s"${v}_${(th * 100).round}")

  /** The exhaustive febrl4 evaluation harness of the CLK hardening
    * variants: every dp 0 x dp 1 pair of `clks` scored by Dice over each
    * variant's (name, words column, popcount column), then edge-level
    * precision/recall/F1 against the truth at each of [[EvalThresholds]],
    * one row per (variant, threshold). The deliberate 1000x1000 crossJoin
    * is the evaluation (the er_febrl4_edges oracle's own shape); the
    * production path stays the blocked pipeline. */
  private def exhaustiveEval(s: SparkSession, clks: DataFrame,
      variants: Seq[(String, String, String)]): DataFrame = {
    def side(i: Int) = clks.where(col("dp") === i).select(
      col("entity_id").as(s"rec$i") +: variants.flatMap { case (_, w, pc) =>
        Seq(col(w).as(s"$w$i"), col(pc).as(s"$pc$i")) }: _*)
    val scored = side(0).crossJoin(side(1))
      .select(col("rec0") +: col("rec1") +: variants.map { case (v, w, pc) =>
        dice(col(s"${w}0"), col(s"${w}1"), col(s"${pc}0"), col(s"${pc}1"))
          .as(s"s$v") }: _*)
      .join(febrl4Truth(s).withColumn("ist", lit(1L)), Seq("rec0", "rec1"), "left")
      .withColumn("ist", coalesce(col("ist"), lit(0L)))
    val cells = evalCells(variants)
    val sums = scored.agg(sum(col("ist")).as("nt"), cells.flatMap { case (v, th, k) =>
      val hit = col(s"s$v") >= th
      Seq(sum(when(hit, 1L).otherwise(0L)).as(s"np_$k"),
        sum(when(hit, col("ist")).otherwise(0L)).as(s"tp_$k"))
    }: _*)
    val rows = sums.select(explode(array(cells.map { case (v, th, k) =>
      struct(lit(v).as("variant"), lit(th).as("threshold"),
        col(s"np_$k").as("n_pred"), col(s"tp_$k").as("tp"),
        col("nt").as("n_true"))
    }: _*)).as("r")).select("r.*")
    Pipeline.precisionRecallF1(rows).orderBy(col("variant"), col("threshold"))
  }

  /** The oracle side of [[exhaustiveEval]]: `clkCtes` ends in CTE `h`
    * holding the variants' columns; the cross join, the conditional sums
    * and the one UNION ALL row per cell are generated from the same
    * cells. */
  private def exhaustiveEvalSql(clkCtes: String,
      variants: Seq[(String, String, String)]): String = {
    val cells = evalCells(variants)
    val sims = variants.map { case (v, w, pc) =>
      s"""2.0 * list_sum(list_transform(range(1, len(a.$w) + 1),
                   i -> bit_count(a.$w[i] & b.$w[i])))
                   / (a.$pc + b.$pc) AS s$v"""
    }
    val sums = cells.map { case (v, th, k) =>
      s"""CAST(sum(CASE WHEN s$v >= $th THEN 1 ELSE 0 END) AS BIGINT) AS np_$k,
            CAST(sum(CASE WHEN s$v >= $th THEN ist ELSE 0 END) AS BIGINT) AS tp_$k"""
    }
    val rows = cells.map { case (v, th, k) =>
      s"""SELECT '$v' AS variant, CAST($th AS DOUBLE) AS threshold,
                  np_$k AS n_pred, tp_$k AS tp, nt AS n_true FROM g"""
    }
    s"""WITH $clkCtes,
         $febrl4TruthSql,
         p AS (SELECT a.entity_id AS rec0, b.entity_id AS rec1,
                 ${sims.mkString(",\n                 ")}
               FROM h a JOIN h b ON a.dp = 0 AND b.dp = 1),
         q AS (SELECT p.*, COALESCE(t.is_true, 0) AS ist
               FROM p LEFT JOIN truth t ON t.rec0 = p.rec0 AND t.rec1 = p.rec1),
         g AS (SELECT
            ${sums.mkString(",\n            ")},
            CAST(sum(ist) AS BIGINT) AS nt
            FROM q),
         r AS (
           ${rows.mkString("\n           UNION ALL ")})
         SELECT variant, threshold, n_pred, tp, n_true, $precisionRecallF1Sql
         FROM r"""
  }

  /** The rank-alignment attack (the simplified variant of
    * Christen/Ranbaduge/Schnell's Bloom-filter attacks): align the i-th
    * most frequent shingle with the i-th most frequent key `k` of `bits`
    * (one row per record and set bit) and test whether that bit is one
    * of the shingle's hash positions, mapped by `toBit` (identity for raw
    * CLKs). Top-k frames are TakeOrderedAndProject (distributed); the
    * rank window runs on 50 rows, never the corpus. */
  private def rankAlignment(s: SparkSession, dir: String, bits: DataFrame,
      toBit: Column => Column): DataFrame = {
    val byRank = Window.orderBy(col("n").desc, col("k"))
    def top50(keys: DataFrame) = keys
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("k")).limit(50)
      .select(row_number().over(byRank).as("rank"), col("k"), col("n"))
    val st = top50(shingleDocs(s, dir).select(col("sh").as("k")))
      .select(col("rank"), col("k").as("shingle"), col("n").as("df"))
    val pt = top50(bits)
      .select(col("rank"), col("k").as("pos"), col("n").as("n_set"))
    val mapping = st.select(col("shingle").as("msh")).distinct()
      .select(col("msh"), explode(shinglePositionsUdf(col("msh"))).as("p"))
      .select(col("msh"), toBit(col("p")).as("mpos")).distinct()
    st.join(pt, "rank")
      .join(mapping,
        col("msh") === col("shingle") && col("mpos") === col("pos"), "left")
      .select(col("rank"), col("shingle"), col("df"), col("pos"),
        col("n_set"), col("mpos").isNotNull.as("hit"))
      .orderBy(col("rank"))
  }

  /** The oracle side of [[rankAlignment]]: `bitCtes` ends in CTE `pf`
    * (pos, n_set) and `mapping` selects (sh, pos); both rankings are
    * (count DESC, key ASC) top-50 off the dumps. */
  private def rankAlignmentSql(bitCtes: String, mapping: String): String =
    s"""WITH sf AS (SELECT sh, CAST(count(*) AS BIGINT) AS df
                      FROM '$OracleAuxDir/shingle_doc/*.parquet' GROUP BY sh),
         st AS (SELECT CAST(row_number() OVER (ORDER BY df DESC, sh) AS INT)
                         AS rank,
                       sh AS shingle, df
                FROM sf ORDER BY df DESC, sh LIMIT 50),
         $bitCtes,
         pt AS (SELECT CAST(row_number() OVER (ORDER BY n_set DESC, pos)
                         AS INT) AS rank,
                       pos, n_set
                FROM pf ORDER BY n_set DESC, pos LIMIT 50),
         mp AS ($mapping)
         SELECT st.rank, st.shingle, st.df, pt.pos, pt.n_set,
                (mp.pos IS NOT NULL) AS hit
         FROM st JOIN pt USING (rank)
         LEFT JOIN mp ON mp.sh = st.shingle AND mp.pos = pt.pos"""

  /** Per document (doc, clk): the CLK as lowercase hex in `hexCol`, and
    * its popcount. */
  private def clkHex(clks: DataFrame, hexCol: String): DataFrame =
    clks.select(col("doc"), lower(hex(col("clk"))).as(hexCol),
        graft.expr.popcount(col("clk")).as("popcount"))
      .orderBy(col("doc"))

  /** The oracle side of [[clkHex]], rebuilt from CTE `bits` holding one
    * (doc, `bit`) row per set bit: byte b = Σ 1 << (bit % 8) over the
    * bits in byte b (a left join against the full `bytes`-slot grid keeps
    * zero bytes), hex via lpad, popcount = the count of bits. */
  private def clkHexSql(bits: String, bit: String, bytes: Int,
      hexCol: String): String =
    s"""g AS (SELECT doc_id AS doc, unnest(range(0, $bytes)) AS b FROM documents),
         bv AS (SELECT g.doc, g.b,
                       CAST(COALESCE(sum(1 << ($bits.$bit % 8)), 0) AS INT) AS v
                FROM g LEFT JOIN $bits ON $bits.doc = g.doc AND $bits.$bit // 8 = g.b
                GROUP BY g.doc, g.b),
         h AS (SELECT doc,
                      string_agg(lpad(lower(hex(v)), 2, '0'), '' ORDER BY b)
                        AS $hexCol
               FROM bv GROUP BY doc),
         pc AS (SELECT doc, count(*) AS n FROM $bits GROUP BY doc)
         SELECT h.doc, h.$hexCol, CAST(COALESCE(pc.n, 0) AS INT) AS popcount
         FROM h LEFT JOIN pc ON h.doc = pc.doc"""

  override def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
    // distinct CLK bit positions per document (double-hashing scheme,
    // ClkEncoderSpec-gated); the q_clk_encode oracle rebuilds bytes, hex
    // and popcount from these, and the q_clk_blip oracle XORs in the
    // flip mask below — the folds are value-checked, the hashes spec'd
    "clk_positions" -> positions,
    // BLIP hardening flip mask per document (keyed-hash residue class,
    // ClkEncoderSpec-gated determinism/density/involution)
    "blip_flips" -> flips,
    // BLIP flip masks of the febrl4 fixture records, keyed by
    // febrl4FlipKey — q_blip_eval XORs them into the fixture CLKs
    "blip_flips_febrl4" -> ((s, _) =>
      febrl4Clks(s).select(col("dp"), col("entity_id"),
        explode(flipsUdf(febrl4FlipKey)).as("pos"))),
    // attacker-side state for q_clk_attack: which shingles appear in
    // which documents (df replayed by the oracle) and which k positions
    // each shingle sets (the hash state the attack tries to recover;
    // the hashing itself is ClkEncoderSpec-gated)
    "shingle_doc" -> shingleDocs,
    "shingle_pos" -> ((s, dir) =>
      shingleDocs(s, dir).select(col("sh")).distinct()
        .select(col("sh"), explode(shinglePositionsUdf(col("sh"))).as("pos"))),
  )

  val queries: Seq[Query] = Seq(
    // XOR-fold privacy/utility tradeoff on the real edge set: per t=0.8
    // kernel edge, the Dice over 512-bit FOLDED CLKs (fw[i] = w[i] xor
    // w[i+8]) next to the full-width sim — delta is what hardening costs
    // each matched pair; same codegen zip_with/bit_count kernel shape
    Query("q_fold_dice", (s, _) => {
      val folded = foldedClks(s)
      febrl4Edges(s, 0.8).toDF()
        .join(folded.select(col("dp").as("dp0"), col("entity_id").as("rec0"),
          col("fw").as("fw0"), col("fpc").as("fpc0")), Seq("dp0", "rec0"))
        .join(folded.select(col("dp").as("dp1"), col("entity_id").as("rec1"),
          col("fw").as("fw1"), col("fpc").as("fpc1")), Seq("dp1", "rec1"))
        .select(col("dp0"), col("rec0"), col("dp1"), col("rec1"), col("sim"),
          dice(col("fw0"), col("fw1"), col("fpc0"), col("fpc1")).as("sim_fold"))
        .withColumn("delta", col("sim") - col("sim_fold"))
        .orderBy(col("rec0"), col("rec1"))
    },
      // fold tradeoff replay: folded words via xor(w[i], w[i+8]), folded
      // popcounts, then the SAME double expression order as the kernel
      // (2.0 * Σ / (pc+pc)) for both widths — deltas are bit-equal doubles
      s"""WITH $foldedClksSql,
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
      clkHex(docs(s, dir).select(col("doc_id").as("doc"),
        graft.ingest.Ingest.clkUdf(col("text")).as("clk")), "clk_hex"),
      // CLK encoding rebuilt byte-by-byte from the distinct-positions dump:
      // byte b = Σ 1<<(pos&7) over positions in byte b (a left join against
      // the full 128-slot grid keeps zero bytes), hex via lpad, popcount =
      // count of distinct positions — hex string and count must both match
      s"""WITH p AS (SELECT doc, pos FROM '$OracleAuxDir/clk_positions/*.parquet'),
         ${clkHexSql("p", "pos", 128, "clk_hex")}"""),
    // BLIP-style CLK hardening (privacy post-processing family the
    // reference's CLKs arrive under): deterministic keyed flip mask
    // XORed into each encoding; oracle = symmetric difference of the
    // positions and flip-mask dumps, rebuilt byte-by-byte
    Query("q_clk_blip", (s, dir) => {
      val hardenUdf = udf((id: Long, t: String) => {
        val e = graft.ingest.ClkEncoder
        e.applyFlips(e.encode(if (t == null) "" else t), e.blipFlips(id))
      })
      clkHex(docs(s, dir).select(col("doc_id").as("doc"),
        hardenUdf(col("doc_id").cast("long"), col("text")).as("clk")), "clk_hex")
    },
      // BLIP hardening = XOR of the encoding with the flip mask: a bit
      // survives iff it is in exactly ONE of the two dumps (symmetric
      // difference), then the same byte/hex/popcount rebuild as q_clk_encode
      s"""WITH p AS (SELECT doc, pos FROM '$OracleAuxDir/clk_positions/*.parquet'),
         f AS (SELECT doc, pos FROM '$OracleAuxDir/blip_flips/*.parquet'),
         x AS (SELECT doc, pos FROM
                 (SELECT doc, pos FROM p UNION ALL SELECT doc, pos FROM f) u
               GROUP BY doc, pos HAVING count(*) = 1),
         ${clkHexSql("x", "pos", 128, "clk_hex")}"""),
    // XOR-folding hardening (Schnell & Borgs 2016): CLK folded in half
    // by XORing the upper 512 bits into the lower 512 — each folded bit
    // is the PARITY of two original bits, so the oracle rebuilds it from
    // the positions dump as "position class pos%512 has odd multiplicity"
    Query("q_clk_fold", (s, dir) => {
      val foldUdf = udf((t: String) => {
        val e = graft.ingest.ClkEncoder
        e.foldXor(e.encode(if (t == null) "" else t))
      })
      clkHex(docs(s, dir).select(col("doc_id").as("doc"),
        foldUdf(col("text")).as("clk")), "fold_hex")
    },
      // XOR-fold = parity per position class pos%512 (positions are
      // distinct, so multiplicity of {q, q+512} is 0/1/2; folded bit set
      // iff it is odd), then the byte/hex/popcount rebuild over 64 bytes
      s"""WITH p AS (SELECT doc, pos % 512 AS q, count(*) AS c
                     FROM '$OracleAuxDir/clk_positions/*.parquet'
                     GROUP BY doc, pos % 512),
         f AS (SELECT doc, q FROM p WHERE c % 2 = 1),
         ${clkHexSql("f", "q", 64, "fold_hex")}"""),
    // CLK bit-frequency disclosure audit: per bit position, how many
    // records set it raw vs after the BLIP mask — the non-uniformity an
    // attacker exploits, and the flattening the hardening buys. Plan:
    // two explode+count aggs left-joined onto the full position range
    Query("q_bit_freq", (s, dir) => {
      val raw = positions(s, dir)
      // hardened bit = XOR = symmetric difference of the two position sets
      val blip = raw.unionAll(flips(s, dir)).groupBy("doc", "pos")
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
    // frequency-alignment cryptanalysis audit: the rank-alignment attack
    // against raw CLKs — hit rate = how much structure the raw
    // (unhardened) CLKs leak
    Query("q_clk_attack", (s, dir) =>
      rankAlignment(s, dir, positions(s, dir).select(col("pos").as("k")),
        identity),
      // rank-alignment attack replay: both frequency rankings off the
      // dumps, deterministic (count DESC, key ASC) top-50, hit = the
      // aligned position is among the shingle's dumped hash positions
      rankAlignmentSql(
        s"""pf AS (SELECT pos, CAST(count(*) AS BIGINT) AS n_set
                FROM '$OracleAuxDir/clk_positions/*.parquet' GROUP BY pos)""",
        s"SELECT sh, pos FROM '$OracleAuxDir/shingle_pos/*.parquet'")),
    // the same rank-alignment attack against XOR-FOLDED CLKs: folded
    // bit = parity of the pos%512 class per record, attacker aligns
    // folded-position frequencies and wins iff the aligned class
    // contains one of the shingle's (mod-512) hash positions — the
    // hit-rate delta vs q_clk_attack is the hardening's measured value
    Query("q_clk_attack_fold", (s, dir) =>
      // folded bit set iff the record's pos%512 class has odd multiplicity
      rankAlignment(s, dir,
        positions(s, dir).select(col("doc"), (col("pos") % 512).as("k"))
          .groupBy("doc", "k").agg(count(lit(1)).as("c"))
          .where(col("c") % 2 === 1).select(col("k")),
        _ % 512),
      // folded-attack replay: per-record odd-parity pos%512 classes, same
      // deterministic rankings, hit vs the shingle's mod-512 positions
      rankAlignmentSql(
        s"""fb AS (SELECT doc, pos % 512 AS q
                FROM '$OracleAuxDir/clk_positions/*.parquet'
                GROUP BY doc, pos % 512 HAVING count(*) % 2 = 1),
         pf AS (SELECT q AS pos, CAST(count(*) AS BIGINT) AS n_set
                FROM fb GROUP BY q)""",
        s"""SELECT DISTINCT sh, pos % 512 AS pos
                FROM '$OracleAuxDir/shingle_pos/*.parquet'""")),
    // fold privacy/utility capstone: edge-level precision/recall/F1 vs
    // ground truth for RAW vs FOLDED CLK scoring at t=0.7/0.75/0.8 —
    // what the hardening costs the BASELINE F1 gate itself
    Query("q_fold_eval", (s, _) =>
      exhaustiveEval(s, foldedClks(s), FoldVariants),
      // fold-eval replay: the same exhaustive cross join + both sims, the
      // conditional sums and UNION ALL rows generated from the same cells,
      // identical double expression order for precision/recall/F1
      exhaustiveEvalSql(foldedClksSql, FoldVariants)),
    // BLIP leg of the hardening trilogy (raw/fold in q_fold_eval): P/R/F1
    // of BLIP-hardened CLK scoring on the same exhaustive harness — the
    // keyed flip mask XORed into the fixture words record-by-record
    Query("q_blip_eval", (s, _) =>
      exhaustiveEval(s, febrl4Clks(s)
        .withColumn("hw", zip_with(col("words"), flipWordsUdf(febrl4FlipKey),
          (x, y) => x.bitwiseXOR(y)))
        .withColumn("hpc", popcountOf(col("hw"))), BlipVariants),
      // blip-eval replay: flip words rebuilt from the keyed-mask dump
      // (signed-64 two's complement at bit 63 handled explicitly), XORed
      // into the fixture words, same harness/metric expression order
      exhaustiveEvalSql(
        s"""c AS (SELECT dp, entity_id, words
                     FROM '$FixturesDir/febrl4_clks.parquet'),
         f AS (SELECT dp, entity_id, pos
               FROM '$OracleAuxDir/blip_flips_febrl4/*.parquet'),
         fi AS (SELECT dp, entity_id, unnest(range(0, 16)) AS i FROM c),
         fw AS (SELECT fi.dp, fi.entity_id, fi.i,
                       CAST(COALESCE(sum(
                         CASE WHEN f.pos % 64 = 63
                              THEN -9223372036854775808
                              ELSE (CAST(1 AS BIGINT) << (f.pos % 64)) END),
                         0) AS BIGINT) AS v
                FROM fi LEFT JOIN f ON f.dp = fi.dp
                  AND f.entity_id = fi.entity_id AND f.pos // 64 = fi.i
                GROUP BY fi.dp, fi.entity_id, fi.i),
         fa AS (SELECT dp, entity_id, list(v ORDER BY i) AS fwd
                FROM fw GROUP BY dp, entity_id),
         hx AS (SELECT c.dp, c.entity_id,
                       list_transform(range(1, 17),
                         i -> xor(c.words[i], fa.fwd[i])) AS hw
                FROM c JOIN fa ON fa.dp = c.dp
                  AND fa.entity_id = c.entity_id),
         h AS (SELECT dp, entity_id, hw,
                      list_sum(list_transform(hw, w -> bit_count(w))) AS hpc
               FROM hx)""", BlipVariants)),
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
