package graft
import org.apache.spark.sql.{SparkSession, DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{LinkConfig, RunScope}
import graft.ingest.ClkIO
import graft.link.{Linker, Pipeline}
import graft.cluster.Solver
import graft.textops.TextOps
import graft.dedup.Dedup
import graft.ann.Ann

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries with an `oracleSql` entry are replayed by the driver in DuckDB
  * over the same parquet tables (column names + types aligned on both
  * sides); queries without one are non-SQL-expressible (custom hashing /
  * the CLK pipeline) and get rows-only checks — their correctness gates
  * live in ScalaTest (exact brute-force oracles + reference fixtures).
  */
object SparkEntry {
  private val FixturesDir = "/root/repo/fixtures"

  /** Where Verify dumps the oracle-replay auxiliary tables (deterministic
    * per-document signature state — MinHash shingles/band keys, SimHash
    * longs, sign-LSH bucket keys). The DuckDB oracle SQL reads these by
    * absolute path and independently replays the PAIRING semantics
    * (bucket join + confirm + threshold + top-k); the signature
    * computations themselves are gated by ScalaTest brute-force oracles.
    * Same pattern as the committed `fixtures/febrl4_clks.parquet` dump
    * that lets DuckDB replay the CLK Dice kernel bit-for-bit. */
  val OracleAuxDir = "/tmp/graft_oracle_aux"

  /** Auxiliary dumps written by Verify before the driver's oracle runs. */
  def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 8x8 aHash cells of the deterministic variant corpus: the oracle
    // re-derives bits/mean/Hamming from the cells, so hashing + banding +
    // pairing are value-checked (the decode itself is MultimodalSpec's)
    "image_phash" -> ((s, _) =>
      graft.multimodal.Multimodal.perceptualHashes(
          graft.multimodal.Multimodal.synthPngVariants(s, 40),
          "doc", "payload")
        .toDF().where(col("ok")).select(col("doc"), col("cells"))),
    "minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(docs(s, dir), "doc_id", "text")),
    // raw component values ride along so the estimator-accuracy oracle
    // re-derives n_eq/est/exact from the dump (hash family spec-gated)
    "minhash_acc_sig" -> ((s, dir) =>
      Dedup.minhashComponentSignatures(docs(s, dir), "doc_id", "text")),
    "wminhash_sig" -> ((s, dir) =>
      Dedup.weightedMinhashSignatures(docs(s, dir), "doc_id", "text")),
    "simhash_sig" -> ((s, dir) =>
      Dedup.simhashSignatures(docs(s, dir), "doc_id", "text")),
    "ann_sig" -> ((s, dir) =>
      Ann.signatures(embs(s, dir), "vec_id", "embedding")
        .select(col("vid"), col("v"), col("bks"))),
    "ivf_sig" -> ((s, dir) => ivfSig(s, dir)),
    // PQ index state: globally-quantized vectors + per-subspace integer
    // codebooks. Training is integer-exact (bit-identical at any
    // parallelism), so the q_ann_pq_topk oracle re-derives CODE
    // ASSIGNMENT and the full ADC search in SQL from these two dumps —
    // only the Lloyd iterations themselves stay with PqSpec's local
    // brute-force equality.
    "pq_uv" -> ((s, dir) => pqModel(s, dir)._1),
    "pq_codebook" -> ((s, dir) => pqModel(s, dir)._2),
    // the deterministic link corpus (pure column algebra — replayable,
    // but dumped so the oracle checks EXTRACTION, not generation)
    "link_pages" -> ((s, _) => linkPages(s)),
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
    // full anchor x pool pair-hash table for q_neg_sample: the oracle
    // recomputes GROUPS from documents and replays exclusion + ranking
    // itself; only the xxhash64 values come from this dump (the
    // stratifiedSample division of labor, lifted to pairs)
    "neg_hash" -> ((s, dir) => {
      val ids = docs(s, dir).select(col("doc_id").cast("long").as("cand_id"))
      ids.crossJoin(
          ids.where(col("cand_id") < 20).select(col("cand_id").as("anchor_id")))
        .select(col("anchor_id"), col("cand_id"),
          xxhash64(lit(42L), col("anchor_id"), col("cand_id")).as("h"))
    }),
    // per-record LSH block keys of the synthetic pages corpus (B1 explode
    // + B3 agg replayed by the er_pages_block_stats oracle)
    "pages_sig" -> ((s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000))
      val keysUdf = udf((t: String) =>
        graft.ingest.Blocking.lshKeys(if (t == null) "" else t))
      pages.toDF().select(col("dp"), col("entity_id"), keysUdf(col("text")).as("bks"))
    }),
    // the labeled pages corpus (dp, entity_id, truth_entity, text) —
    // q_estimate_m_labels' oracle reads the RECORDS and replays label
    // blocking + gamma + agreement rates itself, so the dump only fixes
    // the generated corpus (pure deterministic synth, PagesSynth)
    "pages_rec" -> ((s, _) =>
      graft.ingest.PagesSynth.pages(s, Seq(1000, 1000)).toDF()
        .select(col("dp"), col("entity_id"), col("truth_entity"),
          col("text"))),
    // permutation construction inputs: matched pairs + the seeded slot
    // hashes (er_febrl4_permutation's oracle replays the full M1
    // construction — shuffle ranks, slot packing, remainder fill)
    "perm_pairs" -> ((s, _) => {
      import s.implicits._
      graft.cluster.Solver.pairsFromClusters(
        febrl4Clusters(s).as[graft.core.ClusterMember])
        .where($"dp0" === 0 && $"dp1" === 1)
        .select($"rec0".as("a_index"), $"rec1".as("b_index"))
    }),
    "perm_slots" -> ((s, _) =>
      s.range(1000).select(col("id").as("slot"),
        xxhash64(lit(42L), col("id")).as("h"),
        xxhash64(lit(43L), col("id")).as("h0"),
        xxhash64(lit(44L), col("id")).as("h1"))),
    // the constructed permutation rows (already fully oracled by
    // er_febrl4_permutation's construction replay) — q_perm_dense's
    // oracle array_aggs these, checking exactly the dict→dense reshape
    "perm_rows" -> ((s, _) => {
      import s.implicits._
      val clusters = febrl4Clusters(s).as[graft.core.ClusterMember]
      val (perm, _) = graft.cluster.Permutation.permuteAndMask(clusters, 1000, 1000)
      perm
    }),
    // raw media payloads of the er_pages_media_features corpus (ASCII
    // html, so a string dump is byte-faithful); the oracle replays the
    // decode dispatch in SQL: no JDK image reader accepts these payloads,
    // so every row takes Multimodal.decodeStub, whose dims derive from
    // java.util.Arrays.hashCode — 32-bit wrap arithmetic DuckDB can
    // replay exactly (same pattern as the q_fingerprint FNV-1a oracle)
    "media_payloads" -> ((s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(500, 500))
      pages.toDF().select(col("entity_id").cast("long").as("doc"),
        col("html").cast("string").as("payload"))
    }),
    // input payloads of q_resize_meta (real PNGs + junk rows); the oracle
    // replays the decode dispatch from the PNG magic in the blob's hex
    "resize_inputs" -> ((s, _) =>
      graft.multimodal.Multimodal.synthPngs(s, 40)),
    // per-name soundex keys of q_soundex_block's query/corpus sides (no
    // soundex in DuckDB — the oracle replays the PAIRING from this dump;
    // the soundex computation itself is gated by known NARA vectors in
    // FuzzySpec, same division of labor as the MinHash signatures)
    "soundex_sig" -> ((s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val mid = floor(length(col("p_name")) / 2).cast("int")
      names.select(col("p_name").as("orig"),
          concat(col("p_name").substr(lit(1), mid),
            col("p_name").substr(mid + lit(2), length(col("p_name"))))
            .as("name"))
        .withColumn("side", lit("q"))
        .unionByName(names.select(col("p_name").as("orig"),
          col("p_name").as("name")).withColumn("side", lit("c")))
        .withColumn("sdx", soundex(col("name")))
    }),
    // per-doc sampling hashes (q_sample_stratified's oracle replays the
    // per-stratum quota + hash ordering from these; hash determinism
    // itself is gated by TextOpsSpec)
    "sample_hash" -> ((s, dir) =>
      docs(s, dir).select(col("lang").as("stratum"),
        col("doc_id").as("id"),
        xxhash64(lit(42L), col("doc_id")).as("h"))),
  )

  // IVF centroid training sums floats in partition order — consistent
  // within one materialized assignment table, not across calls — so the
  // query and the oracle dump must share ONE result (memoized per
  // session+dir, same eviction discipline as febrl4ClustersCache).
  private val ivfSigCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def ivfSig(spark: SparkSession, dir: String): DataFrame = {
    ivfSigCache.keySet().removeIf(k =>
      try k._1.sparkContext.isStopped catch { case _: Throwable => true })
    ivfSigCache.computeIfAbsent((spark, dir), { case (s, d) =>
      Ann.ivfAssignments(embs(s, d), "vec_id", "embedding").persist()
    })
  }

  // PQ model (uv + codebook) — integer-exact and deterministic at any
  // parallelism, so memoization is an efficiency choice (the aux dumps
  // and the query would agree even recomputed), kept for the same
  // session-cache discipline as ivfSig.
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, DataFrame)]()
  private def pqModel(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    pqCache.keySet().removeIf(k =>
      try k._1.sparkContext.isStopped catch { case _: Throwable => true })
    pqCache.computeIfAbsent((spark, dir), { case (s, d) =>
      val uv = graft.ann.Pq.quantizeGlobal(embs(s, d), "vec_id", "embedding")
        .persist()
      val book = graft.ann.Pq.train(uv, numSub = 8, subDim = 8, ksub = 16,
        iters = 2).persist()
      (uv, book)
    })
  }

  private def febrl4Blocked(spark: SparkSession): DataFrame = {
    val a = ClkIO.readBinary(spark, s"$FixturesDir/febrl4_a.bin", 0, 128)
    val b = ClkIO.readBinary(spark, s"$FixturesDir/febrl4_b.bin", 1, 128)
    Pipeline.defaultBlock(a.union(b))
  }

  /** Labeled febrl4 truth pairs as (rec0, rec1). */
  private def febrl4Truth(s: SparkSession): DataFrame =
    s.read.option("header", "true")
      .schema("row_a LONG, row_b LONG")
      .csv(s"$FixturesDir/febrl4_truth.csv")
      .select(col("row_a").as("rec0"), col("row_b").as("rec1"))

  // clusters feed two result queries (groups + permutation) — computed
  // once per session (X5 cache parity: the reference caches decoded
  // encodings between stages, cache/encodings.py:13-55). Keyed by the
  // session OBJECT (identity hash ints can collide after GC); entries
  // bound to a stopped SparkContext are evicted on every access, which
  // also bounds the strong-ref leak to at most the live sessions + the
  // most recently stopped ones.
  private val febrl4ClustersCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()
  private def febrl4Clusters(spark: SparkSession): DataFrame = {
    febrl4ClustersCache.keySet().removeIf(s =>
      try s.sparkContext.isStopped catch { case _: Throwable => true })
    febrl4ClustersCache.computeIfAbsent(spark, s =>
      Pipeline.clusters(febrl4Blocked(s), LinkConfig(threshold = 0.8))
        .toDF().persist())
  }

  // memory-sink table names must be unique within a session
  private val streamQueryIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run a streaming query (start + drain) with
    * `spark.sql.shuffle.partitions` sized for its state stores instead of
    * the session's batch default. Stateful operators create one state
    * store PER shuffle partition PER micro-batch; these driver streams
    * replay a few thousand rows through up to ~30 micro-batches, so 32
    * state partitions pay ~1000 store instantiations/commits for
    * kilobytes of state (measured round 6: q_stream_ttl 22 s -> the
    * store overhead, not the data). Guide §2: size partitions to the
    * data and keep the setting parameterised — default 8 locally,
    * SPARK_GRAFT_STREAM_PARTITIONS overrides for production (set to
    * ~state keys / target-keys-per-task). The previous value is restored
    * afterward so batch queries are untouched; stream results are
    * partitioning-independent (keyed state, deterministic outputs, and
    * every stream query here orders its sink table on read). */
  private def withStreamPartitions[T](s: SparkSession)(body: => T): T = {
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS",
      math.min(8, math.max(1, s.sparkContext.defaultParallelism)).toString)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Full 2x2000 febrl4 record universe labeled with the golden
    * clustering (pred) and the truth pairing (truth); records outside
    * either get unique singleton labels — B-cubed/Rand need singletons
    * present. */
  private def febrl4Assignment(s: SparkSession): DataFrame = {
    val golden = s.read.parquet(s"$FixturesDir/febrl4_golden_clusters.parquet")
      .select((col("dp").cast("long") * 10000 + col("entityId")).as("id"),
        col("clusterId").as("pred"))
    val tp = s.read.option("header", "true")
      .csv(s"$FixturesDir/febrl4_truth.csv")
    val truth = tp.select(col("row_a").cast("long").as("id"),
        col("row_a").cast("long").as("t"))
      .union(tp.select((col("row_b").cast("long") + 10000).as("id"),
        col("row_a").cast("long").as("t")))
    val universe = s.range(2000).select(col("id"))
      .union(s.range(2000).select((col("id") + 10000).as("id")))
    universe.join(golden, Seq("id"), "left")
      .join(truth, Seq("id"), "left")
      .select(
        coalesce(col("pred"), -col("id") - 1).as("pred"),
        coalesce(col("t"), -col("id") - 1).as("truth"))
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")

  /** Deterministic 300-page link corpus: every page links to its "next"
    * page ((id*7+1) mod n), every third page adds a nofollow "see also"
    * link ((id*3+5) mod n) — enough structure for extraction order,
    * attribute tolerance, and in-degree skew to all be exercised. */
  private def linkPages(s: SparkSession): DataFrame = {
    val n = 300
    val next = ((col("id") * 7 + 1) % n).cast("string")
    val ref = ((col("id") * 3 + 5) % n).cast("string")
    s.range(n).select(col("id").as("doc"),
      concat(lit("<html><body><p>Page "), col("id").cast("string"),
        lit(".</p><a href=\"https://site.example/p/"), next,
        lit("\">next page "), next, lit("</a>"),
        when(col("id") % 3 === 0,
          concat(lit("<a href=\"https://site.example/p/"), ref,
            lit("\" rel=\"nofollow\">see also</a>"))).otherwise(lit("")),
        lit("</body></html>")).as("html"))
  }

  /** documents modeled as a 2-provider corpus: dp = doc_id % 2, block key
    * = first token (a cheap SQL-replayable blocking for the oracle; the
    * production path uses MinHash-LSH bands, er_pages_* queries). */
  private def docsBlocked(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      (col("doc_id") % 2).cast("int").as("dp"),
      col("doc_id").as("entity_id"),
      element_at(split(col("text"), " "), 1).as("block_key"),
      col("text"))

  /** Thinned co-purchase graph (l_orderkey%4=0, l_partkey%2=0) shared by
    * q_triangles / q_link_predict / q_label_prop — their oracles replay
    * this same filter + self-join edge formula, so the three queries
    * must stay in lockstep by construction. */
  private def coPurchaseEdgesThinned(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_orderkey") % 4 === 0 && col("l_partkey") % 2 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
  }

  /** Long-id edge list of the formula link graph (see [[linkPages]]),
    * parsed back out of the html — shared by q_bfs_hops / q_hits /
    * q_ppr (oracles regenerate the same formula edges). */
  private def linkGraphEdges(s: SparkSession): DataFrame =
    graft.ingest.LinkExtract.links(linkPages(s), "doc", "html")
      .select(col("src"),
        regexp_extract(col("href"), "/p/(\\d+)$", 1).cast("long").as("dst"))

  /** Flagship: the full record-linkage run (encode fixtures → block →
    * dice-score → threshold → dedup → CC → greedy solve → clusters).
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = febrl4Clusters(spark)

  /** One per implemented operator from SURVEY.md §2 + training-data ops. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- linkage pipeline on reference fixtures (rows-only; exact gates
    // ---- in LinkageFixtureSpec/MultipartySpec) ----
    "er_febrl4_edges" -> ((s, _) =>
      Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.8))
        .toDF().orderBy(desc("sim"), col("rec0"), col("rec1"))),
    "er_febrl4_clusters" -> ((s, _) =>
      febrl4Clusters(s).orderBy(col("clusterId"), col("dp"))),
    // XOR-fold privacy/utility tradeoff on the real edge set: per t=0.8
    // kernel edge, the Dice over 512-bit FOLDED CLKs (fw[i] = w[i] xor
    // w[i+8]) next to the full-width sim — delta is what hardening costs
    // each matched pair; same codegen zip_with/bit_count kernel shape
    "q_fold_dice" -> ((s, _) => {
      val folded = s.read.parquet(s"$FixturesDir/febrl4_clks.parquet")
        .select(col("dp"), col("entity_id"),
          zip_with(slice(col("words"), 1, 8), slice(col("words"), 9, 8),
            (x, y) => x.bitwiseXOR(y)).as("fw"))
        .withColumn("fpc", aggregate(col("fw"), lit(0L),
          (acc, w) => acc + bit_count(w).cast("long")))
      val edges = Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.8))
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
    }),
    // the FULL 5-party pipeline (P>2: all-cross-pairs greedy merge rule)
    // made driver-visible — encode 5 binary CLK uploads -> block ->
    // score -> CC -> solve; oracle = the frozen golden groups
    // (documented semi-circular regression pin; the semantic gates are
    // MultipartySpec's invariants + subsample brute-force equality)
    "er_multiparty_clusters" -> ((s, _) => {
      val all = (0 until 5).map { k =>
        ClkIO.readBinary(s, s"$FixturesDir/multiparty_$k.bin", k, 128)
      }.reduce(_ union _)
      graft.cluster.Solver.solve(
          Pipeline.edges(Pipeline.defaultBlock(all),
            LinkConfig(threshold = 0.8)), LinkConfig(threshold = 0.8))
        .toDF().orderBy(col("clusterId"), col("dp"))
    }),
    // mutual-best 1:1 tier over the same scored edges: reciprocal top-1
    // by (sim desc, partner asc) — the high-precision auto-accept band
    "q_mutual_best" -> ((s, _) =>
      graft.cluster.Solver.mutualBest(
          Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.8)).toDF())
        .orderBy(col("rec0"))),
    // three-zone decision surface: auto-accept >= 0.8, clerical review
    // in [0.7, 0.8) with a per-left-record review queue position —
    // oracle replays the kernel + the same CASE/window in SQL
    "q_clerical_band" -> ((s, _) =>
      graft.link.Review.threeZone(
          Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.7)).toDF(),
          upper = 0.8)
        .orderBy(col("zone"), col("dp0"), col("rec0"), col("queue_pos"),
          col("dp1"), col("rec1"))),
    // unlinkables curve (splink's unlinkables_chart): per candidate
    // threshold, the share of records whose BEST candidate score falls
    // below it — the coverage cost of raising the cut, measured over the
    // full record universe (no-candidate records count as best = 0)
    "q_unlinkables" -> ((s, _) => {
      val recs = ClkIO.readBinary(s, s"$FixturesDir/febrl4_a.bin", 0, 128)
        .union(ClkIO.readBinary(s, s"$FixturesDir/febrl4_b.bin", 1, 128))
        .toDF().select(col("dp"), col("entityId").as("rec"))
      graft.link.Review.unlinkables(
          Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.7)).toDF(),
          recs, Seq(0.7, 0.75, 0.8, 0.85, 0.9, 0.95))
        .orderBy(col("threshold"))
    }),
    // Newman modularity of the greedy solver's clustering against the
    // scored edge graph at the same threshold — unclustered endpoints
    // get unique singleton labels so shredded components dilute Q
    "q_modularity" -> ((s, _) =>
      graft.cluster.Evaluation.modularity(
        Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.8)).toDF(),
        febrl4Clusters(s).select(col("dp"), col("entityId").as("rec"),
          col("clusterId").as("label")))),
    // deterministic rule-cascade tier (splink's deterministic rules in
    // front of the probabilistic kernel): ordered first-match-wins over
    // first-token-blocked document pairs — one codegen CASE projection,
    // no UDFs; oracle replays the same join + CASE
    "q_rule_cascade" -> ((s, dir) => {
      // rule keys derived ONCE per record before the pair fan-out (the
      // scale-correct shape: a pair row compares precomputed scalars,
      // never re-tokenizes; token-prefix equality == joined-string
      // equality because tokens cannot contain the delimiter)
      val toks = split(col("text"), " ")
      val x = docs(s, dir).select(col("doc_id"), col("lang"),
        element_at(toks, 1).as("bk"),
        substring(col("text"), 1, 40).as("h40"),
        concat_ws(" ", slice(toks, 1, 3)).as("t3"),
        concat_ws(" ", slice(toks, 1, 2)).as("t2"),
        length(col("text")).as("len"))
      val pairs = x.as("a").join(x.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("rec0"), col("b.doc_id").as("rec1"),
          col("a.h40").as("h40_0"), col("b.h40").as("h40_1"),
          col("a.t3").as("t3_0"), col("b.t3").as("t3_1"),
          col("a.t2").as("t2_0"), col("b.t2").as("t2_1"),
          col("a.lang").as("l0"), col("b.lang").as("l1"),
          col("a.len").as("len0"), col("b.len").as("len1"))
      graft.link.Rules.cascade(pairs, Seq(
          "r1_head40" -> (col("h40_0") === col("h40_1")),
          "r2_tok3" -> (col("t3_0") === col("t3_1")),
          "r3_lang_len" -> (col("l0") === col("l1") &&
            col("len0") === col("len1")),
          "r4_tok2" -> (col("t2_0") === col("t2_1"))))
        .select(col("rec0"), col("rec1"), col("matched_rule"))
        .orderBy(col("rec0"), col("rec1"))
    }),
    // splink's estimate_probability_two_random_records_match: the EM
    // λ prior from deterministic equality rules at an assumed recall
    // of 0.9 — exact integer λ over the C(n,2) pair universe
    "q_lambda_prior" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val x = docs(s, dir).select(col("doc_id").as("id"),
        substring(col("text"), 1, 40).as("h40"),
        concat_ws(" ", slice(toks, 1, 3)).as("t3"),
        col("lang"), length(col("text")).as("len"))
      graft.link.Rules.lambdaPrior(x, "id", Seq(
        "r1_head40" -> Seq("h40"),
        "r2_tok3" -> Seq("t3"),
        "r3_lang_len" -> Seq("lang", "len")), recallScaled = 9000L)
    }),
    // cluster-cohesion audit: CC at t=0.75 over the kernel edges, then
    // per-component implied-pair closure vs actually-scored edges; the
    // oracle recomputes the components themselves with a recursive
    // min-label CTE over the replayed edge set
    "q_cluster_cohesion" -> ((s, _) =>
      graft.cluster.Evaluation.clusterCohesion(
          Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.75)).toDF())
        .orderBy(col("component"))),
    // edge-level threshold selection against the labeled truth: the
    // P/R/F1 curve over a threshold grid with the argmax marked — the
    // tuning readout in front of q_febrl4_eval's cluster-level gate
    "q_threshold_f1" -> ((s, _) => {
      import s.implicits._
      val truth = s.read.option("header", "true")
        .csv(s"$FixturesDir/febrl4_truth.csv")
        .select(col("row_a").cast("long").as("rec0"),
          col("row_b").cast("long").as("rec1"))
      // 5 per-threshold agg branches all re-read the edge set; the
      // upstream is the scoring kernel — persist so it runs once, not 5x
      val edges = RunScope.persist("threshold_f1_edges",
        Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.7))
          .toDF().select($"rec0", $"rec1", $"sim"))
      val nTrue = truth.count()
      val rows = Seq(0.7, 0.75, 0.8, 0.85, 0.9).map { t =>
        edges.where($"sim" >= t)
          .join(truth.withColumn("hit", lit(1L)), Seq("rec0", "rec1"), "left")
          .agg(count(lit(1)).as("n_pred"),
            sum(coalesce($"hit", lit(0L))).as("tp"))
          .select(lit(t).as("threshold"), $"n_pred", lit(nTrue).as("n_true"),
            $"tp")
      }.reduce(_ unionByName _)
      rows
        .withColumn("precision", $"tp" / $"n_pred")
        .withColumn("recall", $"tp" / $"n_true")
        .withColumn("f1", lit(2) * ($"tp" / $"n_pred") * ($"tp" / $"n_true")
          / (($"tp" / $"n_pred") + ($"tp" / $"n_true")))
        .withColumn("is_best",
          $"f1" === max($"f1").over(Window.partitionBy(lit(1))))
        .orderBy("threshold")
    }),
    // single-linkage dendrogram cuts: cluster structure at each
    // threshold (cutting single-link at t == CC over edges with sim>=t);
    // the oracle recomputes all three cuts with one thr-parameterized
    // recursive min-label CC
    "q_dendrogram_cut" -> ((s, _) =>
      graft.cluster.Evaluation.dendrogramCuts(
          Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.75)).toDF(),
          Seq(0.75, 0.8, 0.85))
        .orderBy(col("threshold"))),
    // incremental linkage: only pairs touching the "new batch" (here the
    // deterministic 10% slice entity_id%10==7) are scored; the oracle
    // replays the FULL kernel and filters to touching-new — equality of
    // the two shapes is exactly the delta contract
    "q_link_delta" -> ((s, _) =>
      Pipeline.edgesDelta(febrl4Blocked(s), LinkConfig(threshold = 0.8),
          col("entity_id") % 10 === 7)
        .toDF().orderBy(desc("sim"), col("rec0"), col("rec1"))),
    // Hamming bit-sampling LSH blocking over the packed CLKs (Indyk-
    // Motwani bit sampling: zero signature state, band keys = constant-
    // position bit reads from the words column), exact Dice confirm;
    // n_bands = collision evidence strength. Oracle replays positions,
    // banding, pairing and the kernel from the committed fixture.
    "q_hamming_lsh" -> ((s, _) =>
      graft.ingest.Blocking.hammingLshPairs(
          s.read.parquet(s"$FixturesDir/febrl4_clks.parquet"),
          threshold = 0.8)
        .orderBy(col("rec0"), col("rec1"))),
    // anonlink-k candidate capping (LinkConfig.topKPerRecord) over the
    // same fixture — oracle replays the kernel + a per-record window
    "q_clk_edges_topk" -> ((s, _) =>
      Pipeline.edges(febrl4Blocked(s),
        LinkConfig(threshold = 0.8, topKPerRecord = Some(2)))
        .toDF().orderBy(col("rec0"), col("dp1"), col("rec1"))),
    "er_febrl4_permutation" -> ((s, _) => {
      import s.implicits._
      val clusters = febrl4Clusters(s).as[graft.core.ClusterMember]
      val (perm, _) = graft.cluster.Permutation.permuteAndMask(clusters, 1000, 1000)
      perm.orderBy(col("dp"), col("row_index"))
    }),
    // M2 dict→dense-list through the REAL driver-side export (the
    // reference's apply_permutation builds a per-provider python list);
    // the construction itself is fully oracled by er_febrl4_permutation,
    // so the aux dump + array_agg oracle checks exactly the reshape
    "q_perm_dense" -> ((s, _) => {
      import s.implicits._
      val clusters = febrl4Clusters(s).as[graft.core.ClusterMember]
      val (perm, _) = graft.cluster.Permutation.permuteAndMask(clusters, 1000, 1000)
      val dense = Seq(0, 1).map(dp =>
        (dp, graft.cluster.Permutation.toDenseList(perm, dp).mkString(",")))
      dense.toDF("dp", "slots_csv")
    }),
    // G2 group→pairs expansion (anonlink pairs_from_groups): oracle
    // re-derives the cross pairs from the frozen golden clusters
    "q_solver_pairs" -> ((s, _) => {
      import s.implicits._
      graft.cluster.Solver.pairsFromClusters(
          febrl4Clusters(s).as[graft.core.ClusterMember])
        .orderBy(col("dp0"), col("rec0"), col("dp1"), col("rec1"))
    }),
    // P4 encoding-size validation as a per-record decision surface over
    // a deliberately mixed-size upload fixture (10 good 128B + 64/96B
    // valid-but-mismatched + 20B non-multiple-of-8 + 1024B edge +
    // 1032B out-of-range)
    "q_encoding_validation" -> ((s, _) =>
      ClkIO.validationReport(
          ClkIO.readJson(s, s"$FixturesDir/test_encodings_mixed.json", 0),
          declaredSize = 128)
        .orderBy(col("entity_id"))),
    "er_pages_clusters" -> ((s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000))
      val blocked = graft.ingest.Ingest.encodeAndBlock(pages)
      Pipeline.clusters(blocked, LinkConfig(threshold = 0.8))
        .toDF().orderBy(col("clusterId"), col("dp"))
    }),
    "er_pages_block_stats" -> ((s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000))
      val blocked = graft.ingest.Ingest.encodeAndBlock(pages)
      graft.ingest.Blocking.blockStats(blocked).orderBy(col("dp"), col("block_key"))
    }),
    // blocking-quality metrics over the LSH-blocked pages corpus:
    // reduction ratio vs the 1000x1000 cross product + pairs
    // completeness/quality against the synthesizer's truth_entity ground
    // truth; the oracle replays candidates from the pages_sig band-key
    // dump and the truth from the generator's shared-prefix contract
    // (dp-1 shared rows are exactly entity_id < floor(1000 * 0.75))
    "q_blocking_metrics" -> ((s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000))
      val blocked = graft.ingest.Ingest.encodeAndBlock(pages)
      val truth = pages.toDF()
        .where(col("dp") === 1 && col("truth_entity") === col("entity_id"))
        .select(col("entity_id").as("rec0"), col("entity_id").as("rec1"))
      graft.ingest.Blocking.blockingMetrics(blocked, truth)
    }),
    // multi-pass blocking union with provenance: three schemes, pairs
    // deduped with the sorted scheme list as canonical CSV
    "q_blocking_union" -> ((s, dir) =>
      graft.ingest.Blocking.multiPassPairs(docs(s, dir), "doc_id", Seq(
          "first_token" -> element_at(split(col("text"), " "), 1),
          "lang_source" -> concat_ws("|", col("lang"), col("source")),
          "len_bucket" -> expr("n_chars DIV 50")))
        .orderBy(col("id0"), col("id1"))),
    // blocking-rule profiler (splink's count-comparisons-before-you-pay
    // analysis): block-size stats + exact comb-2 pair counts per
    // candidate rule, one hash-agg each — never touches pairs
    "q_blocking_profile" -> ((s, dir) =>
      graft.ingest.Blocking.blockingRuleProfile(docs(s, dir), Seq(
          "first_token" -> element_at(split(col("text"), " "), 1),
          "lang" -> col("lang"),
          "lang_source" -> concat_ws("|", col("lang"), col("source")),
          "len_bucket" -> expr("n_chars DIV 100")))
        .orderBy(col("rule"))),
    // multimodal plumbing over the synthetic html binary column (stub decode)
    "er_pages_media_features" -> ((s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(500, 500))
      graft.multimodal.Multimodal
        .extractFeatures(pages.toDF(), "entity_id", "html")
        .toDF().drop("feature").orderBy(col("doc"), col("width"))
    }),
    // S1/P1 JSON CLK scan + base64 codec: the reference's own
    // test_encoding.json fixture read through readJson (posexplode +
    // unbase64), re-encoded to base64; the oracle reads the same JSON
    // with DuckDB and replays positional ids + block slicing
    "q_clk_json" -> ((s, _) =>
      ClkIO.readJson(s, s"$FixturesDir/test_encoding.json", 0)
        // Spark's base64 is MIME (RFC 2045: \r\n every 76 chars) — strip
        // the wrapping to get the canonical unchunked form the JSON holds
        .select(col("entity_id"),
          translate(base64(col("clk")), "\r\n", "").as("b64"),
          array_join(col("blocks"), ",").as("blocks_csv"))
        .orderBy(col("entity_id"))),
    // S1 third upload format: "encodings" + external "blocks" map
    // (views/util.py:18-33). The committed fixture's map covers only ids
    // 0..9 of 12 encodings, so this also gates the reference's
    // drop-uncovered-ids semantics; the oracle replays the map join with
    // DuckDB map_entries over the same JSON
    "q_clk_json_blocks" -> ((s, _) =>
      ClkIO.readJson(s, s"$FixturesDir/test_encodings_blocks.json", 0)
        .select(col("entity_id"),
          translate(base64(col("clk")), "\r\n", "").as("b64"),
          array_join(col("blocks"), ",").as("blocks_csv"))
        .orderBy(col("entity_id"))),
    // REAL image resize end-to-end: synthetic PNGs (+ junk rows) through
    // ImageIO decode -> bilinear scale -> PNG re-encode; the emitted dims
    // are parsed from the RE-ENCODED payload's IHDR bytes with pure
    // column functions (substring/hex/conv), never from what the resize
    // code claims, so a wrong output raster header fails the gate. The
    // oracle replays decode dispatch from the INPUT blob's PNG magic and
    // pins the expected header fields; the resampled pixels themselves
    // stay spec-gated (MultimodalSpec round-trip)
    "q_resize_meta" -> ((s, _) => {
      val in = graft.multimodal.Multimodal.synthPngs(s, 40)
      val rz = graft.multimodal.Multimodal
        .resizeImages(in, "doc", "payload", outW = 24, outH = 20).toDF()
      // PNG layout: bytes 1-8 signature, IHDR width at 17-20, height at
      // 21-24 (big-endian u32), color type at byte 26 (2 = truecolor RGB)
      def hdrInt(from: Int, len: Int) =
        conv(hex(substring(col("resized"), from, len)), 16, 10).cast("int")
      rz.select(col("doc"), col("ok"),
          when(col("ok"), hdrInt(17, 4)).as("hdr_w"),
          when(col("ok"), hdrInt(21, 4)).as("hdr_h"),
          when(col("ok"), hdrInt(26, 1)).as("hdr_color_type"))
        .orderBy(col("doc"))
    }),
    // P5 popcount driven end-to-end through the clk DataSourceV2: the
    // oracle recomputes every popcount with DuckDB bit_count over the
    // committed word-array fixture (same words the binary file packs)
    "q_popcount" -> ((s, _) =>
      ClkIO.readBinary(s, s"$FixturesDir/febrl4_a.bin", 0, 128)
        .select(col("entityId").as("entity_id"), col("popcount"))
        .orderBy(col("entity_id"))),
    // P2 `!I{n}s` byte-compat driven end-to-end: pack each fixture record
    // through BinaryCodec.pack (big-endian uint32 id + raw CLK bytes,
    // reference serialization.py:37-102), round-trip it through unpack,
    // and surface the wire bytes as hex; the oracle reconstructs the
    // exact layout with DuckDB integer/byte arithmetic from the
    // committed little-endian word fixture — no byte of the record is
    // taken on faith from this dump
    "q_binary_codec" -> ((s, _) => {
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
    }),
    // clkhash-style CLK encoding made driver-visible (the client-side
    // half of the reference pipeline, docs/concepts.rst:56-76 — clkhash
    // encodes, the service links): documents -> 1024-bit Bloom
    // bitvectors. The oracle rebuilds EVERY byte, the hex string and the
    // popcount from the clk_positions dump (positions→bytes fold
    // value-checked; the double hashing itself is ClkEncoderSpec's)
    "q_clk_encode" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id").as("doc"),
          graft.ingest.Ingest.clkUdf(col("text")).as("clk"))
        .select(col("doc"), lower(hex(col("clk"))).as("clk_hex"),
          graft.expr.popcount(col("clk")).as("popcount"))
        .orderBy(col("doc"))),
    // BLIP-style CLK hardening (privacy post-processing family the
    // reference's CLKs arrive under): deterministic keyed flip mask
    // XORed into each encoding; oracle = symmetric difference of the
    // positions and flip-mask dumps, rebuilt byte-by-byte
    "q_clk_blip" -> ((s, dir) => {
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
    }),
    // XOR-folding hardening (Schnell & Borgs 2016): CLK folded in half
    // by XORing the upper 512 bits into the lower 512 — each folded bit
    // is the PARITY of two original bits, so the oracle rebuilds it from
    // the positions dump as "position class pos%512 has odd multiplicity"
    "q_clk_fold" -> ((s, dir) => {
      val foldUdf = udf((t: String) => {
        val e = graft.ingest.ClkEncoder
        e.foldXor(e.encode(if (t == null) "" else t))
      })
      docs(s, dir)
        .select(col("doc_id").as("doc"), foldUdf(col("text")).as("clk"))
        .select(col("doc"), lower(hex(col("clk"))).as("fold_hex"),
          graft.expr.popcount(col("clk")).as("popcount"))
        .orderBy(col("doc"))
    }),
    // CLK bit-frequency disclosure audit: per bit position, how many
    // records set it raw vs after the BLIP mask — the non-uniformity an
    // attacker exploits, and the flattening the hardening buys. Plan:
    // two explode+count aggs left-joined onto the full position range
    "q_bit_freq" -> ((s, dir) => {
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
    }),
    // frequency-alignment cryptanalysis audit (the simplified rank-
    // alignment variant of Christen/Ranbaduge/Schnell's Bloom-filter
    // attacks): align the i-th most frequent bit position with the i-th
    // most frequent shingle and test whether that position is really one
    // of the shingle's k hash positions — hit rate = how much structure
    // the raw (unhardened) CLKs leak. Top-k frames are
    // TakeOrderedAndProject (distributed); the rank window runs on 50
    // rows, never the corpus
    "q_clk_attack" -> ((s, dir) => {
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
    }),
    // the same rank-alignment attack against XOR-FOLDED CLKs: folded
    // bit = parity of the pos%512 class per record, attacker aligns
    // folded-position frequencies and wins iff the aligned class
    // contains one of the shingle's (mod-512) hash positions — the
    // hit-rate delta vs q_clk_attack is the hardening's measured value
    "q_clk_attack_fold" -> ((s, dir) => {
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
    }),
    // fold privacy/utility capstone: edge-level precision/recall/F1 vs
    // ground truth for RAW vs FOLDED CLK scoring at t=0.7/0.75/0.8 —
    // what the hardening costs the BASELINE F1 gate itself. Exhaustive
    // 1000x1000 eval harness by design (the deliberate crossJoin is the
    // evaluation, mirroring the er_febrl4_edges oracle's own shape);
    // the production path stays the blocked pipeline
    "q_fold_eval" -> ((s, _) => {
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
    }),
    // BLIP leg of the hardening trilogy (raw/fold in q_fold_eval): P/R/F1
    // of BLIP-hardened CLK scoring on the same exhaustive harness — the
    // keyed flip mask XORed into the fixture words record-by-record
    "q_blip_eval" -> ((s, _) => {
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
    }),
    // A4 guardrail driven end-to-end: the real enforceScoredPairsCap is
    // invoked with a cap below the fixture's edge count (must refuse,
    // reference comparing.py:363-372 / settings.py:111-112) and a cap
    // above it (must pass); the refused row's count is parsed back OUT
    // of the refusal message, so the oracle checks the guard counted
    // exactly the kernel's edge set before aborting
    "q_guardrail" -> ((s, _) => {
      import s.implicits._
      val edges = Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.8))
      val counted = "run aborted: (\\d+) candidate".r
      val rows = Seq(100L, 1000000L).map { cap =>
        val cfg = LinkConfig(threshold = 0.8, maxScoredPairs = cap)
        try { (cap, graft.link.Linker.enforceScoredPairsCap(edges, cfg), false) }
        catch {
          case e: IllegalArgumentException =>
            val n = counted.findFirstMatchIn(e.getMessage)
              .getOrElse(sys.error(s"unexpected refusal: ${e.getMessage}"))
              .group(1).toLong
            (cap, n, true)
        }
      }
      rows.toDF("cap", "n_candidates", "refused").orderBy(col("cap"))
    }),
    // frame sampling over a binary payload (every 2nd 64-byte frame); the
    // documents are ASCII so the byte frames round-trip to strings and
    // DuckDB replays the slicing with substr arithmetic
    "q_frame_sample" -> ((s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
          docs(s, dir).select(col("doc_id"), col("text").cast("binary").as("payload")),
          "doc_id", "payload", frameBytes = 64, stride = 2)
        .select(col("doc_id").as("doc"), col("frame_idx"),
          col("frame").cast("string").as("frame_text"))
        .orderBy(col("doc"), col("frame_idx"))),

    // ---- SQL-replayable operator analogues over the sf tables ----
    // B3 block metadata agg
    "q_block_stats" -> ((s, dir) =>
      docsBlocked(s, dir).groupBy(col("dp"), col("block_key"))
        .agg(count(lit(1)).as("n")).orderBy(col("dp"), col("block_key"))),
    // B2 common-block discovery
    "q_common_blocks" -> ((s, dir) =>
      docsBlocked(s, dir).select(col("dp"), col("block_key")).distinct()
        .groupBy(col("block_key")).agg(countDistinct(col("dp")).as("ndp"))
        .where(col("ndp") === 2).select(col("block_key")).orderBy(col("block_key"))),
    // A5 total-comparison estimate
    "q_total_comparisons" -> ((s, dir) => {
      val per = docsBlocked(s, dir).groupBy(col("block_key"), col("dp"))
        .agg(count(lit(1)).as("n"))
      val l = per.select(col("block_key"), col("dp").as("dp0"), col("n").as("n0"))
      val r = per.select(col("block_key"), col("dp").as("dp1"), col("n").as("n1"))
      l.join(r, "block_key").where(col("dp0") < col("dp1"))
        .agg(coalesce(sum(col("n0") * col("n1")), lit(0L)).as("total_comparisons"))
    }),
    // B4 block-equi-join candidate generation
    "q_candidate_pairs" -> ((s, dir) => {
      val b = docsBlocked(s, dir)
      val l = b.select(col("block_key"), col("dp").as("dp0"), col("entity_id").as("id0"))
      val r = b.select(col("block_key"), col("dp").as("dp1"), col("entity_id").as("id1"))
      l.join(r, "block_key").where(col("dp0") < col("dp1"))
        .select(col("block_key"), col("id0"), col("id1"))
        .orderBy(col("block_key"), col("id0"), col("id1"))
    }),
    // exact dedup (hash-groupBy) on a 3-token prefix key
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)), col("doc_id"))
        .orderBy(col("dup_key"))),
    // token counting (whitespace + BPE-ish pre-tokenizer regex)
    "q_token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.distinctTokenCount(col("text")).as("n_distinct"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))),
    // quality scoring
    "q_quality" -> ((s, dir) => {
      val base = docs(s, dir)
      val cols = TextOps.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
      base.select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    }),
    // 2-D Pareto skyline (Börzsönyi et al. 2001): docs not dominated
    // under (maximize distinct vocabulary, minimize token count) — the
    // "richest vocabulary per token budget" curation frontier; 2-D
    // sort-scan via the two-phase running min, never a dominance join
    "q_skyline" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"),
        size(array_distinct(split(col("text"), " "))).cast("long")
          .as("n_distinct"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.rel.Relational.skyline2d(base, "n_distinct", "n_tokens")
        .orderBy(col("doc_id"))
    }),
    // canopy blocking (McCallum et al. 2000, hash-seeded distributed
    // variant): overlapping cheap-distance canopies + singleton orphans
    "q_canopy_block" -> ((s, dir) =>
      graft.ingest.Blocking.canopyAssign(docs(s, dir), "doc_id", "text")
        .orderBy(col("rec"), col("canopy"))),
    // suffix-array blocking (Aizawa & Oyama 2005) on the name-like key
    // (first two tokens) of the labeled pages corpus: records sharing a
    // surviving suffix (len >= 5, block cap 50) become candidates;
    // n_shared / max_len = evidence strength. Oracle replays suffix
    // explosion, pruning and pairing off the pages_rec dump.
    "q_suffix_block" -> ((s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000)).toDF()
      val key = concat_ws("", slice(split(col("text"), " "), 1, 2))
      graft.ingest.Blocking.suffixBlockPairs(pages, "dp", "entity_id", key)
        .orderBy(col("rec0"), col("rec1"))
    }),
    // greedy blocking-scheme learning (Michelson–Knoblock 2006) on the
    // labeled pages corpus: 5 candidate predicates over the name key,
    // 3 selection rounds by marginal true-pair coverage, cost column =
    // candidate pairs of each selected predicate
    "q_blocking_scheme" -> ((s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000)).toDF()
      val toks = split(col("text"), " ")
      val k2 = concat_ws("", slice(toks, 1, 2))
      graft.ingest.Blocking.greedyBlockingScheme(pages, "dp", "entity_id",
        "truth_entity",
        Seq(
          "p_tok1" -> element_at(toks, 1),
          "p_tok2" -> element_at(toks, 2),
          "p_tok3" -> element_at(toks, 3),
          "p_pre4" -> substring(k2, 1, 4),
          "p_suf4" -> when(length(k2) >= 4, substring(k2, -4, 4))),
        rounds = 3)
        .orderBy(col("round"))
    }),
    // relational pivot: per-source language mix via the DataFrame pivot
    // API (explicit value list keeps the plan static; absent cells are
    // 0, not null, so the layout is stable for downstream math)
    "q_pivot" -> ((s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val p = docs(s, dir).groupBy(col("source")).pivot("lang", langs).count()
      p.select(col("source") +:
          langs.map(l => coalesce(col(l), lit(0L)).as(s"n_$l")): _*)
        .orderBy(col("source"))
    }),
    // Gopher (MassiveWeb) quality-filter flags: per-rule booleans +
    // conjunction, thresholds tuned to this corpus register
    "q_gopher_rules" -> ((s, dir) =>
      TextOps.gopherRules(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // composite cleaning pipeline: quality window + language gate + dedup
    "q_clean_corpus" -> ((s, dir) =>
      TextOps.cleanCorpus(docs(s, dir), "doc_id", "text")
        .orderBy(col("dup_key"))),
    // Heaps-law vocabulary growth at 50-doc checkpoints (template-flood
    // diagnostic: vocabulary flatlining under growing token totals)
    "q_vocab_growth" -> ((s, dir) =>
      TextOps.vocabGrowth(docs(s, dir), "doc_id", "text", 50)
        .orderBy(col("docs_seen"))),
    // CCNet's head/middle/tail output structure: per-language terciles
    // of the LM quality score (deterministic ntile with doc-id
    // tie-break; at corpus scale the terciles come from approx-quantile
    // thresholds instead — same downstream contract)
    "q_ccnet_bucket" -> ((s, dir) => {
      val lp = TextOps.unigramLogProb(docs(s, dir), "doc_id", "text")
      val w = Window.partitionBy("lang")
        .orderBy(desc("mean_logprob"), col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("lang"))
        .join(lp, "doc_id")
        .withColumn("b", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("mean_logprob"),
          when(col("b") === 1, "head").when(col("b") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),
    // unigram LM quality score (CCNet-style perplexity filter, reduced)
    "q_unigram_logprob" -> ((s, dir) =>
      TextOps.unigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // bigram LM quality score (one Markov order up: word salad whose
    // tokens are common but never co-occur now scores low)
    "q_bigram_logprob" -> ((s, dir) =>
      TextOps.bigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // ORC partitioned sink + source: documents written hive-partitioned
    // by lang in Spark's second built-in columnar format, read back with
    // a partition-PRUNED filter (PlanSpec gates PartitionFilters), then
    // aggregated — the oracle computes the same aggregate from the
    // original parquet, so the round-trip must be lossless to match
    // contrastive negative sampling: 3 hash-drawn negatives per anchor
    // doc, same-dup-group candidates (positives) excluded
    "q_neg_sample" -> ((s, dir) =>
      TextOps.negativeSample(docs(s, dir), "doc_id",
          concat_ws(" ", slice(split(col("text"), " "), 1, 3)),
          docs(s, dir).where(col("doc_id") < 20)
            .select(col("doc_id").as("anchor_id")),
          k = 3)
        .orderBy(col("anchor_id"), col("rank"))),
    // checkpointed two-stage pipeline, driver-visible: stage 1 cleans
    // documents into a checkpoint, a RERUN of stage 1 must serve from
    // the manifest WITHOUT invoking compute (the compute thunk throws),
    // stage 2 aggregates from the resumed table, and the per-partition
    // lineage rows are summed into the output — so resume semantics AND
    // the lineage counters are value-checked by the oracle, which
    // recomputes the expected stats straight from the documents table
    "q_checkpoint_resume" -> ((s, dir) => {
      val root = "/tmp/graft_ckpt_driver"
      graft.io.Checkpoint.invalidate(s, root, "clean")
      graft.io.Checkpoint.invalidate(s, root, "stats")
      val st1 = graft.io.Checkpoint.stage(s, root, "clean",
        counters = rows => Map("rows" -> rows))(
        docs(s, dir).where(length(col("text")) >= 20)
          .select(col("doc_id"), col("lang"), col("n_chars")))
      val st1b = graft.io.Checkpoint.stage(s, root, "clean")(
        sys.error("resume must not recompute"))
      if (!st1b.resumed)
        throw new IllegalStateException("committed stage did not resume")
      val st2 = graft.io.Checkpoint.stage(s, root, "stats")(
        st1b.df.groupBy("lang")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars")))
      val lin = graft.io.Checkpoint.lineage(s, root)
        .where(col("stage") === "clean")
        .agg(sum(col("rows_out")).as("lineage_rows"))
      st2.df.crossJoin(broadcast(lin))
        .withColumn("computed_rows", lit(st1.rows))
        .withColumn("resumed", lit(st1b.resumed))
        .orderBy(col("lang"))
    }),
    // WARC sink + source round-trip: serialize the link corpus as
    // Common-Crawl-style WARC records, read the files back through the
    // record-delimited text source, parse headers + Content-Length-framed
    // payload. The oracle REGENERATES the corpus from its formula in SQL
    // (never sees the files), so any framing/parse loss breaks the match
    "q_warc_roundtrip" -> ((s, _) => {
      val recs = linkPages(s).select(
        concat(lit("https://site.example/p/"), col("doc").cast("string"))
          .as("url"),
        lit("2026-01-01T00:00:00Z").as("date"),
        col("html").as("payload"))
      graft.ingest.WarcIO.writeWarc(recs, "/tmp/graft_warc_roundtrip")
      graft.ingest.WarcIO.readWarc(s, "/tmp/graft_warc_roundtrip")
        .select(regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")
            .as("doc"),
          col("url"), col("warc_type"), col("warc_date"),
          col("content_length"), col("payload"))
        .orderBy(col("doc"))
    }),
    // hyperlink extraction over the synthetic link corpus: the web-graph
    // edge list (src, pos, href, anchor) — oracle replays the regex
    // extraction in DuckDB from the link_pages dump (RE2-safe pattern)
    "q_link_extract" -> ((s, _) =>
      graft.ingest.LinkExtract.links(linkPages(s), "doc", "html")
        .orderBy(col("src"), col("pos"))),
    // multi-source 3-hop BFS over the link graph: hop distance from
    // seed pages {0, 150} — the crawl-radius / neighborhood-expansion
    // primitive; oracle = three chained level-set CTEs
    "q_bfs_hops" -> ((s, _) => {
      import s.implicits._
      graft.cluster.Bfs.run(linkGraphEdges(s), Seq(0L, 150L).toDF("node"),
          maxHops = 3)
        .orderBy(col("dist"), col("node"))
    }),
    // HITS hubs/authorities over the link graph (2 iterations,
    // max-normalised exact integer arithmetic — see cluster/Hits.scala);
    // the crawl-prioritisation companion to q_pagerank
    "q_hits" -> ((s, _) =>
      graft.cluster.Hits.run(linkGraphEdges(s), iters = 2)
        .orderBy(col("node"))),
    // personalized PageRank from the BFS seed set {0, 150}: restart mass
    // lands only on seeds, ranks = proximity to the trusted list
    "q_ppr" -> ((s, _) => {
      import s.implicits._
      graft.cluster.PageRank.runPersonalized(linkGraphEdges(s),
          Seq(0L, 150L).toDF("node"), iters = 3)
        .orderBy(col("id"))
    }),
    // incremental-crawl frontier: pages 0..199 are "crawled"; the
    // frontier is every linked-to uncrawled target with its in-degree
    // (the next-fetch priority signal)
    "q_crawl_frontier" -> ((s, _) => {
      val crawledPages = linkPages(s).where(col("doc") < 200)
      graft.ingest.LinkExtract.frontier(
          graft.ingest.LinkExtract.links(crawledPages, "doc", "html"),
          crawledPages.select(concat(lit("https://site.example/p/"),
            col("doc").cast("string")).as("crawled_url")))
        .orderBy(desc("in_degree"), col("href"))
    }),
    // politeness fetch scheduler: every host's URLs on one worker,
    // URL-ordered and delayMs-spaced; md5-hash routing so the oracle
    // replays worker assignment exactly
    "q_fetch_schedule" -> ((s, dir) =>
      graft.textops.UrlOps.fetchSchedule(
          docs(s, dir).select(concat(lit("https://h"),
            (col("doc_id") % 7).cast("string"), lit(".example/d/"),
            col("doc_id").cast("string")).as("url")),
          "url", workers = 5, delayMs = 200L)
        .orderBy(col("host"), col("fetch_seq"))),
    // per-target anchor profile of the extracted web graph: in-degree,
    // distinct linking pages, dominant anchor text
    "q_anchor_text" -> ((s, _) =>
      graft.ingest.LinkExtract.anchorProfile(
          graft.ingest.LinkExtract.links(linkPages(s), "doc", "html"))
        .orderBy(col("href"))),
    // robots-style longest-prefix URL filter (RFC 9309 most-specific-
    // rule-wins, literal prefixes): /p/ allows, /p/1 and /p/2 carve out
    // disallows, /p/13 re-allows inside /p/1 — the layered-rule case
    "q_robots_filter" -> ((s, _) => {
      import s.implicits._
      val rules = Seq(
        ("site.example", "/p/", true),
        ("site.example", "/p/1", false),
        ("site.example", "/p/13", true),
        ("site.example", "/p/2", false)).toDF("host", "prefix", "allow")
      graft.textops.UrlOps.robotsFilter(
          linkPages(s).select(concat(lit("https://site.example/p/"),
            col("doc").cast("string")).as("url")),
          "url", rules)
        .orderBy(col("url"))
    }),
    // parquet schema evolution: a v1 slice (no n_chars) + a v2 slice
    // (adds n_chars) read back under mergeSchema — old rows surface the
    // new column as NULL; the oracle recomputes from the source table,
    // so any drop/misalignment in the evolved read breaks the match
    "q_schema_evolution" -> ((s, dir) => {
      // fixed per-session path, not createTempDirectory: best-of-2 bench
      // + verify runs were each leaking an orphan parquet tree in /tmp;
      // the v1 overwrite below clears the previous run's table
      val root = "/tmp/graft_schema_evo"
      val d = docs(s, dir)
      d.where(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$root/t")
      d.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("append").parquet(s"$root/t")
      s.read.option("mergeSchema", "true").parquet(s"$root/t")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          count(col("n_chars")).as("n_with_chars"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),
    "q_orc_roundtrip" -> ((s, dir) => {
      val back = graft.io.Formats.roundTrip(
        docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        "/tmp/graft_orc_roundtrip", "orc", "lang")
      back.where(col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("lang")
    }),
    // deterministic stratified sample: the 30 smallest-hash docs per
    // language (hash-order sampling — reproducible at any parallelism);
    // the oracle replays quota + ordering from the dumped hashes
    "q_sample_stratified" -> ((s, dir) =>
      TextOps.stratifiedSample(docs(s, dir), "doc_id", col("lang"), k = 30)
        .orderBy(col("stratum"), col("sample_rank"))),
    // inverted index with bounded posting samples (window-capped BEFORE
    // the collect — no hot-token OOM)
    "q_inverted_index" -> ((s, dir) =>
      TextOps.invertedIndex(docs(s, dir), "doc_id", "text", minDf = 5L)
        .orderBy(col("token"))),
    // token-distribution Shannon entropy (diversity/repetition signal)
    "q_entropy" -> ((s, dir) =>
      TextOps.tokenEntropy(docs(s, dir), "doc_id", "text")
        .orderBy(col("id"))),
    // BM25 ranked retrieval (exact-rational tf part, ratio idf — see
    // TextOps.bm25TopK): top-20 docs for a mixed common/rare query
    "q_bm25" -> ((s, dir) =>
      TextOps.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "dup"), k = 20)),
    // heuristic language ID
    "q_lang_id" -> ((s, dir) => {
      val cols = TextOps.langIdColumns(col("text")).map { case (n, c) => c.as(n) }
      docs(s, dir).select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    }),
    // n-gram Jaccard near-dup pairs (blocked on first token)
    "q_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), "doc_id", "text",
        element_at(split(col("text"), " "), 1), threshold = 0.5)
        .orderBy(col("id0"), col("id1"))),
    // Tversky-index pairs (asymmetric Jaccard/Dice generalization,
    // alpha=0.8 / beta=0.2): prototype-side deletions cost 4x additions
    // — the "is B a variant of A" orientation; exact tenths arithmetic
    "q_tversky" -> ((s, dir) =>
      Dedup.tverskyPairs(docs(s, dir), "doc_id", "text",
        element_at(split(col("text"), " "), 1), alphaTenths = 8,
        betaTenths = 2, threshold = 0.75)
        .orderBy(col("id0"), col("id1"))),
    // prefix-filtered EXACT set-similarity self-join (AllPairs/PPJoin
    // family): no blocking key, no LSH recall loss — the df-ordered
    // prefix IS the join key; all cuts are integer rationals
    "q_prefix_join" -> ((s, dir) =>
      Dedup.prefixFilterPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.7).orderBy(col("id0"), col("id1"))),
    // character-trigram Jaccard (one-pass codegen'd gram signature +
    // merge-scan confirm; same salted pairing)
    "q_jaccard_char3" -> ((s, dir) =>
      Dedup.jaccardPairsHashed(docs(s, dir), "doc_id",
        graft.expr.hashedCharNgrams(col("text"), 3),
        element_at(split(col("text"), " "), 1), threshold = 0.5)
        .orderBy(col("id0"), col("id1"))),
    // weighted (bag) Jaccard: tf-profile min/max overlap — discriminates
    // where token-set Jaccard saturates on the small-vocab corpus
    "q_weighted_jaccard" -> ((s, dir) =>
      Dedup.weightedJaccardPairs(docs(s, dir), "doc_id", "text",
        element_at(split(col("text"), " "), 1), threshold = 0.5)
        .orderBy(col("id0"), col("id1"))),
    // containment near-dup pairs (|A∩B|/min(|A|,|B|) — the subset/quote
    // duplication Jaccard misses; same hashed-set merge-scan kernel)
    "q_containment" -> ((s, dir) =>
      Dedup.containmentPairsHashed(docs(s, dir), "doc_id",
        Dedup.hashedSet(split(col("text"), " ")),
        element_at(split(col("text"), " "), 1), threshold = 0.6)
        .orderBy(col("id0"), col("id1"))),
    // C1 semantics, SQL-replayable form: Dice coefficient over distinct
    // token SETS (2|A∩B|/(|A|+|B|)) thresholded within blocks — the same
    // candidate-generation + threshold-join shape as the CLK kernel, with
    // a DuckDB-computable similarity so the oracle can replay it
    "q_dice_token_pairs" -> ((s, dir) => {
      val b = docsBlocked(s, dir)
        .withColumn("toks", Dedup.hashedSet(split(col("text"), " ")))
      val l = b.select(col("block_key"), col("dp").as("dp0"),
        col("entity_id").as("id0"), col("toks").as("tk0"))
      val r = b.select(col("block_key"), col("dp").as("dp1"),
        col("entity_id").as("id1"), col("toks").as("tk1"))
      val inter = graft.expr.sortedIntersectCount(col("tk0"), col("tk1"))
        .cast("double")
      Dedup.scoreAndFilter(
        l.join(r, "block_key").where(col("dp0") < col("dp1")),
        "dice", round(lit(2.0) * inter / (size(col("tk0")) + size(col("tk1"))), 4),
        0.7, "id0", "id1", "dice")
        .orderBy(col("id0"), col("id1"))
    }),
    // brute-force cosine top-k (ANN baseline)
    "q_topk_cosine" -> ((s, dir) => {
      val e = embs(s, dir)
      Ann.bruteForceTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // int8 symmetric quantization of the embedding column (the 4x
    // memory/shuffle cut for a 100-TB ANN corpus); scale + quantized
    // values are deterministic double arithmetic DuckDB replays exactly
    // (qvec projected as CSV — pandas can't sort list columns)
    "q_quantize_int8" -> ((s, dir) =>
      Ann.quantizeInt8(embs(s, dir).where(col("vec_id") < 200), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 9).as("scale_r"),
          array_join(col("qvec"), ",").as("qvec_csv"))
        .orderBy(col("vec_id"))),
    // top-k over the quantized corpus: integer dot, scales cancel in
    // cosine — the oracle re-derives the quantization AND the ranking
    // from the raw parquet, fully independent of the Spark code
    "q_ann_int8_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Ann.int8TopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // embedding-cosine near-dup pairs
    "q_cosine_pairs" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(embs(s, dir), "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("id0"), col("id1"))),
    // SemDeDup: semantic dedup inside the SAME k-means cells the IVF
    // index uses (cluster once, serve ANN and dedup); the oracle replays
    // cell-blocked pairing + ε-graph components from the ivf_sig dump
    "q_semdedup" -> ((s, dir) =>
      Dedup.semanticDedup(ivfSig(s, dir), threshold = 0.4)
        .orderBy(col("vid"))),
    // A6 comparison-rate analogue: per-type event aggregates
    // gap-based sessionization of the event log (lag-flag-cumsum, one
    // shuffle keyed by user); oracle replays the identical windows
    "q_sessionize" -> ((s, dir) =>
      graft.streaming.EventStream.sessionize(events(s, dir), gapSeconds = 1800L)
        .orderBy(col("user_id"), col("session_seq"))),
    // irregular events -> daily uniform timeline per user, gap-filled by
    // last observation carried forward (state-at-time-T features); no
    // value arithmetic, so the carried doubles hash exactly
    "q_resample" -> ((s, dir) =>
      graft.rel.Relational.resampleLocf(
          events(s, dir).select(col("user_id"),
            unix_timestamp(col("ts")).as("es"), col("value")),
          "user_id", "es", "value", stepSec = 86400L)
        .orderBy(col("user_id"), col("grid_t"))),
    // as-of join (purchase → latest prior click by the same user; the
    // classic attribution lookup): single-shuffle union-merge plan, no
    // join blow-up — oracle is DuckDB's native ASOF JOIN, a fully
    // independent implementation of the same semantics
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id").as("cu"), col("ts").as("click_ts"))
        .agg(max(col("event_id")).as("click_event_id"))
      graft.rel.Relational.asofJoin(purchases, "user_id", "ts",
          clicks, "cu", "click_ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("click_event_id"),
          unix_micros(col("click_ts").cast("timestamp")).as("click_ts_us"))
        .withColumn("micros_since_click", col("ts_us") - col("click_ts_us"))
        .orderBy(col("event_id"))
    }),
    // end-to-end fuzzy dedup: blocked edit-distance self-pairs over the
    // distinct part names -> connected components -> canonical min-id
    // group (the un-encoded analogue of the whole CLK pipeline); oracle
    // replays blocking + confirm + a recursive-CTE transitive closure
    "q_fuzzy_groups" -> ((s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("id"))
      graft.link.Fuzzy.fuzzyGroups(names, "id", "name")
        .orderBy(col("id"))
    }),
    // blocked fuzzy string match: deterministic middle-char-deletion
    // typos of the distinct part names, matched back against the corpus
    // via dual-affix (prefix+suffix) blocking and confirmed with Spark's
    // threshold Levenshtein — the un-encoded analogue of the CLK
    // block→candidate→confirm pipeline, fully SQL-replayable
    // crawl-to-crawl snapshot diff: deterministic old/new snapshots of
    // the documents corpus (drop-by-modulus + text edits), classified
    // added/removed/changed/unchanged by md5 content fingerprint via one
    // full-outer join
    "q_snapshot_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val old = d.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), md5(
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v1")))
            .otherwise(col("text"))).as("fp"))
      val neu = d.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("fp"))
      graft.rel.Relational.snapshotDiff(old, neu, "doc_id", "fp")
        .orderBy(col("key"))
    }),
    // Bloom runtime-filter semi join: lineitem rows whose order is in the
    // urgent-orders key set — the big side is prefiltered during its scan
    // by a codegen'd driver-built Bloom probe, then exactly semi-joined
    // (output == plain semi join; the filter only cuts shuffle volume)
    "q_bloom_semijoin" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderkey") % 3 === 0)
      graft.rel.Relational.bloomSemiJoin(li, "l_orderkey", ord, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),
    // CDC merge (Iceberg/Delta MERGE INTO, latest-change-wins): events
    // replayed as a keyed changelog against a snapshot built from every
    // third event; deletes (event_id%10==0) drop keys, later changes
    // override earlier ones — one max_by hash-agg + one key join
    "q_merge_upsert" -> ((s, dir) => {
      val base = events(s, dir).select(
        (col("user_id") * 100 + col("event_id") % 50).as("k"),
        col("event_id"), col("value"), col("event_type"))
      val snap = base.where(col("event_id") % 3 === 0)
        .groupBy(col("k"))
        .agg(max_by(struct(col("value"), col("event_type")),
          col("event_id")).as("p"))
        .select(col("k"), col("p.value").as("value"),
          col("p.event_type").as("event_type"))
      val chg = base.where(col("event_id") % 3 =!= 0)
        .select(col("k"), col("event_id").as("seq"),
          when(col("event_id") % 10 === 0, lit("D"))
            .otherwise(lit("U")).as("op"),
          col("value"), col("event_type"))
      graft.rel.Relational.applyChanges(snap, chg, "k", "seq", "op")
        .orderBy(col("k"))
    }),
    // SCD2 history build: every non-delete change becomes a validity
    // interval [eff_from, eff_to) in changelog order; deletes close the
    // previous interval — one per-key window shuffle
    "q_scd2" -> ((s, dir) => {
      val chg = events(s, dir).select(
        col("user_id"), col("event_id").as("seq"),
        when(col("event_id") % 10 === 0, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("value"))
      graft.rel.Relational.scd2(chg, "user_id", "seq", "op")
        .orderBy(col("user_id"), col("eff_from"))
    }),
    // sorted-neighborhood blocking (merge/purge): pairs within a
    // rank-window of 4 over the (16-char-lowercase-prefix, id) total
    // order — the skew-immune complement to equi-key blocking; ranks
    // come from the distributed sort+zipWithIndex primitive
    "q_sorted_neighborhood" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id").as("id"),
        substring(lower(col("text")), 1, 16).as("k"))
      graft.ingest.Blocking.sortedNeighborhoodPairs(d, "id", "k", window = 4)
        .orderBy(col("id0"), col("id1"))
    }),
    // meta-blocking with weighted-edge pruning (Papadakis WEP): word
    // bigrams as the redundancy-positive block collection, weight =
    // shared-bigram count, oversized blocks purged, edges at or below
    // the exact integer mean weight discarded
    "q_metablocking" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id").as("id"),
        split(col("text"), " ").as("ts"))
      val m = t.select(col("id"), explode(expr(
        "transform(slice(ts, 1, size(ts)-1), " +
          "(x, i) -> concat(x, ' ', element_at(ts, i+2)))")).as("bk"))
      graft.ingest.Blocking.metaBlockingWep(m, "id", "bk", maxBlock = 50)
        .orderBy(col("id0"), col("id1"))
    }),
    // golden-record survivorship over 2-word-prefix groups: majority
    // vote on lang/source (min-value tiebreak), longest-text rule on
    // n_chars — the merge step downstream of every linkage run
    "q_golden_record" -> ((s, dir) => {
      val d = docs(s, dir).select(
        concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("group_key"),
        col("lang"), col("source"), col("n_chars"))
      graft.cluster.Survivorship.goldenRecord(d, "group_key",
        Seq("lang", "source"), Seq("n_chars")).orderBy(col("group_key"))
    }),
    // per-domain crawl rollup: deterministic URL variants per doc_id,
    // canonicalized + domain-extracted, one hash agg per domain (page
    // count, distinct canonical urls, distinct texts, mean page size)
    "q_domain_stats" -> ((s, dir) => {
      val v = col("doc_id") % 4
      val k = (col("doc_id") % 97).cast("string")
      val raw = docs(s, dir).select(col("text"),
        when(v === 0, concat(lit("https://WWW.Alpha.COM/p/"), k,
            lit("?utm_source=x&x=1")))
          .when(v === 1, concat(lit("HTTP://alpha.com:80/p/"), k,
            lit("/?x=1")))
          .when(v === 2, concat(lit("https://beta.example.org/doc/"),
            col("doc_id").cast("string")))
          .otherwise(concat(lit("https://cdn.beta.example.org/doc/"), k))
          .as("url"))
      graft.textops.UrlOps.domainStats(raw, "url", "text")
        .orderBy(col("domain"))
    }),
    // per-node triangle counts over a thinned co-purchase graph —
    // degree-oriented node-iterator (each triangle found exactly once,
    // wedge fan-out bounded by O(sqrt m))
    // resource-allocation link prediction over the thinned co-purchase
    // graph: non-adjacent pairs ranked by Σ scale DIV deg(common nbr),
    // deterministic top-50 (integer scores, id tiebreak)
    "q_link_predict" -> ((s, dir) =>
      graft.cluster.LinkPredict.resourceAllocation(
        coPurchaseEdgesThinned(s, dir), topK = 50)),
    // deterministic synchronous label propagation (3 rounds) on the same
    // graph — community splits where CC would merge everything reachable
    "q_label_prop" -> ((s, dir) =>
      graft.cluster.LabelProp.run(coPurchaseEdgesThinned(s, dir), iters = 3)
        .orderBy(col("node"))),
    "q_triangles" -> ((s, dir) =>
      graft.cluster.Triangles.perNode(coPurchaseEdgesThinned(s, dir))
        .orderBy(col("id"))),
    // Fellegi-Sunter-style multi-field agreement scoring: brand-blocked
    // part pairs, integer weights per agreeing field (banded Levenshtein
    // name, exact type, +/-2 size, +/-5.0 price), threshold on the exact
    // integer score; candidates ride the two-level-salted generator
    "q_multifield_match" -> ((s, dir) => {
      import graft.link.{FieldMatch, FieldRule}
      FieldMatch.selfScore(
          s.read.parquet(s"$dir/part.parquet"), "p_partkey", col("p_brand"),
          Seq(
            FieldRule("p_name", 4L, (a, b) => graft.expr.levenshteinBand(a, b, 4) >= 0),
            FieldRule("p_type", 3L, (a, b) => a === b),
            FieldRule("p_size", 2L, (a, b) => abs(a - b) <= 2),
            FieldRule("p_retailprice", 1L, (a, b) => abs(a - b) <= lit(5.0))),
          minScore = 5L)
        .orderBy(col("id0"), col("id1"))
    }),
    // Fellegi–Sunter EM over brand-blocked part pairs: the quadratic
    // gamma computation is distributed (salted pair generator + banded
    // levenshtein), EM runs on the <=2^3 pattern sufficient statistics in
    // exact scaled-long arithmetic, so 2 full iterations + the final
    // posterior replay in DuckDB as chained CTEs (HUGEINT // == BigInt /)
    "q_fellegi_sunter" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
        col("p_partkey").cast("long").as("id"), col("p_brand").as("bk"),
        col("p_name"), col("p_type"), col("p_size"))
      val pairs = graft.dedup.Dedup.saltedSelfPairs(base).select(
        (graft.expr.levenshteinBand(col("p_name0"), col("p_name1"), 4) >= 0)
          .cast("int").as("g_name"),
        (col("p_type0") === col("p_type1")).cast("int").as("g_type"),
        (abs(col("p_size0") - col("p_size1")) <= 2).cast("int").as("g_size"))
      graft.link.FellegiSunter
        .emClassify(pairs, Seq("g_name", "g_type", "g_size"), iters = 2)
        .orderBy("g_name", "g_type", "g_size")
    }),
    // EM convergence trace: the full per-iteration (λ, m, u) trajectory
    // in the same exact fixed point — iteration i replays as the i-th
    // chained CTE of the q_fellegi_sunter oracle
    "q_em_trace" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
        col("p_partkey").cast("long").as("id"), col("p_brand").as("bk"),
        col("p_name"), col("p_type"), col("p_size"))
      val pairs = graft.dedup.Dedup.saltedSelfPairs(base).select(
        (graft.expr.levenshteinBand(col("p_name0"), col("p_name1"), 4) >= 0)
          .cast("int").as("g_name"),
        (col("p_type0") === col("p_type1")).cast("int").as("g_type"),
        (abs(col("p_size0") - col("p_size1")) <= 2).cast("int").as("g_size"))
      graft.link.FellegiSunter
        .emTrace(pairs, Seq("g_name", "g_type", "g_size"), iters = 2)
        .orderBy("iter")
    }),
    // model-expected PR curve: threshold selection from the fitted
    // posteriors alone — exact scaled cumulative sums over the ≤2^K
    // pattern rows, one row per distinct posterior cut
    "q_fs_pr_curve" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
        col("p_partkey").cast("long").as("id"), col("p_brand").as("bk"),
        col("p_name"), col("p_type"), col("p_size"))
      val pairs = graft.dedup.Dedup.saltedSelfPairs(base).select(
        (graft.expr.levenshteinBand(col("p_name0"), col("p_name1"), 4) >= 0)
          .cast("int").as("g_name"),
        (col("p_type0") === col("p_type1")).cast("int").as("g_type"),
        (abs(col("p_size0") - col("p_size1")) <= 2).cast("int").as("g_size"))
      graft.link.FellegiSunter
        .modelPrCurve(pairs, Seq("g_name", "g_type", "g_size"), iters = 2)
        .orderBy(desc("posterior"))
    }),
    // conditional-independence diagnostic: observed vs expected pattern
    // counts under field independence, exact scaled lift per pattern
    "q_pattern_indep" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
        col("p_partkey").cast("long").as("id"), col("p_brand").as("bk"),
        col("p_name"), col("p_type"), col("p_size"))
      val pairs = graft.dedup.Dedup.saltedSelfPairs(base).select(
        (graft.expr.levenshteinBand(col("p_name0"), col("p_name1"), 4) >= 0)
          .cast("int").as("g_name"),
        (col("p_type0") === col("p_type1")).cast("int").as("g_type"),
        (abs(col("p_size0") - col("p_size1")) <= 2).cast("int").as("g_size"))
      graft.link.FellegiSunter
        .patternIndependence(pairs, Seq("g_name", "g_type", "g_size"))
        .orderBy("g_name", "g_type", "g_size")
    }),
    // splink's full two-stage training: u frozen from the unblocked
    // md5-sample estimate, EM fits only lambda and m over the blocked
    // pairs — removes the agreement bias blocking builds into u
    "q_em_fixed_u" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
        col("p_partkey").cast("long").as("id"), col("p_brand").as("bk"),
        col("p_name"), col("p_type"), col("p_size"))
      val gcols = Seq("g_name", "g_type", "g_size")
      val sampled = base
        .where(substring(md5(col("id").cast("string").cast("binary")),
          1, 1).isin("0", "1", "2", "3"))
      // part.parquet is one small file -> a 1-task scan; the <-condition
      // cross join streams that single partition, so ~12.5M banded
      // Levenshteins ran on ONE core (guide §2.5 input skew). Spreading
      // the streamed side across the cluster first and broadcasting the
      // 5K-row build side keeps the identical pair set (estimateU's agg
      // is order-free) at full parallelism.
      val uPairs = sampled.repartition(s.sparkContext.defaultParallelism)
        .as("a").join(broadcast(sampled.as("b")),
          col("a.id") < col("b.id"))
        .select(
          (graft.expr.levenshteinBand(col("a.p_name"), col("b.p_name"), 4) >= 0)
            .cast("int").as("g_name"),
          (col("a.p_type") === col("b.p_type")).cast("int").as("g_type"),
          (abs(col("a.p_size") - col("b.p_size")) <= 2).cast("int").as("g_size"))
      val uMap = graft.link.FellegiSunter.estimateU(uPairs, gcols)
        .collect().map(r => r.getAs[String]("field") ->
          r.getAs[Long]("u_scaled")).toMap
      val pairs = graft.dedup.Dedup.saltedSelfPairs(base).select(
        (graft.expr.levenshteinBand(col("p_name0"), col("p_name1"), 4) >= 0)
          .cast("int").as("g_name"),
        (col("p_type0") === col("p_type1")).cast("int").as("g_type"),
        (abs(col("p_size0") - col("p_size1")) <= 2).cast("int").as("g_size"))
      graft.link.FellegiSunter
        .emClassifyFixedU(pairs, gcols, gcols.map(uMap), iters = 2)
        .orderBy("g_name", "g_type", "g_size")
    }),
    // splink's estimate_u_using_random_sampling: per-field agreement
    // rates over a deterministic md5-gated record sample crossed with
    // itself (bounded by the sample rate — the U-side anchor the EM's
    // blocked pairs cannot give)
    "q_estimate_u" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
          col("p_partkey").cast("long").as("id"),
          col("p_name"), col("p_type"), col("p_size"))
        .where(substring(md5(col("p_partkey").cast("string").cast("binary")),
          1, 1).isin("0", "1", "2", "3"))
      val pairs = base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
        .select(
          (graft.expr.levenshteinBand(col("a.p_name"), col("b.p_name"), 4) >= 0)
            .cast("int").as("g_name"),
          (col("a.p_type") === col("b.p_type")).cast("int").as("g_type"),
          (abs(col("a.p_size") - col("b.p_size")) <= 2).cast("int").as("g_size"))
      graft.link.FellegiSunter
        .estimateU(pairs, Seq("g_name", "g_type", "g_size"))
        .orderBy("field")
    }),
    // splink's estimate_m_from_label_column: block on the ground-truth
    // entity label (pages truth_entity), every cross-provider intra-label
    // pair is a match by definition, m_k = exact scaled agreement rate of
    // field k over those pairs — the supervised m-side anchor that pairs
    // with q_estimate_u's sampled u-side
    "q_estimate_m_labels" -> ((s, _) => {
      val p = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000)).toDF()
        .select(col("dp"), col("truth_entity"),
          split(col("text"), " ").as("toks"))
      val pairs = p.where(col("dp") === 0).as("ma")
        .join(p.where(col("dp") === 1).as("mb"),
          col("ma.truth_entity") === col("mb.truth_entity"))
        .select(
          (element_at(col("ma.toks"), 1) === element_at(col("mb.toks"), 1))
            .cast("int").as("g_first"),
          (element_at(col("ma.toks"), -1) === element_at(col("mb.toks"), -1))
            .cast("int").as("g_last"),
          (abs(size(col("ma.toks")) - size(col("mb.toks"))) <= 1)
            .cast("int").as("g_len"))
      graft.link.FellegiSunter
        .estimateMFromLabels(pairs, Seq("g_first", "g_last", "g_len"))
        .orderBy("field")
    }),
    // frequency-aware (rare-token) blocking over documents: each record
    // keys on its globally rarest token (document frequency, ties
    // lexicographic), then per-block membership + comb-2 candidate load —
    // the TF-IDF-flavoured refinement of attribute blocking
    "q_rare_token_block" -> ((s, dir) => {
      graft.ingest.Blocking.rareTokenKeys(docs(s, dir), "doc_id", "text")
        .groupBy("block_key", "key_count")
        .agg(count(lit(1)).as("n_records"))
        .withColumn("est_pairs",
          expr("CAST(n_records * (n_records - 1) DIV 2 AS BIGINT)"))
        .orderBy("block_key")
    }),
    // web-archive revisit dedup / content drift: 1-4 deterministic
    // captures per document url, content version flips by integer
    // formula; per-url changes vs revisit (unchanged re-fetch) rollup —
    // the CDX identical-payload-digest pass of a recurring crawl
    "q_revisit_diff" -> ((s, dir) => {
      val snaps = docs(s, dir)
        .withColumn("k",
          explode(sequence(lit(0), (col("doc_id") % 4).cast("int"))))
        .select(
          concat(lit("https://ex.org/d"), col("doc_id").cast("string"))
            .as("url"),
          (col("doc_id") * 86400L + col("k") * 3600L).as("ts"),
          concat(col("text"), lit(" v"),
            ((col("doc_id") * 31L + col("k") * col("k")) % 3L)
              .cast("string")).as("content"))
      graft.textops.UrlOps.revisitDiff(snaps, "url", "ts", "content")
        .orderBy("url")
    }),
    // active-learning uncertainty sampling: the SAME brand-blocked FS
    // pipeline as q_fellegi_sunter, but pair ids ride through and the 40
    // pairs with posterior nearest 1/2 surface for labeling (exact
    // integer uncertainty, id tie-break — a pure function of the corpus)
    "q_uncertainty_sample" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
        col("p_partkey").cast("long").as("id"), col("p_brand").as("bk"),
        col("p_name"), col("p_type"), col("p_size"))
      val pairs = graft.dedup.Dedup.saltedSelfPairs(base).select(
        col("id0"), col("id1"),
        (graft.expr.levenshteinBand(col("p_name0"), col("p_name1"), 4) >= 0)
          .cast("int").as("g_name"),
        (col("p_type0") === col("p_type1")).cast("int").as("g_type"),
        (abs(col("p_size0") - col("p_size1")) <= 2).cast("int").as("g_size"))
      graft.link.FellegiSunter.uncertaintySample(pairs,
          Seq("g_name", "g_type", "g_size"), Seq("id0", "id1"), k = 40)
        .select("id0", "id1", "g_name", "g_type", "g_size",
          "posterior", "uncertainty")
        .orderBy("uncertainty", "id0", "id1")
    }),
    // reciprocal-rank fusion of two ANN retrievers (exact cosine +
    // int8-quantized) — the hybrid-search merge; scores are IEEE-exact
    // sums of two small-integer reciprocals, ranked after rounding
    "q_rrf" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.where(col("vec_id") < 10)
      val exact = Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
      val int8 = Ann.int8TopK(e, q, "vec_id", "embedding", k = 10)
      Ann.rrfFuse(Seq(exact, int8))
        .where(col("fused_rank") <= 10)
        .select("query_id", "neighbor_id", "rank_1", "rank_2",
          "rrf_score", "fused_rank")
        .orderBy("query_id", "fused_rank")
    }),
    // BPE tokenizer training (Sennrich 2016): first 12 learned merges
    // over the documents corpus — per-round vocab-level pair agg +
    // TakeOrdered(1), merge rewrites as nested literal replaces; the
    // oracle replays all 12 rounds as chained CTEs
    "q_bpe_train" -> ((s, dir) =>
      graft.textops.Bpe.train(docs(s, dir), "text", merges = 12)),
    // BPE encode readout: post-merge segmentation of the 30 most
    // frequent trainable words under the 12 learned merges
    "q_bpe_segment" -> ((s, dir) =>
      graft.textops.Bpe.segmentTop(docs(s, dir), "text", merges = 12,
          topK = 30)
        .orderBy(col("cnt").desc, col("w"))),
    // CLK popcount-distribution QA (the upload sanity readout anonlink
    // surfaces: saturated or empty filters break Dice discrimination):
    // per-provider histogram of popcount DIV 32 with per-dp shares
    "q_clk_popcount_dist" -> ((s, _) => {
      val both = ClkIO.readBinary(s, s"$FixturesDir/febrl4_a.bin", 0, 128)
        .union(ClkIO.readBinary(s, s"$FixturesDir/febrl4_b.bin", 1, 128))
      val hist = both.select(col("dp"), expr("popcount DIV 32").as("bucket"))
        .groupBy("dp", "bucket").agg(count(lit(1)).as("n"))
      val tot = hist.groupBy("dp").agg(sum(col("n")).as("tot"))
      hist.join(broadcast(tot), Seq("dp"))
        .select(col("dp"), col("bucket"), col("n"),
          (col("n").cast("double") / col("tot")).as("share"))
        .orderBy(col("dp"), col("bucket"))
    }),
    // splink-style match-weight waterfall: per-field Bayes-factor
    // decomposition of every fitted pattern, exact scaled integers —
    // the explainability readout over the same EM fit
    "q_fs_waterfall" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
        col("p_partkey").cast("long").as("id"), col("p_brand").as("bk"),
        col("p_name"), col("p_type"), col("p_size"))
      val pairs = graft.dedup.Dedup.saltedSelfPairs(base).select(
        (graft.expr.levenshteinBand(col("p_name0"), col("p_name1"), 4) >= 0)
          .cast("int").as("g_name"),
        (col("p_type0") === col("p_type1")).cast("int").as("g_type"),
        (abs(col("p_size0") - col("p_size1")) <= 2).cast("int").as("g_size"))
      graft.link.FellegiSunter
        .waterfall(pairs, Seq("g_name", "g_type", "g_size"), iters = 2)
        .orderBy("g_name", "g_type", "g_size", "field")
    }),
    // splink-style term-frequency adjustment: after the same EM fit, the
    // U-side factor of the type field is replaced per (pattern, matched
    // value) group by that value's term frequency — agreement on a rare
    // type is stronger evidence than on a stopword-grade one; the oracle
    // replays the full EM AND the adjusted refold in HUGEINT-free
    // chained integer CTEs
    "q_fs_tf_adjust" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
        col("p_partkey").cast("long").as("id"), col("p_brand").as("bk"),
        col("p_name"), col("p_type"), col("p_size"))
      val pairs = graft.dedup.Dedup.saltedSelfPairs(base).select(
        (graft.expr.levenshteinBand(col("p_name0"), col("p_name1"), 4) >= 0)
          .cast("int").as("g_name"),
        (col("p_type0") === col("p_type1")).cast("int").as("g_type"),
        (abs(col("p_size0") - col("p_size1")) <= 2).cast("int").as("g_size"),
        when(col("p_type0") === col("p_type1"), col("p_type0")).as("tf_type"))
      graft.link.FellegiSunter.tfAdjustedPosteriors(pairs,
          Seq("g_name", "g_type", "g_size"), "g_type", "tf_type",
          base.select(col("p_type")), "p_type", iters = 2)
        .orderBy("g_name", "g_type", "g_size", "tf_val")
    }),
    // multi-level FS (splink-style comparison levels): graded name
    // (exact-ish / close / different) and size (equal / within-3 / far)
    // gammas, level-EM on the <=9 pattern sufficient statistics
    "q_fs_levels" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/part.parquet").select(
        col("p_partkey").cast("long").as("id"), col("p_brand").as("bk"),
        col("p_name"), col("p_size"))
      val p = graft.dedup.Dedup.saltedSelfPairs(base)
      val lv = graft.expr.levenshteinBand(col("p_name0"), col("p_name1"), 5)
      val pairs = p.select(
        when(lv >= 0 && lv <= 2, 2).when(lv >= 0, 1).otherwise(0)
          .as("g_name"),
        when(col("p_size0") === col("p_size1"), 2)
          .when(abs(col("p_size0") - col("p_size1")) <= 3, 1).otherwise(0)
          .as("g_size"))
      graft.link.FellegiSunter.emClassifyLevels(pairs,
          Seq(("g_name", 3), ("g_size", 3)), iters = 2)
        .orderBy("g_name", "g_size")
    }),
    "q_fuzzy_match" -> ((s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val mid = floor(length(col("p_name")) / 2).cast("int")
      val queries = names.select(col("p_name").as("orig"),
        concat(col("p_name").substr(lit(1), mid),
          col("p_name").substr(mid + lit(2), length(col("p_name"))))
          .as("qname"))
      val corpus = names.select(col("p_name").as("cand"))
      graft.link.Fuzzy.fuzzyJoin(queries, "qname", corpus, "cand", maxDist = 2)
        .select(col("orig"), col("qname"), col("cand"), col("dist"))
        .orderBy(col("orig"), col("cand"))
    }),
    // true Damerau-Levenshtein matching (codegen expression; DuckDB's
    // damerau_levenshtein is the same unrestricted variant — parity also
    // pinned by fixtures/damerau_vectors.csv): queries corrupt names by
    // one adjacent-character SWAP, which DL prices at 1 where plain
    // Levenshtein needs 2
    "q_dl_match" -> ((s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val mid = floor(length(col("p_name")) / 2).cast("int")
      val queries = names.select(col("p_name").as("orig"),
        concat(col("p_name").substr(lit(1), mid - 1),
          col("p_name").substr(mid + lit(1), lit(1)),
          col("p_name").substr(mid, lit(1)),
          col("p_name").substr(mid + lit(2), length(col("p_name"))))
          .as("qname"))
      val corpus = names.select(col("p_name").as("cand"))
      graft.link.Fuzzy.fuzzyJoinDL(queries, "qname", corpus, "cand",
          maxDist = 2)
        .select(col("orig"), col("qname"), col("cand"), col("dist"))
        .orderBy(col("orig"), col("cand"))
    }),
    // phonetic blocking: soundex of the name as the block key (the
    // classical pre-Bloom-filter linkage blocking), threshold-Levenshtein
    // confirm; the oracle replays the pairing from the soundex_sig dump
    "q_soundex_block" -> ((s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val mid = floor(length(col("p_name")) / 2).cast("int")
      val queries = names.select(col("p_name").as("orig"),
        concat(col("p_name").substr(lit(1), mid),
          col("p_name").substr(mid + lit(2), length(col("p_name"))))
          .as("qname"))
        .withColumn("sdx", soundex(col("qname")))
      val corpus = names.select(col("p_name").as("cand"))
        .withColumn("sdx", soundex(col("cand")))
      queries.join(corpus, "sdx")
        .withColumn("dist", graft.expr.levenshteinBand(col("qname"), col("cand"), 3))
        .where(col("dist") >= 0)
        .select(col("orig"), col("qname"), col("cand"), col("sdx"), col("dist"))
        .orderBy(col("orig"), col("cand"))
    }),
    // integer-arithmetic PageRank (3 iterations) over the part
    // co-purchase graph — the iterative-join centrality companion to the
    // CC solver; exact scaled-long arithmetic with floored division makes
    // 3 full iterations DuckDB-replayable as chained CTEs
    "q_pagerank" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      graft.cluster.PageRank.run(edges, iters = 3).orderBy(col("id"))
    }),
    // the same blocked typo-match confirmed by the codegen'd Jaro-Winkler
    // expression instead of edit distance — oracle is DuckDB's own
    // jaro_winkler_similarity (independent implementation, value-exact
    // at 6 decimals)
    // token-sort edit similarity (fuzzywuzzy token_sort_ratio family):
    // word-order-scrambled part names recovered through the sorted
    // canonical form; blocking on the order-invariant min/max tokens
    "q_token_sort" -> ((s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val queries = names.select(col("p_name").as("orig"),
        array_join(reverse(split(col("p_name"), " ")), " ").as("qname"))
      val corpus = names.select(col("p_name").as("cand"))
      graft.link.Fuzzy.tokenSortPairs(queries, "qname", corpus, "cand",
          minSim = 0.9)
        .select(col("orig"), col("qname"), col("cand"), col("dist"),
          col("token_sort_sim"))
        .orderBy(col("orig"), col("cand"))
    }),
    "q_jw_match" -> ((s, dir) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name")).distinct()
      val mid = floor(length(col("p_name")) / 2).cast("int")
      val queries = names.select(col("p_name").as("orig"),
        concat(col("p_name").substr(lit(1), mid),
          col("p_name").substr(mid + lit(2), length(col("p_name"))))
          .as("qname"))
      val corpus = names.select(col("p_name").as("cand"))
      graft.link.Fuzzy.affixCandidates(queries, "qname", corpus, "cand")
        .withColumn("jw", round(graft.expr.jaroWinkler(col("qname"), col("cand")), 6))
        .where(col("jw") >= 0.88)
        .select(col("orig"), col("qname"), col("cand"), col("jw"))
        .orderBy(col("orig"), col("cand"))
    }),
    // banded interval join (clicks in the 48 h before each purchase):
    // each left interval explodes to ≤2 span-wide buckets, each right row
    // to exactly 1, so the equi-join emits each qualifying pair once
    "q_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"),
          col("value").as("cvalue"))
      graft.rel.Relational.rangeJoin(purchases, "user_id", "ts",
          clicks, "cu", "cts", lowerSec = -172800L, upperSec = 0L)
        .groupBy(col("event_id"), col("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          round(sum(col("cvalue")), 4).as("click_value"))
        .orderBy(col("event_id"))
    }),
    // column-level data profiling of the orders table (row counts, null
    // rates, exact cardinalities, numeric + length ranges) — one agg per
    // column, NO multi-count_distinct Expand; timestamps excluded (their
    // canonical string form is engine-specific)
    "q_profile" -> ((s, dir) =>
      graft.rel.Profile.profile(s.read.parquet(s"$dir/orders.parquet"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"))
        .orderBy(col("column"))),
    // ordered conversion funnel (signup → click → purchase): chained
    // conditional minima, every stage keyed by user so the partitioning
    // is reused; later stages null out where the chain breaks
    "q_funnel" -> ((s, dir) =>
      graft.streaming.EventStream.funnel(events(s, dir),
          Seq("signup", "click", "purchase"))
        .orderBy(col("user_id"))),
    // weekly cohort retention matrix (first-active week × weeks-since)
    "q_retention" -> ((s, dir) =>
      graft.streaming.EventStream.retentionCohorts(events(s, dir))
        .orderBy(col("cohort_week"), col("week_offset"))),
    // deterministic weighted corpus mixing (downsample en to 25%, es to
    // 75%): md5-hash-threshold keep rule, no rand(), map-side only
    "q_mix_sample" -> ((s, dir) =>
      TextOps.mixSample(docs(s, dir), "doc_id", col("lang"),
          Map("en" -> 0.25, "es" -> 0.75))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),
    // grouped exact quantiles (interpolated) — the threshold-tuning
    // statistic for quality/similarity score distributions; DuckDB
    // quantile_cont replays the same (n-1)*p linear interpolation.
    // percentile_approx is the sketch-based 100-TB path for the same
    // numbers (single-pass mergeable KLL-style sketch, no full sort);
    // its error bound vs these exact values is spec-gated in
    // RelationalSpec rather than oracled (sketch internals are
    // engine-specific by nature)
    // full cube (all 4 grouping sets incl. the cross-margin rollup
    // misses); grouping_id disambiguates a real value from a margin
    "q_cube" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("gid"), col("sum_qty"), col("n"))
        .orderBy("gid", "l_returnflag", "l_linestatus")),
    // corpus dedup summary: the before/after readout a dedup run reports
    // (docs, distinct texts, dup rate, bytes saved by keeping one copy)
    "q_dedup_stats" -> ((s, dir) => {
      val g = Dedup.exactGroups(docs(s, dir), md5(col("text")),
        col("doc_id"))
      docs(s, dir).select(md5(col("text")).as("dup_key"),
          length(col("text")).cast("long").as("bytes"))
        .join(g, "dup_key")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("dup_key")).as("n_distinct"),
          sum(col("bytes")).as("total_bytes"),
          sum(when(col("group_size") > 1, col("bytes"))
            .otherwise(lit(0L))).as("bytes_in_dup_groups"),
          (count(lit(1)) - countDistinct(col("dup_key"))).as("n_removable"))
    }),
    // hierarchical rollup totals (flag × status → flag → grand total) —
    // the OLAP readout over the fact table; quantities are integer-valued
    // doubles (< 2^53) so every summation order is exact
    "q_rollup" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_quantiles" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"))
        .orderBy(col("event_type"))),
    "q_events_rate" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"),
          round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("event_type"))),
    // the SAME windowed aggregation executed through Structured Streaming
    // (file-stream source, maxFilesPerTrigger-forced incremental batches,
    // watermark, memory sink) — the one driver query that runs the actual
    // streaming engine; the oracle is the batch form, so stream == batch
    // is checked by the driver itself (not just StreamingSpec)
    "q_events_stream_windows" -> ((s, dir) => {
      val qn = s"events_stream_q${streamQueryIds.incrementAndGet()}"
      withStreamPartitions(s) {
        val q = graft.streaming.EventStream.streamFromParquet(
          s, s"$dir/events.parquet", qn)
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      s.table(qn).orderBy(col("window_start"), col("event_type"))
    }),
    // stateful streaming first-seen dedup driven through the REAL engine
    // (file stream -> flatMapGroupsWithState -> memory sink): each dup_key
    // is emitted exactly once across all micro-batches, so the result is
    // the distinct key set — which is what the SQL oracle checks
    "q_stream_first_seen" -> ((s, dir) => {
      val qn = s"stream_firstseen_q${streamQueryIds.incrementAndGet()}"
      val src = graft.streaming.EventStream
        .parquetStream(s, s"$dir/documents.parquet")
        .select(concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("k"))
      withStreamPartitions(s) {
        val q = graft.streaming.EventStream.firstSeenKeys(src, "k")
          .toDF("dup_key")
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      s.table(qn).orderBy(col("dup_key"))
    }),
    // session windows through the REAL streaming engine (append mode):
    // only watermark-finalized sessions emit — sessions whose end is
    // still inside the gap horizon at end-of-stream are withheld, and
    // the oracle replays exactly that finalization rule
    "q_stream_sessions" -> ((s, dir) => {
      val qn = s"stream_sessions_q${streamQueryIds.incrementAndGet()}"
      val src = graft.streaming.EventStream
        .parquetStream(s, s"$dir/events.parquet")
      withStreamPartitions(s) {
        val q = graft.streaming.EventStream
          .sessionWindows(src, gap = "30 minutes")
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      s.table(qn).orderBy(col("user_id"), col("start_us"))
    }),
    // STREAM-STREAM watermarked interval join through the real engine:
    // events staged as a 4-file dir (4 micro-batches per side), views and
    // clicks streamed as two independent sources, joined on user with
    // click in [view_ts, view_ts+4h]. The watermark is wider than the
    // replayed span so the join is exact and the batch-form SQL oracle
    // must match bit-for-bit — the driver itself proves stream == batch
    "q_stream_join" -> ((s, dir) => {
      val qn = s"stream_join_q${streamQueryIds.incrementAndGet()}"
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_join").toString
      events(s, dir).repartition(4).write.mode("overwrite").parquet(tmp)
      def side(t: String) = graft.streaming.EventStream
        .parquetStream(s, tmp).where(col("event_type") === t)
      val j = graft.streaming.EventStream.intervalJoinStream(
        side("view"), side("click"), "user_id", "ts", "event_id",
        windowSeconds = 14400, watermark = "60 days")
      withStreamPartitions(s) {
        val q = j.writeStream.outputMode("append").format("memory")
          .queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      s.table(qn).orderBy(col("key"), col("left_id"), col("right_id"))
    }),
    // TTL-bounded streaming dedup through the REAL engine: purchase
    // events staged as one file per day (explicit ascending mtimes ->
    // deterministic batch order), streamed with maxFilesPerTrigger=1 so
    // batch N's watermark = max event time through batch N-1. With a
    // 48h TTL and daily batches the refresh branch is always taken at a
    // sighting batch (bmax_B + 48h > end of day B-1), so the operator's
    // emission rule collapses to a pure window formula the oracle
    // replays: emit at sighting day B iff no prior sighting, or the
    // previous sighting's deadline passed the watermark in force at some
    // intermediate batch — max event time through batch B-2 (timers fire
    // only in batches where the key is absent, against the PREVIOUS
    // batch's watermark). Output: per-key emission counts, re-emissions
    // included (28 of 43 emissions at sf0.001 are TTL re-emissions).
    // engine-native dropDuplicatesWithinWatermark through 5 real
    // micro-batches (keys deliberately SPREAD across batches by
    // event_id%5, so dedup happens in the state store, not in-batch);
    // delay 3650d >> the data span = no-eviction regime, so the exact
    // oracle is DISTINCT keys — the eviction/re-emit regime is
    // StreamingSpec's staged-timeline case
    "q_stream_dropdup_wm" -> ((s, dir) => {
      val qn = s"stream_ddw_q${streamQueryIds.incrementAndGet()}"
      s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      val root = java.nio.file.Files.createTempDirectory("graft_stream_ddw")
      val in = root.resolve("stream")
      java.nio.file.Files.createDirectories(in)
      events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id").cast("string").as("k"),
          col("ts").cast("timestamp").as("ts"),
          (col("event_id") % 5).cast("int").as("d"))
        .repartition(1)
        .write.partitionBy("d").mode("overwrite").parquet(s"$root/staged")
      val parts = new java.io.File(s"$root/staged").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("d="))
        .sortBy(_.getName)
      parts.zipWithIndex.foreach { case (dd, i) =>
        val f = dd.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = in.resolve(f"batch$i%02d.parquet")
        java.nio.file.Files.move(f.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      val schema = s.read.parquet(in.toString).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      val keys = graft.streaming.EventStream
        .dedupKeysWithinWatermark(stream, "k", "ts", "3650 days")
      withStreamPartitions(s) {
        val q = keys.writeStream.outputMode("append").format("memory")
          .queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      s.table(qn).select(col("k").cast("long").as("user_id"))
        .orderBy(col("user_id"))
    }),
    "q_stream_ttl" -> ((s, dir) => {
      val qn = s"stream_ttl_q${streamQueryIds.incrementAndGet()}"
      s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      val root = java.nio.file.Files.createTempDirectory("graft_stream_ttl")
      val in = root.resolve("stream")
      java.nio.file.Files.createDirectories(in)
      events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id").cast("string").as("k"),
          col("ts").cast("timestamp").as("ts"),
          date_format(col("ts"), "yyyyMMdd").as("d"))
        .repartition(1)
        .write.partitionBy("d").mode("overwrite").parquet(s"$root/staged")
      val dayDirs = new java.io.File(s"$root/staged").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("d="))
        .sortBy(_.getName)
      dayDirs.zipWithIndex.foreach { case (dd, i) =>
        val f = dd.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = in.resolve(f"batch$i%02d.parquet")
        java.nio.file.Files.move(f.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      val schema = s.read.parquet(in.toString).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      val keys = graft.streaming.EventStream.firstSeenKeysTtl(
        stream, "k", "ts", ttlMs = 172800000L)
      withStreamPartitions(s) {
        val q = keys.writeStream.outputMode("append").format("memory")
          .queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      s.table(qn).groupBy(col("value").cast("long").as("user_id"))
        .agg(count(lit(1)).as("n_emissions"))
        .orderBy(col("user_id"))
    }),
    // STREAMING linkage through the real engine: the dp=1 provider is
    // staged as a 4-file parquet dir and streamed (maxFilesPerTrigger=1,
    // so 4 micro-batches) against the static dp=0 side; stream-static
    // join + codegen dice + stateful exact-once edge dedup. The oracle
    // is the SAME bit-for-bit DuckDB kernel replay as er_febrl4_edges —
    // the driver itself proves stream == batch == oracle.
    "q_stream_linkage" -> ((s, _) => {
      val qn = s"stream_link_q${streamQueryIds.incrementAndGet()}"
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_link").toString
      Pipeline.defaultBlock(
          ClkIO.readBinary(s, s"$FixturesDir/febrl4_b.bin", 1, 128))
        .repartition(4).write.mode("overwrite").parquet(dir)
      val statics = Pipeline.defaultBlock(
        ClkIO.readBinary(s, s"$FixturesDir/febrl4_a.bin", 0, 128))
      withStreamPartitions(s) {
        val q = graft.streaming.EventStream.streamingLinkage(
            graft.streaming.EventStream.parquetStream(s, dir), statics, 0.8)
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      s.table(qn).orderBy(desc("sim"), col("rec0"), col("rec1"))
    }),
    // tumbling-window aggregation over the event stream table
    "q_events_windows" -> ((s, dir) =>
      events(s, dir)
        .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("day_epoch"), col("event_type"))),

    // ---- non-SQL-expressible training-data ops (rows-only; oracles in
    // ---- DedupSpec/AnnSpec) ----
    "q_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy(col("id0"), col("id1"))),
    // estimator-accuracy audit: k-component MinHash estimate vs exact
    // shingle Jaccard per LSH candidate (unthresholded — misses matter)
    "q_minhash_acc" -> ((s, dir) =>
      Dedup.minhashAccuracy(docs(s, dir), "doc_id", "text")
        .orderBy(col("id0"), col("id1"))),
    // b-bit minhash (Li & König 2010): 4-bit components, collision
    // estimate bias-corrected by (c - 2^-b)/(1 - 2^-b) in exact integers
    // up to one final divide; audited against the exact shingle Jaccard
    "q_bbit_minhash" -> ((s, dir) =>
      Dedup.bbitMinhashAccuracy(docs(s, dir), "doc_id", "text")
        .orderBy(col("id0"), col("id1"))),
    // weighted-minhash LSH: bag-similarity blocking WITHOUT a block key
    // (multiset-expansion minhash); exact capped-tf confirm
    "q_wjaccard_lsh" -> ((s, dir) =>
      Dedup.weightedMinhashLshPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.7).orderBy(col("id0"), col("id1"))),
    // incremental dedup: only pairs touching the "new batch" slice
    // (doc_id%10==7) are generated — untouched buckets pay zero work;
    // oracle = the FULL pairing replay filtered to touching-new (the
    // delta contract, same shape as q_link_delta)
    "q_minhash_delta" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.minhashLshPairsDelta(d.where(col("doc_id") % 10 =!= 7),
          d.where(col("doc_id") % 10 === 7), "doc_id", "text",
          threshold = 0.5)
        .orderBy(col("id0"), col("id1"))
    }),
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxDist = 3)
        .orderBy(col("id0"), col("id1"))),
    // LSH quality evaluation: recall/precision of the MinHash-LSH path
    // vs the EXACT Jaccard ground truth over the same 2-shingle sets
    // (banding is the only approximation, so precision is 1.0 by
    // construction and recall is the banding coverage — the number a
    // 100-TB dedup run tunes bands/rows against). Restricted to even
    // doc ids so the oracle's O(n^2) exact replay stays cheap at sf0.01.
    "q_neardup_eval" -> ((s, dir) => {
      val sub = docs(s, dir).where(col("doc_id") % 2 === 0)
      val sig = Dedup.minhashSignatures(sub, "doc_id", "text")
      val exact = Dedup.jaccardPairsBy(sig.toDF(), "doc", col("sh"),
          lit("1"), threshold = 0.5)
        .select(col("id0"), col("id1"), lit(1L).as("e"))
      val lsh = Dedup.minhashLshPairs(sub, "doc_id", "text", threshold = 0.5)
        .select(col("id0"), col("id1"), lit(1L).as("l"))
      exact.join(lsh, Seq("id0", "id1"), "full_outer")
        .agg(
          sum(coalesce(col("e"), lit(0L)) * coalesce(col("l"), lit(0L))).as("tp"),
          sum(coalesce(col("e"), lit(0L))).as("n_exact"),
          sum(coalesce(col("l"), lit(0L))).as("n_lsh"))
        .select(col("n_exact"), col("n_lsh"), col("tp"),
          when(col("n_lsh") > 0, col("tp") / col("n_lsh"))
            .otherwise(lit(0.0)).as("precision"),
          when(col("n_exact") > 0, col("tp") / col("n_exact"))
            .otherwise(lit(0.0)).as("recall"))
    }),
    // near-dup group resolution: LSH pairs -> connected components ->
    // canonical representative; the oracle replays the pairing from the
    // minhash_sig dump (same params as q_minhash_pairs) and the
    // transitive closure with a recursive CTE
    "q_neardup_groups" -> ((s, dir) =>
      Dedup.nearDupGroups(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy(col("id"))),
    // the staged dedup funnel (raw -> exact -> LSH near-dup) with doc +
    // token counts per stage; the oracle replays exact survivorship from
    // the text bytes and the near-dup stage from the signature dump
    // restricted to exact survivors (signatures are per-doc, so subset
    // pairing == full pairing filtered to survivor endpoints)
    "q_dedup_funnel" -> ((s, dir) =>
      Dedup.dedupFunnel(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy(col("stage_idx"))),
    // dedup keep rule: one representative per near-dup group — the
    // longest document (token count), ties to the smallest id; the
    // oracle replays the group closure (recursive CTE) + a window argmax
    "q_dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBestPerGroup(docs(s, dir), "doc_id", "text",
          graft.textops.TextOps.tokenCount(col("text")), threshold = 0.5)
        .orderBy(col("group_id"))),
    // PII redaction over the corpus with deterministic injected
    // emails/phones (the synthetic corpus has none); counts + md5 of the
    // redacted text are replayed in SQL with the same patterns
    "q_redact_pii" -> ((s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact u"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit(" call 555-867-5309 ok")).otherwise(lit(""))).as("text"))
      TextOps.redactPii(injected, "doc_id", "text")
        .select(col("id"), col("n_emails"), col("n_phones"),
          md5(col("redacted").cast("binary")).as("redacted_md5"))
        .orderBy(col("id"))
    }),
    // Gopher-style repetition quality filters (dup-2gram + top-token
    // fractions); the oracle replays both from str_split in SQL
    "q_repetition" -> ((s, dir) =>
      TextOps.repetitionScores(docs(s, dir), "doc_id", "text")
        .orderBy(col("id"))),
    // benchmark decontamination: docs sharing any word 8-gram with the
    // deterministic "benchmark" subset (doc_id % 97 == 0); the oracle
    // replays gram construction + intersection entirely in SQL
    "q_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.contamination(d, "doc_id", "text",
          d.where(col("doc_id") % 97 === 0), "text", n = 8)
        .orderBy(col("id"))
    }),
    // CCNet-style line-level dedup over a deterministically synthesized
    // multi-line corpus (the flat corpus has no newlines): every doc gets
    // a shared boilerplate line, its 40-char prefix as a line, and every
    // third doc a second banner. The oracle replays frequency counting +
    // reassembly entirely in SQL (Spark keys the count by xxhash64 of the
    // trimmed line — fixed-width shuffle payload; same decision absent a
    // 64-bit collision).
    // exact substring-duplication detector (Lee et al. 2022 reduced to
    // its diagnostic core): 40-char windows every 20 chars, a window is
    // duplicated iff its hash appears in >= 2 distinct docs; per-doc
    // duplicated-window fraction
    "q_dup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc"))),
    // order-aware n-gram novelty: windows first seen in an earlier doc
    // are charged to the later one (first copy stays novel)
    "q_ngram_novelty" -> ((s, dir) =>
      Dedup.ngramNovelty(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc"))),
    // clkhash-style field normalization (the preprocessing clkhash runs
    // before encoding — reference schema "string transformations"):
    // deterministic accent injection, then fold = strip accents + lower
    // + punctuation collapse; norm is invariant under the dirtying,
    // which is the whole point of the stage
    "q_field_norm" -> ((s, dir) => {
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
    }),
    // LSH parameter planner: the (bands, rows) S-curve 1-(1-s^r)^b on a
    // sim grid — exact IEEE via explicit squaring chains (never pow(),
    // whose rounding is libm-specific), so the table hash-replays
    "q_lsh_scurve" -> ((s, _) => {
      def sq(c: Column, k: Int): Column =
        (1 to k).foldLeft(c)((acc, _) => acc * acc)
      val sims = s.range(1, 20)
        .select((col("id").cast("double") * lit(0.05)).as("sim"))
      val configs = Seq((4, 8, 2, 3), (2, 16, 1, 4), (8, 4, 3, 2))
      configs.map { case (r, b, rk, bk) =>
        val sr = sq(col("sim"), rk)
        val p = lit(1.0) - sq(lit(1.0) - sr, bk)
        sims.select(col("sim"), lit(b).as("bands"),
          lit(r).as("rows_per_band"), p.as("p_collision"))
      }.reduce(_ union _).orderBy(col("bands"), col("sim"))
    }),
    // rendezvous (HRW) shard routing: 4 -> 5 shard movement matrix —
    // moved keys may only land on the NEW shard (minimal-disruption
    // contract), which the oracle re-derives per key
    "q_shard_route" -> ((s, dir) =>
      graft.rel.Layout.reshardMovement(
          docs(s, dir).select(col("doc_id")), "doc_id", 4, 5)
        .orderBy(col("shard_before"), col("shard_after"))),
    // web-graph degree-distribution QA: per-degree node counts for in-
    // and out-degree over the extracted link graph (two hash-aggs, full
    // outer on the tiny degree domain)
    "q_degree_dist" -> ((s, _) => {
      val e = linkGraphEdges(s)
      val outd = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_out"))
      val ind = e.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_in"))
      outd.join(ind, Seq("d"), "full_outer")
        .select(col("d").as("degree"),
          coalesce(col("n_out"), lit(0L)).as("n_out"),
          coalesce(col("n_in"), lit(0L)).as("n_in"))
        .orderBy(col("degree"))
    }),
    // winnowing (MOSS) fingerprint selection: rightmost window minima
    // of the k-gram hash stream — ~2/(w+1) density with the >=w+k-1
    // shared-substring detection guarantee
    "q_winnowing" -> ((s, dir) =>
      Dedup.winnowingFingerprints(
          docs(s, dir).where(col("doc_id") < 100), "doc_id", "text")
        .orderBy(col("doc"), col("pos"))),
    "q_line_dedup" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit("\nsubscribe to our newsletter\n"),
          substring(col("text"), 1, 40),
          when(col("doc_id") % 3 === 0, lit("\ncookie policy accepted"))
            .otherwise(lit(""))).as("text"))
      TextOps.lineDedup(corpus, "doc_id", "text", maxFreq = 1)
        .select(col("id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy(col("id"))
    }),
    // Pearson correlation (value vs hour-of-day per event type) from
    // EXACT integer moments: fixed-point values, decimal-widened
    // products, double only in the final ratio — engine-identical
    "q_correlation" -> ((s, dir) => {
      def d(c: Column) = c.cast("decimal(38,0)")
      events(s, dir).select(col("event_type"),
          floor(col("value") * 100).cast("long").as("v"),
          hour(col("ts")).cast("long").as("h"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("v")).as("sv"), sum(col("h")).as("sh"),
          sum((col("v") * col("h")).cast("decimal(28,0)"))
            .cast("decimal(38,0)").as("svh"),
          sum((col("v") * col("v")).cast("decimal(28,0)"))
            .cast("decimal(38,0)").as("svv"),
          sum((col("h") * col("h")).cast("decimal(28,0)"))
            .cast("decimal(38,0)").as("shh"))
        .select(col("event_type"), col("n"),
          round((d(col("n")) * col("svh") - d(col("sv")) * col("sh"))
              .cast("double") /
            sqrt((d(col("n")) * col("svv") - d(col("sv")) * col("sv"))
                .cast("double") *
              (d(col("n")) * col("shh") - d(col("sh")) * col("sh"))
                .cast("double")), 6).as("r"))
        .orderBy(col("event_type"))
    }),
    // INCREMENTAL connected components: cluster the co-purchase graph
    // from 80% of the edges, then fold the remaining 20% in as a delta —
    // touching only the delta and the label table, never the old edge
    // set. The oracle closes over the FULL edge set, so the incremental
    // path is checked against the from-scratch answer
    "q_cc_delta" -> ((s, dir) => {
      import s.implicits._
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 4 === 0 && col("l_partkey") % 2 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      val isDelta = (col("u") + col("v")) % 5 === 0
      val prev = graft.cluster.ConnectedComponents.run(
        edges.where(!isDelta).as[(Long, Long)])
      graft.cluster.ConnectedComponents.incrementalRun(
          prev, edges.where(isDelta).as[(Long, Long)])
        .orderBy(col("node"))
    }),
    // frequency-based (Winkler) agreement weights: agreeing on a rare
    // nation outweighs agreeing on a common market segment — weights are
    // exact fixed-point rarity ratios attached per RECORD (one agg+join
    // per field), never computed on the pair set
    "q_freq_weights" -> ((s, dir) =>
      graft.link.FieldMatch.selfScoreFrequency(
          s.read.parquet(s"$dir/customer.parquet"),
          "c_custkey", col("c_custkey") % 50,
          Seq("c_nationkey", "c_mktsegment"), scale = 1000L,
          minScore = 20000L)
        .orderBy(col("id0"), col("id1"))),
    // daily distinct users: exact countDistinct is the oracle path;
    // approx_count_distinct (HLL++, mergeable, no Expand blow-up) is the
    // 100-TB path for the same number, spec-gated to <5% error in
    // StreamingSpec — the q_quantiles exact/sketch pairing for
    // cardinality estimation
    "q_daily_distinct" -> ((s, dir) =>
      events(s, dir)
        .groupBy(unix_timestamp(date_trunc("day", col("ts")))
          .as("day_epoch"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("day_epoch"))),
    // per-user 3-sigma outlier events in exact integer arithmetic (the
    // z-score test cleared of division and sqrt — pure fixed-point
    // comparison, bit-stable at any partitioning)
    "q_outliers" -> ((s, dir) =>
      graft.streaming.EventStream.sigmaOutliers(events(s, dir),
          "user_id", "event_id", "value", k = 2)
        .select(col("key").as("user_id"), col("id").as("event_id"), col("v"))
        .orderBy(col("user_id"), col("event_id"))),
    // integer-exact k-means (k=8, 2 Lloyd iterations) over int8-shifted
    // embeddings: bit-identical at any parallelism — the exact-integer-
    // arithmetic pattern (PageRank) applied to clustering, so the whole
    // iterative job replays in SQL
    "q_kmeans_int" -> ((s, dir) =>
      graft.ann.Ann.kmeansInt(embs(s, dir), "vec_id", "embedding",
          k = 8, iters = 2)
        .orderBy(col("vec_id"))),
    // Gonzalez max-min k-center selection (k=8) over int8-quantized
    // embeddings: the diversity-selection dual of q_kmeans_int —
    // farthest-point sampling with integer-exact distances, lowest-id
    // seed and ties, covering-radius sequence in the output
    "q_kcenter" -> ((s, dir) =>
      graft.ann.Ann.kCentersInt(embs(s, dir), "vec_id", "embedding", k = 8)
        .orderBy(col("round"))),
    // per-language percentile-rank normalization of a quality score —
    // thresholds set on the normalized rank treat languages fairly
    // (absolute TTR distributions differ by language); percent_rank is
    // (rank-1)/(n-1) in both engines, ties broken by doc_id
    "q_quality_norm" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val ttr = round(size(array_distinct(toks)).cast("double") /
        size(toks), 4)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("ttr"), col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("lang"), ttr.as("ttr"))
        .withColumn("q_rank", round(percent_rank().over(w), 6))
        .orderBy(col("doc_id"))
    }),
    // deterministic train/val/test split (80/10/10 by md5-hex threshold,
    // the mix_sample rule) with per-(split, lang) counts — the
    // reproducible-at-any-parallelism dataset split
    "q_split_assign" -> ((s, dir) =>
      docs(s, dir).select(col("lang"),
          when(substring(md5(col("doc_id").cast("string")), 1, 8)
            < "cccccccc", "train")
            .when(substring(md5(col("doc_id").cast("string")), 1, 8)
              < "e6666666", "val")
            .otherwise("test").as("split"))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy(col("split"), col("lang"))),
    // token-budget sequence packing (LLM training shards): shard =
    // global token offset DIV budget, via the DISTRIBUTED two-phase
    // prefix sum (range shuffle + tiny offsets collect — NOT a
    // single-partition window)
    "q_token_packing" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      graft.rel.Relational.prefixSum(toks, "doc_id", "n_tokens")
        .select(col("k").as("doc_id"), col("v").as("n_tokens"),
          col("before"),
          expr("CAST(before DIV 2000 AS BIGINT)").as("shard"))
        .orderBy(col("doc_id"))
    }),
    // Monge-Elkan aggregated Jaro-Winkler over brand-blocked part names
    // (mean of best-match token scores, both directions) — fixed-point
    // per-token maxima so the aggregate is float-order-independent
    // blocking key is (brand, size): brand alone makes this the
    // bench's one outlier (8M pairs x ~50 JW calls at sf0.1 = 29 s);
    // the operator and its FuzzySpec brute-force gate are unchanged
    "q_monge_elkan" -> ((s, dir) =>
      graft.link.Fuzzy.mongeElkanPairs(
          s.read.parquet(s"$dir/part.parquet"),
          "p_partkey", split(col("p_name"), " "),
          concat_ws("|", col("p_brand"), col("p_size")),
          threshold = 0.6)
        .orderBy(col("id0"), col("id1"))),
    // SoftTF-IDF (Cohen-Ravikumar-Fienberg): TF-IDF cosine with
    // JW-closest token bridging — the packed (jw6, w) argmax keeps the
    // whole comparator integer-exact up to the final norm division
    "q_soft_tfidf" -> ((s, dir) =>
      graft.link.Fuzzy.softTfidfPairs(
          s.read.parquet(s"$dir/part.parquet"),
          "p_partkey", split(col("p_name"), " "),
          col("p_brand"), theta = 0.9, threshold = 0.6)
        .orderBy(col("id0"), col("id1"))),
    // spatial radius join via grid blocking (3x3 cell neighbourhood +
    // exact integer planar distance): customers to suppliers within 10
    // degrees on deterministically synthesized micro-degree coordinates
    "q_geo_join" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("cust"),
          ((col("c_custkey") * 2654435761L) % 180000000L - 90000000L).as("lat"),
          ((col("c_custkey") * 96822197L) % 360000000L - 180000000L).as("lon"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("supp"),
          ((col("s_suppkey") * 1885667511L) % 180000000L - 90000000L).as("lat"),
          ((col("s_suppkey") * 472882049L) % 360000000L - 180000000L).as("lon"))
      graft.rel.Spatial.gridJoin(cust, "cust", supp, "supp",
          "lat", "lon", radius = 10000000L)
        .orderBy(col("cust"), col("supp"))
    }),
    // small-file compaction planning (Iceberg rewrite_data_files): files
    // simulated as orders row-count groups; output group = running
    // offset DIV target — a metadata-scale window, not a data shuffle
    "q_compaction_plan" -> ((s, dir) => {
      val files = s.read.parquet(s"$dir/orders.parquet")
        .groupBy((col("o_orderkey") % 64).as("file_id"))
        .agg(count(lit(1)).as("size"))
      graft.rel.Layout.compactionPlan(files, "file_id", "size",
          targetBytes = 100L)
        .orderBy(col("file_id"))
    }),
    // schema/distribution drift between two snapshots: the new snapshot
    // deliberately nulls value for clicks and collapses props to one
    // literal — those two columns must flag, the others must not
    "q_schema_drift" -> ((s, dir) => {
      val ev = events(s, dir)
      val old = ev.where(col("event_id") % 2 === 0)
      val neu = ev.where(col("event_id") % 2 === 1)
        .withColumn("value", when(col("event_type") === "click",
          lit(null).cast("double")).otherwise(col("value")))
        .withColumn("props", lit("{}"))
      graft.rel.Profile.drift(old, neu,
          Seq("event_type", "value", "props", "user_id"))
        .orderBy(col("column"))
    }),
    // 3-core of the (arithmetically thinned) co-purchase graph: peel to
    // fixpoint; unique result regardless of peel order, so the oracle
    // replays it as a fixed chain of 20 SQL rounds (no-ops past
    // convergence). Output = surviving nodes with their in-core degree
    "q_kcore" -> ((s, dir) => {
      import s.implicits._
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
        .where((col("u") * 1000003 + col("v")) % 17 === 0)
      graft.cluster.KCore.run(edges.as[(Long, Long)], k = 3)
        .orderBy(col("node"))
    }),
    // image near-dup pairs by perceptual aHash (REAL ImageIO decode):
    // 4-band pigeonhole over the 64-bit hash (exact for dist<=3) + a
    // bit_count(xor) confirm — the multimodal twin of q_simhash_pairs
    "q_image_neardup" -> ((s, _) =>
      graft.multimodal.Multimodal.imageNearDupPairs(
          graft.multimodal.Multimodal.synthPngVariants(s, 40),
          "doc", "payload", maxDist = 3)
        .orderBy(col("id0"), col("id1"))),
    // Z-order layout: per-bucket min/max envelopes of the quantized
    // (l_partkey, l_suppkey) plane — each bucket is a 16x16 rectangle
    // (the bucket is a prefix of the Morton code), which IS the file-
    // skipping stats envelope a scan planner prunes with. The oracle
    // rebuilds the Morton code from the transparent per-bit sum formula
    // against the engine's magic-number kernel — two independent
    // constructions must agree bit-for-bit
    "q_zorder" -> ((s, dir) =>
      graft.rel.Layout.zorderStats(s.read.parquet(s"$dir/lineitem.parquet"),
          "l_partkey", "l_suppkey", bucketBits = 8)
        .orderBy(col("bucket"))),
    // the two-level salting PLAN itself, driver-visible: per block, the
    // (k1, k2) fan-out Salting.fanoutCol picks at aim=50/maxK=16 plus the
    // chunk-task and pair estimates — the skew-handling decision is
    // oracle-checked, not just exercised (ceil/sqrt/div are IEEE-exact
    // in both engines, so the replay is bit-for-bit)
    "q_skew_plan" -> ((s, dir) => {
      val b = docs(s, dir)
        .groupBy(element_at(split(col("text"), " "), 1).as("block_key"))
        .agg(count(lit(1)).as("n"))
      val (k1, k2) = graft.link.Salting.fanoutCol(col("n"), lit(50L), 16)
      b.select(col("block_key"), col("n"), k1.as("k1"), k2.as("k2"))
        .withColumn("eff_k", (col("k1") * col("k2")).cast("long"))
        .withColumn("n_chunk_tasks",
          expr("CAST((eff_k * (eff_k + 1)) DIV 2 AS BIGINT)"))
        .withColumn("est_pairs", expr("CAST((n * (n - 1)) DIV 2 AS BIGINT)"))
        .orderBy(col("block_key"))
    }),
    // collocation mining: adjacent word pairs ranked by lift (PMI without
    // the log — same ranking, SQL-replayable); top 40 above count 5
    "q_collocations" -> ((s, dir) =>
      TextOps.collocations(docs(s, dir), "text", minCount = 5, k = 40)),
    // per-source boilerplate removal (CCNet domain rule): header/footer
    // lines injected into every doc of a source (and a 25% promo line)
    // — lines in ≥ ceil(0.5·source_docs) docs of the SAME source are
    // stripped, so header/copyright go and promo stays
    "q_boilerplate" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("source"),
        concat(lit("header "), col("source"), lit("\n"), col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit("\npromo "), col("source"))).otherwise(lit("")),
          lit("\ncopyright "), col("source")).as("text"))
      TextOps.boilerplateStrip(corpus, "doc_id", "text", col("source"),
          minFrac = 0.5)
        .select(col("id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy(col("id"))
    }),
    // URL canonicalization + URL-level dup grouping over deterministic
    // messy variants (case, default port, www., tracking params, param
    // order, trailing slashes, fragments, plus a non-URL passthrough);
    // the oracle replays the whole canonical algebra in SQL
    "q_url_canon" -> ((s, dir) => {
      val v = col("doc_id") % 5
      val g = (col("doc_id") - v).cast("string")
      val raw = docs(s, dir).select(col("doc_id"),
        when(v === 0, concat(lit("HTTPS://WWW.Example.COM:443/docs/"), g,
            lit("/?utm_source=feed&b=2&a=1#top")))
          .when(v === 1, concat(lit("https://example.com/docs/"), g,
            lit("//?a=1&b=2")))
          .when(v === 2, concat(lit("https://example.com:8080/docs/"), g,
            lit("?b=2&a=1&fbclid=zz")))
          .when(v === 3, concat(lit("https://example.com/docs/"), g))
          .otherwise(concat(lit("URN:isbn:"), col("doc_id").cast("string")))
          .as("url_raw"))
      raw.select(col("doc_id").as("id"), col("url_raw"),
          graft.textops.UrlOps.canonicalUrl(col("url_raw")).as("url_canon"))
        .withColumn("n_dups",
          count(lit(1)).over(Window.partitionBy(col("url_canon"))))
        .withColumn("domain", graft.textops.UrlOps.domainOf(col("url_canon")))
        .orderBy(col("id"))
    }),
    // Pairwise precision/recall/F1 of the LIVE pipeline vs the febrl4
    // ground truth at the flagship threshold and at t=0.75 (the
    // BASELINE.json F1>=0.99 gate threshold — LinkageFixtureSpec's
    // semantic gate). The oracle replays the metric from the FROZEN
    // golden cluster fixtures, so the driver independently checks that
    // the live solver still produces the F1-grade pairs.
    "q_febrl4_eval" -> ((s, _) => {
      import s.implicits._
      val truth = s.read.option("header", "true")
        .csv(s"$FixturesDir/febrl4_truth.csv")
        .select(col("row_a").cast("long").as("rec0"),
          col("row_b").cast("long").as("rec1"), lit(1L).as("t"))
      def evalAt(t: Double): DataFrame = {
        val clusters =
          if (t == 0.8) febrl4Clusters(s).as[graft.core.ClusterMember]
          else Pipeline.clusters(febrl4Blocked(s), LinkConfig(threshold = t))
        val pred = Solver.pairsFromClusters(clusters)
          .where($"dp0" === 0 && $"dp1" === 1)
          .select($"rec0", $"rec1", lit(1L).as("p"))
        pred.join(truth, Seq("rec0", "rec1"), "full_outer")
          .agg(
            sum(coalesce($"p", lit(0L)) * coalesce($"t", lit(0L))).as("tp"),
            sum(coalesce($"p", lit(0L))).as("n_pred"),
            sum(coalesce($"t", lit(0L))).as("n_true"))
          .withColumn("threshold", lit(t))
      }
      evalAt(0.75).unionByName(evalAt(0.8))
        .withColumn("precision", $"tp" / $"n_pred")
        .withColumn("recall", $"tp" / $"n_true")
        .withColumn("f1",
          lit(2) * $"precision" * $"recall" / ($"precision" + $"recall"))
        .select("threshold", "n_pred", "n_true", "tp",
          "precision", "recall", "f1")
        .orderBy("threshold")
    }),
    // B-cubed cluster-level evaluation of the golden febrl4 clustering
    // vs truth: full 2x2000-record universe (absent records = singleton
    // labels), exact fixed-point per-cell terms (integer DIV), doubles
    // only in the final three ratios
    "q_bcubed" -> ((s, _) =>
      graft.cluster.Evaluation.bcubed(febrl4Assignment(s), "pred", "truth")),
    // Rand index over the same assignment — pair-level agreement without
    // pair enumeration (three comb-2 aggs + inclusion-exclusion, all
    // integer until the final ratio)
    "q_rand_index" -> ((s, _) =>
      graft.cluster.Evaluation.randIndex(febrl4Assignment(s), "pred",
        "truth")),
    // cluster churn between the committed t=0.75 and t=0.8 golden
    // clusterings: splits / merges / stable clusters after a threshold
    // change — the monitoring readout an incremental-linkage consumer
    // watches after every delta batch
    "q_cluster_churn" -> ((s, _) => {
      def fix(f: String) = s.read.parquet(s"$FixturesDir/$f")
        .select((col("dp").cast("long") * 10000 + col("entityId")).as("id"),
          col("clusterId"))
      graft.cluster.Evaluation.clusterChurn(
        fix("febrl4_golden_clusters_t075.parquet"),
        fix("febrl4_golden_clusters.parquet"), "id", "clusterId")
    }),
    // persistent cluster ids across the t075 -> t08 runs: a new cluster
    // adopts an old id only as its RECIPROCAL best-overlap partner
    "q_persistent_ids" -> ((s, _) => {
      def fix(f: String) = s.read.parquet(s"$FixturesDir/$f")
        .select((col("dp").cast("long") * 10000 + col("entityId")).as("id"),
          col("clusterId"))
      graft.cluster.Evaluation.persistentIds(
          fix("febrl4_golden_clusters_t075.parquet"),
          fix("febrl4_golden_clusters.parquet"), "id", "clusterId")
        .orderBy(col("new_cluster"))
    }),
    // 1:many violation audit: distribution of per-record accepted-edge
    // counts per provider at the accept threshold
    "q_match_multiplicity" -> ((s, _) =>
      graft.cluster.Evaluation.matchMultiplicity(
          Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.8)).toDF())
        .orderBy(col("dp"), col("n_matches"))),
    // transitive-closure quality: exact Dice over every IMPLIED member
    // pair of each golden cluster (kernel recomputed from packed words)
    "q_cluster_sim_range" -> ((s, _) => {
      val labels = s.read.parquet(s"$FixturesDir/febrl4_golden_clusters.parquet")
        .select(col("dp"), col("entityId").as("rec"),
          col("clusterId").as("label"))
      val clks = s.read.parquet(s"$FixturesDir/febrl4_clks.parquet")
        .select(col("dp"), col("entity_id").as("rec"), col("pc"), col("words"))
      graft.cluster.Evaluation.intraClusterSims(labels, clks)
        .orderBy(col("label"))
    }),
    // active-learning labeling sampler: k candidate pairs per similarity
    // band from one low-threshold kernel pass, hash-ordered (md5 — pure
    // SQL in both engines) so the labeling batch is reproducible at any
    // parallelism and engine
    "q_label_sample" -> ((s, _) => {
      val e = Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.5))
        .toDF()
      val banded = e.select(col("rec0"), col("rec1"), col("sim"),
        floor(col("sim") * 20).cast("int").as("band"),
        md5(concat_ws("_", col("rec0"), col("rec1"))).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band")).orderBy(col("h"))
      banded.withColumn("sample_rank", row_number().over(w))
        .where(col("sample_rank") <= 5)
        .orderBy(col("band"), col("sample_rank"))
    }),
    // reliability diagram: observed match rate (vs febrl4 truth) per
    // similarity bin over the 0.5-floored kernel edges
    "q_score_calibration" -> ((s, _) => {
      val truth = s.read.option("header", "true")
        .schema("row_a LONG, row_b LONG")
        .csv(s"$FixturesDir/febrl4_truth.csv")
        .select(col("row_a").as("rec0"), col("row_b").as("rec1"))
      graft.cluster.Evaluation.scoreCalibration(
          Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.5)).toDF(),
          truth)
        .orderBy(col("bin"))
    }),
    // threshold-free ranking quality vs the labeled truth: exact ROC
    // AUC in the Mann-Whitney form (concordant/tied pair counts from
    // the distinct-score table, half-credit ties)
    "q_auc" -> ((s, _) =>
      graft.cluster.RankEval.rocAuc(
        Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.5)).toDF(),
        febrl4Truth(s))),
    // Kolmogorov-Smirnov separation of the match / non-match score
    // populations, with the exact argmax score (smallest-score ties)
    "q_ks_stat" -> ((s, _) =>
      graft.cluster.RankEval.ksStatistic(
        Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.5)).toDF(),
        febrl4Truth(s))),
    // clerical-review budget curve: equal-depth gains/lift buckets over
    // the (sim desc, rec0, rec1)-ranked pair list — global ranks via
    // the two-phase range-partition pass, never a one-task window
    "q_gains" -> ((s, _) =>
      graft.cluster.RankEval.gainsTable(
          Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.5)).toDF(),
          febrl4Truth(s), buckets = 10)
        .orderBy(col("bucket"))),
    // retrieval-style summary of the whole ranked list: average
    // precision with per-positive contributions rounded to fixed point
    // so the sum is order-free
    "q_avg_precision" -> ((s, _) =>
      graft.cluster.RankEval.averagePrecision(
        Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.5)).toDF(),
        febrl4Truth(s))),
    // blocking privacy: per-provider k-anonymity of the block
    // collection (blocks below k re-identify members by membership
    // alone — the threat the reference's BLAKE2b block-name hashing
    // does NOT cover)
    "q_block_kanon" -> ((s, dir) =>
      graft.ingest.Blocking.kAnonymityStats(docsBlocked(s, dir), k = 5)
        .orderBy(col("dp"))),
    // truth discovery / data fusion (TruthFinder family, integer fixed
    // point): sources = doc_id%5 shards, objects = 3-token dup keys,
    // conflicting claims = the 4th token; 2 trust-iteration rounds, then
    // the per-object winner — what survivorship should pick when merged
    // records disagree and sources differ in reliability
    "q_truth_discovery" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val claims = docs(s, dir).select(
        (col("doc_id") % 5).as("src"),
        concat_ws(" ", slice(toks, 1, 3)).as("obj"),
        element_at(toks, 4).as("val"))
        .where(col("val").isNotNull)
      graft.cluster.TruthDiscovery.resolve(claims, "src", "obj", "val")
        .orderBy(col("obj"))
    }),
    // DP block-size release (geometric mechanism, Ghosh et al. 2009):
    // two-sided-geometric noise at eps=ln2 from the keyed md5 stream,
    // trailing-ones windows — integer-exact, clamped at 0
    "q_dp_blocks" -> ((s, dir) =>
      graft.ingest.Blocking.dpBlockSizes(docsBlocked(s, dir))
        .orderBy(col("dp"), col("block_key"))),
    // TF-IDF-weighted cosine pair scoring: inverted-index pair join
    // with df cap, fixed-point integer weights (exact dot products and
    // norms), doubles only in the final cosine
    "q_tfidf_cosine" -> ((s, dir) =>
      TextOps.tfidfCosinePairs(docs(s, dir), "doc_id", "text",
        minSim = 0.9).orderBy(col("id0"), col("id1"))),
    // threshold-tuning curve: edge-level P/R/F1 at 10 thresholds from
    // ONE kernel pass at t=0.5 (the reference's similarity_scores run
    // type as an operator-facing sweep); the oracle re-derives every
    // candidate score from the committed CLK fixture with DuckDB's own
    // bit_count kernel, so the whole curve is independently replayed
    "q_threshold_sweep" -> ((s, _) => {
      val truth = s.read.option("header", "true")
        .csv(s"$FixturesDir/febrl4_truth.csv")
        .select(col("row_a").as("rec0"), col("row_b").as("rec1"))
      val edges = Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.5))
        .toDF().where(col("dp0") === 0 && col("dp1") === 1)
      Pipeline.thresholdSweep(edges, truth,
          Seq(0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95))
        .orderBy(col("threshold"))
    }),
    // tf-idf top terms (ratio idf — monotone with log idf, SQL-exact)
    "q_tfidf_topterms" -> ((s, dir) =>
      TextOps.tfidfTopTerms(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy(col("id"), col("rank"))),
    // similarity-score histogram for threshold tuning — the reference's
    // similarity_scores run type reduced to its diagnostic use; bins are
    // replayed from the same bit-for-bit DuckDB Dice kernel as
    // er_febrl4_edges
    "q_sim_histogram" -> ((s, _) =>
      Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.5))
        .toDF()
        .groupBy(floor(col("sim") * 20).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("sim")).as("min_sim"), max(col("sim")).as("max_sim"))
        .orderBy(col("bin"))),
    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprintUdf(col("text")).as("fp"))
        .orderBy(col("doc_id"))),
    // md5 content fingerprint (SQL-replayable companion to the FNV one)
    "q_fingerprint_md5" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        md5(col("text").cast("binary")).as("fp_md5")).orderBy(col("doc_id"))),
    // approximate cosine pairs — the 100-TB path (sign-LSH candidates,
    // exact confirm; oracle replays pairing from the ann_sig dump)
    "q_cosine_pairs_lsh" -> ((s, dir) =>
      Dedup.embeddingCosinePairsApprox(embs(s, dir), "vec_id", "embedding",
        threshold = 0.4).orderBy(col("id0"), col("id1"))),
    "q_ann_lsh_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Ann.lshTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // IVF coarse-quantizer ANN (the other scale path; oracle replays the
    // probe-list search from the ivf_sig dump)
    "q_ann_ivf_topk" -> ((s, dir) =>
      Ann.ivfTopKFromAssignments(ivfSig(s, dir),
        embs(s, dir).where(col("vec_id") < 10)
          .select(col("vec_id").cast("long").as("query_id")), k = 5)
        .orderBy(col("query_id"), col("rank"))),
    // ANN quality gate: recall@5 of the IVF index against brute-force
    // exact cosine per query — the accuracy/cost readout every approx
    // index deployment needs before it replaces the exact path
    "q_ann_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.where(col("vec_id") < 10)
      val exact = Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Ann.ivfTopKFromAssignments(ivfSig(s, dir),
          q.select(col("vec_id").cast("long").as("query_id")), k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits") * 2000L).as("recall_scaled"))
        .orderBy("query_id")
    }),
    // product-quantization ANN (Jegou et al. 2011) — the memory-bound
    // scale path: 8 one-byte codes per 64-dim vector, ADC table-lookup
    // distances; integer-exact end to end, so the oracle re-derives code
    // assignment AND the full search from the pq_uv + pq_codebook dumps
    "q_ann_pq_topk" -> ((s, dir) => {
      val (uv, book) = pqModel(s, dir)
      graft.ann.Pq.adcTopK(uv, book,
          graft.ann.Pq.codes(uv, book, numSub = 8, subDim = 8),
          embs(s, dir).where(col("vec_id") < 10)
            .select(col("vec_id").cast("long").as("query_id")),
          k = 5, numSub = 8, subDim = 8)
        .orderBy(col("query_id"), col("rank"))
    }),
    // KMV bottom-k distinct sketch: per-source token-vocabulary estimate
    // with the exact count riding along as the estimator audit; estimate
    // is a floored-integer divide so the oracle replays it bit-for-bit
    "q_kmv_distinct" -> ((s, dir) =>
      graft.rel.Sketches.kmvDistinct(
          docs(s, dir).select(col("source"),
            explode(split(col("text"), " ")).as("tok")),
          "source", "tok", k = 64)
        .orderBy(col("source"))),
    // HyperLogLog registers + FP-free raw estimate per language (the
    // scaled-integer Σ2^-reg trick — see Sketches.hllDistinct)
    "q_hll_distinct" -> ((s, dir) =>
      graft.rel.Sketches.hllDistinct(
          docs(s, dir).select(col("lang"),
            explode(split(col("text"), " ")).as("tok")),
          "lang", "tok", p = 6)
        .orderBy(col("lang"))),
    // Hilbert-curve layout clustering over the same 2D key as q_zorder —
    // the locality upgrade (unit-step walk => tighter per-bucket
    // zone-map envelopes); per-bucket file-skipping stats
    "q_hilbert" -> ((s, dir) =>
      graft.rel.Layout.hilbertStats(
          s.read.parquet(s"$dir/lineitem.parquet"),
          "l_partkey", "l_suppkey", bucketBits = 8)
        .orderBy(col("bucket"))),
    // zone-map file-skipping plan under two layouts of the same rows:
    // orderkey-clustered files prune to a handful for an orderkey range
    // predicate, hash-scattered files must all be read — the quantified
    // case for clustering layouts
    "q_zonemap_prune" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      def plan(layout: String, fileId: Column) =
        graft.rel.Layout.zonemapPrunePlan(
            li.select(fileId.as("f"), col("l_orderkey")),
            "f", "l_orderkey", lo = 1000L, hi = 3000L)
          .withColumn("layout", lit(layout))
      plan("clustered", expr("l_orderkey DIV 2048"))
        .unionByName(plan("scattered", expr("l_orderkey % 64")))
        .orderBy(col("layout"), col("file_id"))
    }),
    // adjusted Rand index of the golden febrl4 clustering vs truth —
    // randIndex corrected for chance; integer-exact sufficient
    // statistics and a floored scaled divide (see Evaluation scaladoc)
    "q_adjusted_rand" -> ((s, _) =>
      graft.cluster.Evaluation.adjustedRandIndex(febrl4Assignment(s),
        "pred", "truth")),
    // block l-diversity: the attribute-disclosure companion to
    // q_block_kanon over the same first-token blocking, sensitive
    // attribute = lang
    "q_l_diversity" -> ((s, dir) =>
      graft.ingest.Blocking.lDiversityStats(
          docs(s, dir).select((col("doc_id") % 2).cast("int").as("dp"),
            element_at(split(col("text"), " "), 1).as("block_key"),
            col("lang")),
          "lang", l = 3)
        .orderBy(col("dp"))),
    // one-round star clustering over the thinned co-purchase graph —
    // the bounded-diameter alternative to CC (local-degree-max centers,
    // best-center satellite attach, orphans stand alone)
    "q_star_cluster" -> ((s, dir) =>
      graft.cluster.Star.assign(coPurchaseEdgesThinned(s, dir))
        .orderBy(col("id"))),
    // per-edge triangle support (embeddedness): zero-support accepted
    // edges are lone bridges — the review queue for transitive closure
    "q_edge_support" -> ((s, dir) =>
      graft.cluster.Triangles.edgeSupport(coPurchaseEdgesThinned(s, dir))
        .orderBy(col("u"), col("v"))),
    // count-min sketch point estimates for the exact top-30 tokens:
    // 4x256 cells, min-of-cells never underestimates (and the output
    // proves it per candidate)
    "q_cms_heavy" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
      val cand = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(30).select("tok")
      graft.rel.Sketches.cmsEstimate(toks, "tok", cand, "tok",
          d = 4, w = 256)
        .orderBy(col("tok"))
    }),
    // block t-closeness (the distributional tightening of q_l_diversity,
    // same blocking): TVD between each block's language distribution and
    // its provider's global one, integer-exact, absent cells collapsed
    "q_t_closeness" -> ((s, dir) =>
      graft.ingest.Blocking.tClosenessStats(
          docs(s, dir).select((col("doc_id") % 2).cast("int").as("dp"),
            element_at(split(col("text"), " "), 1).as("block_key"),
            col("lang")),
          "lang", tScaled = 300000L)
        .orderBy(col("dp"))),
    // KMV set-operation estimates for every source pair: union /
    // Jaccard / intersection straight from the per-source bottom-64
    // sketches, with the exact counts riding as the audit
    "q_kmv_setops" -> ((s, dir) =>
      graft.rel.Sketches.kmvSetOps(
          docs(s, dir).select(col("source"),
            explode(split(col("text"), " ")).as("tok")),
          "source", "tok", k = 64)
        .orderBy(col("grp0"), col("grp1"))),
    // strongly connected components of the directed part-sequence graph
    // (pk_i -> pk_{i+1} within each order's linenumber walk): the
    // directed analogue of the match-group solve, FW-BW coloring
    "q_scc" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_partkey") < 400 && col("l_orderkey") % 8 === 0)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"))
      // ORDER BY (ln, pk): (ok, ln) pairs are NOT unique in the
      // synthetic lineitem, so the tie-break must be total or the two
      // engines walk different sequences
      val nxt = lead("pk", 1).over(
        Window.partitionBy("ok").orderBy("ln", "pk"))
      val edges = li.withColumn("nxt", nxt)
        .where(col("nxt").isNotNull && col("nxt") =!= col("pk"))
        .select(col("pk").as("src"), col("nxt").as("dst"))
      graft.cluster.Scc.run(edges).orderBy(col("id"))
    }),
    // bowtie decomposition of the same digraph (Broder WWW'00): giant
    // SCC core, IN/OUT closure, tendrils via weak connectivity — the
    // crawl-snapshot macro readout
    "q_bowtie" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_partkey") < 400 && col("l_orderkey") % 8 === 0)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"))
      val nxt = lead("pk", 1).over(
        Window.partitionBy("ok").orderBy("ln", "pk"))
      val edges = li.withColumn("nxt", nxt)
        .where(col("nxt").isNotNull && col("nxt") =!= col("pk"))
        .select(col("pk").as("src"), col("nxt").as("dst"))
      graft.cluster.Bowtie.classify(edges).orderBy(col("id"))
    }),
    // DSIR importance weights: how English-like is each document under
    // a 1024-bucket hashed unigram LM ratio (target = lang 'en' vs the
    // raw corpus) — the data-selection score for LM training mixes
    "q_dsir" -> ((s, dir) =>
      graft.textops.TextOps.dsirWeights(docs(s, dir), "doc_id", "text",
          col("lang") === "en", buckets = 1024)
        .orderBy(col("doc_id"))),
    // stable 1:1 resolution of the scored linkage edges via deferred
    // acceptance (Gale–Shapley): the one-to-one enforcement step with a
    // no-blocking-pair guarantee, preferences = sim with id tie-breaks
    "q_stable_match" -> ((s, _) => {
      val e = Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = 0.8))
        .toDF()
      graft.link.StableMatching.run(
          e.select(col("rec0").as("l"), col("rec1").as("r"),
            col("sim").as("score")))
        .select(col("l").as("rec0"), col("r").as("rec1"),
          col("score").as("sim"))
        .orderBy(col("rec0"))
    }),
  )

  /** q_bpe_train's oracle, built per round count: w0 = the alpha-token
    * frequency table with space-delimited char states; each round r
    * counts adjacent pairs (lateral unnest over symbol positions), takes
    * the (count DESC, pair ASC) argmax, and rewrites states with the
    * same literal ` a b ` -> ` ab ` replace the Scala side uses; the
    * final union reads the 12 argmax rows back in rank order. */
  private def bpeOracleSql(merges: Int): String =
    bpeOracleCtes(merges) + (1 to merges).map(r =>
      s"""
         SELECT CAST($r AS INT) AS merge_rank, a AS left_sym,
                b AS right_sym, a || b AS merged, c AS pair_count
         FROM b$r""").mkString("", " UNION ALL", "") +
      "\n         ORDER BY merge_rank"

  /** q_bpe_segment's oracle: same chained rounds, final read of the
    * post-merge states of the topK most frequent words. */
  private def bpeSegmentOracleSql(merges: Int, topK: Int): String =
    bpeOracleCtes(merges) + s"""
         SELECT w, cnt, trim(state) AS seg FROM w$merges
         ORDER BY cnt DESC, w LIMIT $topK"""

  private def bpeOracleCtes(merges: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w
                         FROM documents),
         w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt,
                       ' ' || regexp_replace(w, '(.)', '\1 ', 'g')
                           || '</w> ' AS state
                FROM t WHERE regexp_matches(w, '^[a-z]+$')
                GROUP BY w)"""
    for (r <- 1 to merges) {
      sb ++= s""",
         p$r AS (SELECT s[i] AS a, s[i + 1] AS b,
                        CAST(sum(cnt) AS BIGINT) AS c
                 FROM (SELECT string_split(trim(state), ' ') AS s, cnt
                       FROM w${r - 1}),
                      unnest(generate_series(1, len(s) - 1)) AS g(i)
                 GROUP BY 1, 2),
         b$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         w$r AS (SELECT w, cnt,
                        replace(state, ' ' || b$r.a || ' ' || b$r.b || ' ',
                                ' ' || b$r.a || b$r.b || ' ') AS state
                 FROM w${r - 1}, b$r)"""
    }
    sb.toString
  }

  /** q_hilbert's oracle: the same iterative xy→d Hilbert transform as
    * Layout.hilbertAssign, one chained CTE per bit level (s = 128 … 1),
    * each round re-deriving (rx, ry) masks inline — keep-or-flip-and-
    * swap frame rotation and the (3·rx)^ry quadrant order spelled as the
    * identical CASE in both engines. */
  private def hilbertOracleSql(): String = {
    val sb = new StringBuilder
    sb ++= """WITH st AS (SELECT min(l_partkey) AS minx, max(l_partkey) AS maxx,
                           min(l_suppkey) AS miny, max(l_suppkey) AS maxy
                    FROM lineitem),
         r0 AS (SELECT qx, qy, qx AS hx, qy AS hy, CAST(0 AS BIGINT) AS h
                FROM (SELECT
                        ((l_partkey - minx) * 256) // (maxx - minx + 1) AS qx,
                        ((l_suppkey - miny) * 256) // (maxy - miny + 1) AS qy
                      FROM lineitem, st))"""
    val levels = Seq(128, 64, 32, 16, 8, 4, 2, 1)
    levels.zipWithIndex.foreach { case (s, i) =>
      sb ++= s""",
         r${i + 1} AS (SELECT qx, qy,
             CASE WHEN (hy & $s) > 0 THEN hx
                  WHEN (hx & $s) > 0 THEN ${s - 1} - hy ELSE hy END AS hx,
             CASE WHEN (hy & $s) > 0 THEN hy
                  WHEN (hx & $s) > 0 THEN ${s - 1} - hx ELSE hx END AS hy,
             h + ${s.toLong * s} *
               (CASE WHEN (hx & $s) > 0 AND (hy & $s) > 0 THEN 2
                     WHEN (hx & $s) > 0 THEN 3
                     WHEN (hy & $s) > 0 THEN 1 ELSE 0 END) AS h
           FROM r$i)"""
    }
    sb ++= s"""
         SELECT h >> 8 AS bucket, CAST(count(*) AS BIGINT) AS n,
                CAST(min(qx) AS INT) AS min_qx, CAST(max(qx) AS INT) AS max_qx,
                CAST(min(qy) AS INT) AS min_qy, CAST(max(qy) AS INT) AS max_qy
         FROM r${levels.size} GROUP BY 1"""
    sb.toString
  }

  /** q_stable_match's oracle: the same synchronized deferred-acceptance
    * rounds as StableMatching.run, one CTE chain per round (proposals →
    * offers → winners → rejections applied), over the same fixture
    * kernel edge replay as er_febrl4_edges. Rounds past convergence are
    * no-ops (no unheld proposer remains), so a fixed count with margin
    * is exact — the run converges in 2 rounds on this edge set.
    * MATERIALIZED throughout: each round's CTEs are referenced twice by
    * the next round, so default inlining duplicates the plan tree
    * exponentially in the round count (2^8 fixture scans blew the fd
    * limit before the optimizer even ran). */
  private def stableMatchOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH c AS MATERIALIZED (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS MATERIALIZED (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.entity_id AS rec0, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         a0 AS MATERIALIZED (SELECT rec0 AS l, rec1 AS r, max(sim) AS score
                FROM p WHERE sim >= 0.8 GROUP BY 1, 2),
         h0 AS MATERIALIZED (SELECT l, r, score FROM a0 WHERE false)"""
    for (k <- 1 to rounds) {
      sb ++= s""",
         pr$k AS MATERIALIZED (SELECT l, r, score FROM (
             SELECT a.l, a.r, a.score, row_number() OVER (
                 PARTITION BY a.l ORDER BY a.score DESC, a.r) AS rk
             FROM a${k - 1} a LEFT JOIN h${k - 1} h ON a.l = h.l
             WHERE h.l IS NULL) WHERE rk = 1),
         of$k AS MATERIALIZED (SELECT * FROM h${k - 1} UNION ALL SELECT * FROM pr$k),
         h$k AS MATERIALIZED (SELECT l, r, score FROM (
             SELECT o.l, o.r, o.score, row_number() OVER (
                 PARTITION BY o.r ORDER BY o.score DESC, o.l) AS rk
             FROM of$k o) WHERE rk = 1),
         a$k AS MATERIALIZED (SELECT a.l, a.r, a.score FROM a${k - 1} a
                 LEFT JOIN (SELECT l, r FROM of$k
                            EXCEPT SELECT l, r FROM h$k) x
                   ON a.l = x.l AND a.r = x.r
                 WHERE x.l IS NULL)"""
    }
    sb ++= s"""
         SELECT l AS rec0, r AS rec1, score AS sim FROM h$rounds"""
    sb.toString
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** q_kcenter oracle, generated: int8 quantize replay + 7 chained
    * Gonzalez rounds (the same shape hand-written would be 70 identical
    * lines; generation keeps round r mechanically identical to round
    * r+1, which is the point of the replay). */
  private def kcenterOracleSql: String = {
    def dist(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, 65), i -> " +
        s"CAST(($a.qv[i] - $b.qv[i]) * ($a.qv[i] - $b.qv[i]) AS BIGINT)))" +
        " AS BIGINT)"
    val rounds = (2 to 8).map { r =>
      s"""c$r AS (SELECT vec_id, d FROM m${r - 1} ORDER BY d DESC, vec_id LIMIT 1),
         v$r AS (SELECT q.vec_id, q.qv FROM q JOIN c$r USING (vec_id)),
         m$r AS (SELECT m.vec_id, least(m.d, ${dist("q", "v")}) AS d
                 FROM m${r - 1} m, q, v$r v WHERE q.vec_id = m.vec_id)"""
    }.mkString(",\n")
    val tail = (2 to 8).map(r =>
      s"UNION ALL SELECT $r, vec_id, CAST(d AS BIGINT) FROM c$r")
      .mkString("\n")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
       e1 AS (SELECT vec_id, e,
                list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc0
              FROM e0),
       e2 AS (SELECT vec_id, e,
                CASE WHEN sc0 = 0 THEN 1.0 ELSE sc0 END AS sc
              FROM e1),
       q AS (SELECT vec_id,
               list_transform(e, x -> CAST(round(x / sc) AS INT)) AS qv
             FROM e2),
       c1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
       m1 AS (SELECT q.vec_id, ${dist("q", "c")} AS d FROM q, c1 c),
       $rounds
       SELECT 1 AS round, vec_id AS center_id,
              CAST(0 AS BIGINT) AS maxmin_dist
       FROM c1
       $tail"""
  }

  def oracleSql: Map[String, String] = Map(
    "q_stable_match" -> stableMatchOracleSql(8),
    "q_hilbert" -> hilbertOracleSql(),
    // per-file min/max envelopes + the overlap verdict, both layouts
    "q_zonemap_prune" ->
      """WITH c AS (SELECT l_orderkey // 2048 AS file_id, l_orderkey
                    FROM lineitem),
         sc AS (SELECT l_orderkey % 64 AS file_id, l_orderkey
                FROM lineitem),
         pc AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(min(l_orderkey) AS BIGINT) AS zmin,
                       CAST(max(l_orderkey) AS BIGINT) AS zmax,
                       'clustered' AS layout
                FROM c GROUP BY file_id),
         ps AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(min(l_orderkey) AS BIGINT) AS zmin,
                       CAST(max(l_orderkey) AS BIGINT) AS zmax,
                       'scattered' AS layout
                FROM sc GROUP BY file_id)
         SELECT file_id, n_rows, zmin, zmax,
                zmin <= 3000 AND zmax >= 1000 AS must_read, layout
         FROM (SELECT * FROM pc UNION ALL SELECT * FROM ps)""",
    "q_bpe_train" -> bpeOracleSql(12),
    "q_bpe_segment" -> bpeSegmentOracleSql(12, 30),
    // The flagship CLK Dice kernel, replayed bit-for-bit by DuckDB from
    // the committed fixture dump (fixtures/febrl4_clks.parquet = the
    // febrl4 .bin CLKs as 16 bigint words + popcount per record; see
    // graft.tools.MakeOracleFixtures). sim = 2*popcount(a&b)/(pc0+pc1),
    // thresholded at 0.8 — both engines do one exact int multiply and one
    // IEEE division, so the doubles hash identically unrounded.
    "er_febrl4_edges" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp)
         SELECT sim, dp0, rec0, dp1, rec1 FROM p WHERE sim >= 0.8""",
    // blip-eval replay: flip words rebuilt from the keyed-mask dump
    // (signed-64 two's complement at bit 63 handled explicitly), XORed
    // into the fixture words, same harness/metric expression order
    "q_blip_eval" ->
      s"""WITH c AS (SELECT dp, entity_id, words
                     FROM '/root/repo/fixtures/febrl4_clks.parquet'),
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
               FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
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
         FROM r""",
    // fold-eval replay: the same exhaustive cross join + both sims, 12
    // conditional sums in one agg, 6 UNION ALL rows, identical double
    // expression order for precision/recall/F1
    "q_fold_eval" ->
      s"""WITH c AS (SELECT dp, entity_id, pc, words,
                  list_transform(range(1, 9),
                    i -> xor(words[i], words[i + 8])) AS fw
                FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         h AS (SELECT dp, entity_id, pc, words, fw,
                      list_sum(list_transform(fw, w -> bit_count(w))) AS fpc
               FROM c),
         t AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                      CAST(row_b AS BIGINT) AS rec1, 1 AS ist
               FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
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
         FROM r""",
    // fold tradeoff replay: folded words via xor(w[i], w[i+8]), folded
    // popcounts, then the SAME double expression order as the kernel
    // (2.0 * Σ / (pc+pc)) for both widths — deltas are bit-equal doubles
    "q_fold_dice" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
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
         FROM p WHERE sim >= 0.8""",
    // P2 `!I{n}s` wire layout rebuilt from the committed little-endian
    // word fixture with pure byte arithmetic: record = 4 big-endian id
    // bytes + the 128 CLK bytes ((words[wi] >> 8*bj) & 255 walks each
    // word's bytes in little-endian order)
    "q_binary_codec" ->
      """WITH c AS (SELECT entity_id, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'
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
         FROM c""",
    // M2 reshape check over the construction-oracled permutation rows
    "q_perm_dense" ->
      s"""WITH p AS (SELECT dp, row_index, slot
                     FROM '$OracleAuxDir/perm_rows/*.parquet')
         SELECT dp, array_to_string(array_agg(slot ORDER BY row_index), ',')
                  AS slots_csv
         FROM p GROUP BY dp""",
    // G2: cross pairs implied by the frozen golden clusters
    "q_solver_pairs" ->
      """WITH a AS (SELECT "clusterId" AS c, dp, "entityId" AS e
                    FROM '/root/repo/fixtures/febrl4_golden_clusters.parquet')
         SELECT x.dp AS dp0, x.e AS rec0, y.dp AS dp1, y.e AS rec1
         FROM a x JOIN a y ON x.c = y.c
           AND (x.dp < y.dp OR (x.dp = y.dp AND x.e < y.e))""",
    // P4: per-record verdicts re-derived from the raw upload bytes
    "q_encoding_validation" ->
      """WITH t AS (SELECT clks AS l
                    FROM read_json('/root/repo/fixtures/test_encodings_mixed.json',
                      columns = {clks: 'VARCHAR[]'})),
         i AS (SELECT unnest(range(1, len(l) + 1)) AS idx, l FROM t),
         v AS (SELECT CAST(idx - 1 AS BIGINT) AS entity_id,
                      CAST(octet_length(from_base64(l[idx])) AS BIGINT) AS n_bytes
               FROM i)
         SELECT entity_id, n_bytes,
                n_bytes = 128 AS matches_declared,
                n_bytes BETWEEN 1 AND 1024 AND n_bytes % 8 = 0
                  AS valid_standalone
         FROM v""",
    // three-zone band: kernel replay at the LOWER threshold + the same
    // CASE/window; ranks are engine-identical because the tie-break
    // (sim DESC, dp1, rec1) is total over exact IEEE sims
    "q_clerical_band" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT * FROM p WHERE sim >= 0.7)
         SELECT sim, dp0, rec0, dp1, rec1,
                CASE WHEN sim >= 0.8 THEN 'accept' ELSE 'review' END AS zone,
                CASE WHEN sim >= 0.8 THEN 0 ELSE CAST(row_number() OVER (
                  PARTITION BY (sim >= 0.8), dp0, rec0
                  ORDER BY sim DESC, dp1, rec1) AS INTEGER) END AS queue_pos
         FROM e""",
    // unlinkables replay: kernel edges at the 0.7 floor, per-record best
    // via endpoint union + left join onto the record universe, literal
    // threshold list crossed with the per-record bests
    "q_unlinkables" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT * FROM p WHERE sim >= 0.7),
         ends AS (SELECT dp0 AS dp, rec0 AS rec, sim FROM e
                  UNION ALL SELECT dp1, rec1, sim FROM e),
         best AS (SELECT c.dp, c.entity_id AS rec,
                         COALESCE(max(ends.sim), 0.0) AS best
                  FROM c LEFT JOIN ends
                    ON ends.dp = c.dp AND ends.rec = c.entity_id
                  GROUP BY 1, 2),
         t AS (SELECT CAST(unnest([0.7, 0.75, 0.8, 0.85, 0.9, 0.95])
                 AS DOUBLE) AS threshold)
         SELECT t.threshold,
                CAST(count(*) AS BIGINT) AS n_records,
                CAST(sum(CASE WHEN best.best < t.threshold
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_unlinkable,
                round(CAST(sum(CASE WHEN best.best < t.threshold
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS frac
         FROM t, best GROUP BY 1""",
    // modularity replay: kernel edges at 0.8, the frozen golden
    // clustering as labels (singleton fallback = -(packed node + 1)),
    // Q from the exact integer sufficient statistics
    "q_modularity" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT * FROM p WHERE sim >= 0.8),
         lab AS (SELECT "dp" AS dp, "entityId" AS rec, "clusterId" AS label
                 FROM '/root/repo/fixtures/febrl4_golden_clusters.parquet'),
         le AS (SELECT
                  COALESCE(l0.label,
                    -((e.dp0 * 1099511627776 + e.rec0) + 1)) AS lab0,
                  COALESCE(l1.label,
                    -((e.dp1 * 1099511627776 + e.rec1) + 1)) AS lab1
                FROM e
                LEFT JOIN lab l0 ON l0.dp = e.dp0 AND l0.rec = e.rec0
                LEFT JOIN lab l1 ON l1.dp = e.dp1 AND l1.rec = e.rec1),
         st AS (SELECT CAST(count(*) AS BIGINT) AS m,
                       CAST(sum(CASE WHEN lab0 = lab1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS intra
                FROM le),
         deg AS (SELECT lab, count(*) AS d
                 FROM (SELECT lab0 AS lab FROM le
                       UNION ALL SELECT lab1 FROM le)
                 GROUP BY 1),
         ds AS (SELECT CAST(sum(d * d) AS BIGINT) AS dsq FROM deg)
         SELECT st.m AS n_edges, st.intra AS n_intra,
                ds.dsq AS deg_sq_sum,
                round((4.0 * st.m * st.intra - CAST(ds.dsq AS DOUBLE))
                      / (4.0 * st.m * st.m), 6) AS modularity
         FROM st, ds""",
    // rule cascade replayed as the same first-token-block join + one
    // CASE expression in the declared rule order
    "q_rule_cascade" ->
      """WITH x AS (SELECT doc_id, text, lang, split_part(text, ' ', 1) AS bk
                    FROM documents),
         p AS (SELECT a.doc_id AS rec0, b.doc_id AS rec1,
                      a.text AS t0, b.text AS t1, a.lang AS l0, b.lang AS l1
               FROM x AS a JOIN x AS b
               ON a.bk = b.bk AND a.doc_id < b.doc_id)
         SELECT rec0, rec1, matched_rule FROM (
           SELECT rec0, rec1,
             CASE
               WHEN substr(t0, 1, 40) = substr(t1, 1, 40) THEN 'r1_head40'
               WHEN string_split(t0, ' ')[1:3] = string_split(t1, ' ')[1:3]
                 THEN 'r2_tok3'
               WHEN l0 = l1 AND length(t0) = length(t1) THEN 'r3_lang_len'
               WHEN string_split(t0, ' ')[1:2] = string_split(t1, ' ')[1:2]
                 THEN 'r4_tok2'
             END AS matched_rule
           FROM p) q
         WHERE matched_rule IS NOT NULL""",
    // λ prior: union-distinct of the three equality-rule pair sets over
    // the FULL C(n,2) universe, floored HUGEINT divide at recall 0.9
    "q_lambda_prior" ->
      """WITH d AS (SELECT doc_id AS id, substr(text, 1, 40) AS h40,
                         array_to_string(string_split(text, ' ')[1:3], ' ') AS t3,
                         lang, length(text) AS len
                  FROM documents),
         m AS (
           SELECT a.id AS id0, b.id AS id1 FROM d a JOIN d b
             ON a.h40 = b.h40 AND a.id < b.id
           UNION
           SELECT a.id, b.id FROM d a JOIN d b
             ON a.t3 = b.t3 AND a.id < b.id
           UNION
           SELECT a.id, b.id FROM d a JOIN d b
             ON a.lang = b.lang AND a.len = b.len AND a.id < b.id),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_matched FROM m),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
         SELECT c.n_matched,
                CAST(t.n * (t.n - 1) // 2 AS BIGINT) AS total_pairs,
                CAST(9000 AS BIGINT) AS recall_scaled,
                CAST((CAST(c.n_matched AS HUGEINT) * 1000000000 * 10000)
                     // (CAST(t.n * (t.n - 1) // 2 AS HUGEINT) * 9000)
                     AS BIGINT) AS lambda_scaled
         FROM c, t""",
    // cohesion audit: recursive min-label connected components over the
    // replayed t=0.75 edge set (labels propagate along edges until the
    // UNION fixpoint; min reachable packed node id == the engine's
    // component label), then the same comb-2 / edge-support aggregates
    "q_cluster_cohesion" ->
      """WITH RECURSIVE
         c AS (SELECT dp, entity_id, pc, words
               FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT (CAST(dp0 AS BIGINT) << 40) | rec0 AS u,
                      (CAST(dp1 AS BIGINT) << 40) | rec1 AS v, sim
               FROM p WHERE sim >= 0.75),
         n AS (SELECT u AS node FROM e UNION SELECT v FROM e),
         adj AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
         reach(node, lbl) AS (
           SELECT node, node FROM n
           UNION
           SELECT adj.b, reach.lbl FROM reach JOIN adj ON reach.node = adj.a),
         comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
         m AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
               FROM comp GROUP BY component),
         es AS (SELECT comp.component, CAST(count(*) AS BIGINT) AS n_edges,
                       min(e.sim) AS min_sim, max(e.sim) AS max_sim
                FROM e JOIN comp ON e.u = comp.node GROUP BY comp.component)
         SELECT m.component, m.n_members,
                (m.n_members * (m.n_members - 1)) // 2 AS n_pairs_implied,
                es.n_edges, es.min_sim, es.max_sim
         FROM m JOIN es USING (component)""",
    // threshold F1 curve: kernel-replayed sims x threshold grid, LEFT
    // join to truth, DuckDB's int/int division == Spark's double Divide
    "q_threshold_f1" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p0 AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.entity_id AS rec0, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         truth AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                          CAST(row_b AS BIGINT) AS rec1
                   FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                     header = true)),
         th AS (SELECT CAST(unnest([0.7, 0.75, 0.8, 0.85, 0.9]) AS DOUBLE)
                  AS threshold),
         pred AS (SELECT th.threshold, p0.rec0, p0.rec1
                  FROM p0, th WHERE p0.sim >= th.threshold),
         m AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pred,
                      CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
                      CAST(sum(CASE WHEN t.rec0 IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS tp
               FROM pred LEFT JOIN truth t
               ON pred.rec0 = t.rec0 AND pred.rec1 = t.rec1
               GROUP BY threshold),
         f AS (SELECT threshold, n_pred, n_true, tp,
                      tp / n_pred AS precision, tp / n_true AS recall,
                      2 * (tp / n_pred) * (tp / n_true)
                        / ((tp / n_pred) + (tp / n_true)) AS f1
               FROM m)
         SELECT threshold, n_pred, n_true, tp, precision, recall, f1,
                f1 = max(f1) OVER () AS is_best
         FROM f""",
    // dendrogram cuts: one threshold-parameterized recursive min-label
    // CC over the replayed kernel edges (same skeleton as
    // q_cluster_cohesion, with thr riding every CTE key)
    "q_dendrogram_cut" ->
      """WITH RECURSIVE
         c AS (SELECT dp, entity_id, pc, words
               FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         t AS (SELECT CAST(unnest([0.75, 0.8, 0.85]) AS DOUBLE) AS thr),
         e AS (SELECT t.thr,
                      (CAST(dp0 AS BIGINT) << 40) | rec0 AS u,
                      (CAST(dp1 AS BIGINT) << 40) | rec1 AS v
               FROM p, t WHERE p.sim >= t.thr),
         n AS (SELECT DISTINCT thr, u AS node FROM e
               UNION SELECT DISTINCT thr, v FROM e),
         adj AS (SELECT thr, u AS a, v AS b FROM e
                 UNION SELECT thr, v, u FROM e),
         reach(thr, node, lbl) AS (
           SELECT thr, node, node FROM n
           UNION
           SELECT reach.thr, adj.b, reach.lbl FROM reach
           JOIN adj ON reach.thr = adj.thr AND reach.node = adj.a),
         comp AS (SELECT thr, node, min(lbl) AS component
                  FROM reach GROUP BY thr, node),
         sizes AS (SELECT thr, component, count(*) AS m
                   FROM comp GROUP BY thr, component),
         ec AS (SELECT thr, CAST(count(*) AS BIGINT) AS n_edges
                FROM e GROUP BY thr)
         SELECT sizes.thr AS threshold,
                CAST(count(*) AS BIGINT) AS n_clusters,
                CAST(sum(m) AS BIGINT) AS n_records,
                CAST(max(m) AS BIGINT) AS max_size,
                any_value(ec.n_edges) AS n_edges
         FROM sizes JOIN ec ON sizes.thr = ec.thr
         GROUP BY sizes.thr""",
    // A4 guardrail: the kernel-replayed edge count decides refusal per
    // cap exactly as enforceScoredPairsCap must
    "q_guardrail" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p WHERE sim >= 0.8),
         g AS (SELECT CAST(unnest([100, 1000000]) AS BIGINT) AS cap)
         SELECT g.cap, e.n AS n_candidates, e.n > g.cap AS refused
         FROM g, e""",
    // frozen-golden replay (multiparty_golden_groups.csv committed by
    // tools/MakeOracleFixtures; same pattern as er_febrl4_clusters)
    "er_multiparty_clusters" ->
      """SELECT CAST(clusterId AS BIGINT) AS clusterId,
                CAST(dp AS INT) AS dp,
                CAST(entityId AS BIGINT) AS entityId
         FROM read_csv('/root/repo/fixtures/multiparty_golden_groups.csv',
                       header = true)""",
    // mutual-best replay: the same kernel-derived edge set, reciprocal
    // top-1 via two QUALIFY windows ordered (sim DESC, partner ASC)
    "q_mutual_best" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p0 AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         p AS (SELECT * FROM p0 WHERE sim >= 0.8),
         b1 AS (SELECT dp0, rec0, dp1, rec1 FROM p
                QUALIFY row_number() OVER (PARTITION BY dp0, rec0, dp1
                  ORDER BY sim DESC, rec1 ASC) = 1),
         b0 AS (SELECT dp0, rec0, dp1, rec1 FROM p
                QUALIFY row_number() OVER (PARTITION BY dp1, rec1, dp0
                  ORDER BY sim DESC, rec0 ASC) = 1)
         SELECT p.sim, p.dp0, p.rec0, p.dp1, p.rec1
         FROM p JOIN b1 USING (dp0, rec0, dp1, rec1)
                JOIN b0 USING (dp0, rec0, dp1, rec1)""",
    // delta contract: the full kernel replay filtered to pairs touching
    // the new batch must equal the delta-only Spark run
    "q_link_delta" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp)
         SELECT sim, dp0, rec0, dp1, rec1 FROM p
         WHERE sim >= 0.8 AND (rec0 % 10 = 7 OR rec1 % 10 = 7)""",
    // the streaming run must produce the exact batch edge set
    "q_stream_linkage" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp)
         SELECT sim, dp0, rec0, dp1, rec1 FROM p WHERE sim >= 0.8""",
    // Greedy-solver outputs, gated against FROZEN golden parquet fixtures
    // (graft.tools.MakeOracleFixtures — sequential greedy is not
    // SQL-expressible). Deliberately semi-circular: these rows pin
    // regression under the driver's hash gate; first-principles
    // correctness stays with LinkageFixtureSpec's exact brute-force
    // oracle + F1-vs-truth and the frozen multiparty golden.
    "er_febrl4_clusters" ->
      """SELECT "clusterId", "dp", "entityId"
         FROM '/root/repo/fixtures/febrl4_golden_clusters.parquet'""",
    "er_pages_clusters" ->
      """SELECT "clusterId", "dp", "entityId"
         FROM '/root/repo/fixtures/pages_golden_clusters.parquet'""",
    // FNV-1a 64-bit replayed byte-for-byte in HUGEINT arithmetic
    // (documents are ASCII, so ord(substr) == the UTF-8 byte; the
    // multibyte case is covered by TextOpsSpec's reference vectors)
    // same injection, same regexes (alternation-free greedy patterns
    // agree between Java regex and RE2), same email-then-phone order
    "q_redact_pii" ->
      """WITH inj AS (
           SELECT doc_id, text ||
             (CASE WHEN doc_id % 7 = 0
                   THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
                   ELSE '' END) ||
             (CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 ok'
                   ELSE '' END) AS t
           FROM documents)
         SELECT doc_id AS id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t,
             '\d{3}[-. ]\d{3}[-. ]\d{4}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\d{3}[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g')) AS redacted_md5
         FROM inj""",
    // repetition filters replayed from str_split: same 2-gram windows,
    // same distinct/total and max-token-count/total fractions
    "q_repetition" ->
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id, len(t) AS n,
                 CASE WHEN len(t) >= 2
                      THEN list_transform(range(0, len(t) - 1),
                             i -> array_to_string(t[i + 1:i + 2], ' '))
                      ELSE [] END AS g2
               FROM d),
         tok AS (SELECT doc_id, unnest(t) AS tok FROM d),
         tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
         mx AS (SELECT doc_id, max(c) AS maxc FROM tc GROUP BY 1)
         SELECT g.doc_id AS id, CAST(g.n AS BIGINT) AS n_tokens,
                CASE WHEN len(g2) > 0
                     THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                                / len(g2), 4)
                     ELSE 0.0 END AS dup_2gram_frac,
                CASE WHEN g.n > 0
                     THEN round(CAST(COALESCE(mx.maxc, 0) AS DOUBLE) / g.n, 4)
                     ELSE 0.0 END AS top_token_frac
         FROM g LEFT JOIN mx USING (doc_id)""",
    // decontamination replayed in SQL: same space tokenization, same
    // 8-gram windows (1-based inclusive slice of length 8), same
    // distinct-gram intersection against the doc_id % 97 benchmark set
    "q_contamination" ->
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id,
                 unnest(list_transform(range(0, greatest(len(t) - 8 + 1, 0)),
                   i -> array_to_string(t[i + 1:i + 8], ' '))) AS gram
               FROM d),
         bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         h AS (SELECT doc_id, count(DISTINCT gram) AS n_hits
               FROM g JOIN bg USING (gram) GROUP BY 1)
         SELECT d.doc_id AS id, COALESCE(h.n_hits, 0) AS n_hits,
                COALESCE(h.n_hits, 0) > 0 AS contaminated
         FROM d LEFT JOIN h USING (doc_id)""",
    // windowed-hash substring duplication replayed from generate_series +
    // substring + md5 (both engines hash the same UTF-8 bytes to the same
    // lowercase hex)
    "q_dup_spans" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents
                    WHERE length(text) >= 40),
         w AS (SELECT doc_id, md5(substring(text, CAST(p AS INT), 40)) AS h
               FROM d, unnest(generate_series(1, len - 40 + 1, 20)) AS t(p)),
         dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         per AS (SELECT doc_id, count(*) AS n_dup FROM w
                 WHERE h IN (SELECT h FROM dup) GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_win FROM w GROUP BY doc_id)
         SELECT t.doc_id AS doc, t.n_win, COALESCE(p.n_dup, 0) AS n_dup,
                round(COALESCE(p.n_dup, 0) / CAST(t.n_win AS DOUBLE), 6)
                  AS dup_frac
         FROM tot t LEFT JOIN per p USING (doc_id)""",
    // field normalization replayed with DuckDB's own translate/regexp
    "q_field_norm" ->
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
         FROM d""",
    // S-curve: identical squaring chains (s2=s*s, s4=s2*s2, ...; q
    // likewise) — multiplication-only, so IEEE-identical cross-engine
    "q_lsh_scurve" ->
      """WITH s AS (SELECT CAST(g AS DOUBLE) * CAST(0.05 AS DOUBLE) AS sim
                    FROM unnest(generate_series(1, 19)) AS t(g)),
         c4 AS (SELECT sim, 8 AS bands, 4 AS rows_per_band,
                       CAST(1 AS DOUBLE) - q2 * q2 * (q2 * q2) AS p_collision
                FROM (SELECT sim, q * q AS q2 FROM
                      (SELECT sim,
                              CAST(1 AS DOUBLE) - (sim*sim) * (sim*sim) AS q
                       FROM s) a) b),
         c2 AS (SELECT sim, 16 AS bands, 2 AS rows_per_band,
                       CAST(1 AS DOUBLE) - q8 * q8 AS p_collision
                FROM (SELECT sim, q4 * q4 AS q8 FROM
                      (SELECT sim, q2 * q2 AS q4 FROM
                       (SELECT sim, q * q AS q2 FROM
                        (SELECT sim, CAST(1 AS DOUBLE) - sim * sim AS q
                         FROM s) a) b) c) d),
         c8 AS (SELECT sim, 4 AS bands, 8 AS rows_per_band,
                       CAST(1 AS DOUBLE) - q2 * q2 AS p_collision
                FROM (SELECT sim, q * q AS q2 FROM
                      (SELECT sim, CAST(1 AS DOUBLE) -
                              ((sim*sim) * (sim*sim)) * ((sim*sim) * (sim*sim)) AS q
                       FROM s) a) b)
         SELECT * FROM c4 UNION ALL SELECT * FROM c2
         UNION ALL SELECT * FROM c8""",
    // rendezvous routing replayed per key: argmax of md5(key#shard) via
    // (h DESC, s DESC) row_number == Spark's greatest-struct tie-break
    "q_shard_route" ->
      """WITH k AS (SELECT doc_id AS key FROM documents),
         wb AS (SELECT key, s,
                       md5(CAST(key AS VARCHAR) || '#' || CAST(s AS VARCHAR))
                         AS h
                FROM k, unnest(generate_series(0, 3)) AS t(s)),
         sb AS (SELECT key, CAST(s AS INT) AS shard_before FROM wb
                QUALIFY row_number() OVER (PARTITION BY key
                  ORDER BY h DESC, s DESC) = 1),
         wa AS (SELECT key, s,
                       md5(CAST(key AS VARCHAR) || '#' || CAST(s AS VARCHAR))
                         AS h
                FROM k, unnest(generate_series(0, 4)) AS t(s)),
         sa AS (SELECT key, CAST(s AS INT) AS shard_after FROM wa
                QUALIFY row_number() OVER (PARTITION BY key
                  ORDER BY h DESC, s DESC) = 1)
         SELECT sb.shard_before, sa.shard_after,
                CAST(count(*) AS BIGINT) AS n_keys
         FROM sb JOIN sa USING (key)
         GROUP BY 1, 2""",
    // degree distribution over the regenerated formula link graph
    "q_degree_dist" ->
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS n),
         e AS (SELECT n AS src, (n*7+1)%300 AS dst FROM g
               UNION ALL
               SELECT n, (n*3+5)%300 FROM g WHERE n % 3 = 0),
         od AS (SELECT d, CAST(count(*) AS BIGINT) AS n_out FROM
                  (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e
                   GROUP BY src) s GROUP BY d),
         idg AS (SELECT d, CAST(count(*) AS BIGINT) AS n_in FROM
                  (SELECT dst, CAST(count(*) AS BIGINT) AS d FROM e
                   GROUP BY dst) s GROUP BY d)
         SELECT COALESCE(od.d, idg.d) AS degree,
                COALESCE(od.n_out, 0) AS n_out,
                COALESCE(idg.n_in, 0) AS n_in
         FROM od FULL OUTER JOIN idg ON od.d = idg.d""",
    // winnowing replay: same k-gram hash stream, window min over ROWS
    // CURRENT..w-1 FOLLOWING, rightmost argmin via the (doc, h=wmin,
    // w-band) join, DISTINCT
    "q_winnowing" ->
      """WITH d AS (SELECT doc_id AS doc, text FROM documents
                    WHERE doc_id < 100 AND length(text) >= 19),
         g AS (SELECT doc, p AS pos,
                      md5(substring(text, CAST(p AS INT), 12)) AS h
               FROM d, unnest(generate_series(1, length(text) - 12 + 1))
                         AS t(p)),
         wm AS (SELECT doc, pos AS i,
                       min(h) OVER (PARTITION BY doc ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin,
                       max(pos) OVER (PARTITION BY doc) AS n
                FROM g),
         full_w AS (SELECT doc, i, wmin FROM wm WHERE i <= n - 8 + 1),
         sel AS (SELECT full_w.doc, full_w.i, full_w.wmin AS fp,
                        max(g.pos) AS pos
                 FROM full_w JOIN g
                 ON g.doc = full_w.doc AND g.h = full_w.wmin
                    AND g.pos BETWEEN full_w.i AND full_w.i + 7
                 GROUP BY full_w.doc, full_w.i, full_w.wmin)
         SELECT DISTINCT doc, pos, fp FROM sel""",
    // novelty: same windowing, (hash -> min doc) first-occurrence
    // attribution; sum cast (DuckDB sum(int) widens)
    "q_ngram_novelty" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents
                    WHERE length(text) >= 40),
         w AS (SELECT doc_id, md5(substring(text, CAST(p AS INT), 40)) AS h
               FROM d, unnest(generate_series(1, len - 40 + 1, 20)) AS t(p)),
         fd AS (SELECT h, min(doc_id) AS first_doc FROM w GROUP BY h)
         SELECT w.doc_id AS doc, CAST(count(*) AS BIGINT) AS n_win,
                CAST(sum(CASE WHEN fd.first_doc < w.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_seen,
                round(CAST(1 AS DOUBLE)
                  - sum(CASE WHEN fd.first_doc < w.doc_id THEN 1 ELSE 0 END)
                    / CAST(count(*) AS DOUBLE), 6) AS novelty
         FROM w JOIN fd USING (h)
         GROUP BY w.doc_id""",
    // line-level dedup replayed from string_split: same injected
    // boilerplate, same trimmed-line frequency counting (Spark keys by
    // xxhash64 of the trimmed line; identical decisions absent a 64-bit
    // collision), same in-order reassembly (string_agg ORDER BY pos ==
    // array_sort(collect_list(struct(pos, line)))). string_agg of an
    // all-dropped doc is NULL in DuckDB vs '' in Spark -> COALESCE.
    "q_line_dedup" ->
      """WITH c AS (SELECT doc_id,
                 text || chr(10) || 'subscribe to our newsletter' || chr(10)
                      || substring(text, 1, 40)
                      || (CASE WHEN doc_id % 3 = 0
                               THEN chr(10) || 'cookie policy accepted'
                               ELSE '' END) AS t
               FROM documents),
         l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
                 generate_subscripts(string_split(t, chr(10)), 1) AS pos
               FROM c),
         f AS (SELECT trim(line) AS k, count(*) AS cnt FROM l GROUP BY 1)
         SELECT doc_id AS id, count(*) AS n_lines,
                CAST(sum(CASE WHEN cnt <= 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                md5(COALESCE(string_agg(CASE WHEN cnt <= 1 THEN line END,
                      chr(10) ORDER BY pos), '')) AS clean_md5
         FROM l JOIN f ON trim(l.line) = f.k
         GROUP BY doc_id""",
    // same integer moments in HUGEINT; same double ops in the ratio
    "q_correlation" ->
      """WITH b AS (SELECT event_type,
                           CAST(floor(value * 100) AS BIGINT) AS v,
                           CAST(hour(ts) AS BIGINT) AS h FROM events),
         m AS (SELECT event_type, count(*) AS n,
                      sum(v) AS sv, sum(h) AS sh, sum(v*h) AS svh,
                      sum(v*v) AS svv, sum(h*h) AS shh
               FROM b GROUP BY 1)
         SELECT event_type, n,
                round(CAST(n*svh - sv*sh AS DOUBLE)
                  / sqrt(CAST(n*svv - sv*sv AS DOUBLE)
                       * CAST(n*shh - sh*sh AS DOUBLE)), 6) AS r
         FROM m""",
    // from-scratch closure over the FULL edge set (recursive CTE, min
    // reachable node id) — must equal the incremental result
    "q_cc_delta" ->
      """WITH RECURSIVE
         li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
                WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         p AS (SELECT DISTINCT a.pk AS u, b.pk AS v
               FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
         nodes AS (SELECT DISTINCT u AS id FROM e),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.v, reach.r FROM e JOIN reach ON e.u = reach.id)
         SELECT id AS node, min(r) AS component FROM reach GROUP BY id""",
    // same per-field frequency tables, same (n*scale) // freq weights
    "q_freq_weights" ->
      """WITH c AS (SELECT c_custkey AS id, c_custkey % 50 AS bk,
                           c_nationkey, c_mktsegment FROM customer),
         n AS (SELECT count(*) AS n FROM c),
         fn AS (SELECT c_nationkey, count(*) AS cn FROM c GROUP BY 1),
         fm AS (SELECT c_mktsegment, count(*) AS cm FROM c GROUP BY 1),
         e AS (SELECT id, bk, c.c_nationkey, c.c_mktsegment,
                      (n.n * 1000) // fn.cn AS wn,
                      (n.n * 1000) // fm.cm AS wm
               FROM c JOIN fn USING (c_nationkey)
                      JOIN fm USING (c_mktsegment), n),
         p AS (SELECT a.id AS id0, b.id AS id1,
                 CASE WHEN a.c_nationkey = b.c_nationkey THEN a.wn
                      ELSE 0 END AS w_c_nationkey,
                 CASE WHEN a.c_mktsegment = b.c_mktsegment THEN a.wm
                      ELSE 0 END AS w_c_mktsegment
               FROM e a JOIN e b ON a.bk = b.bk AND a.id < b.id)
         SELECT id0, id1, w_c_nationkey, w_c_mktsegment,
                w_c_nationkey + w_c_mktsegment AS score
         FROM p WHERE w_c_nationkey + w_c_mktsegment >= 20000""",
    "q_daily_distinct" ->
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
                count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY 1""",
    // same fixed-point moments; the squared test replays in HUGEINT
    "q_outliers" ->
      """WITH b AS (SELECT user_id AS key, event_id AS id,
                           CAST(floor(value * 100) AS BIGINT) AS v
                    FROM events),
         st AS (SELECT key, count(*) AS n, sum(v) AS s, sum(v*v) AS ss
                FROM b GROUP BY key)
         SELECT b.key AS user_id, b.id AS event_id, b.v AS v
         FROM b JOIN st USING (key)
         WHERE (CAST(n AS HUGEINT) * b.v - s) * (CAST(n AS HUGEINT) * b.v - s)
               > 4 * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)""",
    // Gonzalez greedy replay: quantize CTE + 7 chained rounds, each =
    // (argmax of running min-dist with lowest-id tiebreak) -> join the
    // new center's vector -> fold it into the running min via least()
    "q_kcenter" -> kcenterOracleSql,
    // full 2-iteration Lloyd replay in relational form: same int8+127
    // quantization, same integer distances, same (dist, cid) tiebreak,
    // same floored centroid division (non-negative domain), empty
    // clusters keep their previous centroid
    "q_kmeans_int" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
         s0 AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc0
                FROM v),
         q AS (SELECT vec_id, list_transform(e, x -> CAST(round(
                 x / (CASE WHEN sc0 = 0 THEN 1.0 ELSE sc0 END)) AS INT)
                 + 127) AS uv
               FROM s0),
         d AS (SELECT vec_id, unnest(uv) AS x,
                      generate_subscripts(uv, 1) AS i FROM q),
         c0 AS (SELECT vec_id AS cid, i, x AS cx FROM d
                WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT 8)),
         a1d AS (SELECT d.vec_id, c0.cid,
                   CAST(sum(CAST(d.x - c0.cx AS BIGINT) * (d.x - c0.cx))
                     AS BIGINT) AS dist
                 FROM d JOIN c0 ON d.i = c0.i GROUP BY 1, 2),
         a1 AS (SELECT vec_id, cid FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rn FROM a1d) WHERE rn = 1),
         c1u AS (SELECT a1.cid, d.i,
                   CAST(sum(CAST(d.x AS BIGINT)) // count(*) AS INT) AS cx
                 FROM a1 JOIN d ON a1.vec_id = d.vec_id GROUP BY 1, 2),
         c1 AS (SELECT c0.cid, c0.i, COALESCE(c1u.cx, c0.cx) AS cx
                FROM c0 LEFT JOIN c1u ON c0.cid = c1u.cid AND c0.i = c1u.i),
         a2d AS (SELECT d.vec_id, c1.cid,
                   CAST(sum(CAST(d.x - c1.cx AS BIGINT) * (d.x - c1.cx))
                     AS BIGINT) AS dist
                 FROM d JOIN c1 ON d.i = c1.i GROUP BY 1, 2),
         a2 AS (SELECT vec_id, cid, dist FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rn FROM a2d) WHERE rn = 1)
         SELECT vec_id, cid AS cluster, dist FROM a2""",
    "q_quality_norm" ->
      """WITH t AS (SELECT doc_id, lang,
                 round(CAST(len(list_distinct(string_split(text, ' ')))
                     AS DOUBLE) / len(string_split(text, ' ')), 4) AS ttr
               FROM documents)
         SELECT doc_id, lang, ttr,
                round(percent_rank() OVER (PARTITION BY lang
                  ORDER BY ttr, doc_id), 6) AS q_rank
         FROM t""",
    // same md5-hex thresholds: floor(0.8*2^32)=0xcccccccc,
    // floor(0.9*2^32)=0xe6666666; fixed-width lowercase hex compares
    // numerically
    "q_split_assign" ->
      """SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                     WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'val'
                     ELSE 'test' END AS split,
                lang, count(*) AS n
         FROM documents GROUP BY 1, 2""",
    // exclusive window cumsum replays the two-phase prefix sum
    "q_token_packing" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
                    FROM documents)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS before,
                CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  // 2000 AS BIGINT) AS shard
         FROM t""",
    // DuckDB's own jaro_winkler_similarity (semantics-equal, proven by
    // q_jw_match) inside the same fixed-point best-match aggregation
    "q_monge_elkan" ->
      """WITH p AS (SELECT p_partkey AS id,
                           p_brand || '|' || p_size AS bk,
                           string_split(p_name, ' ') AS ts FROM part),
         pr AS (SELECT a.id AS id0, b.id AS id1, a.ts AS ts0, b.ts AS ts1
                FROM p a JOIN p b ON a.bk = b.bk AND a.id < b.id),
         sc AS (SELECT id0, id1,
                  list_sum(list_transform(ts0, t -> CAST(round(
                    list_max(list_transform(ts1,
                      u -> jaro_winkler_similarity(t, u))) * 1000000)
                    AS BIGINT))) AS s01,
                  len(ts0) AS n0,
                  list_sum(list_transform(ts1, t -> CAST(round(
                    list_max(list_transform(ts0,
                      u -> jaro_winkler_similarity(t, u))) * 1000000)
                    AS BIGINT))) AS s10,
                  len(ts1) AS n1
                FROM pr)
         SELECT id0, id1,
                round((CAST(s01 AS DOUBLE) / n0 + CAST(s10 AS DOUBLE) / n1)
                  / 2000000.0, 6) AS me
         FROM sc
         WHERE round((CAST(s01 AS DOUBLE) / n0 + CAST(s10 AS DOUBLE) / n1)
                 / 2000000.0, 6) >= 0.6""",
    // soft tf-idf: same block pairing; weights re-derived from tf/df,
    // the packed (jw6<<32)+w argmax replayed with >> and &, per-token
    // contributions rounded to BIGINT and summed, norms in double
    "q_soft_tfidf" ->
      """WITH p AS (SELECT p_partkey AS id, p_brand AS bk,
                           string_split(p_name, ' ') AS ts FROM part),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
         tr AS (SELECT id, bk, t, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT id, bk, unnest(ts) AS t FROM p) u
                GROUP BY id, bk, t),
         dft AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tr GROUP BY t),
         w AS (SELECT id, bk, tr.t, tf * ((nn.n * 1000) // df) AS w
               FROM tr JOIN dft USING (t), nn),
         wl AS (SELECT id, bk,
                       list(struct_pack(t := t, w := w)) AS wl,
                       sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm
                FROM w GROUP BY id, bk),
         pr AS (SELECT a.id AS id0, b.id AS id1, a.wl AS wl0, b.wl AS wl1,
                       a.nrm AS nrm0, b.nrm AS nrm1
                FROM wl a JOIN wl b ON a.bk = b.bk AND a.id < b.id),
         sc AS (SELECT id0, id1,
                  list_sum(list_transform(wl0, a -> (
                    CASE WHEN (list_max(list_transform(wl1, b ->
                           CAST(round(jaro_winkler_similarity(a.t, b.t)
                             * 1000000) AS BIGINT) * 4294967296 + b.w))
                           >> 32) >= 900000
                    THEN CAST(round(
                      CAST(list_max(list_transform(wl1, b ->
                        CAST(round(jaro_winkler_similarity(a.t, b.t)
                          * 1000000) AS BIGINT) * 4294967296 + b.w)) >> 32
                        AS DOUBLE)
                      * a.w
                      * (list_max(list_transform(wl1, b ->
                          CAST(round(jaro_winkler_similarity(a.t, b.t)
                            * 1000000) AS BIGINT) * 4294967296 + b.w))
                          & 4294967295)
                      / 1000000.0) AS BIGINT)
                    ELSE 0 END))) AS s6,
                  nrm0, nrm1
                FROM pr)
         SELECT id0, id1,
                round(CAST(s6 AS DOUBLE) / (nrm0 * nrm1), 6) AS soft_tfidf
         FROM sc
         WHERE round(CAST(s6 AS DOUBLE) / (nrm0 * nrm1), 6) >= 0.6""",
    // all-pairs with the same integer planar test (the 3x3 grid probe is
    // lossless for dist <= radius, so all-pairs must agree)
    "q_geo_join" ->
      """WITH c AS (SELECT c_custkey AS cust,
                (c_custkey * 2654435761) % 180000000 - 90000000 AS lat,
                (c_custkey * 96822197) % 360000000 - 180000000 AS lon
              FROM customer),
         s AS (SELECT s_suppkey AS supp,
                (s_suppkey * 1885667511) % 180000000 - 90000000 AS lat2,
                (s_suppkey * 472882049) % 360000000 - 180000000 AS lon2
              FROM supplier)
         SELECT cust, supp,
                (lat - lat2) * (lat - lat2) + (lon - lon2) * (lon - lon2)
                  AS dist2
         FROM c, s
         WHERE (lat - lat2) * (lat - lat2) + (lon - lon2) * (lon - lon2)
               <= 100000000000000""",
    "q_compaction_plan" ->
      """WITH f AS (SELECT o_orderkey % 64 AS file_id, count(*) AS size
                    FROM orders GROUP BY 1)
         SELECT file_id, size,
                CAST(COALESCE(sum(size) OVER (ORDER BY file_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_off,
                CAST(COALESCE(sum(size) OVER (ORDER BY file_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  // 100 AS BIGINT) AS out_group
         FROM f""",
    // same per-column counts over both snapshots; drift = exact integer
    // cross-multiplication (x2.0 factor in tenths)
    "q_schema_drift" ->
      """WITH o AS (SELECT * FROM events WHERE event_id % 2 = 0),
         nn AS (SELECT event_id, ts, user_id, event_type,
                  CASE WHEN event_type = 'click' THEN NULL
                       ELSE value END AS value,
                  '{}' AS props
                FROM events WHERE event_id % 2 = 1),
         po AS (
           SELECT 'event_type' AS "column", count(*) AS n_old,
                  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_old,
                  count(DISTINCT event_type) AS dist_old FROM o
           UNION ALL
           SELECT 'value', count(*),
                  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  count(DISTINCT value) FROM o
           UNION ALL
           SELECT 'props', count(*),
                  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  count(DISTINCT props) FROM o
           UNION ALL
           SELECT 'user_id', count(*),
                  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  count(DISTINCT user_id) FROM o),
         pn AS (
           SELECT 'event_type' AS "column", count(*) AS n_new,
                  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_new,
                  count(DISTINCT event_type) AS dist_new FROM nn
           UNION ALL
           SELECT 'value', count(*),
                  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  count(DISTINCT value) FROM nn
           UNION ALL
           SELECT 'props', count(*),
                  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  count(DISTINCT props) FROM nn
           UNION ALL
           SELECT 'user_id', count(*),
                  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  count(DISTINCT user_id) FROM nn)
         SELECT po."column", n_old, null_old, dist_old,
                n_new, null_new, dist_new,
                (CAST(null_new AS HUGEINT) * n_old * 10 > CAST(null_old AS HUGEINT) * n_new * 20
                 OR CAST(null_old AS HUGEINT) * n_new * 10 > CAST(null_new AS HUGEINT) * n_old * 20)
                  AS null_drift,
                (CAST(dist_new AS HUGEINT) * n_old * 10 > CAST(dist_old AS HUGEINT) * n_new * 20
                 OR CAST(dist_old AS HUGEINT) * n_new * 10 > CAST(dist_new AS HUGEINT) * n_old * 20)
                  AS cardinality_drift
         FROM po JOIN pn ON po."column" = pn."column"""",
    // 20 generated peel rounds (the k-core is unique and rounds past
    // convergence are identity, so a fixed chain replays the fixpoint)
    "q_kcore" -> {
      val steps = (1 to 20).map { i =>
        s"""k$i AS MATERIALIZED (SELECT u FROM e${i - 1} GROUP BY u
                    HAVING count(*) >= 3),
         e$i AS MATERIALIZED (SELECT c.u, c.v FROM e${i - 1} c
                 WHERE c.u IN (SELECT u FROM k$i)
                   AND c.v IN (SELECT u FROM k$i))"""
      }.mkString(",\n         ")
      s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                      FROM lineitem),
         p AS (SELECT DISTINCT a.pk AS u, b.pk AS v
               FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         f AS (SELECT u, v FROM p WHERE (u * 1000003 + v) % 17 = 0),
         e0 AS (SELECT u, v FROM f UNION SELECT v, u FROM f),
         $steps
         SELECT u AS node, count(*) AS deg FROM e20 GROUP BY u"""
    },
    // all-pairs Hamming from the raw aHash cells (the banded Spark path
    // is exact for dist<=3 by pigeonhole, so all-pairs must agree);
    // bits re-derived from cells with the same floor-mean rule
    "q_image_neardup" ->
      s"""WITH c AS (SELECT doc, cells
                     FROM '$OracleAuxDir/image_phash/*.parquet'),
         b AS (SELECT doc, cells, list_sum(cells) // 64 AS mean FROM c),
         bits AS (SELECT doc, list_transform(cells,
                    x -> CASE WHEN x > mean THEN 1 ELSE 0 END) AS bv
                  FROM b),
         p AS (SELECT a.doc AS id0, b2.doc AS id1,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> CASE WHEN a.bv[i] <> b2.bv[i] THEN 1 ELSE 0 END))
                   AS INT) AS dist
               FROM bits a JOIN bits b2 ON a.doc < b2.doc)
         SELECT id0, id1, dist FROM p WHERE dist <= 3""",
    // Morton code via the per-bit sum (independent of the engine's
    // magic-number spread); same exact-integer quantization
    "q_zorder" ->
      """WITH s AS (SELECT min(l_partkey) AS minx, max(l_partkey) AS maxx,
                           min(l_suppkey) AS miny, max(l_suppkey) AS maxy
                    FROM lineitem),
         q AS (SELECT ((l_partkey - minx) * 256) // (maxx - minx + 1) AS qx,
                      ((l_suppkey - miny) * 256) // (maxy - miny + 1) AS qy
               FROM lineitem, s),
         z AS (SELECT qx, qy,
                 CAST(list_sum(list_transform(range(0, 8),
                   i -> ((qx >> i) & 1) * (1 << (2*i + 1))
                      + ((qy >> i) & 1) * (1 << (2*i)))) AS INT) AS z
               FROM q)
         SELECT CAST(z >> 8 AS INT) AS bucket, count(*) AS n,
                CAST(min(qx) AS INT) AS min_qx, CAST(max(qx) AS INT) AS max_qx,
                CAST(min(qy) AS INT) AS min_qy, CAST(max(qy) AS INT) AS max_qy
         FROM z GROUP BY 1""",
    // Salting.fanoutCol replayed: needK = ceil(n/sqrt(aim)), k1 = min(needK,
    // maxK), k2 = min(ceil(needK/k1), maxK) — same IEEE double ops
    "q_skew_plan" ->
      """WITH b AS (SELECT str_split(text, ' ')[1] AS block_key,
                           count(*) AS n
                    FROM documents GROUP BY 1),
         f AS (SELECT block_key, n,
                 greatest(CAST(ceil(CAST(n AS DOUBLE) / sqrt(50.0))
                   AS BIGINT), 1) AS need_k FROM b),
         k AS (SELECT block_key, n,
                 CAST(least(need_k, 16) AS INT) AS k1,
                 CAST(least(CAST(ceil(CAST(need_k AS DOUBLE)
                     / CAST(least(need_k, 16) AS DOUBLE)) AS BIGINT), 16)
                   AS INT) AS k2
               FROM f)
         SELECT block_key, n, k1, k2,
                CAST(k1 AS BIGINT) * k2 AS eff_k,
                (CAST(k1 AS BIGINT) * k2 * (CAST(k1 AS BIGINT) * k2 + 1)) // 2
                  AS n_chunk_tasks,
                (n * (n - 1)) // 2 AS est_pairs
         FROM k""",
    // same unigram/bigram counts; lift multiplies/divides in the same
    // IEEE double order, rounded before the ordering so boundary ties
    // resolve identically via the (w1, w2) tiebreak
    "q_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
         uni AS (SELECT unnest(ts) AS w FROM t),
         u AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
         n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM u),
         bi AS (SELECT ts[i] AS w1, ts[i+1] AS w2
                FROM t, unnest(generate_series(1, len(ts)-1)) AS g(i)
                WHERE len(ts) >= 2),
         b AS (SELECT w1, w2, count(*) AS c_xy FROM bi GROUP BY 1, 2
               HAVING count(*) >= 5)
         SELECT b.w1, b.w2, b.c_xy, ux.c AS c_x, uy.c AS c_y,
                round(CAST(b.c_xy AS DOUBLE) * CAST(n.n AS DOUBLE)
                  / (CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE)), 6) AS lift
         FROM b JOIN u ux ON b.w1 = ux.w JOIN u uy ON b.w2 = uy.w, n
         ORDER BY lift DESC, b.w1, b.w2 LIMIT 40""",
    // same injection; boilerplate = line in >= greatest(2,
    // ceil(0.5*source_docs)) distinct docs of its source
    "q_boilerplate" ->
      """WITH c AS (SELECT doc_id, source,
                 'header ' || source || chr(10) || text
                   || (CASE WHEN doc_id % 4 = 0
                            THEN chr(10) || 'promo ' || source
                            ELSE '' END)
                   || chr(10) || 'copyright ' || source AS t
               FROM documents),
         l AS (SELECT doc_id, source,
                 unnest(string_split(t, chr(10))) AS line,
                 generate_subscripts(string_split(t, chr(10)), 1) AS pos
               FROM c),
         g AS (SELECT source, count(*) AS n_docs FROM c GROUP BY 1),
         f AS (SELECT l.source, trim(line) AS k,
                      count(DISTINCT doc_id) AS doc_hits
               FROM l GROUP BY 1, 2),
         b AS (SELECT f.source, k FROM f JOIN g ON f.source = g.source
               WHERE doc_hits >= greatest(2, CAST(ceil(0.5 * n_docs) AS BIGINT)))
         SELECT doc_id AS id, count(*) AS n_lines,
                CAST(sum(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                md5(COALESCE(string_agg(CASE WHEN b.k IS NULL THEN line END,
                      chr(10) ORDER BY pos), '')) AS clean_md5
         FROM l LEFT JOIN b ON l.source = b.source AND trim(l.line) = b.k
         GROUP BY doc_id""",
    // URL canonicalization replayed step-for-step: same variant
    // injection, same alternation-free regexes (Java regex == RE2 here),
    // starts_with for tracking-param drops (LIKE 'utm_%' would wildcard
    // the underscore), binary-order param sort in both engines
    "q_url_canon" ->
      """WITH r AS (SELECT doc_id,
                 CAST(doc_id - doc_id % 5 AS VARCHAR) AS g, doc_id % 5 AS v
               FROM documents),
         raw AS (SELECT doc_id,
                 CASE v
                   WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/docs/' || g
                               || '/?utm_source=feed&b=2&a=1#top'
                   WHEN 1 THEN 'https://example.com/docs/' || g || '//?a=1&b=2'
                   WHEN 2 THEN 'https://example.com:8080/docs/' || g
                               || '?b=2&a=1&fbclid=zz'
                   WHEN 3 THEN 'https://example.com/docs/' || g
                   ELSE 'URN:isbn:' || CAST(doc_id AS VARCHAR)
                 END AS url_raw
               FROM r),
         p1 AS (SELECT doc_id, url_raw, trim(url_raw) AS u,
                 lower(regexp_extract(trim(url_raw),
                   '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                 regexp_replace(trim(url_raw),
                   '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
               FROM raw),
         p2 AS (SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS hostport,
                 regexp_replace(rest, '^[^/?#]*', '') AS pathqf
               FROM p1),
         p3 AS (SELECT *,
                 regexp_replace(regexp_replace(lower(hostport),
                   ':[0-9]+$', ''), '^www\.', '') AS host,
                 regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                 regexp_extract(pathqf, '^([^?#]*)', 1) AS rawpath,
                 regexp_extract(pathqf, '\?([^#]*)', 1) AS query
               FROM p2),
         p4 AS (SELECT *,
                 CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
                      ELSE regexp_replace(rawpath, '/+$', '') END AS path,
                 list_sort(list_filter(string_split(query, '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_')
                     AND NOT starts_with(p, 'gclid=')
                     AND NOT starts_with(p, 'fbclid=')
                     AND NOT starts_with(p, 'ref='))) AS params,
                 (port <> '' AND NOT (scheme = 'http' AND port = '80')
                   AND NOT (scheme = 'https' AND port = '443')) AS keepport
               FROM p3),
         c AS (SELECT doc_id, url_raw,
                 CASE WHEN scheme = '' THEN lower(u)
                      ELSE scheme || '://' || host
                        || (CASE WHEN keepport THEN ':' || port ELSE '' END)
                        || path
                        || (CASE WHEN len(params) > 0
                                 THEN '?' || list_aggregate(params,
                                   'string_agg', '&')
                                 ELSE '' END)
                 END AS url_canon
               FROM p4)
         SELECT doc_id AS id, url_raw, url_canon,
                count(*) OVER (PARTITION BY url_canon) AS n_dups,
                regexp_extract(regexp_extract(url_canon,
                  '^[a-z][a-z0-9+.-]*://([^/:?#]*)', 1),
                  '([^.]+\.[^.]+)$', 1) AS domain
         FROM c""",
    // pairwise P/R/F1 replayed from the FROZEN golden cluster fixtures
    // (t=0.8 flagship + t=0.75, the BASELINE F1>=0.99 gate threshold)
    // against the committed ground-truth pair list; the Spark side
    // computes the same metrics from the LIVE pipeline. Identical double
    // arithmetic (BIGINT/BIGINT division then 2*p*r/(p+r)) on both sides.
    "q_febrl4_eval" ->
      """WITH truth AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                 CAST(row_b AS BIGINT) AS rec1
               FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                 header = true)),
         pred AS (
           SELECT CAST(0.75 AS DOUBLE) AS threshold,
                  a."entityId" AS rec0, b."entityId" AS rec1
           FROM '/root/repo/fixtures/febrl4_golden_clusters_t075.parquet' a
           JOIN '/root/repo/fixtures/febrl4_golden_clusters_t075.parquet' b
             ON a."clusterId" = b."clusterId" AND a.dp = 0 AND b.dp = 1
           UNION ALL
           SELECT CAST(0.8 AS DOUBLE), a."entityId", b."entityId"
           FROM '/root/repo/fixtures/febrl4_golden_clusters.parquet' a
           JOIN '/root/repo/fixtures/febrl4_golden_clusters.parquet' b
             ON a."clusterId" = b."clusterId" AND a.dp = 0 AND b.dp = 1),
         m AS (SELECT p.threshold,
                 CAST(count(*) AS BIGINT) AS n_pred,
                 CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
                 CAST(sum(CASE WHEN t.rec0 IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS tp
               FROM pred p
               LEFT JOIN truth t ON p.rec0 = t.rec0 AND p.rec1 = t.rec1
               GROUP BY 1)
         SELECT threshold, n_pred, n_true, tp,
                tp / n_pred AS precision, tp / n_true AS recall,
                2 * (tp / n_pred) * (tp / n_true)
                  / ((tp / n_pred) + (tp / n_true)) AS f1
         FROM m""",
    // full threshold curve replayed from the committed CLK fixture:
    // DuckDB recomputes every cross-provider Dice score with its own
    // bit_count (the er_febrl4_edges kernel replay), fans each pair into
    // the grid rows it clears, and joins the truth CSV — identical
    // BIGINT/DOUBLE arithmetic to the Spark side
    "q_threshold_sweep" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT a.entity_id AS rec0, b.entity_id AS rec1,
                  2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim
           FROM c a JOIN c b ON a.dp = 0 AND b.dp = 1),
         truth AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                          CAST(row_b AS BIGINT) AS rec1
                   FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                     header = true)),
         g AS (SELECT CAST(unnest([0.5, 0.55, 0.6, 0.65, 0.7,
                  0.75, 0.8, 0.85, 0.9, 0.95]) AS DOUBLE) AS threshold),
         m AS (SELECT g.threshold, CAST(count(*) AS BIGINT) AS n_pred,
                      CAST(sum(CASE WHEN t.rec0 IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS tp
               FROM p
               JOIN g ON p.sim >= g.threshold
               LEFT JOIN truth t ON p.rec0 = t.rec0 AND p.rec1 = t.rec1
               GROUP BY 1),
         ta AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth)
         SELECT threshold, n_pred, n_true, tp,
                tp / n_pred AS precision, tp / n_true AS recall,
                2 * (tp / n_pred) * (tp / n_true)
                  / ((tp / n_pred) + (tp / n_true)) AS f1
         FROM m, ta""",
    // B-cubed replay: same universe, same singleton labels, same
    // fixed-point integer cell terms (// == DIV on positive operands)
    "q_bcubed" ->
      """WITH uni AS (SELECT i AS id FROM range(0, 2000) t(i)
                      UNION ALL SELECT i + 10000 FROM range(0, 2000) t(i)),
         g AS (SELECT dp * 10000 + entityId AS id, clusterId AS pred
               FROM '/root/repo/fixtures/febrl4_golden_clusters.parquet'),
         tp AS (SELECT CAST(row_a AS BIGINT) AS id,
                       CAST(row_a AS BIGINT) AS t
                FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                  header = true)
                UNION ALL
                SELECT CAST(row_b AS BIGINT) + 10000, CAST(row_a AS BIGINT)
                FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                  header = true)),
         a AS (SELECT coalesce(g.pred, -uni.id - 1) AS c,
                      coalesce(tp.t, -uni.id - 1) AS e
               FROM uni LEFT JOIN g ON uni.id = g.id
                        LEFT JOIN tp ON uni.id = tp.id),
         nce AS (SELECT c, e, CAST(count(*) AS BIGINT) AS n_ce
                 FROM a GROUP BY c, e),
         nc AS (SELECT c, CAST(count(*) AS BIGINT) AS n_c FROM a GROUP BY c),
         ne AS (SELECT e, CAST(count(*) AS BIGINT) AS n_e FROM a GROUP BY e),
         j AS (SELECT n_ce, n_c, n_e
               FROM nce JOIN nc USING (c) JOIN ne USING (e)),
         s AS (SELECT CAST(sum(n_ce) AS BIGINT) AS n,
                      CAST(sum((n_ce * n_ce * 1000000000) // n_c)
                           AS BIGINT) AS p_num,
                      CAST(sum((n_ce * n_ce * 1000000000) // n_e)
                           AS BIGINT) AS r_num
               FROM j)
         SELECT n, p_num, r_num,
                p_num / (1000000000.0 * n) AS b3_precision,
                r_num / (1000000000.0 * n) AS b3_recall,
                2.0 * (p_num / (1000000000.0 * n))
                    * (r_num / (1000000000.0 * n))
                  / (p_num / (1000000000.0 * n)
                     + r_num / (1000000000.0 * n)) AS b3_f1
         FROM s""",
    // same assignment CTEs as q_bcubed; comb-2 sums + inclusion-
    // exclusion, one double at the end
    "q_rand_index" ->
      """WITH uni AS (SELECT i AS id FROM range(0, 2000) t(i)
                      UNION ALL SELECT i + 10000 FROM range(0, 2000) t(i)),
         g AS (SELECT dp * 10000 + entityId AS id, clusterId AS pred
               FROM '/root/repo/fixtures/febrl4_golden_clusters.parquet'),
         tp AS (SELECT CAST(row_a AS BIGINT) AS id,
                       CAST(row_a AS BIGINT) AS t
                FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                  header = true)
                UNION ALL
                SELECT CAST(row_b AS BIGINT) + 10000, CAST(row_a AS BIGINT)
                FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                  header = true)),
         a AS (SELECT coalesce(g.pred, -uni.id - 1) AS c,
                      coalesce(tp.t, -uni.id - 1) AS e
               FROM uni LEFT JOIN g ON uni.id = g.id
                        LEFT JOIN tp ON uni.id = tp.id),
         ss AS (SELECT CAST(sum((n_ce * (n_ce - 1)) // 2) AS BIGINT)
                         AS agree_same,
                       CAST(sum(n_ce) AS BIGINT) AS n FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_ce FROM a
                   GROUP BY c, e)),
         pp AS (SELECT CAST(sum((n_c * (n_c - 1)) // 2) AS BIGINT)
                         AS pred_pairs FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_c FROM a
                   GROUP BY c)),
         tt AS (SELECT CAST(sum((n_e * (n_e - 1)) // 2) AS BIGINT)
                         AS truth_pairs FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_e FROM a
                   GROUP BY e)),
         x AS (SELECT n, (n * (n - 1)) // 2 AS pairs_total, agree_same,
                      pred_pairs, truth_pairs,
                      (n * (n - 1)) // 2 - pred_pairs - truth_pairs
                        + agree_same AS agree_diff
               FROM ss, pp, tt)
         SELECT n, pairs_total, agree_same, pred_pairs, truth_pairs,
                agree_diff,
                (agree_same + agree_diff) / CAST(pairs_total AS DOUBLE)
                  AS rand_index
         FROM x""",
    // full-outer id join of the two golden fixtures, identical singleton
    // labels, cell/size aggs and the same stable/split/merge predicates
    "q_cluster_churn" ->
      """WITH o AS (SELECT dp * 10000 + entityId AS id, clusterId AS c
                    FROM '/root/repo/fixtures/febrl4_golden_clusters_t075.parquet'),
         nn AS (SELECT dp * 10000 + entityId AS id, clusterId AS c
                FROM '/root/repo/fixtures/febrl4_golden_clusters.parquet'),
         u AS (SELECT coalesce(o.c, -coalesce(o.id, nn.id) - 1) AS c_old,
                      coalesce(nn.c, -coalesce(o.id, nn.id) - 1) AS c_new
               FROM o FULL OUTER JOIN nn ON o.id = nn.id),
         cells AS (SELECT c_old, c_new, CAST(count(*) AS BIGINT) AS n_cell
                   FROM u GROUP BY c_old, c_new),
         osz AS (SELECT c_old, CAST(count(*) AS BIGINT) AS n_old
                 FROM u GROUP BY c_old),
         nsz AS (SELECT c_new, CAST(count(*) AS BIGINT) AS n_new
                 FROM u GROUP BY c_new),
         j AS (SELECT cells.*, osz.n_old, nsz.n_new
               FROM cells JOIN osz USING (c_old) JOIN nsz USING (c_new)),
         po AS (SELECT c_old, count(*) AS spans,
                       max(CASE WHEN n_cell = n_old AND n_cell = n_new
                           THEN 1 ELSE 0 END) AS stable
                FROM j GROUP BY c_old),
         pn AS (SELECT c_new, count(*) AS merges FROM j GROUP BY c_new),
         oa AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters_old,
                       CAST(sum(CASE WHEN spans > 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_split,
                       CAST(sum(stable) AS BIGINT) AS n_stable FROM po),
         na AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters_new,
                       CAST(sum(CASE WHEN merges > 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_merged FROM pn),
         nr AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM u)
         SELECT n_records, n_clusters_old, n_clusters_new, n_split,
                n_merged, n_stable
         FROM nr, oa, na""",
    // persistent ids: the same member-overlap table, reciprocal-best via
    // two row_number windows over it (both computed on the FULL table)
    "q_persistent_ids" ->
      """WITH o AS (SELECT dp * 10000 + entityId AS id, clusterId AS old_c
                    FROM '/root/repo/fixtures/febrl4_golden_clusters_t075.parquet'),
         n AS (SELECT dp * 10000 + entityId AS id, clusterId AS new_c
               FROM '/root/repo/fixtures/febrl4_golden_clusters.parquet'),
         sizes AS (SELECT new_c, CAST(count(*) AS BIGINT) AS n_members
                   FROM n GROUP BY 1),
         ov AS (SELECT new_c, old_c, CAST(count(*) AS BIGINT) AS overlap
                FROM n JOIN o USING (id) GROUP BY 1, 2),
         mutual AS (SELECT new_c, old_c AS persistent_id, overlap FROM ov
                    QUALIFY row_number() OVER (PARTITION BY new_c
                        ORDER BY overlap DESC, old_c) = 1
                      AND row_number() OVER (PARTITION BY old_c
                        ORDER BY overlap DESC, new_c) = 1)
         SELECT s.new_c AS new_cluster, s.n_members, m.persistent_id,
                COALESCE(m.overlap, 0) AS overlap,
                m.persistent_id IS NOT NULL AS carried
         FROM sizes s LEFT JOIN mutual m ON s.new_c = m.new_c""",
    // multiplicity replay: kernel edges at 0.8, endpoint union, two aggs
    "q_match_multiplicity" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT * FROM p WHERE sim >= 0.8),
         ends AS (SELECT dp0 AS dp, rec0 AS rec FROM e
                  UNION ALL SELECT dp1, rec1 FROM e),
         per AS (SELECT dp, rec, CAST(count(*) AS BIGINT) AS n_matches
                 FROM ends GROUP BY 1, 2)
         SELECT dp, n_matches, CAST(count(*) AS BIGINT) AS n_records
         FROM per GROUP BY 1, 2""",
    // implied-pair Dice range per golden cluster: members join the CLK
    // fixture, within-label ordered pairing, the same kernel expression
    "q_cluster_sim_range" ->
      """WITH lab AS (SELECT dp, entityId AS rec, clusterId AS label
                      FROM '/root/repo/fixtures/febrl4_golden_clusters.parquet'),
         c AS (SELECT dp, entity_id AS rec, pc, words
               FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         m AS (SELECT lab.label, c.dp, c.rec, c.pc, c.words
               FROM lab JOIN c USING (dp, rec)),
         p AS (SELECT a.label,
                 2.0 * list_sum(list_transform(range(1, 17),
                   i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc)
                   AS sim
               FROM m a JOIN m b ON a.label = b.label
                 AND (a.dp < b.dp OR (a.dp = b.dp AND a.rec < b.rec))),
         st AS (SELECT label, CAST(count(*) AS BIGINT) AS n_pairs,
                       min(sim) AS min_sim, max(sim) AS max_sim
                FROM p GROUP BY 1),
         sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
                FROM lab GROUP BY 1)
         SELECT st.label, sz.n_members, st.n_pairs, st.min_sim, st.max_sim
         FROM st JOIN sz USING (label)""",
    // calibration replay: kernel at 0.5, truth CSV left join, same
    // floor-binning and rounded rates
    "q_score_calibration" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.entity_id AS rec0, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT * FROM p WHERE sim >= 0.5),
         t AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                      CAST(row_b AS BIGINT) AS rec1, 1 AS is_true
               FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                             header = true)),
         j AS (SELECT e.sim, COALESCE(t.is_true, 0) AS is_true
               FROM e LEFT JOIN t ON e.rec0 = t.rec0 AND e.rec1 = t.rec1),
         b AS (SELECT CAST(floor(sim * 20) AS BIGINT) AS bin,
                      CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(sum(is_true) AS BIGINT) AS n_true
               FROM j GROUP BY 1)
         SELECT bin, n_pairs, n_true,
                round(CAST(n_true AS DOUBLE) / n_pairs, 6) AS match_rate,
                round(CAST(bin AS DOUBLE) / 20, 4) AS bin_lo
         FROM b""",
    // kernel replay at t=0.5, truth left-join, then the Mann-Whitney
    // sufficient statistics off the distinct-score table — concordant =
    // positives x negatives strictly below, ties at half credit, exact
    // in HUGEINT == Spark decimal(38,0)
    "q_auc" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.entity_id AS rec0, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT * FROM p WHERE sim >= 0.5),
         t AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                      CAST(row_b AS BIGINT) AS rec1, 1 AS is_true
               FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                             header = true)),
         l AS (SELECT e.sim, COALESCE(t.is_true, 0) AS is_true
               FROM e LEFT JOIN t ON e.rec0 = t.rec0 AND e.rec1 = t.rec1),
         g AS (SELECT sim, CAST(sum(is_true) AS BIGINT) AS n_pos_v,
                      CAST(sum(1 - is_true) AS BIGINT) AS n_neg_v
               FROM l GROUP BY 1),
         cw AS (SELECT *, COALESCE(CAST(sum(n_neg_v) OVER (ORDER BY sim
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS neg_below FROM g),
         s AS (SELECT CAST(sum(n_pos_v) AS BIGINT) AS n_pos,
                      CAST(sum(n_neg_v) AS BIGINT) AS n_neg,
                      CAST(sum(CAST(n_pos_v AS HUGEINT) * neg_below)
                        AS HUGEINT) AS n_concordant,
                      CAST(sum(CAST(n_pos_v AS HUGEINT) * n_neg_v)
                        AS HUGEINT) AS n_tied
               FROM cw)
         SELECT n_pos, n_neg, n_concordant, n_tied,
                CAST(2 * n_concordant + n_tied AS HUGEINT) AS auc_num,
                CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS HUGEINT)
                  AS auc_den,
                CASE WHEN 2 * CAST(n_pos AS HUGEINT) * n_neg > 0
                  THEN round(CAST(2 * n_concordant + n_tied AS DOUBLE)
                    / CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE), 6)
                END AS auc
         FROM s""",
    // same distinct-score table, inclusive CDFs, exact cross-multiplied
    // gap, argmax tie-broken to the smallest score
    "q_ks_stat" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.entity_id AS rec0, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT * FROM p WHERE sim >= 0.5),
         t AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                      CAST(row_b AS BIGINT) AS rec1, 1 AS is_true
               FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                             header = true)),
         l AS (SELECT e.sim, COALESCE(t.is_true, 0) AS is_true
               FROM e LEFT JOIN t ON e.rec0 = t.rec0 AND e.rec1 = t.rec1),
         g AS (SELECT sim, CAST(sum(is_true) AS BIGINT) AS n_pos_v,
                      CAST(sum(1 - is_true) AS BIGINT) AS n_neg_v
               FROM l GROUP BY 1),
         cw AS (SELECT sim,
                       CAST(sum(n_pos_v) OVER w AS BIGINT) AS cpos,
                       CAST(sum(n_neg_v) OVER w AS BIGINT) AS cneg
                FROM g WINDOW w AS (ORDER BY sim
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         tot AS (SELECT CAST(sum(is_true) AS BIGINT) AS n_pos,
                        CAST(sum(1 - is_true) AS BIGINT) AS n_neg FROM l),
         d AS (SELECT cw.sim, tot.n_pos, tot.n_neg,
                      CAST(abs(CAST(cw.cpos AS HUGEINT) * tot.n_neg
                        - CAST(cw.cneg AS HUGEINT) * tot.n_pos) AS HUGEINT)
                        AS ks_num,
                      CAST(CAST(tot.n_pos AS HUGEINT) * tot.n_neg
                        AS HUGEINT) AS ks_den
               FROM cw CROSS JOIN tot)
         SELECT n_pos, n_neg, ks_num, ks_den, sim AS at_sim,
                CASE WHEN ks_den > 0 THEN round(
                  CAST(ks_num AS DOUBLE) / CAST(ks_den AS DOUBLE), 6)
                END AS ks_d
         FROM d ORDER BY ks_num DESC, sim ASC LIMIT 1""",
    // full ranked replay: row_number over (sim desc, rec0, rec1), the
    // exact equal-depth bucket rule ((rk-1)*B DIV n), running totals
    "q_gains" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.entity_id AS rec0, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT * FROM p WHERE sim >= 0.5),
         t AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                      CAST(row_b AS BIGINT) AS rec1, 1 AS is_true
               FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                             header = true)),
         l AS (SELECT e.rec0, e.rec1, e.sim, COALESCE(t.is_true, 0) AS is_true
               FROM e LEFT JOIN t ON e.rec0 = t.rec0 AND e.rec1 = t.rec1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(is_true) AS BIGINT) AS n_pos FROM l),
         r AS (SELECT is_true, row_number() OVER (
                 ORDER BY sim DESC, rec0, rec1) AS rk FROM l),
         b AS (SELECT ((rk - 1) * 10) // n.n AS bucket,
                      CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(sum(is_true) AS BIGINT) AS n_true
               FROM r, n GROUP BY 1),
         w AS (SELECT *,
                      CAST(sum(n_pairs) OVER (ORDER BY bucket) AS BIGINT)
                        AS cum_pairs,
                      CAST(sum(n_true) OVER (ORDER BY bucket) AS BIGINT)
                        AS cum_true
               FROM b)
         SELECT bucket, n_pairs, n_true, cum_pairs, cum_true,
                CASE WHEN n.n_pos > 0 THEN
                  round(CAST(cum_true AS DOUBLE) / n.n_pos, 6) END AS capture,
                CASE WHEN cum_pairs > 0 AND n.n_pos > 0 THEN
                  round(CAST(cum_true AS DOUBLE) * n.n
                    / (CAST(cum_pairs AS DOUBLE) * n.n_pos), 6) END AS lift
         FROM w, n""",
    // ranked replay again; per-positive precision tp/rk rounded to e9
    // fixed point then summed — the order-free AP contract
    "q_avg_precision" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.entity_id AS rec0, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT * FROM p WHERE sim >= 0.5),
         t AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                      CAST(row_b AS BIGINT) AS rec1, 1 AS is_true
               FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                             header = true)),
         l AS (SELECT e.rec0, e.rec1, e.sim, COALESCE(t.is_true, 0) AS is_true
               FROM e LEFT JOIN t ON e.rec0 = t.rec0 AND e.rec1 = t.rec1),
         r AS (SELECT is_true, row_number() OVER (
                 ORDER BY sim DESC, rec0, rec1) AS rk FROM l),
         ppos AS (SELECT rk, CAST(row_number() OVER (ORDER BY rk)
                    AS BIGINT) AS tp
                  FROM r WHERE is_true = 1),
         s AS (SELECT COALESCE(CAST(sum(CAST(round(1e9 * tp / rk)
                 AS BIGINT)) AS BIGINT), 0) AS ap_sum_e9 FROM ppos),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_ranked,
                      CAST(sum(is_true) AS BIGINT) AS n_pos FROM l)
         SELECT n.n_pos, n.n_ranked, s.ap_sum_e9,
                CASE WHEN n.n_pos > 0 THEN round(
                  CAST(s.ap_sum_e9 AS DOUBLE) / (n.n_pos * 1e9), 6)
                END AS avg_precision
         FROM s, n""",
    // kernel replay at t=0.5 + identical banding and md5 hash order —
    // the labeling batch is engine-independent by construction
    "q_label_sample" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT a.entity_id AS rec0, b.entity_id AS rec1,
                  2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc)
                    AS sim
           FROM c a JOIN c b ON a.dp < b.dp),
         banded AS (SELECT rec0, rec1, sim,
                           CAST(floor(sim * 20) AS INT) AS band,
                           md5(CAST(rec0 AS VARCHAR) || '_'
                               || CAST(rec1 AS VARCHAR)) AS h
                    FROM p WHERE sim >= 0.5),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY band
                 ORDER BY h) AS INT) AS sample_rank
               FROM banded)
         SELECT rec0, rec1, sim, band, h, sample_rank
         FROM r WHERE sample_rank <= 5""",
    // same distinct-membership sizes and per-dp rollup
    "q_block_kanon" ->
      """WITH b AS (SELECT DISTINCT CAST(doc_id % 2 AS INT) AS dp,
                      doc_id AS entity_id,
                      string_split(text, ' ')[1] AS block_key
                    FROM documents),
         s AS (SELECT dp, block_key, CAST(count(*) AS BIGINT) AS n
               FROM b GROUP BY dp, block_key)
         SELECT dp, CAST(count(*) AS BIGINT) AS n_blocks,
                CAST(sum(n) AS BIGINT) AS n_memberships,
                CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS blocks_below_k,
                CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                  AS memberships_below_k,
                min(n) AS min_block_size, 5 AS k
         FROM s GROUP BY dp""",
    // truth-discovery replay: both trust-iteration rounds as chained
    // CTEs (HUGEINT sums make the widened normalize multiply exact),
    // winner per object via row_number (conf DESC, val ASC)
    "q_truth_discovery" ->
      """WITH c AS (SELECT DISTINCT doc_id % 5 AS src,
                array_to_string(list_slice(str_split(text, ' '), 1, 3), ' ')
                  AS obj,
                str_split(text, ' ')[4] AS val
              FROM documents
              WHERE str_split(text, ' ')[4] IS NOT NULL),
         t0 AS (SELECT DISTINCT src, 500000 AS t FROM c),
         cf1 AS (SELECT obj, val, sum(t) AS conf, count(*) AS n_votes
                 FROM c JOIN t0 USING (src) GROUP BY obj, val),
         to1 AS (SELECT obj, sum(conf) AS tot FROM cf1 GROUP BY obj),
         cn1 AS (SELECT cf1.obj, val, (conf * 1000000) // tot AS conf,
                        n_votes
                 FROM cf1 JOIN to1 USING (obj)),
         t1 AS (SELECT src, sum(cn1.conf) // count(*) AS t
                FROM c JOIN cn1 ON c.obj = cn1.obj AND c.val = cn1.val
                GROUP BY src),
         cf2 AS (SELECT obj, val, sum(t) AS conf, count(*) AS n_votes
                 FROM c JOIN t1 USING (src) GROUP BY obj, val),
         to2 AS (SELECT obj, sum(conf) AS tot FROM cf2 GROUP BY obj),
         cn2 AS (SELECT cf2.obj, val, (conf * 1000000) // tot AS conf,
                        n_votes
                 FROM cf2 JOIN to2 USING (obj)),
         w AS (SELECT obj, val, conf, n_votes,
                      row_number() OVER (PARTITION BY obj
                        ORDER BY conf DESC, val) AS rn
               FROM cn2)
         SELECT obj, val, CAST(conf AS BIGINT) AS conf,
                CAST(n_votes AS BIGINT) AS n_votes
         FROM w WHERE rn = 1""",
    // DP release replay: same md5("24301:dp:block_key") stream, two
    // 32-bit hex windows -> trailing-ones geometric draws via the exact
    // low-j-bits-all-ones mask sum, noise = g1 - g2, clamp at 0
    "q_dp_blocks" ->
      """WITH b AS (SELECT DISTINCT CAST(doc_id % 2 AS INT) AS dp,
                      doc_id AS entity_id,
                      string_split(text, ' ')[1] AS block_key
                    FROM documents),
         s AS (SELECT dp, block_key, CAST(count(*) AS BIGINT) AS n
               FROM b GROUP BY dp, block_key),
         w AS (SELECT dp, block_key, n,
                      md5('24301:' || CAST(dp AS VARCHAR) || ':' || block_key)
                        AS h
               FROM s),
         g AS (SELECT dp, block_key, n,
                      CAST(('0x' || substr(h, 1, 8)) AS BIGINT) AS w1,
                      CAST(('0x' || substr(h, 9, 8)) AS BIGINT) AS w2
               FROM w),
         z AS (SELECT dp, block_key, n,
                      CAST(list_sum(list_transform(range(1, 33), j ->
                        CASE WHEN (w1 & ((CAST(1 AS BIGINT) << j) - 1))
                                  = ((CAST(1 AS BIGINT) << j) - 1)
                             THEN 1 ELSE 0 END)) AS BIGINT)
                      - CAST(list_sum(list_transform(range(1, 33), j ->
                        CASE WHEN (w2 & ((CAST(1 AS BIGINT) << j) - 1))
                                  = ((CAST(1 AS BIGINT) << j) - 1)
                             THEN 1 ELSE 0 END)) AS BIGINT) AS noise
               FROM g)
         SELECT dp, block_key, n, noise,
                CAST(greatest(n + noise, 0) AS BIGINT) AS n_released
         FROM z""",
    // identical fixed-point weights (// == DIV), integer dots/norms,
    // the same two final sqrt/divide ops
    "q_tfidf_cosine" ->
      """WITH tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
               FROM (SELECT doc_id AS id,
                       unnest(string_split(text, ' ')) AS term
                     FROM documents)
               GROUP BY id, term),
         d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
               FROM tf GROUP BY term HAVING count(*) <= 1000),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         wt AS (SELECT id, term, tf * ((n_docs * 1000) // df) AS w
                FROM tf JOIN d USING (term), n),
         norms AS (SELECT id, CAST(sum(w * w) AS BIGINT) AS norm_sq
                   FROM wt GROUP BY id),
         p AS (SELECT a.id AS id0, b.id AS id1,
                      CAST(sum(a.w * b.w) AS BIGINT) AS dot
               FROM wt a JOIN wt b ON a.term = b.term AND a.id < b.id
               GROUP BY a.id, b.id),
         c AS (SELECT p.id0, p.id1, dot,
                      sqrt(o0.norm_sq) AS norm0, sqrt(o1.norm_sq) AS norm1,
                      dot / (sqrt(o0.norm_sq) * sqrt(o1.norm_sq)) AS cos
               FROM p JOIN norms o0 ON p.id0 = o0.id
                      JOIN norms o1 ON p.id1 = o1.id)
         SELECT id0, id1, dot, norm0, norm1, cos FROM c
         WHERE cos >= 0.9""",
    // tf-idf replayed exactly: same space tokenization, same (doc,term)
    // and term aggs, idf as the n_docs/df ratio (no log — libm differs
    // across engines; the ratio ranks identically), same window rank with
    // lexicographic tiebreak
    "q_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id AS id, unnest(str_split(text, ' ')) AS term
               FROM documents),
         tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
               FROM tok GROUP BY 1, 2),
         d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         s AS (SELECT id, term, tf.tf, d.df, tf.tf * (n.n_docs / d.df) AS score
               FROM tf JOIN d USING (term) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY id ORDER BY score DESC, term ASC) AS rank
               FROM s)
         SELECT id, term, tf, df, score, rank FROM r WHERE rank <= 3""",
    // similarity histogram from the same bit-for-bit kernel replay as
    // er_febrl4_edges; floor needs the BIGINT cast (DuckDB floor keeps
    // DOUBLE, Spark floor is already LONG)
    "q_sim_histogram" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim
           FROM c a JOIN c b ON a.dp < b.dp)
         SELECT CAST(floor(sim * 20) AS BIGINT) AS bin,
                count(*) AS n_pairs, min(sim) AS min_sim, max(sim) AS max_sim
         FROM p WHERE sim >= 0.5
         GROUP BY 1""",
    "q_fingerprint" ->
      """SELECT doc_id,
           CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fp
         FROM (
           SELECT doc_id,
             list_reduce(
               list_prepend(14695981039346656037::HUGEINT,
                 list_transform(range(1, length(text) + 1),
                   i -> ord(substr(text, i, 1))::HUGEINT)),
               (acc, b) -> (xor(acc, b) * 1099511628211::HUGEINT)
                 % 18446744073709551616::HUGEINT) AS h
           FROM documents)""",
    // Multimodal metadata replayed from the raw payload dump: these ASCII
    // html payloads are rejected by every JDK image reader, so the decode
    // dispatch lands in decodeStub for all rows — dims are pure functions
    // of java.util.Arrays.hashCode(payload) (h=1; h=31*h+b, 32-bit wrap;
    // bytes are ASCII so unsigned ord == signed byte), and Java's
    // truncate-toward-zero / and % are replayed with explicit sign cases
    // (DuckDB's // floors). The luminance feature vector stays spec-gated
    // (MultimodalSpec) and is dropped from the query projection.
    "er_pages_media_features" ->
      s"""WITH h AS (
           SELECT doc,
             list_reduce(
               list_prepend(1::HUGEINT,
                 list_transform(range(1, length(payload) + 1),
                   i -> ord(substr(payload, i, 1))::HUGEINT)),
               (acc, b) -> (acc * 31 + b) % 4294967296::HUGEINT) AS hu
           FROM '$OracleAuxDir/media_payloads/*.parquet'),
         s AS (
           SELECT doc,
             CAST(CASE WHEN hu >= 2147483648::HUGEINT
                  THEN hu - 4294967296::HUGEINT ELSE hu END AS BIGINT) AS hs
           FROM h),
         d AS (
           SELECT doc, hs,
             CASE WHEN hs >= 0 THEN hs // 961 ELSE -((-hs) // 961) END AS q
           FROM s)
         SELECT doc,
           CAST(64 + abs(hs - q * 961) AS INT) AS width,
           CAST(64 + abs(q - (CASE WHEN q >= 0 THEN q // 961
                ELSE -((-q) // 961) END) * 961) AS INT) AS height,
           3 AS channels
         FROM d""",
    // JSON upload replayed positionally: row i-1 = clknblocks[i]
    "q_clk_json" ->
      """WITH t AS (SELECT clknblocks AS l
                    FROM read_json_auto('/root/repo/fixtures/test_encoding.json')),
         i AS (SELECT unnest(range(1, len(l) + 1)) AS idx, l FROM t)
         SELECT CAST(idx - 1 AS BIGINT) AS entity_id,
                l[idx][1] AS b64,
                array_to_string(l[idx][2:], ',') AS blocks_csv
         FROM i""",
    // encodings+blocks map join replayed via map_entries; DuckDB lists
    // are 1-based so encoding id k reads encodings[k+1]
    "q_clk_json_blocks" ->
      """WITH t AS (SELECT encodings, blocks
                    FROM read_json('/root/repo/fixtures/test_encodings_blocks.json',
                      columns = {encodings: 'VARCHAR[]',
                                 blocks: 'MAP(VARCHAR, VARCHAR[])'})),
         e AS (SELECT unnest(map_entries(blocks)) AS ent, encodings FROM t)
         SELECT CAST(ent.key AS BIGINT) AS entity_id,
                encodings[CAST(ent.key AS INT) + 1] AS b64,
                array_to_string(ent.value, ',') AS blocks_csv
         FROM e""",
    // resize gate: ok-dispatch replayed from the INPUT payload's PNG
    // magic (hex compare; this DuckDB build has no blob slicing) and the
    // re-encoded IHDR header fields pinned to the requested geometry /
    // RGB color model. The Spark side reads those fields from the actual
    // output bytes, so both sides are independent of the resize code.
    "q_resize_meta" ->
      s"""WITH p AS (SELECT doc, hex(payload) AS hx
                     FROM '$OracleAuxDir/resize_inputs/*.parquet'),
         o AS (SELECT doc,
                 substring(hx, 1, 16) = '89504E470D0A1A0A' AS ok
               FROM p)
         SELECT doc, ok,
                CASE WHEN ok THEN 24 END AS hdr_w,
                CASE WHEN ok THEN 20 END AS hdr_h,
                CASE WHEN ok THEN 2 END AS hdr_color_type
         FROM o""",
    // CLK encoding rebuilt byte-by-byte from the distinct-positions dump:
    // byte b = Σ 1<<(pos&7) over positions in byte b (a left join against
    // the full 128-slot grid keeps zero bytes), hex via lpad, popcount =
    // count of distinct positions — hex string and count must both match
    "q_clk_encode" ->
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
         FROM h LEFT JOIN pc ON h.doc = pc.doc""",
    // BLIP hardening = XOR of the encoding with the flip mask: a bit
    // survives iff it is in exactly ONE of the two dumps (symmetric
    // difference), then the same byte/hex/popcount rebuild as q_clk_encode
    "q_clk_blip" ->
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
         FROM h LEFT JOIN pc ON h.doc = pc.doc""",
    // XOR-fold = parity per position class pos%512 (positions are
    // distinct, so multiplicity of {q, q+512} is 0/1/2; folded bit set
    // iff it is odd), then the byte/hex/popcount rebuild over 64 bytes
    "q_clk_fold" ->
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
         FROM h LEFT JOIN pc ON h.doc = pc.doc""",
    // bit-frequency audit replay: raw counts off the positions dump,
    // BLIP counts via the symmetric-difference fold, full 1024 range
    "q_bit_freq" ->
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
                LEFT JOIN nb ON nb.pos = g.pos""",
    // rank-alignment attack replay: both frequency rankings off the
    // dumps, deterministic (count DESC, key ASC) top-50, hit = the
    // aligned position is among the shingle's dumped hash positions
    "q_clk_attack" ->
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
         LEFT JOIN mp ON mp.sh = st.shingle AND mp.pos = pt.pos""",
    // folded-attack replay: per-record odd-parity pos%512 classes, same
    // deterministic rankings, hit vs the shingle's mod-512 positions
    "q_clk_attack_fold" ->
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
         LEFT JOIN mp ON mp.sh = st.shingle AND mp.pos = pt.pos""",
    // popcounts of the dp=0 binary upload recomputed word-by-word
    "q_popcount" ->
      """SELECT entity_id,
           CAST(list_sum(list_transform(words, w -> bit_count(w))) AS INT)
             AS popcount
         FROM '/root/repo/fixtures/febrl4_clks.parquet' WHERE dp = 0""",
    // frame slicing replayed with substr arithmetic (ASCII corpus: byte
    // offsets == character offsets; empty-frame docs excluded both sides
    // by the same nFrames floor)
    "q_frame_sample" ->
      """WITH f AS (
           SELECT doc_id AS doc, text,
                  unnest(range(0, length(text) // 64, 2)) AS frame_idx
           FROM documents)
         SELECT doc, CAST(frame_idx AS INT) AS frame_idx,
                substr(text, CAST(frame_idx AS INT) * 64 + 1, 64) AS frame_text
         FROM f""",
    // blocking metrics replayed from the pages_sig band-key dump; the
    // truth set replays the generator's shared-prefix contract
    // (dp-1 shared rows are exactly entity_id < floor(1000 * 0.75))
    "q_blocking_metrics" ->
      s"""WITH m AS (SELECT dp, entity_id, bks FROM '$OracleAuxDir/pages_sig/*.parquet'),
         cand AS (SELECT DISTINCT a.entity_id AS rec0, b.entity_id AS rec1
                  FROM m a JOIN m b
                  ON a.dp = 0 AND b.dp = 1
                    AND len(list_intersect(a.bks, b.bks)) > 0),
         n AS (SELECT CAST(count(*) FILTER (WHERE dp = 0) AS BIGINT) AS n0,
                      CAST(count(*) FILTER (WHERE dp = 1) AS BIGINT) AS n1
               FROM m),
         t AS (SELECT entity_id AS rec0, entity_id AS rec1 FROM m
               WHERE dp = 1 AND entity_id < 750),
         ca AS (SELECT CAST(count(*) AS BIGINT) AS n_cand,
                       CAST(count(*) FILTER (WHERE t.rec0 IS NOT NULL) AS BIGINT) AS tp
                FROM cand LEFT JOIN t
                ON cand.rec0 = t.rec0 AND cand.rec1 = t.rec1),
         ta AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM t)
         SELECT n_cand, n_true, tp,
                CAST(1 AS DOUBLE) - CAST(n_cand AS DOUBLE) / (n0 * n1) AS reduction_ratio,
                CAST(tp AS DOUBLE) / n_true AS pairs_completeness,
                CAST(tp AS DOUBLE) / n_cand AS pairs_quality
         FROM n, ca, ta""",
    // multi-pass union: one join per scheme, list_sort + array_to_string
    // == sort_array + concat_ws
    "q_blocking_union" ->
      """WITH x AS (SELECT doc_id AS id, split_part(text, ' ', 1) AS ft,
                           lang || '|' || source AS ls,
                           n_chars // 50 AS lb
                    FROM documents),
         per AS (
           SELECT a.id AS id0, b.id AS id1, 'first_token' AS scheme
           FROM x a JOIN x b ON a.ft = b.ft AND a.id < b.id
           UNION ALL
           SELECT a.id, b.id, 'lang_source'
           FROM x a JOIN x b ON a.ls = b.ls AND a.id < b.id
           UNION ALL
           SELECT a.id, b.id, 'len_bucket'
           FROM x a JOIN x b ON a.lb = b.lb AND a.id < b.id)
         SELECT id0, id1,
                array_to_string(list_sort(list_distinct(list(scheme))), ',')
                  AS schemes,
                CAST(len(list_distinct(list(scheme))) AS INT) AS n_schemes
         FROM per GROUP BY id0, id1""",
    // blocking-rule profile: one comb-2 aggregate per rule, UNION ALL;
    // the ratio divides doubles the same way the Scala side does
    "q_blocking_profile" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         ft AS (SELECT 'first_token' AS rule, CAST(count(*) AS BIGINT) AS n_blocks,
                       CAST(max(m) AS BIGINT) AS max_block,
                       CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_pairs
                FROM (SELECT count(*) AS m FROM documents
                      GROUP BY split_part(text, ' ', 1)) s),
         lg AS (SELECT 'lang' AS rule, CAST(count(*) AS BIGINT),
                       CAST(max(m) AS BIGINT),
                       CAST(sum(m * (m - 1) // 2) AS BIGINT)
                FROM (SELECT count(*) AS m FROM documents GROUP BY lang) s),
         ls AS (SELECT 'lang_source' AS rule, CAST(count(*) AS BIGINT),
                       CAST(max(m) AS BIGINT),
                       CAST(sum(m * (m - 1) // 2) AS BIGINT)
                FROM (SELECT count(*) AS m FROM documents
                      GROUP BY lang || '|' || source) s),
         lb AS (SELECT 'len_bucket' AS rule, CAST(count(*) AS BIGINT),
                       CAST(max(m) AS BIGINT),
                       CAST(sum(m * (m - 1) // 2) AS BIGINT)
                FROM (SELECT count(*) AS m FROM documents
                      GROUP BY n_chars // 100) s),
         u AS (SELECT * FROM ft UNION ALL SELECT * FROM lg
               UNION ALL SELECT * FROM ls UNION ALL SELECT * FROM lb)
         SELECT rule, n_blocks, max_block, n_pairs,
                CAST(1 AS DOUBLE) - CAST(n_pairs AS DOUBLE)
                  / (CAST(n.n AS DOUBLE) * (n.n - 1) / 2) AS reduction_ratio
         FROM u, n""",
    // B1/B3 over the pages corpus, replayed from the block-key dump
    "er_pages_block_stats" ->
      s"""WITH m AS (SELECT dp, entity_id, unnest(bks) AS block_key
                     FROM '$OracleAuxDir/pages_sig/*.parquet')
         SELECT dp, block_key, count(*) AS n FROM m GROUP BY 1, 2""",
    // M1 permutation construction replayed from the pairs + slot-hash
    // dumps: seeded shuffle ranks, matched-pair slot packing, remainder
    // fill per side (n0 = n1 = 1000, so the overflow ranges are empty)
    "er_febrl4_permutation" ->
      s"""WITH pairs AS (SELECT a_index, b_index FROM '$OracleAuxDir/perm_pairs/*.parquet'),
         slots AS (SELECT slot, h, h0, h1 FROM '$OracleAuxDir/perm_slots/*.parquet'),
         sh AS (SELECT slot, row_number() OVER (ORDER BY h, slot) - 1 AS shuffle_rank
                FROM slots),
         numbered AS (SELECT a_index, b_index,
                             row_number() OVER (ORDER BY a_index, b_index) - 1 AS g
                      FROM pairs),
         matched AS (SELECT n.a_index, n.b_index, s.slot
                     FROM numbered n JOIN sh s ON n.g = s.shuffle_rank),
         nm AS (SELECT count(*) AS n FROM pairs),
         unused AS (SELECT sl.slot, sl.h0, sl.h1
                    FROM sh JOIN slots sl ON sh.slot = sl.slot
                    WHERE sh.shuffle_rank >= (SELECT n FROM nm)),
         rem0 AS (SELECT slot, row_number() OVER (ORDER BY h0, slot) - 1 AS rk FROM unused),
         rem1 AS (SELECT slot, row_number() OVER (ORDER BY h1, slot) - 1 AS rk FROM unused),
         un0 AS (SELECT r.range AS row_index,
                        row_number() OVER (ORDER BY r.range) - 1 AS rk
                 FROM range(0, 1000) r
                 WHERE r.range NOT IN (SELECT a_index FROM pairs)),
         un1 AS (SELECT r.range AS row_index,
                        row_number() OVER (ORDER BY r.range) - 1 AS rk
                 FROM range(0, 1000) r
                 WHERE r.range NOT IN (SELECT b_index FROM pairs)),
         perm AS (
           SELECT 0 AS dp, a_index AS row_index, slot FROM matched
           UNION ALL
           SELECT 0 AS dp, u.row_index, m.slot FROM un0 u JOIN rem0 m ON u.rk = m.rk
           UNION ALL
           SELECT 1 AS dp, b_index AS row_index, slot FROM matched
           UNION ALL
           SELECT 1 AS dp, u.row_index, m.slot FROM un1 u JOIN rem1 m ON u.rk = m.rk)
         SELECT CAST(dp AS INT) AS dp, CAST(row_index AS BIGINT) AS row_index,
                CAST(slot AS BIGINT) AS slot
         FROM perm""",
    // Hamming bit-sampling LSH replay: Weyl-sequence positions, per-band
    // bit keys, (band,key) pairing + exact Dice confirm — all from the
    // committed fixture, no aux state
    "q_hamming_lsh" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         pos AS (SELECT j, CAST(((CAST(j+1 AS HUGEINT) * 11400714819323198485)
                   % 18446744073709551616) >> 54 AS BIGINT) AS p
                 FROM (SELECT unnest(range(0, 768)) AS j)),
         keys AS (
           SELECT c.dp, c.entity_id AS rec, pos.j // 12 AS band,
                  CAST(SUM(((c.words[CAST(pos.p // 64 AS INTEGER) + 1]
                    >> CAST(pos.p % 64 AS INTEGER)) & 1)
                    << (pos.j % 12)) AS BIGINT) AS key
           FROM c, pos GROUP BY 1, 2, 3),
         cand AS (
           SELECT a.dp AS dp0, a.rec AS rec0, b.dp AS dp1, b.rec AS rec1,
                  count(*) AS n_bands
           FROM keys a JOIN keys b
             ON a.band = b.band AND a.key = b.key AND a.dp < b.dp
           GROUP BY 1, 2, 3, 4),
         conf AS (
           SELECT cand.dp0, cand.rec0, cand.dp1, cand.rec1, cand.n_bands,
                  2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(x.words[i] & y.words[i]))) / (x.pc + y.pc)
                    AS sim
           FROM cand JOIN c x ON x.dp = cand.dp0 AND x.entity_id = cand.rec0
                     JOIN c y ON y.dp = cand.dp1 AND y.entity_id = cand.rec1)
         SELECT dp0, rec0, dp1, rec1, n_bands, sim
         FROM conf WHERE sim >= 0.8""",
    "q_clk_edges_topk" ->
      """WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp),
         t AS (SELECT *, row_number() OVER (PARTITION BY dp0, rec0
                 ORDER BY sim DESC, dp1, rec1) AS rn
               FROM p WHERE sim >= 0.8)
         SELECT sim, dp0, rec0, dp1, rec1 FROM t WHERE rn <= 2""",
    // MinHash-LSH pairing replayed from the minhash_sig dump: candidates
    // share >= 1 band key, confirm = exact shingle Jaccard
    "q_minhash_pairs" ->
      s"""WITH m AS (SELECT doc, sh, bks FROM '$OracleAuxDir/minhash_sig/*.parquet'),
         p AS (
           SELECT a.doc AS id0, b.doc AS id1,
                  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
           FROM m a JOIN m b ON a.doc < b.doc
             AND len(list_intersect(a.bks, b.bks)) > 0)
         SELECT id0, id1, jaccard FROM p WHERE jaccard >= 0.5""",
    // estimator-accuracy replay: same pairing as q_minhash_pairs, n_eq
    // from positional component equality over the dumped vals arrays
    "q_minhash_acc" ->
      s"""WITH m AS (SELECT doc, sh, vals, bks
                     FROM '$OracleAuxDir/minhash_acc_sig/*.parquet'),
         p AS (
           SELECT a.doc AS id0, b.doc AS id1,
                  CAST(list_sum(list_transform(range(1, 33),
                    i -> CASE WHEN a.vals[i] = b.vals[i]
                         THEN 1 ELSE 0 END)) AS BIGINT) AS n_eq,
                  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
           FROM m a JOIN m b ON a.doc < b.doc
             AND len(list_intersect(a.bks, b.bks)) > 0),
         q AS (SELECT id0, id1, n_eq,
                      round(CAST(n_eq AS DOUBLE) / 32, 4) AS est_jaccard,
                      jaccard
               FROM p)
         SELECT id0, id1, n_eq, est_jaccard, jaccard,
                round(abs(est_jaccard - jaccard), 4) AS abs_err
         FROM q""",
    // b-bit replay off the same component dump: components equal under
    // the low-4-bit mask (& 15 — two's complement in both engines), then
    // the exact-integer bias correction (16·n_eq_b − 32)/480 for k=32,
    // b=4 (can go negative at tiny J: that IS the unbiased estimator)
    "q_bbit_minhash" ->
      s"""WITH p AS (
           SELECT a.doc AS id0, b.doc AS id1,
                  CAST(list_sum(list_transform(range(1, 33),
                    i -> CASE WHEN (a.vals[i] & 15) = (b.vals[i] & 15)
                         THEN 1 ELSE 0 END)) AS BIGINT) AS n_eq_b,
                  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
           FROM '$OracleAuxDir/minhash_acc_sig/*.parquet' a
           JOIN '$OracleAuxDir/minhash_acc_sig/*.parquet' b
             ON a.doc < b.doc AND len(list_intersect(a.bks, b.bks)) > 0),
         q AS (SELECT id0, id1, n_eq_b,
                      round(CAST(n_eq_b * 16 - 32 AS DOUBLE) / 480, 4)
                        AS est_bbit,
                      jaccard
               FROM p)
         SELECT id0, id1, n_eq_b, est_bbit, jaccard,
                round(abs(est_bbit - jaccard), 4) AS abs_err
         FROM q""",
    // weighted-LSH replay from the wminhash_sig dump: candidates share a
    // band key; mem entries are unique ("tok§i"), so list_intersect IS
    // the capped Σmin and the integer cut replays exactly
    "q_wjaccard_lsh" ->
      s"""WITH m AS (SELECT doc, mem, bks FROM '$OracleAuxDir/wminhash_sig/*.parquet'),
         p AS (
           SELECT a.doc AS id0, b.doc AS id1,
                  CAST(len(list_intersect(a.mem, b.mem)) AS INTEGER) AS wj_num,
                  CAST(len(a.mem) + len(b.mem)
                       - len(list_intersect(a.mem, b.mem)) AS BIGINT) AS wj_den
           FROM m a JOIN m b ON a.doc < b.doc
             AND len(list_intersect(a.bks, b.bks)) > 0)
         SELECT id0, id1, wj_num, wj_den,
                round(CAST(wj_num AS DOUBLE) / wj_den, 4) AS wjaccard
         FROM p WHERE wj_num * 1000000 >= 700000 * wj_den""",
    // the delta contract stated as SQL: the full pairing replay
    // restricted to pairs with >=1 endpoint in the new-batch slice
    "q_minhash_delta" ->
      s"""WITH m AS (SELECT doc, sh, bks FROM '$OracleAuxDir/minhash_sig/*.parquet'),
         p AS (
           SELECT a.doc AS id0, b.doc AS id1,
                  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
           FROM m a JOIN m b ON a.doc < b.doc
             AND len(list_intersect(a.bks, b.bks)) > 0)
         SELECT id0, id1, jaccard FROM p
         WHERE jaccard >= 0.5 AND (id0 % 10 = 7 OR id1 % 10 = 7)""",
    // LSH-eval replay: one all-pairs table over the even-doc signatures
    // yields both sides — exact = jaccard >= t, LSH = exact AND >=1
    // shared band key — so tp/precision/recall are filtered counts. The
    // LSH set is a subset of exact by construction (same confirm
    // threshold), which is exactly what the Spark full-outer-join
    // computes, so tp == n_lsh is the faithful replay, not a shortcut.
    "q_neardup_eval" ->
      s"""WITH m AS (SELECT doc, sh, bks FROM '$OracleAuxDir/minhash_sig/*.parquet'
                     WHERE doc % 2 = 0),
         jp AS (
           SELECT round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS j,
                  len(list_intersect(a.bks, b.bks)) > 0 AS cand
           FROM m a JOIN m b ON a.doc < b.doc),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
                       CAST(count(*) FILTER (WHERE cand) AS BIGINT) AS n_lsh,
                       CAST(count(*) FILTER (WHERE cand) AS BIGINT) AS tp
                FROM jp WHERE j >= 0.5)
         SELECT n_exact, n_lsh, tp,
                CASE WHEN n_lsh > 0 THEN CAST(tp AS DOUBLE) / n_lsh
                     ELSE 0.0 END AS "precision",
                CASE WHEN n_exact > 0 THEN CAST(tp AS DOUBLE) / n_exact
                     ELSE 0.0 END AS recall
         FROM ag""",
    // group resolution: same pairing replay as q_minhash_pairs, then the
    // transitive closure as a recursive CTE (min reachable id per node ==
    // the CC solver's component label, which is also min member id)
    "q_neardup_groups" ->
      s"""WITH RECURSIVE
         m AS (SELECT doc, sh, bks FROM '$OracleAuxDir/minhash_sig/*.parquet'),
         p AS (
           SELECT a.doc AS id0, b.doc AS id1
           FROM m a JOIN m b ON a.doc < b.doc
             AND len(list_intersect(a.bks, b.bks)) > 0
           WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
             >= 0.5),
         e AS (SELECT id0 AS u, id1 AS v FROM p
               UNION SELECT id1, id0 FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.v, reach.r FROM e JOIN reach ON e.u = reach.id),
         g AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id)
         SELECT id, group_id, (id = group_id) AS is_canonical FROM g""",
    // funnel replay: exact survivors = min doc per md5(text); near-dup
    // stage = the minhash_sig pairing restricted to exact survivors
    // (per-doc signatures make subset pairing == filtered full pairing),
    // min-label closure, keep component minima; three unioned stage rows
    "q_dedup_funnel" ->
      s"""WITH RECURSIVE
         d AS (SELECT doc_id AS id, text,
                      CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
         ek AS (SELECT md5(text) AS k, min(id) AS id FROM d GROUP BY 1),
         es AS (SELECT d.* FROM d JOIN ek ON d.id = ek.id),
         m0 AS (SELECT doc, sh, bks FROM '$OracleAuxDir/minhash_sig/*.parquet'),
         m AS (SELECT m0.* FROM m0 JOIN es ON m0.doc = es.id),
         p AS (
           SELECT a.doc AS id0, b.doc AS id1
           FROM m a JOIN m b ON a.doc < b.doc
             AND len(list_intersect(a.bks, b.bks)) > 0
           WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
             >= 0.5),
         e AS (SELECT id0 AS u, id1 AS v FROM p
               UNION SELECT id1, id0 FROM p),
         reach(id, r) AS (
           SELECT id, id FROM es
           UNION
           SELECT e.v, reach.r FROM e JOIN reach ON e.u = reach.id),
         g AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id),
         ns AS (SELECT es.* FROM es JOIN g ON es.id = g.id
                WHERE g.id = g.group_id)
         SELECT 0 AS stage_idx, 'raw' AS stage,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM d
         UNION ALL
         SELECT 1, 'exact', CAST(count(*) AS BIGINT),
                CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM es
         UNION ALL
         SELECT 2, 'neardup', CAST(count(*) AS BIGINT),
                CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM ns""",
    // keep-best replay: same group closure, then a per-group argmax by
    // token count (ties to the smallest id) via a window
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE
         m AS (SELECT doc, sh, bks FROM '$OracleAuxDir/minhash_sig/*.parquet'),
         p AS (
           SELECT a.doc AS id0, b.doc AS id1
           FROM m a JOIN m b ON a.doc < b.doc
             AND len(list_intersect(a.bks, b.bks)) > 0
           WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
             >= 0.5),
         e AS (SELECT id0 AS u, id1 AS v FROM p
               UNION SELECT id1, id0 FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.v, reach.r FROM e JOIN reach ON e.u = reach.id),
         g AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id),
         sc AS (SELECT doc_id AS id,
                       CAST(len(str_split(text, ' ')) AS BIGINT) AS score
                FROM documents),
         r AS (SELECT g.group_id, sc.id, sc.score,
                      row_number() OVER (PARTITION BY g.group_id
                        ORDER BY sc.score DESC, sc.id ASC) AS rn,
                      count(*) OVER (PARTITION BY g.group_id) AS gs
               FROM g JOIN sc ON g.id = sc.id)
         SELECT group_id, id AS keeper_id, CAST(gs AS BIGINT) AS group_size,
                score AS keeper_score
         FROM r WHERE rn = 1""",
    // SimHash pairing replayed from the simhash_sig dump (4-band
    // pigeonhole is exact for maxDist<=3, so banded == brute force)
    "q_simhash_pairs" ->
      s"""WITH s AS (SELECT doc, sh FROM '$OracleAuxDir/simhash_sig/*.parquet')
         SELECT a.doc AS id0, b.doc AS id1,
                CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS dist
         FROM s a JOIN s b ON a.doc < b.doc
         WHERE bit_count(xor(a.sh, b.sh)) <= 3""",
    // sign-LSH ANN top-k replayed from the ann_sig dump
    "q_ann_lsh_topk" ->
      s"""WITH v AS (SELECT vid, v, bks FROM '$OracleAuxDir/ann_sig/*.parquet'),
         s AS (
           SELECT q.vid AS query_id, c.vid AS neighbor_id,
                  round(list_cosine_similarity(q.v, c.v), 6) AS cos
           FROM v q JOIN v c ON q.vid < 10 AND c.vid <> q.vid
             AND len(list_intersect(q.bks, c.bks)) > 0),
         r AS (
           SELECT query_id, neighbor_id, cos,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 5""",
    "q_ann_ivf_topk" ->
      s"""WITH v AS (SELECT vid, v, list, probes FROM '$OracleAuxDir/ivf_sig/*.parquet'),
         s AS (
           SELECT q.vid AS query_id, c.vid AS neighbor_id,
                  round(list_dot_product(q.v, c.v), 6) AS cos
           FROM v q JOIN v c ON q.vid < 10 AND c.vid <> q.vid
             AND list_contains(q.probes, c.list)),
         r AS (
           SELECT query_id, neighbor_id, cos,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 5""",
    // recall@5 = the q_topk_cosine exact chain LEFT-joined with the
    // q_ann_ivf_topk probe chain, hits counted per query
    "q_ann_recall" ->
      s"""WITH ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         ex_s AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(q.e, c.e), 6) AS cos
           FROM ve q JOIN ve c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         ex_r AS (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank FROM ex_s),
         exact AS (SELECT query_id, neighbor_id FROM ex_r WHERE rank <= 5),
         vi AS (SELECT vid, v, list, probes FROM '$OracleAuxDir/ivf_sig/*.parquet'),
         iv_s AS (
           SELECT q.vid AS query_id, c.vid AS neighbor_id,
                  round(list_dot_product(q.v, c.v), 6) AS cos
           FROM vi q JOIN vi c ON q.vid < 10 AND c.vid <> q.vid
             AND list_contains(q.probes, c.list)),
         iv_r AS (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank FROM iv_s),
         ivf AS (SELECT query_id, neighbor_id, 1 AS hit
                 FROM iv_r WHERE rank <= 5)
         SELECT e.query_id,
                CAST(sum(coalesce(i.hit, 0)) AS BIGINT) AS n_hits,
                CAST(sum(coalesce(i.hit, 0)) * 2000 AS BIGINT) AS recall_scaled
         FROM exact e LEFT JOIN ivf i
           ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         GROUP BY e.query_id""",
    // full PQ replay from the dumped quantized vectors + codebooks:
    // code assignment (argmin integer subspace distance, (dist, cid)
    // tie-break) and the ADC search (summed table distances, ascending
    // (adist, neighbor) top-k) are both re-derived in SQL — every
    // number is integer arithmetic, so the match is bit-for-bit
    "q_ann_pq_topk" ->
      s"""WITH u AS (SELECT vid, uv FROM '$OracleAuxDir/pq_uv/*.parquet'),
         d AS (SELECT vid,
                      CAST((generate_subscripts(uv, 1) - 1) // 8 AS INT) AS m,
                      CAST((generate_subscripts(uv, 1) - 1) % 8 AS INT) AS pos,
                      unnest(uv) AS x
               FROM u),
         cb AS (SELECT m, cid,
                       CAST(generate_subscripts(cv, 1) - 1 AS INT) AS pos,
                       unnest(cv) AS cx
                FROM '$OracleAuxDir/pq_codebook/*.parquet'),
         ad AS (SELECT d.vid, d.m, cb.cid,
                       sum(CAST(d.x - cb.cx AS BIGINT) * (d.x - cb.cx)) AS dist
                FROM d JOIN cb ON d.m = cb.m AND d.pos = cb.pos
                GROUP BY 1, 2, 3),
         codes AS (SELECT vid, m, cid AS code FROM (
                     SELECT *, row_number() OVER (PARTITION BY vid, m
                       ORDER BY dist, cid) AS rn FROM ad) WHERE rn = 1),
         dtab AS (SELECT vid AS query_id, m, cid AS code, dist AS pd
                  FROM ad WHERE vid < 10),
         s AS (SELECT t.query_id, c.vid AS neighbor_id,
                      CAST(sum(t.pd) AS BIGINT) AS adist
               FROM codes c JOIN dtab t ON c.m = t.m AND c.code = t.code
               WHERE c.vid <> t.query_id GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, adist,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY adist, neighbor_id) AS BIGINT) AS rank
               FROM s)
         SELECT query_id, neighbor_id, rank, adist FROM r WHERE rank <= 5""",
    "q_cosine_pairs_lsh" ->
      s"""WITH v AS (SELECT vid, v, bks FROM '$OracleAuxDir/ann_sig/*.parquet'),
         p AS (
           SELECT a.vid AS id0, b.vid AS id1,
                  round(list_cosine_similarity(a.v, b.v), 6) AS cos
           FROM v a JOIN v b ON a.vid < b.vid
             AND len(list_intersect(a.bks, b.bks)) > 0)
         SELECT id0, id1, cos FROM p WHERE cos >= 0.4""",
    "q_fingerprint_md5" ->
      "SELECT doc_id, md5(text) AS fp_md5 FROM documents",
    // Heaps curve: first-occurrence checkpoint of each token + window
    // cumsums over the checkpoint grain (sums cast — DuckDB window
    // sum(BIGINT) is decimal128)
    "q_vocab_growth" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                    FROM documents),
         fs AS (SELECT token, min(doc_id) AS first_id FROM t GROUP BY token),
         nv AS (SELECT (first_id // 50) * 50 + 50 AS docs_seen,
                       count(*) AS n FROM fs GROUP BY 1),
         nt AS (SELECT (doc_id // 50) * 50 + 50 AS docs_seen,
                       count(*) AS n FROM t GROUP BY 1)
         SELECT nt.docs_seen,
                CAST(sum(COALESCE(nv.n, 0)) OVER (ORDER BY nt.docs_seen)
                  AS BIGINT) AS vocab,
                CAST(sum(nt.n) OVER (ORDER BY nt.docs_seen)
                  AS BIGINT) AS total_tokens
         FROM nt LEFT JOIN nv ON nt.docs_seen = nv.docs_seen""",
    // ccnet buckets: same LM score replay + per-lang ntile(3) with the
    // identical (score DESC, doc_id) tie-broken order
    "q_ccnet_bucket" ->
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token
                      FROM documents),
         freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
         tot AS (SELECT sum(cnt) AS total FROM freq),
         lp AS (SELECT doc_id,
                       round(avg(log10(CAST(f.cnt AS DOUBLE) / t.total)), 6)
                         AS mean_logprob
                FROM tok JOIN freq f USING (token), tot t
                GROUP BY doc_id),
         j AS (SELECT d.doc_id, d.lang, lp.mean_logprob
               FROM documents d JOIN lp USING (doc_id))
         SELECT doc_id, lang, mean_logprob,
                CASE ntile(3) OVER (PARTITION BY lang
                       ORDER BY mean_logprob DESC, doc_id)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
                END AS bucket
         FROM j""",
    "q_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
         freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
         tot AS (SELECT sum(cnt) AS total FROM freq)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(log10(CAST(f.cnt AS DOUBLE) / t.total)), 6) AS mean_logprob
         FROM tok JOIN freq f USING (token), tot t
         GROUP BY doc_id""",
    // bigram replay via a positional self-join (Spark zips the token
    // array with its own tail — same pairs); add-one smoothing over the
    // same integer counts, one IEEE division per bigram
    "q_bigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w,
                             generate_subscripts(str_split(text, ' '), 1) AS i
                      FROM documents),
         bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
                FROM tok a JOIN tok b
                  ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         big AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
         ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM big GROUP BY 1),
         v AS (SELECT count(DISTINCT w) AS v FROM tok)
         SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(avg(log10(CAST(cb + 1 AS DOUBLE) /
                  CAST(c1 + v.v AS DOUBLE))), 6) AS mean_logprob2
         FROM bg JOIN big USING (w1, w2) JOIN ctx USING (w1), v
         GROUP BY bg.doc_id""",
    // the oracle never sees the ORC layout — it aggregates the ORIGINAL
    // parquet, so any loss/dup/type-drift in the write+read round trip
    // breaks the match
    // exclusion (self + shared dup-group) and hash-order top-k replayed
    // from first principles; groups recomputed from documents, hashes
    // from the neg_hash dump
    "q_neg_sample" ->
      s"""WITH g AS (SELECT doc_id,
                array_to_string(str_split(text, ' ')[1:3], ' ') AS gk
              FROM documents),
         hp AS (SELECT anchor_id, cand_id, h
                FROM '$OracleAuxDir/neg_hash/*.parquet'),
         c AS (SELECT hp.anchor_id, hp.cand_id, hp.h
               FROM hp
               JOIN g ga ON ga.doc_id = hp.anchor_id
               JOIN g gc ON gc.doc_id = hp.cand_id
               WHERE hp.cand_id <> hp.anchor_id AND ga.gk <> gc.gk),
         r AS (SELECT anchor_id, cand_id, h,
                      CAST(row_number() OVER (PARTITION BY anchor_id
                        ORDER BY h, cand_id) AS BIGINT) AS rank FROM c)
         SELECT anchor_id, cand_id, rank, h FROM r WHERE rank <= 3""",
    // expected stats recomputed straight from the source table: the
    // query's numbers came through two checkpoints, a manifest resume,
    // and the lineage sum — all must agree with direct SQL
    "q_checkpoint_resume" ->
      """WITH c AS (SELECT lang, n_chars FROM documents
                    WHERE length(text) >= 20),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS lineage_rows FROM c)
         SELECT lang, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                tot.lineage_rows, tot.lineage_rows AS computed_rows,
                true AS resumed
         FROM c, tot GROUP BY lang, tot.lineage_rows""",
    // independent regeneration of the link corpus from its arithmetic
    // formula — the files the query wrote are never consulted
    "q_warc_roundtrip" ->
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS doc),
         h AS (SELECT doc,
                 '<html><body><p>Page ' || doc ||
                 '.</p><a href="https://site.example/p/' || ((doc*7+1)%300) ||
                 '">next page ' || ((doc*7+1)%300) || '</a>' ||
                 CASE WHEN doc % 3 = 0
                   THEN '<a href="https://site.example/p/' || ((doc*3+5)%300)
                     || '" rel="nofollow">see also</a>'
                   ELSE '' END ||
                 '</body></html>' AS payload
               FROM g)
         SELECT CAST(doc AS BIGINT) AS doc,
                'https://site.example/p/' || doc AS url,
                'response' AS warc_type,
                '2026-01-01T00:00:00Z' AS warc_date,
                CAST(length(payload) AS INT) AS content_length, payload
         FROM h""",
    // extraction replay: DuckDB's RE2 runs the same alternation-free
    // pattern; parallel unnests zip positionally, matching Spark's
    // posexplode over the zipped capture lists
    "q_link_extract" ->
      s"""WITH t AS (SELECT doc,
              regexp_extract_all(html,
                '<a href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS hrefs,
              regexp_extract_all(html,
                '<a href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS anchors
            FROM '$OracleAuxDir/link_pages/*.parquet')
         SELECT doc AS src,
                CAST(generate_subscripts(hrefs, 1) - 1 AS INT) AS pos,
                unnest(hrefs) AS href, unnest(anchors) AS anchor
         FROM t""",
    // BFS level sets are unique, so three chained rounds replay the
    // distances exactly (MATERIALIZED: chained CTEs referenced multiple
    // times re-evaluate exponentially otherwise)
    "q_bfs_hops" ->
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS src),
         e AS MATERIALIZED (
           SELECT src, (src*7+1)%300 AS dst FROM g
           UNION ALL
           SELECT src, (src*3+5)%300 FROM g WHERE src % 3 = 0),
         d0 AS MATERIALIZED (SELECT unnest([0, 150]) AS node),
         d1 AS MATERIALIZED (
           SELECT DISTINCT e.dst AS node FROM d0 JOIN e ON d0.node = e.src
           WHERE e.dst NOT IN (SELECT node FROM d0)),
         d2 AS MATERIALIZED (
           SELECT DISTINCT e.dst AS node FROM d1 JOIN e ON d1.node = e.src
           WHERE e.dst NOT IN (SELECT node FROM d0)
             AND e.dst NOT IN (SELECT node FROM d1)),
         d3 AS MATERIALIZED (
           SELECT DISTINCT e.dst AS node FROM d2 JOIN e ON d2.node = e.src
           WHERE e.dst NOT IN (SELECT node FROM d0)
             AND e.dst NOT IN (SELECT node FROM d1)
             AND e.dst NOT IN (SELECT node FROM d2))
         SELECT CAST(node AS BIGINT) AS node, CAST(0 AS INT) AS dist FROM d0
         UNION ALL SELECT CAST(node AS BIGINT), 1 FROM d1
         UNION ALL SELECT CAST(node AS BIGINT), 2 FROM d2
         UNION ALL SELECT CAST(node AS BIGINT), 3 FROM d3""",
    // PPR replay: pagerank's chained CTEs with the restart term gated on
    // the seed set and rank0 = scale only at seeds
    "q_ppr" ->
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS n),
         e0 AS MATERIALIZED (
           SELECT n AS src, (n*7+1)%300 AS dst FROM g
           UNION ALL
           SELECT n, (n*3+5)%300 FROM g WHERE n % 3 = 0),
         deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
         nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         r0 AS (SELECT id, CAST(CASE WHEN id IN (0, 150)
                  THEN 1000000000000 ELSE 0 END AS BIGINT) AS rank
                FROM nodes),
         c1 AS (SELECT e0.dst AS id, CAST(sum(r0.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r0 ON r0.id = e0.src
                GROUP BY 1),
         r1 AS (SELECT n.id,
                  (CASE WHEN n.id IN (0, 150) THEN 150000000000 ELSE 0 END)
                  + (COALESCE(c1.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c1 USING (id)),
         c2 AS (SELECT e0.dst AS id, CAST(sum(r1.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r1 ON r1.id = e0.src
                GROUP BY 1),
         r2 AS (SELECT n.id,
                  (CASE WHEN n.id IN (0, 150) THEN 150000000000 ELSE 0 END)
                  + (COALESCE(c2.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c2 USING (id)),
         c3 AS (SELECT e0.dst AS id, CAST(sum(r2.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r2 ON r2.id = e0.src
                GROUP BY 1),
         r3 AS (SELECT n.id,
                  (CASE WHEN n.id IN (0, 150) THEN 150000000000 ELSE 0 END)
                  + (COALESCE(c3.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c3 USING (id))
         SELECT CAST(id AS BIGINT) AS id, CAST(rank AS BIGINT) AS rank
         FROM r3""",
    // HITS replay: same formula-derived edge list, two iterations of
    // sum + max-normalise (floored //) per side, chained CTEs
    "q_hits" ->
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS n),
         e AS MATERIALIZED (
           SELECT n AS src, (n*7+1)%300 AS dst FROM g
           UNION ALL
           SELECT n, (n*3+5)%300 FROM g WHERE n % 3 = 0),
         nodes AS MATERIALIZED (
           SELECT src AS node FROM e UNION SELECT dst FROM e),
         ra1 AS MATERIALIZED (
           SELECT e.dst AS node, SUM(CAST(1000000 AS BIGINT)) AS raw
           FROM e GROUP BY 1),
         a1 AS MATERIALIZED (
           SELECT n.node,
                  COALESCE((ra1.raw * 1000000) // (SELECT MAX(raw) FROM ra1), 0) AS v
           FROM nodes n LEFT JOIN ra1 USING (node)),
         rh1 AS MATERIALIZED (
           SELECT e.src AS node, SUM(a1.v) AS raw
           FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
         h1 AS MATERIALIZED (
           SELECT n.node,
                  COALESCE((rh1.raw * 1000000) // (SELECT MAX(raw) FROM rh1), 0) AS v
           FROM nodes n LEFT JOIN rh1 USING (node)),
         ra2 AS MATERIALIZED (
           SELECT e.dst AS node, SUM(h1.v) AS raw
           FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
         a2 AS MATERIALIZED (
           SELECT n.node,
                  COALESCE((ra2.raw * 1000000) // (SELECT MAX(raw) FROM ra2), 0) AS v
           FROM nodes n LEFT JOIN ra2 USING (node)),
         rh2 AS MATERIALIZED (
           SELECT e.src AS node, SUM(a2.v) AS raw
           FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
         h2 AS MATERIALIZED (
           SELECT n.node,
                  COALESCE((rh2.raw * 1000000) // (SELECT MAX(raw) FROM rh2), 0) AS v
           FROM nodes n LEFT JOIN rh2 USING (node))
         SELECT CAST(h2.node AS BIGINT) AS node,
                CAST(h2.v AS BIGINT) AS hub, CAST(a2.v AS BIGINT) AS auth
         FROM h2 JOIN a2 USING (node)""",
    // frontier replay from the link formula: edges of crawled pages
    // (src < 200), targets outside the crawled range, grouped
    "q_crawl_frontier" ->
      """WITH g AS (SELECT unnest(generate_series(0, 199)) AS src),
         l AS (SELECT src, (src*7+1)%300 AS tgt FROM g
               UNION ALL
               SELECT src, (src*3+5)%300 FROM g WHERE src % 3 = 0),
         f AS (SELECT src, tgt FROM l WHERE tgt >= 200)
         SELECT 'https://site.example/p/' || tgt AS href,
                CAST(count(*) AS BIGINT) AS in_degree,
                CAST(count(DISTINCT src) AS BIGINT) AS n_referrers
         FROM f GROUP BY 1""",
    // independent schedule replay: same md5-prefix worker routing
    // (CAST('0x…' AS BIGINT) == Spark's conv(…,16,10) for 8 hex digits),
    // same per-host URL-ordered spacing
    "q_fetch_schedule" ->
      """WITH u AS (SELECT 'https://h' || (doc_id % 7) || '.example/d/'
                             || doc_id AS url,
                           'h' || (doc_id % 7) || '.example' AS host
                    FROM documents),
         r AS (SELECT url, host,
                      CAST(CAST('0x' || substring(md5(host), 1, 8) AS BIGINT)
                        % 5 AS INT) AS worker,
                      CAST(row_number() OVER (PARTITION BY host
                        ORDER BY url) - 1 AS BIGINT) AS fetch_seq
               FROM u)
         SELECT url, host, worker, fetch_seq,
                fetch_seq * 200 AS fetch_at_ms FROM r""",
    // anchor aggregation replay from the link_pages dump: Spark's
    // max(struct(cnt, anchor)) == row_number ORDER BY cnt DESC,
    // anchor DESC
    "q_anchor_text" ->
      s"""WITH t AS (SELECT doc,
              regexp_extract_all(html,
                '<a href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS hrefs,
              regexp_extract_all(html,
                '<a href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS anchors
            FROM '$OracleAuxDir/link_pages/*.parquet'),
         e AS (SELECT doc AS src, unnest(hrefs) AS href,
                      unnest(anchors) AS anchor FROM t),
         per AS (SELECT href, anchor, count(*) AS cnt FROM e GROUP BY 1, 2),
         agg AS (SELECT href, CAST(sum(cnt) AS BIGINT) AS in_degree
                 FROM per GROUP BY 1),
         tp AS (SELECT href, anchor AS top_anchor, CAST(cnt AS BIGINT) AS top_cnt
                FROM (SELECT *, row_number() OVER (PARTITION BY href
                        ORDER BY cnt DESC, anchor DESC) AS rn FROM per)
                WHERE rn = 1),
         ns AS (SELECT href, CAST(count(DISTINCT src) AS BIGINT) AS n_sources
                FROM e GROUP BY 1)
         SELECT href, in_degree, n_sources, top_anchor, top_cnt
         FROM agg JOIN tp USING (href) JOIN ns USING (href)""",
    // independent rule evaluation over the regenerated URL set: same
    // longest-prefix / disallow-tie / default-allow semantics
    "q_robots_filter" ->
      """WITH g AS (SELECT unnest(generate_series(0, 299)) AS doc),
         u AS (SELECT 'https://site.example/p/' || doc AS url,
                      'site.example' AS host, '/p/' || doc AS path FROM g),
         r(host, prefix, allow) AS (VALUES
           ('site.example', '/p/', true), ('site.example', '/p/1', false),
           ('site.example', '/p/13', true), ('site.example', '/p/2', false)),
         m AS (SELECT u.url, r.prefix, r.allow,
                      row_number() OVER (PARTITION BY u.url
                        ORDER BY length(r.prefix) DESC, r.allow, r.prefix) AS rn
               FROM u JOIN r ON u.host = r.host
                 AND starts_with(u.path, r.prefix)),
         b AS (SELECT url, prefix AS rule_prefix, allow FROM m WHERE rn = 1)
         SELECT u.url, u.host, u.path,
                COALESCE(b.allow, true) AS allowed,
                COALESCE(b.rule_prefix, '') AS rule_prefix
         FROM u LEFT JOIN b USING (url)""",
    // evolved-read replay straight off the source: even docs carry NULL
    // n_chars (v1 rows), odd docs their real value
    "q_schema_evolution" ->
      """SELECT lang, count(*) AS n,
                count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with_chars,
                CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END)
                     AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang""",
    "q_orc_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents WHERE lang IN ('en', 'de') GROUP BY lang""",
    "q_clean_corpus" ->
      """WITH q AS (
           SELECT doc_id, text,
                  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
                  round(CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
                    / len(str_split(text, ' ')), 4) AS ttr,
                  round(CAST(len(list_filter(str_split(text, ' '),
                    t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                    / len(str_split(text, ' ')), 4) AS stop_ratio
           FROM documents)
         SELECT array_to_string(str_split(text, ' ')[1:3], ' ') AS dup_key,
                min(doc_id) AS keeper_id, count(*) AS group_size
         FROM q
         WHERE n_tokens BETWEEN 5 AND 5000 AND ttr >= 0.3 AND stop_ratio >= 0.05
         GROUP BY 1""",
    "q_block_stats" ->
      """SELECT CAST(doc_id % 2 AS INT) AS dp, str_split(text, ' ')[1] AS block_key,
         count(*) AS n FROM documents GROUP BY 1, 2""",
    "q_common_blocks" ->
      """SELECT block_key FROM (
           SELECT str_split(text, ' ')[1] AS block_key, count(DISTINCT doc_id % 2) AS ndp
           FROM documents GROUP BY 1) WHERE ndp = 2""",
    "q_total_comparisons" ->
      """WITH per AS (
           SELECT str_split(text, ' ')[1] AS block_key, CAST(doc_id % 2 AS INT) AS dp,
                  count(*) AS n FROM documents GROUP BY 1, 2)
         SELECT CAST(COALESCE(SUM(l.n * r.n), 0) AS BIGINT) AS total_comparisons
         FROM per l JOIN per r ON l.block_key = r.block_key AND l.dp < r.dp""",
    "q_candidate_pairs" ->
      """WITH b AS (
           SELECT str_split(text, ' ')[1] AS block_key, CAST(doc_id % 2 AS INT) AS dp,
                  doc_id AS id FROM documents)
         SELECT l.block_key, l.id AS id0, r.id AS id1
         FROM b l JOIN b r ON l.block_key = r.block_key AND l.dp < r.dp""",
    "q_dedup_exact" ->
      """SELECT array_to_string(str_split(text, ' ')[1:3], ' ') AS dup_key,
                min(doc_id) AS keeper_id, count(*) AS group_size
         FROM documents GROUP BY 1""",
    // the BPE-ish pattern is leftmost-first in both Java regex and RE2;
    // the SQL literal doubles the pattern's single quotes
    "q_token_count" ->
      """SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_distinct,
                CAST(len(regexp_extract_all(text,
                  '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'))
                  AS BIGINT) AS n_bpe_tokens
         FROM documents""",
    "q_quality" ->
      """SELECT doc_id,
                CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_distinct,
                round(CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
                      / len(str_split(text, ' ')), 4) AS type_token_ratio,
                round(CAST(length(text) - (len(str_split(text, ' ')) - 1) AS DOUBLE)
                      / len(str_split(text, ' ')), 4) AS mean_token_len
         FROM documents""",
    // skyline replay: the definitional quadratic NOT EXISTS dominance
    // check (fine at oracle scale; the engine side is the 2-D sort-scan)
    "q_skyline" ->
      """WITH d AS (SELECT doc_id,
                CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT)
                  AS n_distinct,
                CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents)
         SELECT a.doc_id, a.n_distinct, a.n_tokens
         FROM d a
         WHERE NOT EXISTS (
           SELECT 1 FROM d b
           WHERE b.n_distinct >= a.n_distinct AND b.n_tokens <= a.n_tokens
             AND (b.n_distinct > a.n_distinct OR b.n_tokens < a.n_tokens))""",
    // Gopher flags replay: one tokenize, same unrounded-double rule
    // comparisons, display columns rounded exactly as the Spark side
    "q_gopher_rules" ->
      """WITH t AS (SELECT doc_id, text,
                CAST(len(str_split(text, ' ')) AS BIGINT) AS n,
                CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS nd,
                CAST(len(list_intersect(list_distinct(str_split(text, ' ')),
                  ['the', 'a', 'of', 'and', 'to'])) AS BIGINT) AS nstop
              FROM documents),
         u AS (SELECT doc_id, n, nd, nstop,
                 CAST(length(text) - (n - 1) AS DOUBLE) / n AS ml,
                 CAST(n - nd AS DOUBLE) / n AS df
               FROM t)
         SELECT doc_id, n AS n_words, round(ml, 4) AS mean_word_len,
                nstop AS n_stopwords, round(df, 4) AS dup_frac,
                (n >= 15 AND n <= 40) AS ok_words,
                (ml >= 3.0 AND ml <= 10.0) AS ok_mean_len,
                (nstop >= 2) AS ok_stopwords,
                (df <= 0.4) AS ok_dup,
                ((n >= 15 AND n <= 40) AND (ml >= 3.0 AND ml <= 10.0)
                 AND nstop >= 2 AND df <= 0.4) AS pass
         FROM u""",
    // entropy replay: identical formula; libm log2 over small integer
    // tfs + round(6) is the accepted unigram-logprob FP pattern
    "q_entropy" ->
      """WITH tf AS (SELECT doc_id AS id, term, count(*) AS tf
                     FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
                           FROM documents)
                     GROUP BY 1, 2)
         SELECT id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                round(log2(SUM(tf)) - SUM(tf * log2(tf)) / SUM(tf), 6)
                  AS entropy
         FROM tf GROUP BY id""",
    // BM25 replay: same exact rationals — idf in fixed point, the
    // idf·tfpart product widened to HUGEINT before its floored divide
    "q_bm25" ->
      """WITH toks AS (SELECT doc_id AS id, str_split(text, ' ') AS ts
                       FROM documents),
         lens AS (SELECT id, CAST(len(ts) AS BIGINT) AS len FROM toks),
         st AS (SELECT count(*) AS n_docs, SUM(len) AS tl FROM lens),
         tfq AS (SELECT id, term, count(*) AS tf
                 FROM (SELECT id, unnest(ts) AS term FROM toks)
                 WHERE term IN ('spark', 'join', 'dup') GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
         sc AS (SELECT tfq.id,
                  SUM(CAST((CAST(1000000 AS BIGINT) * (2 * st.n_docs - 2 * dfq.df + 1))
                           // (2 * dfq.df + 1) AS HUGEINT)
                      * (44 * tfq.tf * st.tl)
                      // (20 * st.tl * tfq.tf + 6 * st.tl + 18 * lens.len * st.n_docs))
                    AS bm25
                FROM tfq JOIN dfq USING (term) JOIN lens USING (id), st
                GROUP BY 1)
         SELECT CAST(id AS BIGINT) AS id, CAST(bm25 AS BIGINT) AS bm25
         FROM sc ORDER BY bm25 DESC, id LIMIT 20""",
    "q_lang_id" ->
      """SELECT doc_id,
                CAST(len(list_filter(str_split(text, ' '),
                  t -> t IN ('the','a','of','and','to'))) AS BIGINT) AS stopword_hits,
                round(CAST(len(list_filter(str_split(text, ' '),
                  t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                  / len(str_split(text, ' ')), 4) AS stopword_ratio,
                CASE WHEN round(CAST(len(list_filter(str_split(text, ' '),
                  t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                  / len(str_split(text, ' ')), 4) >= 0.05
                  THEN 'en' ELSE 'unk' END AS lang_pred
         FROM documents""",
    "q_jaccard_pairs" ->
      """WITH b AS (
           SELECT str_split(text, ' ')[1] AS bk, doc_id AS id,
                  list_distinct(str_split(text, ' ')) AS toks FROM documents),
         p AS (
           SELECT l.id AS id0, r.id AS id1,
                  round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE)
                    / (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))),
                    4) AS jaccard
           FROM b l JOIN b r ON l.bk = r.bk AND l.id < r.id)
         SELECT id0, id1, jaccard FROM p WHERE jaccard >= 0.5""",
    // same block join; Tversky denominator in exact tenths, one double
    // divide, 4-dp round before the threshold compare
    "q_tversky" ->
      """WITH b AS (
           SELECT str_split(text, ' ')[1] AS bk, doc_id AS id,
                  list_distinct(str_split(text, ' ')) AS toks FROM documents),
         p AS (
           SELECT l.id AS id0, r.id AS id1,
                  CAST(len(list_intersect(l.toks, r.toks)) AS BIGINT) AS inter,
                  CAST(len(l.toks) AS INT) AS sz0,
                  CAST(len(r.toks) AS INT) AS sz1
           FROM b l JOIN b r ON l.bk = r.bk AND l.id < r.id),
         s AS (SELECT id0, id1, inter, sz0, sz1,
                      round(10.0 * inter / (10 * inter + 8 * (sz0 - inter)
                        + 2 * (sz1 - inter)), 4) AS tversky
               FROM p)
         SELECT id0, id1, inter, sz0, sz1, tversky
         FROM s WHERE tversky >= 0.75""",
    // full AllPairs/PPJoin replay: df-ordered prefixes, length filter,
    // exact-rational accept — every cut an integer cross-multiply
    "q_prefix_join" ->
      """WITH toks AS (
           SELECT doc_id AS id, unnest(list_distinct(str_split(text, ' '))) AS tok
           FROM documents),
         n AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM toks GROUP BY id),
         dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
         ranked AS (
           SELECT t.id, t.tok, n.sz,
                  row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rn
           FROM toks t JOIN dfreq d USING (tok) JOIN n USING (id)),
         prefix AS (
           SELECT id, tok, sz FROM ranked
           WHERE rn <= sz - ((sz * 7000 + 9999) // 10000) + 1),
         cand AS (
           SELECT DISTINCT a.id AS id0, b.id AS id1, a.sz AS sz0, b.sz AS sz1
           FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.id < b.id
           WHERE least(a.sz, b.sz) * 10000 >= greatest(a.sz, b.sz) * 7000),
         sets AS (SELECT doc_id AS id,
                         list_distinct(str_split(text, ' ')) AS s
                  FROM documents),
         conf AS (
           SELECT id0, id1,
                  CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
                  sz0, sz1
           FROM cand
           JOIN sets sa ON sa.id = cand.id0
           JOIN sets sb ON sb.id = cand.id1)
         SELECT id0, id1, inter, sz0, sz1,
                round(CAST(inter AS DOUBLE) / (sz0 + sz1 - inter), 4) AS jaccard
         FROM conf
         WHERE inter * 10000 >= (sz0 + sz1 - inter) * 7000""",
    "q_jaccard_char3" ->
      """WITH b AS (
           SELECT str_split(text, ' ')[1] AS bk, doc_id AS id,
                  CASE WHEN length(text) < 3 THEN [text]
                       ELSE list_distinct(list_transform(
                         range(1, length(text) - 1), i -> substr(text, i, 3)))
                  END AS toks
           FROM documents),
         p AS (
           SELECT l.id AS id0, r.id AS id1,
                  round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE)
                    / (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))),
                    4) AS jaccard
           FROM b l JOIN b r ON l.bk = r.bk AND l.id < r.id)
         SELECT id0, id1, jaccard FROM p WHERE jaccard >= 0.5""",
    // bag-jaccard replay: per-doc tf via unnest+count, min-sum over the
    // pair's shared terms, den from the Σmax = totA+totB−Σmin identity;
    // the threshold is the integer cross-multiply, never the double
    "q_weighted_jaccard" ->
      """WITH b AS (
           SELECT str_split(text, ' ')[1] AS bk, doc_id AS id,
                  str_split(text, ' ') AS ts FROM documents),
         tfc AS (SELECT id, term, count(*) AS tf
                 FROM (SELECT id, unnest(ts) AS term FROM b) GROUP BY 1, 2),
         tot AS (SELECT id, CAST(len(ts) AS BIGINT) AS tot FROM b),
         p AS (SELECT l.id AS id0, r.id AS id1
               FROM b l JOIN b r ON l.bk = r.bk AND l.id < r.id),
         ms AS (SELECT p.id0, p.id1,
                       CAST(SUM(LEAST(a.tf, c.tf)) AS BIGINT) AS wj_num
                FROM p JOIN tfc a ON a.id = p.id0
                       JOIN tfc c ON c.id = p.id1 AND c.term = a.term
                GROUP BY 1, 2)
         SELECT ms.id0, ms.id1, ms.wj_num,
                t0.tot + t1.tot - ms.wj_num AS wj_den,
                round(CAST(ms.wj_num AS DOUBLE)
                      / (t0.tot + t1.tot - ms.wj_num), 4) AS wjaccard
         FROM ms JOIN tot t0 ON t0.id = ms.id0
                 JOIN tot t1 ON t1.id = ms.id1
         WHERE ms.wj_num * 1000000 >= 500000 * (t0.tot + t1.tot - ms.wj_num)""",
    "q_containment" ->
      """WITH b AS (
           SELECT str_split(text, ' ')[1] AS bk, doc_id AS id,
                  list_distinct(str_split(text, ' ')) AS toks
           FROM documents),
         p AS (
           SELECT l.id AS id0, r.id AS id1,
                  round(CAST(len(list_intersect(l.toks, r.toks)) AS DOUBLE)
                    / least(len(l.toks), len(r.toks)), 4) AS containment
           FROM b l JOIN b r ON l.bk = r.bk AND l.id < r.id)
         SELECT id0, id1, containment FROM p WHERE containment >= 0.6""",
    "q_dice_token_pairs" ->
      """WITH b AS (
           SELECT str_split(text, ' ')[1] AS bk, CAST(doc_id % 2 AS INT) AS dp,
                  doc_id AS id, list_distinct(str_split(text, ' ')) AS toks
           FROM documents),
         p AS (
           SELECT l.id AS id0, r.id AS id1,
                  round(2.0 * len(list_intersect(l.toks, r.toks))
                    / (len(l.toks) + len(r.toks)), 4) AS dice
           FROM b l JOIN b r ON l.bk = r.bk AND l.dp < r.dp)
         SELECT id0, id1, dice FROM p WHERE dice >= 0.7""",
    "q_topk_cosine" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         s AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(q.e, c.e), 6) AS cos
           FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         r AS (
           SELECT query_id, neighbor_id, cos,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 5""",
    // int8 quantization replayed in double arithmetic: same max/127
    // scale, same round-half-away-from-zero, same zero-vector guard
    "q_quantize_int8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings WHERE vec_id < 200),
         s0 AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc0
                FROM v),
         s1 AS (SELECT vec_id, e,
                  CASE WHEN sc0 = 0 THEN 1.0 ELSE sc0 END AS sc
                FROM s0)
         SELECT vec_id, round(sc, 9) AS scale_r,
                array_to_string(list_transform(e,
                  x -> CAST(round(x / sc) AS INT)), ',') AS qvec_csv
         FROM s1""",
    // quantize + integer-dot cosine + rank, all re-derived from the raw
    // parquet (list_sum over BIGINT products is exact; norms/division in
    // double match the Spark formula term for term)
    "q_ann_int8_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         s0 AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc0
                FROM v),
         q AS (SELECT vec_id,
                 list_transform(e, x -> CAST(round(
                   x / (CASE WHEN sc0 = 0 THEN 1.0 ELSE sc0 END)) AS INT)) AS qv
               FROM s0),
         n AS (SELECT vec_id, qv,
                 sqrt(CAST(list_sum(list_transform(qv,
                   x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) AS nrm
               FROM q),
         s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                      ELSE round(CAST(list_sum(list_transform(
                             range(1, len(a.qv) + 1),
                             i -> CAST(a.qv[i] AS BIGINT) * b.qv[i])) AS DOUBLE)
                           / (a.nrm * b.nrm), 6) END AS cos
               FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         r AS (SELECT query_id, neighbor_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 5""",
    "q_cosine_pairs" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         SELECT a.vec_id AS id0, b.vec_id AS id1,
                round(list_cosine_similarity(a.e, b.e), 6) AS cos
         FROM v a JOIN v b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4""",
    // SemDeDup replay: cell-equi-join pairs (the kmeans cell IS the
    // block), exact dot of the dumped normalized vectors, recursive
    // min-label components over the ε-graph, keep = min vid per group
    "q_semdedup" ->
      s"""WITH RECURSIVE
         v AS (SELECT vid, v, list FROM '$OracleAuxDir/ivf_sig/*.parquet'),
         p AS (SELECT a.vid AS u, b.vid AS w
               FROM v a JOIN v b ON a.list = b.list AND a.vid < b.vid
               WHERE round(list_dot_product(a.v, b.v), 6) >= 0.4),
         n AS (SELECT u AS node FROM p UNION SELECT w FROM p),
         adj AS (SELECT u AS a, w AS b FROM p UNION SELECT w, u FROM p),
         reach(node, lbl) AS (
           SELECT node, node FROM n
           UNION
           SELECT adj.b, reach.lbl FROM reach JOIN adj ON reach.node = adj.a),
         comp AS (SELECT node, min(lbl) AS grp FROM reach GROUP BY node)
         SELECT v.vid, COALESCE(comp.grp, v.vid) AS grp,
                COALESCE(comp.grp, v.vid) = v.vid AS keep
         FROM v LEFT JOIN comp ON v.vid = comp.node""",
    // hash-order stratified sample replayed from the dumped hashes
    "q_sample_stratified" ->
      s"""WITH s AS (SELECT stratum, id, h FROM '$OracleAuxDir/sample_hash/*.parquet'),
         r AS (SELECT stratum, id, h,
                 CAST(row_number() OVER (PARTITION BY stratum
                   ORDER BY h, id) AS INT) AS sample_rank
               FROM s)
         SELECT stratum, id, h, sample_rank FROM r WHERE sample_rank <= 30""",
    "q_inverted_index" ->
      """WITH t AS (SELECT doc_id AS doc, unnest(str_split(text, ' ')) AS token
                    FROM documents),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS tf,
                      CAST(count(DISTINCT doc) AS BIGINT) AS df
               FROM t GROUP BY 1 HAVING count(DISTINCT doc) >= 5),
         td AS (SELECT DISTINCT token, doc FROM t),
         r AS (SELECT token, doc,
                      row_number() OVER (PARTITION BY token ORDER BY doc) AS rn
               FROM td),
         sm AS (SELECT token,
                       string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc) AS sample_docs
                FROM r WHERE rn <= 10 GROUP BY token)
         SELECT c.token, c.df, c.tf, sm.sample_docs
         FROM c JOIN sm ON c.token = sm.token""",
    // identical lag-flag-cumsum windows in DuckDB
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, value,
                           -- floor, not round: Spark's unix_timestamp
                           -- truncates sub-second parts
                           CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
         f AS (SELECT *, CASE WHEN es - lag(es) OVER
                   (PARTITION BY user_id ORDER BY es, event_id) > 1800
                 THEN 1 ELSE 0 END AS new_sess FROM e),
         sq AS (SELECT *, sum(new_sess) OVER
                  (PARTITION BY user_id ORDER BY es, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq FROM f)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                CAST(count(*) AS BIGINT) AS n_events,
                min(es) AS start_s, max(es) AS end_s,
                max(es) - min(es) AS duration_s,
                round(sum(value), 4) AS sum_value
         FROM sq GROUP BY user_id, session_seq""",
    // independent LOCF replay: same epoch-anchored daily grid (floored
    // integer division on non-negative epochs == Spark DIV), same
    // obs-before-grid tie order, same IGNORE NULLS running fill
    "q_resample" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                           value FROM events),
         obs AS (SELECT user_id, t, max(value) AS v FROM e GROUP BY 1, 2),
         b AS (SELECT user_id, min(t) AS tmin, max(t) AS tmax
               FROM obs GROUP BY 1),
         grid AS (SELECT user_id,
                    unnest(generate_series(
                      (tmin + 86399) // 86400 * 86400,
                      tmax // 86400 * 86400, 86400)) AS t FROM b),
         u AS (SELECT user_id, t, v, 0 AS kind FROM obs
               UNION ALL
               SELECT user_id, t, NULL, 1 FROM grid),
         f AS (SELECT *, last_value(v IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY t, kind
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
               FROM u)
         SELECT user_id, t AS grid_t, fv AS value FROM f WHERE kind = 1""",
    "q_profile" ->
      """WITH p AS (SELECT * FROM orders)
         SELECT * FROM (
           SELECT 'o_orderkey' AS "column", count(*) AS n,
                  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                  count(DISTINCT o_orderkey) AS n_distinct,
                  min(TRY_CAST(CAST(o_orderkey AS VARCHAR) AS DOUBLE)) AS min_num,
                  max(TRY_CAST(CAST(o_orderkey AS VARCHAR) AS DOUBLE)) AS max_num,
                  CAST(min(length(CAST(o_orderkey AS VARCHAR))) AS INT) AS min_len,
                  CAST(max(length(CAST(o_orderkey AS VARCHAR))) AS INT) AS max_len
           FROM p
           UNION ALL
           SELECT 'o_custkey', count(*),
                  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_custkey),
                  min(TRY_CAST(CAST(o_custkey AS VARCHAR) AS DOUBLE)),
                  max(TRY_CAST(CAST(o_custkey AS VARCHAR) AS DOUBLE)),
                  CAST(min(length(CAST(o_custkey AS VARCHAR))) AS INT),
                  CAST(max(length(CAST(o_custkey AS VARCHAR))) AS INT)
           FROM p
           UNION ALL
           SELECT 'o_orderstatus', count(*),
                  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_orderstatus),
                  min(TRY_CAST(o_orderstatus AS DOUBLE)),
                  max(TRY_CAST(o_orderstatus AS DOUBLE)),
                  CAST(min(length(o_orderstatus)) AS INT),
                  CAST(max(length(o_orderstatus)) AS INT)
           FROM p
           UNION ALL
           SELECT 'o_totalprice', count(*),
                  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_totalprice),
                  min(TRY_CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE)),
                  max(TRY_CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE)),
                  CAST(min(length(CAST(o_totalprice AS VARCHAR))) AS INT),
                  CAST(max(length(CAST(o_totalprice AS VARCHAR))) AS INT)
           FROM p
           UNION ALL
           SELECT 'o_orderpriority', count(*),
                  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_orderpriority),
                  min(TRY_CAST(o_orderpriority AS DOUBLE)),
                  max(TRY_CAST(o_orderpriority AS DOUBLE)),
                  CAST(min(length(o_orderpriority)) AS INT),
                  CAST(max(length(o_orderpriority)) AS INT)
           FROM p)""",
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type AS et, epoch_us(ts) AS t
                    FROM events),
         s1 AS (SELECT user_id,
                       min(CASE WHEN et = 'signup' THEN t END) AS t1
                FROM e GROUP BY 1),
         s1f AS (SELECT * FROM s1 WHERE t1 IS NOT NULL),
         s2 AS (SELECT e.user_id, s1f.t1,
                       min(CASE WHEN et = 'click' AND t >= t1 THEN t END) AS t2
                FROM e JOIN s1f USING (user_id) GROUP BY 1, 2),
         s3 AS (SELECT e.user_id, s2.t1, s2.t2,
                       min(CASE WHEN et = 'purchase' AND t >= t2 THEN t END) AS t3
                FROM e JOIN s2 USING (user_id) GROUP BY 1, 2, 3)
         SELECT user_id, t1, t2, t3 FROM s3""",
    // both engines truncate weeks to ISO Monday; offsets are exact
    // day-diff // 7; the (user, week) dedup makes count(*) distinct-safe
    "q_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id,
                            CAST(date_trunc('week', ts) AS DATE) AS w
                     FROM events),
         cw AS (SELECT user_id, min(w) AS cw FROM ev GROUP BY 1)
         SELECT CAST(cw AS VARCHAR) AS cohort_week,
                CAST(datediff('day', cw, w) // 7 AS INT) AS week_offset,
                count(*) AS n_users
         FROM ev JOIN cw USING (user_id) GROUP BY 1, 2""",
    // fixed-width lowercase hex compares numerically; thresholds are
    // floor(weight * 2^32) in hex
    "q_mix_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE CASE lang
           WHEN 'en' THEN
             substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
           WHEN 'es' THEN
             substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'c0000000'
           ELSE TRUE END""",
    // gid = 2·GROUPING(flag) + GROUPING(status) == Spark's grouping_id
    // bit order (first cube column = MSB)
    "q_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
                COALESCE(l_linestatus, 'ALL') AS l_linestatus,
                CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus)
                     AS BIGINT) AS gid,
                SUM(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q_dedup_stats" ->
      """WITH d AS (SELECT md5(text) AS k,
                           CAST(length(text) AS BIGINT) AS bytes
                    FROM documents),
         g AS (SELECT k, count(*) AS gs FROM d GROUP BY 1)
         SELECT count(*) AS n_docs,
                count(DISTINCT d.k) AS n_distinct,
                CAST(SUM(d.bytes) AS BIGINT) AS total_bytes,
                CAST(SUM(CASE WHEN g.gs > 1 THEN d.bytes ELSE 0 END)
                  AS BIGINT) AS bytes_in_dup_groups,
                count(*) - count(DISTINCT d.k) AS n_removable
         FROM d JOIN g ON g.k = d.k""",
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
                COALESCE(l_linestatus, 'ALL') AS l_linestatus,
                SUM(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q_quantiles" ->
      """SELECT event_type, count(*) AS n,
                round(quantile_cont(value, 0.25), 6) AS p25,
                round(quantile_cont(value, 0.5), 6) AS p50,
                round(quantile_cont(value, 0.9), 6) AS p90
         FROM events GROUP BY 1""",
    "q_events_rate" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
                round(avg(value), 4) AS avg_value
         FROM events GROUP BY 1""",
    // blocking + confirm + recursive-CTE closure, all replayed in SQL
    "q_fuzzy_groups" ->
      """WITH RECURSIVE
         names AS (SELECT p_name AS name, min(p_partkey) AS id
                   FROM part GROUP BY 1),
         cand AS (
           SELECT a.id AS id0, a.name AS n0, b.id AS id1, b.name AS n1
           FROM names a JOIN names b
             ON substring(a.name, 1, 2) = substring(b.name, 1, 2)
           UNION
           SELECT a.id, a.name, b.id, b.name
           FROM names a JOIN names b
             ON right(a.name, 2) = right(b.name, 2)),
         p AS (SELECT id0, id1 FROM cand
               WHERE id0 < id1 AND levenshtein(n0, n1) <= 2),
         e AS (SELECT id0 AS u, id1 AS v FROM p
               UNION SELECT id1, id0 FROM p),
         reach(id, r) AS (
           SELECT id, id FROM names
           UNION
           SELECT e.v, reach.r FROM e JOIN reach ON e.u = reach.id),
         g AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id)
         SELECT n.id, n.name, g.group_id FROM names n JOIN g USING (id)""",
    // both snapshots, the md5 fingerprints, and the full-outer status
    // classification replay exactly (same null-ordered CASE arms)
    "q_snapshot_diff" ->
      """WITH o AS (SELECT doc_id AS key,
                  md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v1'
                      ELSE text END) AS fp_old
                FROM documents WHERE doc_id % 7 <> 0),
         n AS (SELECT doc_id AS key, md5(text) AS fp_new
               FROM documents WHERE doc_id % 11 <> 0)
         SELECT COALESCE(o.key, n.key) AS key,
                CASE WHEN fp_old IS NULL THEN 'added'
                     WHEN fp_new IS NULL THEN 'removed'
                     WHEN fp_old = fp_new THEN 'unchanged'
                     ELSE 'changed' END AS status,
                fp_old, fp_new
         FROM o FULL OUTER JOIN n ON o.key = n.key""",
    // the Bloom prefilter is output-invisible (false positives die in the
    // exact semi join), so the oracle is the plain semi join
    "q_bloom_semijoin" ->
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT'
                                AND o_orderkey % 3 = 0)
         GROUP BY l_returnflag""",
    // arg_max replays max_by (event_id unique → no ties); the latest-op
    // dispatch and delete filter are the MERGE semantics verbatim
    "q_merge_upsert" ->
      """WITH base AS (SELECT user_id * 100 + event_id % 50 AS k,
                              event_id, value, event_type FROM events),
         snap AS (SELECT k, arg_max(value, event_id) AS value,
                         arg_max(event_type, event_id) AS event_type
                  FROM base WHERE event_id % 3 = 0 GROUP BY k),
         chg AS (SELECT k, event_id AS seq,
                        CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
                        value, event_type
                 FROM base WHERE event_id % 3 <> 0),
         latest AS (SELECT k, arg_max(op, seq) AS op,
                           arg_max(value, seq) AS value,
                           arg_max(event_type, seq) AS event_type
                    FROM chg GROUP BY k)
         SELECT COALESCE(s.k, l.k) AS k,
                CASE WHEN l.k IS NULL THEN s.value ELSE l.value END AS value,
                CASE WHEN l.k IS NULL THEN s.event_type
                     ELSE l.event_type END AS event_type
         FROM snap s FULL OUTER JOIN latest l ON s.k = l.k
         WHERE l.k IS NULL OR l.op <> 'D'""",
    "q_scd2" ->
      """WITH chg AS (SELECT user_id, event_id AS seq,
                        CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
                        value FROM events),
         w AS (SELECT user_id, seq, op, value,
                      lead(seq) OVER (PARTITION BY user_id ORDER BY seq)
                        AS eff_to
               FROM chg)
         SELECT user_id, seq AS eff_from, value, eff_to,
                (eff_to IS NULL) AS is_current
         FROM w WHERE op <> 'D'""",
    // row_number over the same total order replays the distributed
    // global rank; the window join is rank arithmetic
    "q_sorted_neighborhood" ->
      """WITH r AS (SELECT doc_id AS id, substring(lower(text), 1, 16) AS k
                    FROM documents),
         ranked AS (SELECT id, row_number() OVER (ORDER BY k, id) - 1 AS rnk
                    FROM r)
         SELECT a.id AS id0, b.id AS id1, CAST(b.rnk - a.rnk AS INT) AS dist
         FROM ranked a JOIN ranked b ON b.rnk - a.rnk BETWEEN 1 AND 3""",
    // bigram blocks via list indexing, CBS weights, and the identical
    // exact-integer mean cut (weight * n_edges > sum(weights))
    "q_metablocking" ->
      """WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS ts
                    FROM documents),
         m AS (SELECT DISTINCT id, ts[i] || ' ' || ts[i+1] AS bk
               FROM t, unnest(generate_series(1, len(ts)-1)) AS g(i)),
         kept AS (SELECT bk FROM m GROUP BY bk
                  HAVING count(*) BETWEEN 2 AND 50),
         mm AS (SELECT m.id, m.bk FROM m JOIN kept USING (bk)),
         w AS (SELECT a.id AS id0, b.id AS id1, count(*) AS weight
               FROM mm a JOIN mm b ON a.bk = b.bk AND a.id < b.id
               GROUP BY a.id, b.id),
         tot AS (SELECT sum(weight) AS s, count(*) AS c FROM w)
         SELECT id0, id1, weight FROM w, tot WHERE weight * c > s""",
    // majority vote replayed as count + row_number (count DESC, value
    // ASC tiebreak); max fields and member counts as plain aggs
    "q_golden_record" ->
      """WITH d AS (SELECT array_to_string(string_split(text, ' ')[1:2], ' ')
                      AS group_key, lang, source, n_chars FROM documents),
         l AS (SELECT group_key, lang FROM (
             SELECT group_key, lang, row_number() OVER (PARTITION BY group_key
               ORDER BY count(*) DESC, lang) AS rn
             FROM d WHERE lang IS NOT NULL GROUP BY group_key, lang)
           WHERE rn = 1),
         s AS (SELECT group_key, source FROM (
             SELECT group_key, source, row_number() OVER (PARTITION BY group_key
               ORDER BY count(*) DESC, source) AS rn
             FROM d WHERE source IS NOT NULL GROUP BY group_key, source)
           WHERE rn = 1),
         base AS (SELECT group_key, count(*) AS n_members,
                         max(n_chars) AS max_n_chars
                  FROM d GROUP BY group_key)
         SELECT base.group_key, n_members, l.lang, s.source, max_n_chars
         FROM base LEFT JOIN l USING (group_key)
                   LEFT JOIN s USING (group_key)""",
    // the oracle derives each variant's CANONICAL form and domain from
    // the generation rule itself — an independent replay of
    // canonicalization + rollup, not of the implementation
    "q_domain_stats" ->
      """WITH r AS (SELECT text,
           CASE WHEN doc_id % 4 = 0
                  THEN 'https://alpha.com/p/' || CAST(doc_id % 97 AS VARCHAR)
                       || '?x=1'
                WHEN doc_id % 4 = 1
                  THEN 'http://alpha.com/p/' || CAST(doc_id % 97 AS VARCHAR)
                       || '?x=1'
                WHEN doc_id % 4 = 2
                  THEN 'https://beta.example.org/doc/'
                       || CAST(doc_id AS VARCHAR)
                ELSE 'https://cdn.beta.example.org/doc/'
                     || CAST(doc_id % 97 AS VARCHAR) END AS u,
           CASE WHEN doc_id % 4 IN (0, 1) THEN 'alpha.com'
                ELSE 'example.org' END AS domain
         FROM documents)
         SELECT domain, count(*) AS n_pages, count(DISTINCT u) AS n_urls,
                count(DISTINCT md5(text)) AS n_unique_texts,
                avg(length(text)) AS avg_chars
         FROM r GROUP BY domain""",
    // degree-oriented node-iterator replay: orient low->high by
    // (degree, id), wedge join, closure check, exploded incidence count
    // RA replay: symmetric edges, degree-capped pivots, wedge self-join,
    // integer floored weights, anti-join vs the edge set, ordered top-50
    "q_link_predict" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                       greatest(a.l_partkey, b.l_partkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey),
         sym AS (SELECT u AS z, v AS n FROM e0
                 UNION ALL SELECT v, u FROM e0),
         deg AS (SELECT z, count(*) AS deg FROM sym GROUP BY 1),
         pn AS (SELECT s.z, s.n, CAST(1000000 AS BIGINT) // d.deg AS w
                FROM sym s JOIN deg d ON d.z = s.z WHERE d.deg <= 64),
         wed AS (SELECT a.n AS x, b.n AS y, a.w
                 FROM pn a JOIN pn b ON a.z = b.z AND a.n < b.n),
         sc AS (SELECT x, y, CAST(SUM(w) AS BIGINT) AS ra_score
                FROM wed GROUP BY 1, 2),
         ne AS (SELECT sc.* FROM sc
                LEFT JOIN e0 ON e0.u = sc.x AND e0.v = sc.y
                WHERE e0.u IS NULL)
         SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, ra_score
         FROM ne ORDER BY ra_score DESC, x, y LIMIT 50""",
    // three synchronous LPA rounds: neighbor-label counts + top-1 by
    // (cnt DESC, label ASC) per round, chained MATERIALIZED CTEs
    "q_label_prop" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                       greatest(a.l_partkey, b.l_partkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey),
         sym AS MATERIALIZED (SELECT u AS node, v AS nbr FROM e0
                              UNION ALL SELECT v, u FROM e0),
         l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM sym),
         c1 AS MATERIALIZED (SELECT s.node, l.label, count(*) AS cnt
                FROM sym s JOIN l0 l ON l.node = s.nbr GROUP BY 1, 2),
         l1 AS MATERIALIZED (SELECT node, label FROM c1
                QUALIFY row_number() OVER (PARTITION BY node
                  ORDER BY cnt DESC, label ASC) = 1),
         c2 AS MATERIALIZED (SELECT s.node, l.label, count(*) AS cnt
                FROM sym s JOIN l1 l ON l.node = s.nbr GROUP BY 1, 2),
         l2 AS MATERIALIZED (SELECT node, label FROM c2
                QUALIFY row_number() OVER (PARTITION BY node
                  ORDER BY cnt DESC, label ASC) = 1),
         c3 AS MATERIALIZED (SELECT s.node, l.label, count(*) AS cnt
                FROM sym s JOIN l2 l ON l.node = s.nbr GROUP BY 1, 2),
         l3 AS MATERIALIZED (SELECT node, label FROM c3
                QUALIFY row_number() OVER (PARTITION BY node
                  ORDER BY cnt DESC, label ASC) = 1)
         SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
         FROM l3""",
    "q_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                       greatest(a.l_partkey, b.l_partkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT id, count(*) AS dg FROM
                   (SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0)
                 GROUP BY id),
         o AS (SELECT CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND u < v)
                      THEN u ELSE v END AS a,
                      CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND u < v)
                      THEN v ELSE u END AS b
               FROM e0 JOIN deg d1 ON e0.u = d1.id
                       JOIN deg d2 ON e0.v = d2.id),
         tri AS (SELECT w.a, w.b, w.c FROM
                   (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                    FROM o e1 JOIN o e2 ON e1.b = e2.a) w
                 JOIN o ON o.a = w.a AND o.b = w.c),
         inc AS (SELECT id, count(*) AS n FROM
                   (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri)
                 GROUP BY id)
         SELECT deg.id, coalesce(inc.n, 0) AS n_triangles
         FROM deg LEFT JOIN inc ON deg.id = inc.id""",
    // per-field agreement flags + exact integer score, replayed with
    // DuckDB's own levenshtein and identical double band arithmetic
    "q_multifield_match" ->
      """WITH p AS (SELECT p_partkey, p_name, p_brand, p_type, p_size,
                           p_retailprice FROM part),
         c AS (
           SELECT a.p_partkey AS id0, b.p_partkey AS id1,
                  CAST(CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                       THEN 1 ELSE 0 END AS BIGINT) AS agree_p_name,
                  CAST(CASE WHEN a.p_type = b.p_type
                       THEN 1 ELSE 0 END AS BIGINT) AS agree_p_type,
                  CAST(CASE WHEN abs(a.p_size - b.p_size) <= 2
                       THEN 1 ELSE 0 END AS BIGINT) AS agree_p_size,
                  CAST(CASE WHEN abs(a.p_retailprice - b.p_retailprice) <= 5.0
                       THEN 1 ELSE 0 END AS BIGINT) AS agree_p_retailprice
           FROM p a JOIN p b
             ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey)
         SELECT *, 4 * agree_p_name + 3 * agree_p_type + 2 * agree_p_size
                   + 1 * agree_p_retailprice AS score
         FROM c
         WHERE 4 * agree_p_name + 3 * agree_p_type + 2 * agree_p_size
               + 1 * agree_p_retailprice >= 5""",
    // level-EM replay: 3-level gammas; init m=(.15,.15,.7)/u=(.7,.15,.15)
    // per field, lambda=0.1; per-(field,level) M-step shares; same
    // HUGEINT floored fixed point as q_fellegi_sunter
    "q_fs_levels" ->
      """WITH base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                              p_size FROM part),
         g AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 2 THEN 2
                           WHEN levenshtein(a.p_name, b.p_name) <= 5 THEN 1
                           ELSE 0 END AS g_name,
                      CASE WHEN a.p_size = b.p_size THEN 2
                           WHEN abs(a.p_size - b.p_size) <= 3 THEN 1
                           ELSE 0 END AS g_size
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_size, count(*) AS c FROM g GROUP BY 1, 2),
         e1 AS (SELECT pc.*,
           (((CAST(100000000 AS BIGINT)
              * (CASE g_name WHEN 2 THEN 700000000 ELSE 150000000 END)) // 1000000000)
              * (CASE g_size WHEN 2 THEN 700000000 ELSE 150000000 END)) // 1000000000 AS a,
           (((CAST(900000000 AS BIGINT)
              * (CASE g_name WHEN 0 THEN 700000000 ELSE 150000000 END)) // 1000000000)
              * (CASE g_size WHEN 0 THEN 700000000 ELSE 150000000 END)) // 1000000000 AS b
           FROM pc),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us2
           FROM w1),
         e2 AS (SELECT pc.*,
           (((p1.lam * (CASE g_name WHEN 0 THEN p1.mn0 WHEN 1 THEN p1.mn1 ELSE p1.mn2 END)) // 1000000000
              * (CASE g_size WHEN 0 THEN p1.ms0 WHEN 1 THEN p1.ms1 ELSE p1.ms2 END)) // 1000000000) AS a,
           ((((1000000000 - p1.lam) * (CASE g_name WHEN 0 THEN p1.un0 WHEN 1 THEN p1.un1 ELSE p1.un2 END)) // 1000000000
              * (CASE g_size WHEN 0 THEN p1.us0 WHEN 1 THEN p1.us1 ELSE p1.us2 END)) // 1000000000) AS b
           FROM pc, p1),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_name = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * (CASE WHEN g_size = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_name = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un2,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 0 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us0,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 1 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us1,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * (CASE WHEN g_size = 2 THEN 1 ELSE 0 END)) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us2
           FROM w2),
         e3 AS (SELECT pc.*,
           (((p2.lam * (CASE g_name WHEN 0 THEN p2.mn0 WHEN 1 THEN p2.mn1 ELSE p2.mn2 END)) // 1000000000
              * (CASE g_size WHEN 0 THEN p2.ms0 WHEN 1 THEN p2.ms1 ELSE p2.ms2 END)) // 1000000000) AS a,
           ((((1000000000 - p2.lam) * (CASE g_name WHEN 0 THEN p2.un0 WHEN 1 THEN p2.un1 ELSE p2.un2 END)) // 1000000000
              * (CASE g_size WHEN 0 THEN p2.us0 WHEN 1 THEN p2.us1 ELSE p2.us2 END)) // 1000000000) AS b
           FROM pc, p2)
         SELECT CAST(e3.g_name AS INT) AS g_name,
                CAST(e3.g_size AS INT) AS g_size,
                e3.c AS n_pairs,
                CAST((e3.a * 1000000000) // (e3.a + e3.b) AS BIGINT) AS posterior,
                ((e3.a * 1000000000) // (e3.a + e3.b)) * 2 > 1000000000 AS is_match,
                p2.lam AS lambda,
                p2.mn0 AS m_g_name_0, p2.un0 AS u_g_name_0,
                p2.mn1 AS m_g_name_1, p2.un1 AS u_g_name_1,
                p2.mn2 AS m_g_name_2, p2.un2 AS u_g_name_2,
                p2.ms0 AS m_g_size_0, p2.us0 AS u_g_size_0,
                p2.ms1 AS m_g_size_1, p2.us1 AS u_g_size_1,
                p2.ms2 AS m_g_size_2, p2.us2 AS u_g_size_2
         FROM e3, p2""",
    // full EM replay: blocked pairs -> gamma patterns -> 2 E/M iterations
    // + final E-step, all in floored fixed-point (HUGEINT // == the
    // engine's BigInt floor-div; init lambda=0.1, m=0.9, u=0.1 at S=1e9)
    "q_fellegi_sunter" ->
      """WITH base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                              p_type, p_size FROM part),
         g AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                           THEN 1 ELSE 0 END AS g_name,
                      CASE WHEN a.p_type = b.p_type
                           THEN 1 ELSE 0 END AS g_type,
                      CASE WHEN abs(a.p_size - b.p_size) <= 2
                           THEN 1 ELSE 0 END AS g_size
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_type, g_size, count(*) AS c
                FROM g GROUP BY 1, 2, 3),
         e1 AS (SELECT pc.*,
           (((((CAST(100000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000 AS a,
           (((((CAST(900000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000 AS b
           FROM pc),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w1),
         e2 AS (SELECT pc.*,
           (((((p1.lam * (CASE WHEN g_name = 1 THEN p1.mn ELSE 1000000000 - p1.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.mt ELSE 1000000000 - p1.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.ms ELSE 1000000000 - p1.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p1.lam) * (CASE WHEN g_name = 1 THEN p1.un ELSE 1000000000 - p1.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.ut ELSE 1000000000 - p1.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.us ELSE 1000000000 - p1.us END)) // 1000000000 AS b
           FROM pc, p1),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w2),
         e3 AS (SELECT pc.*,
           (((((p2.lam * (CASE WHEN g_name = 1 THEN p2.mn ELSE 1000000000 - p2.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.mt ELSE 1000000000 - p2.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.ms ELSE 1000000000 - p2.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p2.lam) * (CASE WHEN g_name = 1 THEN p2.un ELSE 1000000000 - p2.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.ut ELSE 1000000000 - p2.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.us ELSE 1000000000 - p2.us END)) // 1000000000 AS b
           FROM pc, p2)
         SELECT CAST(e3.g_name AS INT) AS g_name,
                CAST(e3.g_type AS INT) AS g_type,
                CAST(e3.g_size AS INT) AS g_size,
                e3.c AS n_pairs,
                CAST((e3.a * 1000000000) // (e3.a + e3.b) AS BIGINT) AS posterior,
                ((e3.a * 1000000000) // (e3.a + e3.b)) * 2 > 1000000000 AS is_match,
                p2.lam AS lambda,
                p2.mn AS m_g_name, p2.mt AS m_g_type, p2.ms AS m_g_size,
                p2.un AS u_g_name, p2.ut AS u_g_type, p2.us AS u_g_size
         FROM e3, p2""",
    // EM trace replay: the SAME chained CTEs as q_fellegi_sunter, but
    // emitting each iteration's parameter row instead of only the final
    // pattern posteriors
    "q_em_trace" ->
      """WITH base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                              p_type, p_size FROM part),
         g AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                           THEN 1 ELSE 0 END AS g_name,
                      CASE WHEN a.p_type = b.p_type
                           THEN 1 ELSE 0 END AS g_type,
                      CASE WHEN abs(a.p_size - b.p_size) <= 2
                           THEN 1 ELSE 0 END AS g_size
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_type, g_size, count(*) AS c
                FROM g GROUP BY 1, 2, 3),
         e1 AS (SELECT pc.*,
           (((((CAST(100000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000 AS a,
           (((((CAST(900000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000 AS b
           FROM pc),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w1),
         e2 AS (SELECT pc.*,
           (((((p1.lam * (CASE WHEN g_name = 1 THEN p1.mn ELSE 1000000000 - p1.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.mt ELSE 1000000000 - p1.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.ms ELSE 1000000000 - p1.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p1.lam) * (CASE WHEN g_name = 1 THEN p1.un ELSE 1000000000 - p1.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.ut ELSE 1000000000 - p1.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.us ELSE 1000000000 - p1.us END)) // 1000000000 AS b
           FROM pc, p1),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w2)
         SELECT CAST(1 AS INT) AS iter, lam AS lambda,
                mn AS m_g_name, mt AS m_g_type, ms AS m_g_size,
                un AS u_g_name, ut AS u_g_type, us AS u_g_size
         FROM p1
         UNION ALL
         SELECT CAST(2 AS INT), lam, mn, mt, ms, un, ut, us FROM p2""",
    // model PR curve: the q_fellegi_sunter replay through e3, then the
    // per-posterior-cut cumulative sums as HUGEINT window aggregates
    "q_fs_pr_curve" ->
      """WITH base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                              p_type, p_size FROM part),
         g AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                           THEN 1 ELSE 0 END AS g_name,
                      CASE WHEN a.p_type = b.p_type
                           THEN 1 ELSE 0 END AS g_type,
                      CASE WHEN abs(a.p_size - b.p_size) <= 2
                           THEN 1 ELSE 0 END AS g_size
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_type, g_size, count(*) AS c
                FROM g GROUP BY 1, 2, 3),
         e1 AS (SELECT pc.*,
           (((((CAST(100000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000 AS a,
           (((((CAST(900000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000 AS b
           FROM pc),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w1),
         e2 AS (SELECT pc.*,
           (((((p1.lam * (CASE WHEN g_name = 1 THEN p1.mn ELSE 1000000000 - p1.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.mt ELSE 1000000000 - p1.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.ms ELSE 1000000000 - p1.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p1.lam) * (CASE WHEN g_name = 1 THEN p1.un ELSE 1000000000 - p1.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.ut ELSE 1000000000 - p1.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.us ELSE 1000000000 - p1.us END)) // 1000000000 AS b
           FROM pc, p1),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w2),
         e3 AS (SELECT pc.*,
           (((((p2.lam * (CASE WHEN g_name = 1 THEN p2.mn ELSE 1000000000 - p2.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.mt ELSE 1000000000 - p2.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.ms ELSE 1000000000 - p2.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p2.lam) * (CASE WHEN g_name = 1 THEN p2.un ELSE 1000000000 - p2.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.ut ELSE 1000000000 - p2.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.us ELSE 1000000000 - p2.us END)) // 1000000000 AS b
           FROM pc, p2),
         posts AS (SELECT CAST((e3.a * 1000000000) // (e3.a + e3.b) AS BIGINT)
                            AS posterior,
                          e3.c AS n
                   FROM e3),
         byw AS (SELECT posterior, CAST(sum(n) AS BIGINT) AS n_pairs
                 FROM posts GROUP BY 1),
         cum AS (SELECT posterior, n_pairs,
                   CAST(sum(CAST(n_pairs AS HUGEINT) * posterior)
                        OVER (ORDER BY posterior DESC) AS BIGINT)
                     AS exp_tp_scaled,
                   CAST(sum(CAST(n_pairs AS HUGEINT) * (1000000000 - posterior))
                        OVER (ORDER BY posterior DESC) AS BIGINT)
                     AS exp_fp_scaled,
                   CAST(sum(CAST(n_pairs AS HUGEINT) * posterior)
                        OVER () AS BIGINT) AS exp_matches_scaled
                 FROM byw)
         SELECT posterior, n_pairs, exp_tp_scaled, exp_fp_scaled,
                exp_matches_scaled,
                round(CAST(exp_tp_scaled AS DOUBLE)
                      / (exp_tp_scaled + exp_fp_scaled), 6) AS precision,
                round(CAST(exp_tp_scaled AS DOUBLE)
                      / exp_matches_scaled, 6) AS recall
         FROM cum""",
    // independence diagnostic: expected = Π marginals / N^(K-1) and the
    // capped lift, all HUGEINT floor arithmetic over the pattern counts
    "q_pattern_indep" ->
      """WITH base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                              p_type, p_size FROM part),
         g AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                           THEN 1 ELSE 0 END AS g_name,
                      CASE WHEN a.p_type = b.p_type
                           THEN 1 ELSE 0 END AS g_type,
                      CASE WHEN abs(a.p_size - b.p_size) <= 2
                           THEN 1 ELSE 0 END AS g_size
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_type, g_size, count(*) AS c
                FROM g GROUP BY 1, 2, 3),
         st AS (SELECT CAST(sum(c) AS HUGEINT) AS n,
                       CAST(sum(c * g_name) AS HUGEINT) AS o1,
                       CAST(sum(c * g_type) AS HUGEINT) AS o2,
                       CAST(sum(c * g_size) AS HUGEINT) AS o3
                FROM pc),
         e AS (SELECT pc.*, st.n AS n,
                 (CASE WHEN g_name = 1 THEN st.o1 ELSE st.n - st.o1 END)
               * (CASE WHEN g_type = 1 THEN st.o2 ELSE st.n - st.o2 END)
               * (CASE WHEN g_size = 1 THEN st.o3 ELSE st.n - st.o3 END)
                 AS prod
               FROM pc, st)
         SELECT CAST(g_name AS INT) AS g_name,
                CAST(g_type AS INT) AS g_type,
                CAST(g_size AS INT) AS g_size,
                c AS n_pairs,
                CAST((prod * 1000000000) // (n * n) AS BIGINT)
                  AS expected_scaled,
                CAST(CASE WHEN prod = 0 THEN 0
                     ELSE LEAST((CAST(c AS HUGEINT) * 1000000000 * n * n)
                                  // prod,
                                CAST(1000000 AS HUGEINT) * 1000000000) END
                  AS BIGINT) AS lift_scaled
         FROM e""",
    // two-stage training replay: the q_estimate_u sample CTE yields the
    // frozen (clamped) u scalars; the EM chain re-estimates only lam/m
    "q_em_fixed_u" ->
      """WITH sbase AS (SELECT p_partkey AS id, p_name, p_type, p_size
                        FROM part
                        WHERE substr(md5(CAST(p_partkey AS VARCHAR)), 1, 1)
                              IN ('0', '1', '2', '3')),
         sg AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                            THEN 1 ELSE 0 END AS g_name,
                       CASE WHEN a.p_type = b.p_type
                            THEN 1 ELSE 0 END AS g_type,
                       CASE WHEN abs(a.p_size - b.p_size) <= 2
                            THEN 1 ELSE 0 END AS g_size
                FROM sbase a JOIN sbase b ON a.id < b.id),
         su AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(g_name) AS BIGINT) AS an,
                       CAST(sum(g_type) AS BIGINT) AS at2,
                       CAST(sum(g_size) AS BIGINT) AS asz
                FROM sg),
         uu AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, (an * 1000000000) // n)) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (at2 * 1000000000) // n)) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (asz * 1000000000) // n)) AS BIGINT) AS us
           FROM su),
         base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                         p_type, p_size FROM part),
         g AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                           THEN 1 ELSE 0 END AS g_name,
                      CASE WHEN a.p_type = b.p_type
                           THEN 1 ELSE 0 END AS g_type,
                      CASE WHEN abs(a.p_size - b.p_size) <= 2
                           THEN 1 ELSE 0 END AS g_size
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_type, g_size, count(*) AS c
                FROM g GROUP BY 1, 2, 3),
         e1 AS (SELECT pc.*,
           (((((CAST(100000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000 AS a,
           (((((CAST(900000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN uu.un ELSE 1000000000 - uu.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN uu.ut ELSE 1000000000 - uu.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN uu.us ELSE 1000000000 - uu.us END)) // 1000000000 AS b
           FROM pc, uu),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms
           FROM w1),
         e2 AS (SELECT pc.*,
           (((((p1.lam * (CASE WHEN g_name = 1 THEN p1.mn ELSE 1000000000 - p1.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.mt ELSE 1000000000 - p1.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.ms ELSE 1000000000 - p1.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p1.lam) * (CASE WHEN g_name = 1 THEN uu.un ELSE 1000000000 - uu.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN uu.ut ELSE 1000000000 - uu.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN uu.us ELSE 1000000000 - uu.us END)) // 1000000000 AS b
           FROM pc, p1, uu),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms
           FROM w2),
         e3 AS (SELECT pc.*,
           (((((p2.lam * (CASE WHEN g_name = 1 THEN p2.mn ELSE 1000000000 - p2.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.mt ELSE 1000000000 - p2.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.ms ELSE 1000000000 - p2.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p2.lam) * (CASE WHEN g_name = 1 THEN uu.un ELSE 1000000000 - uu.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN uu.ut ELSE 1000000000 - uu.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN uu.us ELSE 1000000000 - uu.us END)) // 1000000000 AS b
           FROM pc, p2, uu)
         SELECT CAST(e3.g_name AS INT) AS g_name,
                CAST(e3.g_type AS INT) AS g_type,
                CAST(e3.g_size AS INT) AS g_size,
                e3.c AS n_pairs,
                CAST((e3.a * 1000000000) // (e3.a + e3.b) AS BIGINT) AS posterior,
                ((e3.a * 1000000000) // (e3.a + e3.b)) * 2 > 1000000000 AS is_match,
                p2.lam AS lambda,
                p2.mn AS m_g_name, p2.mt AS m_g_type, p2.ms AS m_g_size,
                uu.un AS u_g_name, uu.ut AS u_g_type, uu.us AS u_g_size
         FROM e3, p2, uu""",
    // suffix-blocking replay off the pages_rec dump: suffix explosion
    // via per-row range unnest, block-size prune, cross-provider pairing
    "q_suffix_block" ->
      s"""WITH r AS (
           SELECT dp, entity_id AS rec,
                  array_to_string(list_slice(str_split(text, ' '), 1, 2), '')
                    AS key
           FROM '$OracleAuxDir/pages_rec/*.parquet'),
         idx AS (SELECT dp, rec, key,
                        unnest(range(1, greatest(len(key) - 3, 1))) AS i
                 FROM r),
         mem AS (SELECT dp, rec, substr(key, CAST(i AS INTEGER)) AS suffix
                 FROM idx),
         ok AS (SELECT suffix FROM mem GROUP BY suffix
                HAVING count(*) <= 50),
         m2 AS (SELECT mem.dp, mem.rec, mem.suffix
                FROM mem JOIN ok USING (suffix))
         SELECT a.dp AS dp0, a.rec AS rec0, b.dp AS dp1, b.rec AS rec1,
                count(*) AS n_shared,
                CAST(max(len(a.suffix)) AS INTEGER) AS max_len
         FROM m2 a JOIN m2 b ON a.suffix = b.suffix AND a.dp < b.dp
         GROUP BY 1, 2, 3, 4""",
    // greedy blocking-scheme replay: memberships per predicate, distinct
    // cross-provider pairs, then 3 selection rounds as chained CTEs —
    // each round LEFT-JOINs every remaining predicate to its marginal
    // new-true-pair count (0 if saturated) and picks (n DESC, pred ASC)
    "q_blocking_scheme" ->
      s"""WITH rec AS (
           SELECT dp, entity_id AS rec, truth_entity AS truth,
                  str_split(text, ' ') AS ts,
                  array_to_string(list_slice(str_split(text, ' '), 1, 2), '')
                    AS k2
           FROM '$OracleAuxDir/pages_rec/*.parquet'),
         m AS (
           SELECT 'p_tok1' AS pred, dp, rec, truth, ts[1] AS key FROM rec
           UNION ALL SELECT 'p_tok2', dp, rec, truth, ts[2] FROM rec
           UNION ALL SELECT 'p_tok3', dp, rec, truth, ts[3] FROM rec
           UNION ALL SELECT 'p_pre4', dp, rec, truth, substr(k2, 1, 4)
             FROM rec
           UNION ALL SELECT 'p_suf4', dp, rec, truth,
             CASE WHEN len(k2) >= 4 THEN substr(k2, len(k2) - 3) END
             FROM rec),
         m2 AS (SELECT * FROM m WHERE key IS NOT NULL AND key <> ''),
         p AS (SELECT DISTINCT a.pred, a.rec AS rec0, b.rec AS rec1,
                      a.truth = b.truth AS istrue
               FROM m2 a JOIN m2 b ON a.pred = b.pred AND a.key = b.key
               WHERE a.dp = 0 AND b.dp = 1),
         cand AS (SELECT pred, CAST(count(*) AS BIGINT) AS cand_pairs
                  FROM p GROUP BY pred),
         tp AS (SELECT pred, rec0, rec1 FROM p WHERE istrue),
         preds(pred) AS (VALUES ('p_tok1'), ('p_tok2'), ('p_tok3'),
                                ('p_pre4'), ('p_suf4')),
         g1 AS (SELECT preds.pred, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
                FROM preds LEFT JOIN
                  (SELECT pred, count(*) AS n FROM tp GROUP BY pred) c
                  USING (pred)),
         s1 AS (SELECT pred, n FROM g1 ORDER BY n DESC, pred LIMIT 1),
         c1 AS (SELECT DISTINCT rec0, rec1 FROM tp
                WHERE pred IN (SELECT pred FROM s1)),
         g2 AS (SELECT preds.pred, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
                FROM preds LEFT JOIN
                  (SELECT pred, count(*) AS n FROM tp
                   WHERE NOT EXISTS (SELECT 1 FROM c1
                     WHERE c1.rec0 = tp.rec0 AND c1.rec1 = tp.rec1)
                   GROUP BY pred) c USING (pred)
                WHERE preds.pred NOT IN (SELECT pred FROM s1)),
         s2 AS (SELECT pred, n FROM g2 ORDER BY n DESC, pred LIMIT 1),
         c2 AS (SELECT rec0, rec1 FROM c1
                UNION
                SELECT rec0, rec1 FROM tp
                WHERE pred IN (SELECT pred FROM s2)),
         g3 AS (SELECT preds.pred, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
                FROM preds LEFT JOIN
                  (SELECT pred, count(*) AS n FROM tp
                   WHERE NOT EXISTS (SELECT 1 FROM c2
                     WHERE c2.rec0 = tp.rec0 AND c2.rec1 = tp.rec1)
                   GROUP BY pred) c USING (pred)
                WHERE preds.pred NOT IN (SELECT pred FROM s1)
                  AND preds.pred NOT IN (SELECT pred FROM s2)),
         s3 AS (SELECT pred, n FROM g3 ORDER BY n DESC, pred LIMIT 1),
         r AS (SELECT 1 AS round, pred, n AS new_true FROM s1
               UNION ALL SELECT 2, pred, n FROM s2
               UNION ALL SELECT 3, pred, n FROM s3)
         SELECT r.round, r.pred, r.new_true,
                CAST(sum(r.new_true) OVER (ORDER BY r.round) AS BIGINT)
                  AS cum_true,
                CAST(COALESCE(cand.cand_pairs, 0) AS BIGINT) AS cand_pairs
         FROM r LEFT JOIN cand ON r.pred = cand.pred""",
    // canopy assignment replay: same md5 seed gate, same distinct-token
    // inverted-index join, orphans via NOT IN over the assigned recs
    "q_canopy_block" ->
      """WITH toks AS (
           SELECT doc_id AS rec,
                  unnest(list_distinct(str_split(text, ' '))) AS tok
           FROM documents),
         seeds AS (
           SELECT doc_id AS canopy,
                  unnest(list_distinct(str_split(text, ' '))) AS tok
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')),
         a AS (
           SELECT t.rec, s.canopy, CAST(count(*) AS BIGINT) AS shared
           FROM toks t JOIN seeds s USING (tok)
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT rec, canopy, shared FROM a
         UNION ALL
         SELECT doc_id AS rec, doc_id AS canopy, CAST(0 AS BIGINT) AS shared
         FROM documents WHERE doc_id NOT IN (SELECT rec FROM a)""",
    // pivot = conditional sums per fixed lang list (absent cells 0)
    "q_pivot" ->
      """SELECT source,
                CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
                CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
                CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
                CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
                CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
         FROM documents GROUP BY source""",
    // u estimation: same md5 sample gate + sampled cross join, one
    // aggregate melted by parallel unnest
    "q_estimate_u" ->
      """WITH base AS (SELECT p_partkey AS id, p_name, p_type, p_size
                       FROM part
                       WHERE substr(md5(CAST(p_partkey AS VARCHAR)), 1, 1)
                             IN ('0', '1', '2', '3')),
         g AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                           THEN 1 ELSE 0 END AS g_name,
                      CASE WHEN a.p_type = b.p_type
                           THEN 1 ELSE 0 END AS g_type,
                      CASE WHEN abs(a.p_size - b.p_size) <= 2
                           THEN 1 ELSE 0 END AS g_size
               FROM base a JOIN base b ON a.id < b.id),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(g_name) AS BIGINT) AS an,
                      CAST(sum(g_type) AS BIGINT) AS at2,
                      CAST(sum(g_size) AS BIGINT) AS asz
               FROM g)
         SELECT unnest(['g_name', 'g_type', 'g_size']) AS field,
                n AS n_pairs,
                unnest([an, at2, asz]) AS n_agree,
                unnest([(an * 1000000000) // n, (at2 * 1000000000) // n,
                        (asz * 1000000000) // n]) AS u_scaled
         FROM s""",
    // m from the truth label: replay label blocking + gammas + exact
    // scaled agreement quotients over the dumped pages corpus
    "q_estimate_m_labels" ->
      s"""WITH p AS (SELECT dp, truth_entity, string_split(text, ' ') AS toks
                     FROM '$OracleAuxDir/pages_rec/*.parquet'),
         pr AS (SELECT CASE WHEN a.toks[1] = b.toks[1]
                            THEN 1 ELSE 0 END AS g_first,
                       CASE WHEN a.toks[-1] = b.toks[-1]
                            THEN 1 ELSE 0 END AS g_last,
                       CASE WHEN abs(len(a.toks) - len(b.toks)) <= 1
                            THEN 1 ELSE 0 END AS g_len
                FROM p a JOIN p b ON a.truth_entity = b.truth_entity
                WHERE a.dp = 0 AND b.dp = 1),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(g_first) AS BIGINT) AS af,
                      CAST(sum(g_last) AS BIGINT) AS al,
                      CAST(sum(g_len) AS BIGINT) AS az
               FROM pr)
         SELECT unnest(['g_first', 'g_last', 'g_len']) AS field,
                n AS n_pairs,
                unnest([af, al, az]) AS n_agree,
                unnest([(af * 1000000000) // n, (al * 1000000000) // n,
                        (az * 1000000000) // n]) AS m_scaled
         FROM s
         ORDER BY field""",
    // rare-token blocking: document-frequency counts, per-record argmin
    // (count, token), block membership + comb-2 load
    "q_rare_token_block" ->
      """WITH raw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         t AS (SELECT DISTINCT doc_id, tok FROM raw WHERE tok <> ''),
         c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
               FROM t GROUP BY tok),
         r AS (SELECT doc_id, tok, n,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY n, tok) AS rn
               FROM t JOIN c USING (tok)),
         k AS (SELECT tok AS block_key, n AS key_count FROM r WHERE rn = 1)
         SELECT block_key, key_count,
                CAST(count(*) AS BIGINT) AS n_records,
                CAST((count(*) * (count(*) - 1)) // 2 AS BIGINT) AS est_pairs
         FROM k GROUP BY 1, 2
         ORDER BY block_key""",
    // revisit rollup: same capture synthesis (integer formulas), lag
    // window over md5 digests, per-url change/revisit/version agg
    "q_revisit_diff" ->
      """WITH s AS (SELECT 'https://ex.org/d' || CAST(doc_id AS VARCHAR)
                             AS url,
                           doc_id * 86400 + k * 3600 AS ts,
                           md5(text || ' v'
                             || CAST((doc_id * 31 + k * k) % 3 AS VARCHAR))
                             AS digest
                    FROM documents,
                         unnest(generate_series(0, doc_id % 4)) AS g(k)),
         c AS (SELECT url, ts, digest,
                      lag(digest) OVER (PARTITION BY url ORDER BY ts)
                        AS prev
               FROM s),
         f AS (SELECT url, ts, digest,
                      CASE WHEN prev IS NOT NULL AND prev <> digest
                           THEN 1 ELSE 0 END AS ch
               FROM c)
         SELECT url,
                CAST(count(*) AS BIGINT) AS n_captures,
                CAST(sum(ch) AS BIGINT) AS n_changes,
                CAST(count(*) - 1 - sum(ch) AS BIGINT) AS n_revisits,
                CAST(count(DISTINCT digest) AS BIGINT) AS n_versions,
                min(ts) AS first_ts,
                COALESCE(max(CASE WHEN ch = 1 THEN ts END), min(ts))
                  AS last_change_ts
         FROM f GROUP BY url
         ORDER BY url""",
    // the SAME 2-iteration EM replay as q_fellegi_sunter with pair ids
    // carried through; uncertainty = |posterior - scale/2| exact, then
    // ORDER BY uncertainty, ids LIMIT 40
    "q_uncertainty_sample" ->
      """WITH base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                              p_type, p_size FROM part),
         g AS (SELECT a.id AS id0, b.id AS id1,
                      CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                           THEN 1 ELSE 0 END AS g_name,
                      CASE WHEN a.p_type = b.p_type
                           THEN 1 ELSE 0 END AS g_type,
                      CASE WHEN abs(a.p_size - b.p_size) <= 2
                           THEN 1 ELSE 0 END AS g_size
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_type, g_size, count(*) AS c
                FROM g GROUP BY 1, 2, 3),
         e1 AS (SELECT pc.*,
           (((((CAST(100000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000 AS a,
           (((((CAST(900000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000 AS b
           FROM pc),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w1),
         e2 AS (SELECT pc.*,
           (((((p1.lam * (CASE WHEN g_name = 1 THEN p1.mn ELSE 1000000000 - p1.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.mt ELSE 1000000000 - p1.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.ms ELSE 1000000000 - p1.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p1.lam) * (CASE WHEN g_name = 1 THEN p1.un ELSE 1000000000 - p1.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.ut ELSE 1000000000 - p1.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.us ELSE 1000000000 - p1.us END)) // 1000000000 AS b
           FROM pc, p1),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w2),
         e3 AS (SELECT pc.*,
           (((((p2.lam * (CASE WHEN g_name = 1 THEN p2.mn ELSE 1000000000 - p2.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.mt ELSE 1000000000 - p2.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.ms ELSE 1000000000 - p2.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p2.lam) * (CASE WHEN g_name = 1 THEN p2.un ELSE 1000000000 - p2.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.ut ELSE 1000000000 - p2.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.us ELSE 1000000000 - p2.us END)) // 1000000000 AS b
           FROM pc, p2),
         post AS (SELECT g_name, g_type, g_size,
                         CAST((a * 1000000000) // (a + b) AS BIGINT)
                           AS posterior
                  FROM e3)
         SELECT g.id0, g.id1,
                CAST(g.g_name AS INT) AS g_name,
                CAST(g.g_type AS INT) AS g_type,
                CAST(g.g_size AS INT) AS g_size,
                post.posterior,
                CAST(abs(post.posterior - 500000000) AS BIGINT)
                  AS uncertainty
         FROM g JOIN post USING (g_name, g_type, g_size)
         ORDER BY uncertainty, g.id0, g.id1
         LIMIT 40""",
    // RRF: replay BOTH rankings (exact cosine + int8 integer-dot, each
    // top-10 per query), full-outer merge, score = list-ordered sum of
    // reciprocals rounded to 9dp, fused rank windows over the rounded
    // score with neighbor tie-break
    "q_rrf" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         es AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(q.e, c.e), 6) AS cos
           FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         er AS (
           SELECT query_id, neighbor_id,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM es QUALIFY rank <= 10),
         s0 AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc0
                FROM v),
         q8 AS (SELECT vec_id,
                 list_transform(e, x -> CAST(round(
                   x / (CASE WHEN sc0 = 0 THEN 1.0 ELSE sc0 END)) AS INT)) AS qv
               FROM s0),
         n8 AS (SELECT vec_id, qv,
                 sqrt(CAST(list_sum(list_transform(qv,
                   x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) AS nrm
               FROM q8),
         is0 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                      ELSE round(CAST(list_sum(list_transform(
                             range(1, len(a.qv) + 1),
                             i -> CAST(a.qv[i] AS BIGINT) * b.qv[i])) AS DOUBLE)
                           / (a.nrm * b.nrm), 6) END AS cos
               FROM n8 a JOIN n8 b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         ir AS (
           SELECT query_id, neighbor_id,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM is0 QUALIFY rank <= 10),
         f AS (SELECT COALESCE(er.query_id, ir.query_id) AS query_id,
                      COALESCE(er.neighbor_id, ir.neighbor_id) AS neighbor_id,
                      er.rank AS ra, ir.rank AS rb
               FROM er FULL OUTER JOIN ir
                 ON er.query_id = ir.query_id
                AND er.neighbor_id = ir.neighbor_id),
         sc AS (SELECT query_id, neighbor_id,
                      COALESCE(ra, 0) AS rank_1, COALESCE(rb, 0) AS rank_2,
                      round(
                        COALESCE(CAST(1 AS DOUBLE)
                          / CAST(60 + ra AS DOUBLE), 0.0)
                        + COALESCE(CAST(1 AS DOUBLE)
                          / CAST(60 + rb AS DOUBLE), 0.0), 9) AS rrf_score
                FROM f),
         fr AS (SELECT *,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY rrf_score DESC, neighbor_id) AS BIGINT)
                    AS fused_rank
                FROM sc)
         SELECT query_id, neighbor_id, rank_1, rank_2, rrf_score,
                fused_rank
         FROM fr WHERE fused_rank <= 10
         ORDER BY query_id, fused_rank""",
    // popcount histogram re-derived word-by-word from the fixture
    "q_clk_popcount_dist" ->
      """WITH c AS (SELECT dp,
                           CAST(list_sum(list_transform(words,
                             w -> bit_count(w))) AS INT) AS pc
                    FROM '/root/repo/fixtures/febrl4_clks.parquet'),
         b AS (SELECT dp, CAST(pc // 32 AS BIGINT) AS bucket,
                      CAST(count(*) AS BIGINT) AS n
               FROM c GROUP BY 1, 2),
         t AS (SELECT dp, CAST(sum(n) AS BIGINT) AS tot FROM b GROUP BY dp)
         SELECT b.dp, b.bucket, b.n, CAST(b.n AS DOUBLE) / t.tot AS share
         FROM b JOIN t USING (dp)""",
    // waterfall: the SAME 2-iteration EM replay, then one parallel
    // unnest per pattern over the three per-field (f_m, f_u) choices;
    // bayes_scaled = (f_m * scale) // f_u matches the Scala fixed point
    "q_fs_waterfall" ->
      """WITH base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                              p_type, p_size FROM part),
         g AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                           THEN 1 ELSE 0 END AS g_name,
                      CASE WHEN a.p_type = b.p_type
                           THEN 1 ELSE 0 END AS g_type,
                      CASE WHEN abs(a.p_size - b.p_size) <= 2
                           THEN 1 ELSE 0 END AS g_size
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_type, g_size, count(*) AS c
                FROM g GROUP BY 1, 2, 3),
         e1 AS (SELECT pc.*,
           (((((CAST(100000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000 AS a,
           (((((CAST(900000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000 AS b
           FROM pc),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w1),
         e2 AS (SELECT pc.*,
           (((((p1.lam * (CASE WHEN g_name = 1 THEN p1.mn ELSE 1000000000 - p1.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.mt ELSE 1000000000 - p1.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.ms ELSE 1000000000 - p1.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p1.lam) * (CASE WHEN g_name = 1 THEN p1.un ELSE 1000000000 - p1.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.ut ELSE 1000000000 - p1.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.us ELSE 1000000000 - p1.us END)) // 1000000000 AS b
           FROM pc, p1),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w2),
         e3 AS (SELECT pc.*,
           (((((p2.lam * (CASE WHEN g_name = 1 THEN p2.mn ELSE 1000000000 - p2.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.mt ELSE 1000000000 - p2.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.ms ELSE 1000000000 - p2.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p2.lam) * (CASE WHEN g_name = 1 THEN p2.un ELSE 1000000000 - p2.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.ut ELSE 1000000000 - p2.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.us ELSE 1000000000 - p2.us END)) // 1000000000 AS b
           FROM pc, p2),
         w3 AS (SELECT e3.g_name, e3.g_type, e3.g_size, e3.c AS n_pairs,
                       (e3.a * 1000000000) // (e3.a + e3.b) AS posterior,
                       p2.mn, p2.mt, p2.ms,
                       p2.un AS uu1, p2.ut AS uu2, p2.us AS uu3
                FROM e3, p2),
         f AS (SELECT g_name, g_type, g_size, n_pairs, posterior,
                 unnest(['g_name', 'g_type', 'g_size']) AS field,
                 unnest([CASE WHEN g_name = 1 THEN mn ELSE 1000000000 - mn END,
                         CASE WHEN g_type = 1 THEN mt ELSE 1000000000 - mt END,
                         CASE WHEN g_size = 1 THEN ms ELSE 1000000000 - ms END])
                   AS f_m,
                 unnest([CASE WHEN g_name = 1 THEN uu1 ELSE 1000000000 - uu1 END,
                         CASE WHEN g_type = 1 THEN uu2 ELSE 1000000000 - uu2 END,
                         CASE WHEN g_size = 1 THEN uu3 ELSE 1000000000 - uu3 END])
                   AS f_u
               FROM w3)
         SELECT CAST(g_name AS INT) AS g_name, CAST(g_type AS INT) AS g_type,
                CAST(g_size AS INT) AS g_size, n_pairs,
                CAST(posterior AS BIGINT) AS posterior, field,
                CAST(f_m AS BIGINT) AS f_m, CAST(f_u AS BIGINT) AS f_u,
                CAST((f_m * 1000000000) // f_u AS BIGINT) AS bayes_scaled
         FROM f""",
    // tf adjustment: the SAME 2-iteration EM replay as q_fellegi_sunter,
    // then per-(pattern, matched type) groups refolded with the value's
    // term frequency on the U side where g_type = 1; fold order and
    // parenthesization mirror the Scala loop exactly (multiply then
    // floored divide per field, g_name -> g_type -> g_size)
    "q_fs_tf_adjust" ->
      """WITH base AS (SELECT p_partkey AS id, p_brand AS bk, p_name,
                              p_type, p_size FROM part),
         g AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                           THEN 1 ELSE 0 END AS g_name,
                      CASE WHEN a.p_type = b.p_type
                           THEN 1 ELSE 0 END AS g_type,
                      CASE WHEN abs(a.p_size - b.p_size) <= 2
                           THEN 1 ELSE 0 END AS g_size,
                      CASE WHEN a.p_type = b.p_type THEN a.p_type END AS tf_val
               FROM base a JOIN base b ON a.bk = b.bk AND a.id < b.id),
         pc AS (SELECT g_name, g_type, g_size, count(*) AS c
                FROM g GROUP BY 1, 2, 3),
         e1 AS (SELECT pc.*,
           (((((CAST(100000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 900000000 ELSE 100000000 END)) // 1000000000 AS a,
           (((((CAST(900000000 AS BIGINT)
              * (CASE WHEN g_name = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN 100000000 ELSE 900000000 END)) // 1000000000 AS b
           FROM pc),
         w1 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e1),
         p1 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w1),
         e2 AS (SELECT pc.*,
           (((((p1.lam * (CASE WHEN g_name = 1 THEN p1.mn ELSE 1000000000 - p1.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.mt ELSE 1000000000 - p1.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.ms ELSE 1000000000 - p1.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p1.lam) * (CASE WHEN g_name = 1 THEN p1.un ELSE 1000000000 - p1.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p1.ut ELSE 1000000000 - p1.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p1.us ELSE 1000000000 - p1.us END)) // 1000000000 AS b
           FROM pc, p1),
         w2 AS (SELECT *, (a * 1000000000) // (a + b) AS w FROM e2),
         p2 AS (SELECT
           CAST(GREATEST(1, LEAST(999999999, SUM(c * w) // SUM(c))) AS BIGINT) AS lam,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_name) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mn,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_type) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS mt,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * w * g_size) AS HUGEINT) * 1000000000) // SUM(c * w))) AS BIGINT) AS ms,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_name) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS un,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_type) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS ut,
           CAST(GREATEST(1, LEAST(999999999, (CAST(SUM(c * (1000000000 - w) * g_size) AS HUGEINT) * 1000000000) // SUM(c * (1000000000 - w)))) AS BIGINT) AS us
           FROM w2),
         e3 AS (SELECT pc.*,
           (((((p2.lam * (CASE WHEN g_name = 1 THEN p2.mn ELSE 1000000000 - p2.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.mt ELSE 1000000000 - p2.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.ms ELSE 1000000000 - p2.ms END)) // 1000000000 AS a,
           ((((((1000000000 - p2.lam) * (CASE WHEN g_name = 1 THEN p2.un ELSE 1000000000 - p2.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN p2.ut ELSE 1000000000 - p2.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN p2.us ELSE 1000000000 - p2.us END)) // 1000000000 AS b
           FROM pc, p2),
         pb AS (SELECT g_name, g_type, g_size,
                       (a * 1000000000) // (a + b) AS posterior_base FROM e3),
         pv AS (SELECT g_name, g_type, g_size, tf_val,
                       CAST(count(*) AS BIGINT) AS n_pairs
                FROM g GROUP BY 1, 2, 3, 4),
         nrec AS (SELECT count(*) AS n_rec FROM base),
         tf AS (SELECT p_type AS tf_val,
                       CAST(GREATEST(1, (count(*) * 1000000000)
                         // (SELECT n_rec FROM nrec)) AS BIGINT) AS tf_v
                FROM base GROUP BY 1),
         j AS (SELECT pv.g_name, pv.g_type, pv.g_size, pv.tf_val, pv.n_pairs,
                      pb.posterior_base, p2.lam, p2.mn, p2.mt, p2.ms,
                      p2.un, p2.ut, p2.us, tf.tf_v
               FROM pv
               JOIN pb USING (g_name, g_type, g_size)
               CROSS JOIN p2
               LEFT JOIN tf USING (tf_val)),
         f AS (SELECT j.*,
           (((((j.lam * (CASE WHEN g_name = 1 THEN j.mn ELSE 1000000000 - j.mn END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN j.mt ELSE 1000000000 - j.mt END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN j.ms ELSE 1000000000 - j.ms END)) // 1000000000 AS num,
           ((((((1000000000 - j.lam) * (CASE WHEN g_name = 1 THEN j.un ELSE 1000000000 - j.un END)) // 1000000000)
              * (CASE WHEN g_type = 1 THEN GREATEST(1, LEAST(999999999, COALESCE(j.tf_v, j.ut))) ELSE 1000000000 - j.ut END)) // 1000000000)
              * (CASE WHEN g_size = 1 THEN j.us ELSE 1000000000 - j.us END)) // 1000000000 AS den
           FROM j)
         SELECT CAST(g_name AS INT) AS g_name, CAST(g_type AS INT) AS g_type,
                CAST(g_size AS INT) AS g_size, tf_val, n_pairs, tf_v,
                CAST(posterior_base AS BIGINT) AS posterior_base,
                CAST((num * 1000000000) // GREATEST(1, num + den) AS BIGINT)
                  AS posterior_adj,
                ((num * 1000000000) // GREATEST(1, num + den)) * 2 > 1000000000
                  AS is_match_adj
         FROM f""",
    // DuckDB replays the typo synthesis, both blocking passes, and the
    // edit-distance confirm with its own levenshtein
    "q_fuzzy_match" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
         q AS (SELECT p_name AS orig,
                      substring(p_name, 1, CAST(floor(length(p_name)/2) AS INT)) ||
                      substring(p_name, CAST(floor(length(p_name)/2) AS INT) + 2)
                        AS qname
               FROM names),
         cand AS (
           SELECT q.orig, q.qname, n.p_name AS cand
           FROM q JOIN names n ON substring(q.qname, 1, 2) = substring(n.p_name, 1, 2)
           UNION
           SELECT q.orig, q.qname, n.p_name
           FROM q JOIN names n ON right(q.qname, 2) = right(n.p_name, 2))
         SELECT orig, qname, cand, CAST(levenshtein(qname, cand) AS INT) AS dist
         FROM cand WHERE levenshtein(qname, cand) <= 2""",
    // DL matching replay: same corruption + dual-affix blocking, DuckDB's
    // own damerau_levenshtein as the independent distance engine
    "q_dl_match" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
         q AS (SELECT p_name AS orig,
                      substring(p_name, 1, m - 1) ||
                      substring(p_name, m + 1, 1) ||
                      substring(p_name, m, 1) ||
                      substring(p_name, m + 2) AS qname
               FROM (SELECT p_name,
                            CAST(floor(length(p_name)/2) AS INT) AS m
                     FROM names)),
         cand AS (
           SELECT q.orig, q.qname, n.p_name AS cand
           FROM q JOIN names n ON substring(q.qname, 1, 2) = substring(n.p_name, 1, 2)
           UNION
           SELECT q.orig, q.qname, n.p_name
           FROM q JOIN names n ON right(q.qname, 2) = right(n.p_name, 2))
         SELECT orig, qname, cand,
                CAST(damerau_levenshtein(qname, cand) AS INT) AS dist
         FROM cand WHERE damerau_levenshtein(qname, cand) <= 2""",
    // pairing replay from the soundex_sig dump + DuckDB's own
    // levenshtein confirm (key computation spec-gated — FuzzySpec NARA
    // vectors)
    "q_soundex_block" ->
      s"""WITH m AS (SELECT side, orig, name, sdx
                     FROM '$OracleAuxDir/soundex_sig/*.parquet'),
         q AS (SELECT orig, name AS qname, sdx FROM m WHERE side = 'q'),
         c AS (SELECT name AS cand, sdx FROM m WHERE side = 'c')
         SELECT q.orig, q.qname, c.cand, q.sdx,
                CAST(levenshtein(q.qname, c.cand) AS INT) AS dist
         FROM q JOIN c USING (sdx)
         WHERE levenshtein(q.qname, c.cand) <= 3""",
    // three exact integer PageRank iterations as chained CTEs; DuckDB's
    // BIGINT // == Spark's DIV, integer sums are order-free, so ranks
    // hash-match bit-for-bit
    "q_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                     FROM lineitem a JOIN lineitem b
                       ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
         nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
         c1 AS (SELECT e0.dst AS id, CAST(sum(r0.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r0 ON r0.id = e0.src
                GROUP BY 1),
         r1 AS (SELECT n.id,
                       150000000000 + (COALESCE(c1.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c1 USING (id)),
         c2 AS (SELECT e0.dst AS id, CAST(sum(r1.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r1 ON r1.id = e0.src
                GROUP BY 1),
         r2 AS (SELECT n.id,
                       150000000000 + (COALESCE(c2.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c2 USING (id)),
         c3 AS (SELECT e0.dst AS id, CAST(sum(r2.rank // deg.deg) AS BIGINT) AS s
                FROM e0 JOIN deg USING (src) JOIN r2 ON r2.id = e0.src
                GROUP BY 1),
         r3 AS (SELECT n.id,
                       150000000000 + (COALESCE(c3.s, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN c3 USING (id))
         SELECT CAST(id AS BIGINT) AS id, CAST(rank AS BIGINT) AS rank
         FROM r3""",
    // canonical = sorted tokens joined; candidates = union of first/
    // last sorted-token blocks; normalized Levenshtein on canonicals
    "q_token_sort" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
         q AS (SELECT p_name AS orig,
                      array_to_string(list_reverse(string_split(p_name, ' ')), ' ')
                        AS qname
               FROM names),
         qc AS (SELECT orig, qname,
                       array_to_string(list_sort(string_split_regex(trim(qname), '\s+')), ' ')
                         AS cq
                FROM q),
         cc AS (SELECT p_name AS cand,
                       array_to_string(list_sort(string_split_regex(trim(p_name), '\s+')), ' ')
                         AS ccn
                FROM names),
         cand AS (
           SELECT qc.orig, qc.qname, cc.cand, qc.cq, cc.ccn
           FROM qc JOIN cc
             ON string_split(qc.cq, ' ')[1] = string_split(cc.ccn, ' ')[1]
           UNION
           SELECT qc.orig, qc.qname, cc.cand, qc.cq, cc.ccn
           FROM qc JOIN cc
             ON string_split(qc.cq, ' ')[-1] = string_split(cc.ccn, ' ')[-1]),
         d AS (SELECT orig, qname, cand,
                      CAST(levenshtein(cq, ccn) AS INT) AS dist,
                      round(1.0 - CAST(levenshtein(cq, ccn) AS DOUBLE)
                        / greatest(length(cq), length(ccn)), 6)
                        AS token_sort_sim
               FROM cand)
         SELECT orig, qname, cand, dist, token_sort_sim
         FROM d WHERE token_sort_sim >= 0.9""",
    "q_jw_match" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
         q AS (SELECT p_name AS orig,
                      substring(p_name, 1, CAST(floor(length(p_name)/2) AS INT)) ||
                      substring(p_name, CAST(floor(length(p_name)/2) AS INT) + 2)
                        AS qname
               FROM names),
         cand AS (
           SELECT q.orig, q.qname, n.p_name AS cand
           FROM q JOIN names n ON substring(q.qname, 1, 2) = substring(n.p_name, 1, 2)
           UNION
           SELECT q.orig, q.qname, n.p_name
           FROM q JOIN names n ON right(q.qname, 2) = right(n.p_name, 2))
         SELECT orig, qname, cand,
                round(jaro_winkler_similarity(qname, cand), 6) AS jw
         FROM cand WHERE round(jaro_winkler_similarity(qname, cand), 6) >= 0.88""",
    // DuckDB's native ASOF JOIN — an independent engine's implementation
    // of the latest-at-or-before semantics the union-merge plan computes
    "q_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
         c AS (SELECT user_id AS cu, ts AS click_ts,
                      max(event_id) AS click_event_id
               FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id,
                epoch_us(p.ts) AS ts_us,
                c.click_event_id,
                epoch_us(c.click_ts) AS click_ts_us,
                epoch_us(p.ts) - epoch_us(c.click_ts) AS micros_since_click
         FROM p ASOF JOIN c ON p.user_id = c.cu AND p.ts >= c.click_ts""",
    "q_range_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
         c AS (SELECT user_id AS cu, ts AS cts, value AS cvalue
               FROM events WHERE event_type = 'click')
         SELECT p.event_id, p.user_id, count(*) AS n_clicks,
                round(sum(c.cvalue), 4) AS click_value
         FROM p JOIN c ON p.user_id = c.cu
           AND epoch_us(c.cts) >= epoch_us(p.ts) - 172800000000
           AND epoch_us(c.cts) < epoch_us(p.ts)
         GROUP BY 1, 2""",
    "q_events_windows" ->
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
                event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    // exactly-once emission across micro-batches == the distinct key set
    "q_stream_first_seen" ->
      """SELECT DISTINCT array_to_string(str_split(text, ' ')[1:3], ' ') AS dup_key
         FROM documents""",
    // no-eviction regime (delay >> data span) makes the engine's
    // dropDuplicatesWithinWatermark emission set exactly DISTINCT keys,
    // whatever the batch interleave — the cheap exact oracle
    "q_stream_dropdup_wm" ->
      """SELECT DISTINCT user_id FROM events
         WHERE event_type = 'purchase'""",
    // batch-mode replay of the TTL state machine under the query's
    // deterministic daily batching: per sighting day B of a key, emit
    // iff no prior sighting day P, or bmax(P) + 48h <= the max event
    // time through batch B-2 (the watermark in force at the last
    // intermediate batch — where the expiry timer could fire). epoch_ms
    // floors microseconds exactly like java.sql.Timestamp.getTime.
    "q_stream_ttl" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS t,
                           CAST(date_trunc('day', ts) AS DATE) AS d
                    FROM events WHERE event_type = 'purchase'),
         dm AS (SELECT d, max(t) AS dmax FROM e GROUP BY 1),
         wm AS (SELECT d, COALESCE(max(dmax) OVER (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING), 0)
                  AS wm2 FROM dm),
         kb AS (SELECT user_id, d, max(t) AS bmax FROM e GROUP BY 1, 2),
         r AS (SELECT kb.user_id, kb.bmax, wm.wm2,
                      lag(kb.bmax) OVER (PARTITION BY kb.user_id
                        ORDER BY kb.d) AS prev
               FROM kb JOIN wm USING (d))
         SELECT user_id,
                CAST(count(*) FILTER (WHERE prev IS NULL
                  OR prev + 172800000 <= wm2) AS BIGINT) AS n_emissions
         FROM r GROUP BY user_id""",
    // gap-merge sessions via lag-flag-cumsum (new session when the gap
    // is >= 30 min — session_window treats an event AT the window end as
    // outside it), finalization = end (last+gap) <= global max event time
    "q_stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
         mx AS (SELECT max(t) AS mt FROM e),
         f AS (SELECT user_id, t,
                 CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                        >= 1800000000 OR
                      lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                      THEN 1 ELSE 0 END AS new_s
               FROM e),
         s AS (SELECT user_id, t,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                   ROWS UNBOUNDED PRECEDING) AS seq
               FROM f),
         g AS (SELECT user_id, seq, min(t) AS start_us,
                      max(t) + 1800000000 AS end_us, count(*) AS n_events
               FROM s GROUP BY 1, 2)
         SELECT user_id, start_us, end_us, n_events
         FROM g, mx WHERE end_us <= mt""",
    // batch form of the streaming interval join (wide watermark => exact)
    "q_stream_join" ->
      """SELECT v.user_id AS key, v.event_id AS left_id,
                c.event_id AS right_id,
                epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
         FROM events v JOIN events c ON v.user_id = c.user_id
         WHERE v.event_type = 'view' AND c.event_type = 'click'
           AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 14400 SECOND""",
    // Spark's window('1 day') buckets are epoch-aligned in the session tz
    // (UTC here), so the streaming result's window_start equals the batch
    // day-truncation epoch — the driver itself verifies stream == batch
    "q_events_stream_windows" ->
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_start,
                event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    // adjusted Rand: q_rand_index's comb-2 sufficient statistics, then
    // num = 2(C*Sij - Sa*Sb), den = C*(Sa+Sb) - 2*Sa*Sb in HUGEINT
    // (arrow decimal128(38,0) == Spark's decimal(38,0)) and ONE floored
    // scaled divide
    "q_adjusted_rand" ->
      """WITH uni AS (SELECT i AS id FROM range(0, 2000) t(i)
                      UNION ALL SELECT i + 10000 FROM range(0, 2000) t(i)),
         g AS (SELECT dp * 10000 + entityId AS id, clusterId AS pred
               FROM '/root/repo/fixtures/febrl4_golden_clusters.parquet'),
         tp AS (SELECT CAST(row_a AS BIGINT) AS id,
                       CAST(row_a AS BIGINT) AS t
                FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                  header = true)
                UNION ALL
                SELECT CAST(row_b AS BIGINT) + 10000, CAST(row_a AS BIGINT)
                FROM read_csv('/root/repo/fixtures/febrl4_truth.csv',
                  header = true)),
         a AS (SELECT coalesce(g.pred, -uni.id - 1) AS c,
                      coalesce(tp.t, -uni.id - 1) AS e
               FROM uni LEFT JOIN g ON uni.id = g.id
                        LEFT JOIN tp ON uni.id = tp.id),
         ss AS (SELECT CAST(sum((n_ce * (n_ce - 1)) // 2) AS BIGINT)
                         AS s_ij,
                       CAST(sum(n_ce) AS BIGINT) AS n FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_ce FROM a
                   GROUP BY c, e)),
         pp AS (SELECT CAST(sum((n_c * (n_c - 1)) // 2) AS BIGINT)
                         AS s_a FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_c FROM a
                   GROUP BY c)),
         tt AS (SELECT CAST(sum((n_e * (n_e - 1)) // 2) AS BIGINT)
                         AS s_b FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_e FROM a
                   GROUP BY e)),
         x AS (SELECT n, (n * (n - 1)) // 2 AS pairs_total, s_ij, s_a, s_b,
                      2 * (CAST((n * (n - 1)) // 2 AS HUGEINT) * s_ij
                           - CAST(s_a AS HUGEINT) * s_b) AS ari_num,
                      CAST((n * (n - 1)) // 2 AS HUGEINT) * (s_a + s_b)
                        - 2 * CAST(s_a AS HUGEINT) * s_b AS ari_den
               FROM ss, pp, tt)
         SELECT n, pairs_total, s_ij, s_a, s_b, ari_num, ari_den,
                CAST(ari_num * 1000000000 // ari_den AS BIGINT)
                  AS ari_scaled
         FROM x""",
    // l-diversity over the q_block_kanon blocking, sensitive = lang:
    // distinct-(dp, block, lang) then per-block distinct counts
    "q_l_diversity" ->
      """WITH b AS (SELECT DISTINCT CAST(doc_id % 2 AS INT) AS dp,
                      string_split(text, ' ')[1] AS block_key, lang
                    FROM documents),
         d AS (SELECT dp, block_key,
                      CAST(count(*) AS BIGINT) AS n_distinct
               FROM b GROUP BY dp, block_key)
         SELECT dp, CAST(count(*) AS BIGINT) AS n_blocks,
                CAST(sum(CASE WHEN n_distinct < 3 THEN 1 ELSE 0 END)
                     AS BIGINT) AS blocks_below_l,
                min(n_distinct) AS min_diversity,
                max(n_distinct) AS max_diversity, 3 AS l
         FROM d GROUP BY dp""",
    // one-round star cover replay: same degree table, center = local
    // (deg, id) maximum (strict, so adjacent centers are impossible),
    // satellite attach = (deg, id)-argmax over center neighbors via
    // QUALIFY-style row_number
    "q_star_cluster" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                       greatest(a.l_partkey, b.l_partkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey),
         adj AS (SELECT u AS id, v AS nb FROM e0
                 UNION ALL SELECT v, u FROM e0),
         deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM adj
                 GROUP BY id),
         nbd AS (SELECT adj.id, d1.deg AS deg, adj.nb, d2.deg AS nb_deg
                 FROM adj JOIN deg d1 ON adj.id = d1.id
                          JOIN deg d2 ON adj.nb = d2.id),
         mx AS (SELECT id, deg, nb_deg, nb,
                       row_number() OVER (PARTITION BY id
                         ORDER BY nb_deg DESC, nb DESC) AS r
                FROM nbd),
         flag AS (SELECT id, deg,
                         (deg > nb_deg OR (deg = nb_deg AND id > nb))
                           AS is_center
                  FROM mx WHERE r = 1),
         cent AS (SELECT id, deg FROM flag WHERE is_center),
         att AS (SELECT nbd.id, nbd.nb,
                        row_number() OVER (PARTITION BY nbd.id
                          ORDER BY nbd.nb_deg DESC, nbd.nb DESC) AS r
                 FROM nbd JOIN cent ON nbd.nb = cent.id),
         a1 AS (SELECT id, nb AS star_c FROM att WHERE r = 1)
         SELECT f.id,
                CASE WHEN f.is_center THEN 'center'
                     WHEN a1.star_c IS NOT NULL THEN 'satellite'
                     ELSE 'orphan' END AS role,
                CASE WHEN f.is_center OR a1.star_c IS NULL THEN f.id
                     ELSE a1.star_c END AS star
         FROM flag f LEFT JOIN a1 ON f.id = a1.id""",
    // per-edge triangle support: q_triangles' oriented wedge join, each
    // triangle charging its three canonical edges, zero-support edges
    // kept by the left join
    "q_edge_support" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                       greatest(a.l_partkey, b.l_partkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT id, count(*) AS dg FROM
                   (SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0)
                 GROUP BY id),
         o AS (SELECT CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND u < v)
                      THEN u ELSE v END AS a,
                      CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND u < v)
                      THEN v ELSE u END AS b
               FROM e0 JOIN deg d1 ON e0.u = d1.id
                       JOIN deg d2 ON e0.v = d2.id),
         tri AS (SELECT w.a, w.b, w.c FROM
                   (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                    FROM o e1 JOIN o e2 ON e1.b = e2.a) w
                 JOIN o ON o.a = w.a AND o.b = w.c),
         ch AS (SELECT least(a, b) AS u, greatest(a, b) AS v FROM tri
                UNION ALL SELECT least(b, c), greatest(b, c) FROM tri
                UNION ALL SELECT least(a, c), greatest(a, c) FROM tri),
         sup AS (SELECT u, v, CAST(count(*) AS BIGINT) AS support
                 FROM ch GROUP BY u, v)
         SELECT e0.u, e0.v, COALESCE(sup.support, 0) AS support,
                COALESCE(sup.support, 0) = 0 AS is_bridge_candidate
         FROM e0 LEFT JOIN sup ON e0.u = sup.u AND e0.v = sup.v""",
    // KMV bottom-k sketch replayed exactly: same md5-derived 60-bit hash,
    // same bottom-64 per source, same floored (k-1)*2^60/kth_min estimate
    "q_kmv_distinct" ->
      """WITH t AS (SELECT source, unnest(str_split(text, ' ')) AS tok
                    FROM documents),
         h AS (SELECT DISTINCT source,
                      CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
               FROM t),
         r AS (SELECT source, h,
                      row_number() OVER (PARTITION BY source ORDER BY h) AS r
               FROM h),
         k AS (SELECT source, CAST(max(r) AS INT) AS k_used,
                      max(CASE WHEN r = 64 THEN h END) AS kth_min
               FROM r WHERE r <= 64 GROUP BY source),
         e AS (SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct
               FROM h GROUP BY source)
         SELECT k.source, 64 AS k, k.k_used, k.kth_min,
                CASE WHEN k.k_used < 64 THEN e.exact_distinct
                     ELSE CAST(CAST(63 AS HUGEINT) * 1152921504606846976
                               // k.kth_min AS BIGINT)
                END AS est_distinct,
                e.exact_distinct
         FROM k JOIN e ON k.source = e.source""",
    // HLL registers + the scaled-integer estimate: bucket = top 6 hash
    // bits, rho = leftmost-1 position of the 54-bit remainder (via the
    // same lpad(bin(...)) string both engines build), s_scaled =
    // sum(2^(55-reg)) over the full 64-bucket grid, est = one floored
    // HUGEINT divide with alpha = 709/1000
    "q_hll_distinct" ->
      """WITH t AS (SELECT lang, unnest(str_split(text, ' ')) AS tok
                    FROM documents),
         h AS (SELECT lang,
                      CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
               FROM t),
         b AS (SELECT lang, h // 18014398509481984 AS bucket,
                      h % 18014398509481984 AS rem FROM h),
         rr AS (SELECT lang, bucket,
                  CASE WHEN rem = 0 THEN 55
                       ELSE CAST(strpos(lpad(bin(rem), 54, '0'), '1') AS INT)
                  END AS rho
                FROM b),
         regs AS (SELECT lang, bucket, max(rho) AS reg FROM rr GROUP BY 1, 2),
         grid AS (SELECT DISTINCT lang, g AS bucket FROM h, range(0, 64) t(g)),
         fl AS (SELECT grid.lang, grid.bucket, COALESCE(regs.reg, 0) AS reg
                FROM grid LEFT JOIN regs
                  ON grid.lang = regs.lang AND grid.bucket = regs.bucket),
         s AS (SELECT lang,
                  CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT)
                    AS s_scaled,
                  CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS v_zero
               FROM fl GROUP BY lang),
         e AS (SELECT lang, CAST(count(DISTINCT h) AS BIGINT)
                              AS exact_distinct
               FROM h GROUP BY lang)
         SELECT s.lang, 64 AS m, s.v_zero, s.s_scaled,
                CAST((CAST(709 AS HUGEINT) * 4096 * (CAST(1 AS BIGINT) << 55))
                     // (1000 * CAST(s_scaled AS HUGEINT)) AS BIGINT)
                  AS est_raw,
                e.exact_distinct
         FROM s JOIN e ON s.lang = e.lang""",
    // count-min sketch replay: 4x256 occurrence cells from the same
    // "seed#token" hashes, point estimate = min of the candidate's 4
    // cells; candidates = the exact top-30 tokens (count DESC, tok ASC)
    "q_cms_heavy" ->
      """WITH t AS (SELECT unnest(str_split(text, ' ')) AS tok
                    FROM documents),
         e AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact
               FROM t GROUP BY tok),
         cand AS (SELECT tok FROM e ORDER BY exact DESC, tok LIMIT 30),
         cells AS (SELECT seed,
                     CAST('0x' || substr(md5(seed || '#' || tok), 1, 15)
                          AS BIGINT) % 256 AS bucket,
                     CAST(count(*) AS BIGINT) AS cell
                   FROM t, range(0, 4) s(seed) GROUP BY 1, 2),
         q AS (SELECT cand.tok, seed,
                 CAST('0x' || substr(md5(seed || '#' || cand.tok), 1, 15)
                      AS BIGINT) % 256 AS bucket
               FROM cand, range(0, 4) s(seed)),
         est AS (SELECT q.tok, min(COALESCE(cells.cell, 0)) AS est
                 FROM q LEFT JOIN cells
                   ON q.seed = cells.seed AND q.bucket = cells.bucket
                 GROUP BY q.tok)
         SELECT est.tok, est.est, e.exact, est.est >= e.exact AS never_under
         FROM est JOIN e ON est.tok = e.tok""",
    // t-closeness replay: same (block, value) cells, same algebraic
    // collapse of absent grid cells (n_b*N + sum over present cells),
    // same floored scaled divide — all HUGEINT
    "q_t_closeness" ->
      """WITH r AS (SELECT CAST(doc_id % 2 AS INT) AS dp,
                      string_split(text, ' ')[1] AS block_key, lang AS sv
                    FROM documents),
         c AS (SELECT dp, block_key, sv, CAST(count(*) AS HUGEINT) AS c
               FROM r GROUP BY 1, 2, 3),
         bn AS (SELECT dp, block_key, CAST(sum(c) AS HUGEINT) AS n_b
                FROM c GROUP BY 1, 2),
         g AS (SELECT dp, sv, CAST(count(*) AS HUGEINT) AS cv
               FROM r GROUP BY 1, 2),
         tt AS (SELECT dp, CAST(sum(cv) AS HUGEINT) AS n_tot
                FROM g GROUP BY 1),
         pb AS (SELECT c.dp, c.block_key, max(bn.n_b) AS n_b,
                       max(tt.n_tot) AS n_tot,
                       sum(abs(c.c * tt.n_tot - g.cv * bn.n_b)
                           - g.cv * bn.n_b) AS term_sum
                FROM c JOIN g ON c.dp = g.dp AND c.sv = g.sv
                       JOIN bn ON c.dp = bn.dp AND c.block_key = bn.block_key
                       JOIN tt ON c.dp = tt.dp
                GROUP BY 1, 2),
         tb AS (SELECT dp, (n_b * n_tot + term_sum) * 1000000
                           // (2 * n_b * n_tot) AS t_block
                FROM pb)
         SELECT dp, CAST(count(*) AS BIGINT) AS n_blocks,
                CAST(sum(CASE WHEN t_block > 300000 THEN 1 ELSE 0 END)
                     AS BIGINT) AS blocks_above_t,
                CAST(min(t_block) AS BIGINT) AS min_t_scaled,
                CAST(max(t_block) AS BIGINT) AS max_t_scaled,
                CAST(300000 AS BIGINT) AS t_scaled,
                CAST(1000000 AS BIGINT) AS scale
         FROM tb GROUP BY dp""",
    // KMV set-ops replay: same per-source bottom-64 sketches, same
    // union-sketch rank/kth/membership math, same floored divides
    "q_kmv_setops" ->
      """WITH t AS (SELECT source, unnest(str_split(text, ' ')) AS tok
                    FROM documents),
         h AS (SELECT DISTINCT source AS grp,
                      CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
               FROM t),
         r AS (SELECT grp, h,
                      row_number() OVER (PARTITION BY grp ORDER BY h) AS r
               FROM h),
         sk AS (SELECT grp, h FROM r WHERE r <= 64),
         p AS (SELECT a.grp AS grp0, b.grp AS grp1
               FROM (SELECT DISTINCT grp FROM sk) a
                    JOIN (SELECT DISTINCT grp FROM sk) b ON a.grp < b.grp),
         m AS (SELECT grp0, grp1, h, max(in0) AS in0, max(in1) AS in1
               FROM (SELECT p.grp0, p.grp1, sk.h, 1 AS in0, 0 AS in1
                     FROM p JOIN sk ON sk.grp = p.grp0
                     UNION ALL
                     SELECT p.grp0, p.grp1, sk.h, 0, 1
                     FROM p JOIN sk ON sk.grp = p.grp1)
               GROUP BY 1, 2, 3),
         rk AS (SELECT grp0, grp1, h, in0, in1,
                  row_number() OVER (PARTITION BY grp0, grp1 ORDER BY h)
                    AS r
                FROM m),
         pp AS (SELECT grp0, grp1, CAST(max(r) AS INT) AS k_used,
                  max(CASE WHEN r = 64 THEN h END) AS kth_union,
                  CAST(sum(CASE WHEN in0 = 1 AND in1 = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS inter_bottomk
                FROM rk WHERE r <= 64 GROUP BY 1, 2),
         est AS (SELECT grp0, grp1, k_used, kth_union, inter_bottomk,
                   CASE WHEN k_used < 64 THEN CAST(k_used AS BIGINT)
                        ELSE CAST(CAST(63 AS HUGEINT) * 1152921504606846976
                                  // kth_union AS BIGINT)
                   END AS est_union
                 FROM pp),
         eu AS (SELECT grp0, grp1, CAST(count(*) AS BIGINT) AS exact_union,
                  CAST(sum(CASE WHEN in0 = 1 AND in1 = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS exact_intersection
                FROM (SELECT grp0, grp1, h,
                             max(in0) AS in0, max(in1) AS in1
                      FROM (SELECT p.grp0, p.grp1, hh.h, 1 AS in0, 0 AS in1
                            FROM p JOIN h hh ON hh.grp = p.grp0
                            UNION ALL
                            SELECT p.grp0, p.grp1, hh.h, 0, 1
                            FROM p JOIN h hh ON hh.grp = p.grp1)
                      GROUP BY 1, 2, 3)
                GROUP BY 1, 2)
         SELECT est.grp0, est.grp1, 64 AS k, est.k_used, est.kth_union,
                est.est_union, est.inter_bottomk,
                CAST(CAST(est.inter_bottomk AS HUGEINT) * 1000000 // 64
                     AS BIGINT) AS jaccard_scaled,
                CAST(CAST(est.inter_bottomk AS HUGEINT) * est.est_union
                     // 64 AS BIGINT) AS est_intersection,
                eu.exact_union, eu.exact_intersection
         FROM est JOIN eu
           ON est.grp0 = eu.grp0 AND est.grp1 = eu.grp1""",
    // SCC ground truth: the full recursive reachability closure, scc =
    // min over the mutual-reachability set (the definition itself — the
    // Spark side's FW-BW coloring must land on exactly this)
    "q_scc" ->
      """WITH RECURSIVE
         li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
                       l_partkey AS pk
                FROM lineitem
                WHERE l_partkey < 400 AND l_orderkey % 8 = 0),
         e AS (SELECT DISTINCT pk AS src, nxt AS dst
               FROM (SELECT pk,
                       lead(pk) OVER (PARTITION BY ok ORDER BY ln, pk) AS nxt
                     FROM li)
               WHERE nxt IS NOT NULL AND nxt <> pk),
         reach AS (SELECT src AS a, dst AS b FROM e
                   UNION
                   SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         mut AS (SELECT r1.a AS id, r1.b AS o
                 FROM reach r1 JOIN reach r2
                   ON r1.a = r2.b AND r1.b = r2.a)
         SELECT CAST(id AS BIGINT) AS id,
                CAST(least(id, coalesce(min(o), id)) AS BIGINT) AS scc
         FROM nodes LEFT JOIN mut USING (id)
         GROUP BY id""",
    // bowtie replay: closure-derived SCCs -> largest core (ties to the
    // smallest label) -> fwd/bwd membership straight off the closure ->
    // weak connectivity as one more recursive flood from the core
    "q_bowtie" ->
      """WITH RECURSIVE
         li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
                       l_partkey AS pk
                FROM lineitem
                WHERE l_partkey < 400 AND l_orderkey % 8 = 0),
         e AS (SELECT DISTINCT pk AS src, nxt AS dst
               FROM (SELECT pk,
                       lead(pk) OVER (PARTITION BY ok ORDER BY ln, pk)
                         AS nxt
                     FROM li)
               WHERE nxt IS NOT NULL AND nxt <> pk),
         reach AS (SELECT src AS a, dst AS b FROM e
                   UNION
                   SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
         und AS (SELECT DISTINCT u, v FROM
                   (SELECT src AS u, dst AS v FROM e
                    UNION ALL SELECT dst, src FROM e)),
         nodes AS (SELECT DISTINCT id FROM
                     (SELECT src AS id FROM e
                      UNION ALL SELECT dst AS id FROM e)),
         mut AS (SELECT r1.a AS id, r1.b AS o
                 FROM reach r1 JOIN reach r2
                   ON r1.a = r2.b AND r1.b = r2.a),
         sccs AS (SELECT id, least(id, coalesce(min(o), id)) AS scc
                  FROM nodes LEFT JOIN mut USING (id) GROUP BY id),
         core AS (SELECT id FROM sccs WHERE scc =
                    (SELECT scc FROM (SELECT scc, count(*) AS n
                                      FROM sccs GROUP BY scc)
                     ORDER BY n DESC, scc LIMIT 1)),
         fwd AS (SELECT DISTINCT reach.b AS id
                 FROM reach JOIN core ON reach.a = core.id),
         bwd AS (SELECT DISTINCT reach.a AS id
                 FROM reach JOIN core ON reach.b = core.id),
         wreach AS (SELECT id FROM core
                    UNION
                    SELECT und.v FROM wreach JOIN und ON wreach.id = und.u)
         SELECT CAST(n.id AS BIGINT) AS id,
                CASE WHEN n.id IN (SELECT id FROM core) THEN 'core'
                     WHEN n.id IN (SELECT id FROM bwd) THEN 'in'
                     WHEN n.id IN (SELECT id FROM fwd) THEN 'out'
                     WHEN n.id IN (SELECT id FROM wreach) THEN 'tendril'
                     ELSE 'disconnected' END AS cls
         FROM nodes n""",
    // DSIR replay: same md5-derived 1024-bucket hash, same add-one
    // smoothed counts, same log10 ratio mean rounded to 6 places
    "q_dsir" ->
      """WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
                      unnest(str_split(text, ' ')) AS tok
                    FROM documents),
         b AS (SELECT doc_id, tgt,
                 CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024
                   AS b
               FROM t),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_r,
                        CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_t
                 FROM b),
         m AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r,
                 CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_t
               FROM b GROUP BY b),
         lr AS (SELECT b,
                  log10((c_t + 1) / CAST(n_t + 1024 AS DOUBLE))
                  - log10((c_r + 1) / CAST(n_r + 1024 AS DOUBLE))
                    AS logratio
                FROM m, tot)
         SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                round(avg(lr.logratio), 6) AS dsir_weight
         FROM b JOIN lr USING (b)
         GROUP BY b.doc_id""",
  )
}
