package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._
import graft.core.LinkConfig
import graft.ingest.ClkIO

/** Record-linkage runs over the reference fixtures: the febrl4, pages
  * and 5-party CLK pipelines end to end, the edges, clusters and
  * permutations they produce, the decision tiers over those edges, and
  * the checkpoint protocol the resumable job runs on.
  *
  * Inside the record-linkage boundary. */
object LinkageQueries extends QueryFamily {
  // clusters feed two result queries (groups + permutation) — computed
  // once per session (X5 cache parity: the reference caches decoded
  // encodings between stages, cache/encodings.py:13-55). Keyed by the
  // session OBJECT (identity hash ints can collide after GC); entries
  // bound to a stopped SparkContext are evicted on every access, which
  // also bounds the strong-ref leak to at most the live sessions + the
  // most recently stopped ones.
  private val febrl4ClustersCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()
  def febrl4Clusters(spark: SparkSession): DataFrame = {
    febrl4ClustersCache.keySet().removeIf(s =>
      try s.sparkContext.isStopped catch { case _: Throwable => true })
    febrl4ClustersCache.computeIfAbsent(spark, s =>
      Pipeline.clusters(febrl4Blocked(s), LinkConfig(threshold = 0.8))
        .toDF().persist())
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
    sb ++= s"""WITH c AS MATERIALIZED (SELECT dp, entity_id, pc, words
                    FROM '$FixturesDir/febrl4_clks.parquet'),
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

  override def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
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
  )

  val queries: Seq[Query] = Seq(
    Query("er_febrl4_edges", (s, _) =>
      febrl4Edges(s, 0.8)
        .toDF().orderBy(desc("sim"), col("rec0"), col("rec1")),
      // The flagship CLK Dice kernel, replayed bit-for-bit by DuckDB from
      // the committed fixture dump (fixtures/febrl4_clks.parquet = the
      // febrl4 .bin CLKs as 16 bigint words + popcount per record; see
      // graft.tools.MakeOracleFixtures). sim = 2*popcount(a&b)/(pc0+pc1),
      // thresholded at 0.8 — both engines do one exact int multiply and one
      // IEEE division, so the doubles hash identically unrounded.
      s"""WITH $febrl4DicePairsSql
         SELECT sim, dp0, rec0, dp1, rec1 FROM p WHERE sim >= 0.8"""),
    Query("er_febrl4_clusters", (s, _) =>
      febrl4Clusters(s).orderBy(col("clusterId"), col("dp")),
      // Greedy-solver outputs, gated against FROZEN golden parquet fixtures
      // (graft.tools.MakeOracleFixtures — sequential greedy is not
      // SQL-expressible). Deliberately semi-circular: these rows pin
      // regression under the driver's hash gate; first-principles
      // correctness stays with LinkageFixtureSpec's exact brute-force
      // oracle + F1-vs-truth and the frozen multiparty golden.
      s"""SELECT "clusterId", "dp", "entityId"
         FROM ${febrl4GoldenSql()}"""),
    // the FULL 5-party pipeline (P>2: all-cross-pairs greedy merge rule)
    // made driver-visible — encode 5 binary CLK uploads -> block ->
    // score -> CC -> solve; oracle = the frozen golden groups
    // (documented semi-circular regression pin; the semantic gates are
    // MultipartySpec's invariants + subsample brute-force equality)
    Query("er_multiparty_clusters", (s, _) => {
      val all = (0 until 5).map { k =>
        ClkIO.readBinary(s, s"$FixturesDir/multiparty_$k.bin", k, 128)
      }.reduce(_ union _)
      graft.cluster.Solver.solve(
          Pipeline.edges(Pipeline.defaultBlock(all),
            LinkConfig(threshold = 0.8)), LinkConfig(threshold = 0.8))
        .toDF().orderBy(col("clusterId"), col("dp"))
    },
      // frozen-golden replay (multiparty_golden_groups.csv committed by
      // tools/MakeOracleFixtures; same pattern as er_febrl4_clusters)
      s"""SELECT CAST(clusterId AS BIGINT) AS clusterId,
                CAST(dp AS INT) AS dp,
                CAST(entityId AS BIGINT) AS entityId
         FROM read_csv('$FixturesDir/multiparty_golden_groups.csv',
                       header = true)"""),
    // mutual-best 1:1 tier over the same scored edges: reciprocal top-1
    // by (sim desc, partner asc) — the high-precision auto-accept band
    Query("q_mutual_best", (s, _) =>
      graft.cluster.Solver.mutualBest(
          febrl4Edges(s, 0.8).toDF())
        .orderBy(col("rec0")),
      // mutual-best replay: the same kernel-derived edge set, reciprocal
      // top-1 via two QUALIFY windows ordered (sim DESC, partner ASC)
      s"""WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '$FixturesDir/febrl4_clks.parquet'),
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
                JOIN b0 USING (dp0, rec0, dp1, rec1)"""),
    // three-zone decision surface: auto-accept >= 0.8, clerical review
    // in [0.7, 0.8) with a per-left-record review queue position —
    // oracle replays the kernel + the same CASE/window in SQL
    Query("q_clerical_band", (s, _) =>
      graft.link.Review.threeZone(
          febrl4Edges(s, 0.7).toDF(),
          upper = 0.8)
        .orderBy(col("zone"), col("dp0"), col("rec0"), col("queue_pos"),
          col("dp1"), col("rec1")),
      // three-zone band: kernel replay at the LOWER threshold + the same
      // CASE/window; ranks are engine-identical because the tie-break
      // (sim DESC, dp1, rec1) is total over exact IEEE sims
      s"""WITH ${febrl4EdgesSql(0.7)}
         SELECT sim, dp0, rec0, dp1, rec1,
                CASE WHEN sim >= 0.8 THEN 'accept' ELSE 'review' END AS zone,
                CASE WHEN sim >= 0.8 THEN 0 ELSE CAST(row_number() OVER (
                  PARTITION BY (sim >= 0.8), dp0, rec0
                  ORDER BY sim DESC, dp1, rec1) AS INTEGER) END AS queue_pos
         FROM e"""),
    // unlinkables curve (splink's unlinkables_chart): per candidate
    // threshold, the share of records whose BEST candidate score falls
    // below it — the coverage cost of raising the cut, measured over the
    // full record universe (no-candidate records count as best = 0)
    Query("q_unlinkables", (s, _) => {
      val recs = ClkIO.readBinary(s, s"$FixturesDir/febrl4_a.bin", 0, 128)
        .union(ClkIO.readBinary(s, s"$FixturesDir/febrl4_b.bin", 1, 128))
        .toDF().select(col("dp"), col("entityId").as("rec"))
      graft.link.Review.unlinkables(
          febrl4Edges(s, 0.7).toDF(),
          recs, Seq(0.7, 0.75, 0.8, 0.85, 0.9, 0.95))
        .orderBy(col("threshold"))
    },
      // unlinkables replay: kernel edges at the 0.7 floor, per-record best
      // via endpoint union + left join onto the record universe, literal
      // threshold list crossed with the per-record bests
      s"""WITH ${febrl4EdgesSql(0.7)},
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
         FROM t, best GROUP BY 1"""),
    // incremental linkage: only pairs touching the "new batch" (here the
    // deterministic 10% slice entity_id%10==7) are scored; the oracle
    // replays the FULL kernel and filters to touching-new — equality of
    // the two shapes is exactly the delta contract
    Query("q_link_delta", (s, _) =>
      Pipeline.edgesDelta(febrl4Blocked(s), LinkConfig(threshold = 0.8),
          col("entity_id") % 10 === 7)
        .toDF().orderBy(desc("sim"), col("rec0"), col("rec1")),
      // delta contract: the full kernel replay filtered to pairs touching
      // the new batch must equal the delta-only Spark run
      s"""WITH $febrl4DicePairsSql
         SELECT sim, dp0, rec0, dp1, rec1 FROM p
         WHERE sim >= 0.8 AND (rec0 % 10 = 7 OR rec1 % 10 = 7)"""),
    // anonlink-k candidate capping (LinkConfig.topKPerRecord) over the
    // same fixture — oracle replays the kernel + a per-record window
    Query("q_clk_edges_topk", (s, _) =>
      Pipeline.edges(febrl4Blocked(s),
        LinkConfig(threshold = 0.8, topKPerRecord = Some(2)))
        .toDF().orderBy(col("rec0"), col("dp1"), col("rec1")),
      s"""WITH $febrl4DicePairsSql,
         t AS (SELECT *, row_number() OVER (PARTITION BY dp0, rec0
                 ORDER BY sim DESC, dp1, rec1) AS rn
               FROM p WHERE sim >= 0.8)
         SELECT sim, dp0, rec0, dp1, rec1 FROM t WHERE rn <= 2"""),
    Query("er_febrl4_permutation", (s, _) => {
      import s.implicits._
      val clusters = febrl4Clusters(s).as[graft.core.ClusterMember]
      val (perm, _) = graft.cluster.Permutation.permuteAndMask(clusters, 1000, 1000)
      perm.orderBy(col("dp"), col("row_index"))
    },
      // M1 permutation construction replayed from the pairs + slot-hash
      // dumps: seeded shuffle ranks, matched-pair slot packing, remainder
      // fill per side (n0 = n1 = 1000, so the overflow ranges are empty)
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
         FROM perm"""),
    // M2 dict→dense-list through the REAL driver-side export (the
    // reference's apply_permutation builds a per-provider python list);
    // the construction itself is fully oracled by er_febrl4_permutation,
    // so the aux dump + array_agg oracle checks exactly the reshape
    Query("q_perm_dense", (s, _) => {
      import s.implicits._
      val clusters = febrl4Clusters(s).as[graft.core.ClusterMember]
      val (perm, _) = graft.cluster.Permutation.permuteAndMask(clusters, 1000, 1000)
      val dense = Seq(0, 1).map(dp =>
        (dp, graft.cluster.Permutation.toDenseList(perm, dp).mkString(",")))
      dense.toDF("dp", "slots_csv")
    },
      // M2 reshape check over the construction-oracled permutation rows
      s"""WITH p AS (SELECT dp, row_index, slot
                     FROM '$OracleAuxDir/perm_rows/*.parquet')
         SELECT dp, array_to_string(array_agg(slot ORDER BY row_index), ',')
                  AS slots_csv
         FROM p GROUP BY dp"""),
    // G2 group→pairs expansion (anonlink pairs_from_groups): oracle
    // re-derives the cross pairs from the frozen golden clusters
    Query("q_solver_pairs", (s, _) => {
      import s.implicits._
      graft.cluster.Solver.pairsFromClusters(
          febrl4Clusters(s).as[graft.core.ClusterMember])
        .orderBy(col("dp0"), col("rec0"), col("dp1"), col("rec1"))
    },
      // G2: cross pairs implied by the frozen golden clusters
      s"""WITH a AS (SELECT "clusterId" AS c, dp, "entityId" AS e
                    FROM ${febrl4GoldenSql()})
         SELECT x.dp AS dp0, x.e AS rec0, y.dp AS dp1, y.e AS rec1
         FROM a x JOIN a y ON x.c = y.c
           AND (x.dp < y.dp OR (x.dp = y.dp AND x.e < y.e))"""),
    Query("er_pages_clusters", (s, _) => {
      val pages = graft.ingest.PagesSynth.pages(s, Seq(1000, 1000))
      val blocked = graft.ingest.Ingest.encodeAndBlock(pages)
      Pipeline.clusters(blocked, LinkConfig(threshold = 0.8))
        .toDF().orderBy(col("clusterId"), col("dp"))
    },
      s"""SELECT "clusterId", "dp", "entityId"
         FROM '$FixturesDir/pages_golden_clusters.parquet'"""),
    // A4 guardrail driven end-to-end: the real enforceScoredPairsCap is
    // invoked with a cap below the fixture's edge count (must refuse,
    // reference comparing.py:363-372 / settings.py:111-112) and a cap
    // above it (must pass); the refused row's count is parsed back OUT
    // of the refusal message, so the oracle checks the guard counted
    // exactly the kernel's edge set before aborting
    Query("q_guardrail", (s, _) => {
      import s.implicits._
      val edges = febrl4Edges(s, 0.8)
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
    },
      // A4 guardrail: the kernel-replayed edge count decides refusal per
      // cap exactly as enforceScoredPairsCap must
      s"""WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '$FixturesDir/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim
           FROM c a JOIN c b ON a.dp < b.dp),
         e AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p WHERE sim >= 0.8),
         g AS (SELECT CAST(unnest([100, 1000000]) AS BIGINT) AS cap)
         SELECT g.cap, e.n AS n_candidates, e.n > g.cap AS refused
         FROM g, e"""),
    // checkpointed two-stage pipeline, driver-visible: stage 1 cleans
    // documents into a checkpoint, a RERUN of stage 1 must serve from
    // the manifest WITHOUT invoking compute (the compute thunk throws),
    // stage 2 aggregates from the resumed table, and the per-partition
    // lineage rows are summed into the output — so resume semantics AND
    // the lineage counters are value-checked by the oracle, which
    // recomputes the expected stats straight from the documents table
    Query("q_checkpoint_resume", (s, dir) => {
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
    },
      // expected stats recomputed straight from the source table: the
      // query's numbers came through two checkpoints, a manifest resume,
      // and the lineage sum — all must agree with direct SQL
      """WITH c AS (SELECT lang, n_chars FROM documents
                    WHERE length(text) >= 20),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS lineage_rows FROM c)
         SELECT lang, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                tot.lineage_rows, tot.lineage_rows AS computed_rows,
                true AS resumed
         FROM c, tot GROUP BY lang, tot.lineage_rows"""),
    // the two-level salting PLAN itself, driver-visible: per block, the
    // (k1, k2) fan-out Salting.fanoutCol picks at aim=50/maxK=16 plus the
    // chunk-task and pair estimates — the skew-handling decision is
    // oracle-checked, not just exercised (ceil/sqrt/div are IEEE-exact
    // in both engines, so the replay is bit-for-bit)
    Query("q_skew_plan", (s, dir) => {
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
    },
      // Salting.fanoutCol replayed: needK = ceil(n/sqrt(aim)), k1 = min(needK,
      // maxK), k2 = min(ceil(needK/k1), maxK) — same IEEE double ops
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
         FROM k"""),
    // active-learning labeling sampler: k candidate pairs per similarity
    // band from one low-threshold kernel pass, hash-ordered (md5 — pure
    // SQL in both engines) so the labeling batch is reproducible at any
    // parallelism and engine
    Query("q_label_sample", (s, _) => {
      val e = febrl4Edges(s, 0.5)
        .toDF()
      val banded = e.select(col("rec0"), col("rec1"), col("sim"),
        floor(col("sim") * 20).cast("int").as("band"),
        md5(concat_ws("_", col("rec0"), col("rec1"))).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band")).orderBy(col("h"))
      banded.withColumn("sample_rank", row_number().over(w))
        .where(col("sample_rank") <= 5)
        .orderBy(col("band"), col("sample_rank"))
    },
      // kernel replay at t=0.5 + identical banding and md5 hash order —
      // the labeling batch is engine-independent by construction
      s"""WITH c AS (SELECT dp, entity_id, pc, words
                    FROM '$FixturesDir/febrl4_clks.parquet'),
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
         FROM r WHERE sample_rank <= 5"""),
    // stable 1:1 resolution of the scored linkage edges via deferred
    // acceptance (Gale–Shapley): the one-to-one enforcement step with a
    // no-blocking-pair guarantee, preferences = sim with id tie-breaks
    Query("q_stable_match", (s, _) => {
      val e = febrl4Edges(s, 0.8)
        .toDF()
      graft.link.StableMatching.run(
          e.select(col("rec0").as("l"), col("rec1").as("r"),
            col("sim").as("score")))
        .select(col("l").as("rec0"), col("r").as("rec1"),
          col("score").as("sim"))
        .orderBy(col("rec0"))
    },
      stableMatchOracleSql(8)),
  )
}
