package graft.link

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ClusterMember, Edge, LinkConfig, Record}
import graft.cluster.Solver

/** End-to-end linkage runs — the Spark equivalent of the reference's
  * `POST /runs` lifecycle (`backend/entityservice/tasks/comparing.py:44-99`
  * → `tasks/solver.py` → groups), traced in SURVEY.md §3.2.
  */
object Pipeline {

  /** Attach the default single block "1" (no-blocking case,
    * `encoding_storage.py:21`) and normalize to the linkage schema
    * (dp, entity_id, clk, popcount, block_key). */
  def defaultBlock(records: Dataset[Record]): DataFrame =
    records.toDF("dp", "entity_id", "clk", "popcount")
      .withColumn("block_key", lit("1"))

  /** records (+ blocks) -> scored, deduped edges. */
  def edges(blocked: DataFrame, cfg: LinkConfig): Dataset[Edge] =
    Linker.scoreCandidates(blocked, cfg)

  /** records (+ blocks) -> entity clusters. */
  def clusters(blocked: DataFrame, cfg: LinkConfig): Dataset[ClusterMember] =
    Solver.solve(edges(blocked, cfg), cfg)

  /** Incremental linkage over an append-only corpus: score ONLY the
    * pairs that involve at least one record of the new batch, never
    * re-scoring old×old. The reference re-runs the full comparison on
    * every new upload (`backend/entityservice/views/project.py` run
    * lifecycle — a fresh run per upload); at 10^12-document crawl scale
    * the right shape is delta-only, and blocking makes it cheap:
    *
    *  1. only blocks containing ≥1 new record can emit a new pair — a
    *     broadcast keep-list of touched block keys (a small delta touches
    *     few blocks) drops untouched blocks BEFORE the packing shuffle,
    *     so cost is bounded by the delta's block footprint, not corpus
    *     size;
    *  2. within kept blocks the standard kernel runs unchanged, then
    *     old×old pairs (co-resident in a touched block) are dropped with
    *     two broadcast anti-flags on the delta id set — no extra shuffle.
    *
    * Equality contract (spec-gated): `edgesDelta(blocked, cfg, isNew)` ==
    * `edges(blocked, cfg).filter(touches a new record)` — union with the
    * previous run's edge set to maintain the full linkage incrementally.
    */
  def edgesDelta(blocked: DataFrame, cfg: LinkConfig,
      isNew: org.apache.spark.sql.Column): Dataset[Edge] = {
    val spark = blocked.sparkSession
    import spark.implicits._
    val newRecs = blocked.where(isNew)
    val touched = newRecs.select("block_key").distinct()
    val reduced = blocked.join(broadcast(touched), Seq("block_key"), "left_semi")
    val newIds = newRecs.select(col("dp"), col("entity_id")).distinct()
    val edges = Linker.scoreCandidates(reduced, cfg).toDF()
    val n0 = broadcast(newIds.select(col("dp").as("dp0"),
      col("entity_id").as("rec0"), lit(1).as("new0")))
    val n1 = broadcast(newIds.select(col("dp").as("dp1"),
      col("entity_id").as("rec1"), lit(1).as("new1")))
    edges
      .join(n0, Seq("dp0", "rec0"), "left")
      .join(n1, Seq("dp1", "rec1"), "left")
      .where(col("new0").isNotNull || col("new1").isNotNull)
      .select(col("sim"), col("dp0"), col("rec0"), col("dp1"), col("rec1"))
      .as[Edge]
  }

  /** Edge-level precision/recall/F1 across a whole threshold grid from
    * ONE kernel pass at `min(grid)` — the reference's `similarity_scores`
    * run type (`backend/entityservice/views/run/__init__.py:32-48`) turned
    * into the tuning curve an operator actually wants when choosing the
    * production threshold. Truth pairs are joined once (broadcast — truth
    * is a labeled sample, small by construction); each scored edge then
    * lands in every grid row it clears via a broadcast join against the
    * tiny grid literal, so the sweep costs one narrow stage over the edge
    * set, never a rescore per threshold. `edges` must already be filtered
    * to the provider pair the truth labels (dp0=0, dp1=1).
    *
    * The grid join is inner: a threshold that no edge clears gets no row
    * (rather than n_pred = 0 and a null precision), so a caller that
    * wants one row per threshold chooses a grid every point of which
    * some edge clears. `ThresholdSweepSpec` pins this and checks the
    * counts and the three doubles against a driver-side brute force.
    */
  def thresholdSweep(edges: DataFrame, truth: DataFrame,
      grid: Seq[Double]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(grid.nonEmpty)
    val t = truth.select(col("rec0").cast("long").as("rec0"),
      col("rec1").cast("long").as("rec1"), lit(1L).as("is_tp"))
    val tot = t.agg(count(lit(1)).as("n_true"))
    val marked = edges
      .join(broadcast(t), Seq("rec0", "rec1"), "left")
      .select(col("sim"), coalesce(col("is_tp"), lit(0L)).as("is_tp"))
    val g = grid.toDF("threshold")
    precisionRecallF1(marked.join(broadcast(g), col("sim") >= col("threshold"))
        .groupBy("threshold")
        .agg(count(lit(1)).as("n_pred"), sum(col("is_tp")).as("tp"))
        .crossJoin(broadcast(tot)))
      .select("threshold", "n_pred", "n_true", "tp",
        "precision", "recall", "f1")
  }

  /** Adds edge-level `precision` = tp / n_pred, `recall` = tp / n_true
    * and `f1` = 2 * precision * recall / (precision + recall) to a frame
    * of counts, in that double expression order — every P/R/F1 readout
    * (and its oracle, `QueryInputs.precisionRecallF1Sql`) computes them
    * this one way. */
  def precisionRecallF1(counts: DataFrame): DataFrame =
    counts
      .withColumn("precision", col("tp") / col("n_pred"))
      .withColumn("recall", col("tp") / col("n_true"))
      .withColumn("f1", lit(2) * col("precision") * col("recall")
        / (col("precision") + col("recall")))

  /** Pairwise F1 of cluster-implied cross-provider pairs vs a truth set of
    * (rec0, rec1) pairs for providers (0,1) — the fixture gate
    * (reference oracle pattern: `e2etests/tests/test_results_correctness.py`).
    */
  def pairwiseF1(clusters: Dataset[ClusterMember], truth: DataFrame): Double = {
    val spark = clusters.sparkSession
    import spark.implicits._
    val pred = Solver.pairsFromClusters(clusters)
      .where($"dp0" === 0 && $"dp1" === 1)
      .select($"rec0", $"rec1")
    val t = truth.select($"rec0".cast("long"), $"rec1".cast("long"))
    val nPred = pred.count().toDouble
    val nTrue = t.count().toDouble
    val tp = pred.join(t, Seq("rec0", "rec1"), "left_semi").count().toDouble
    if (nPred == 0 || nTrue == 0 || tp == 0) 0.0
    else {
      val p = tp / nPred
      val r = tp / nTrue
      2 * p * r / (p + r)
    }
  }
}
