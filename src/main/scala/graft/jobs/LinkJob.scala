package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ClusterMember, Edge, LinkConfig, RunScope}
import graft.ingest.{Ingest, Page, PagesSynth}
import graft.io.Checkpoint
import graft.link.Linker
import graft.cluster.Solver

/** The resumable end-to-end linkage run (SURVEY.md §3.2 Spark equivalent),
  * spark-submit entry point included. Stage graph:
  *
  *   blocked  (pages -> extract -> CLK encode -> LSH blocks)
  *   edges    (blocked self-join -> dice -> threshold -> dedup)
  *   clusters (CC -> per-component greedy solve)
  *
  * Each stage commits to `<root>/<stage>` via Checkpoint (manifest-last
  * protocol, per-partition lineage + counters). Rerunning the job after a
  * crash resumes from the last committed stage; recomputing an upstream
  * stage invalidates everything downstream (lineage correctness).
  *
  * Every number the run records is read from what already holds it, so
  * counting adds no Spark job: a stage's row count is the sum of its
  * lineage rows, read from the staged files' Parquet footers on the driver
  * (fresh), or the manifest's `rows` (resumed); the edges stage's
  * `pairs_generated` comes from the kernel's block-stats round-trip, and
  * the guardrail reads the edges stage's row count. A fresh stage's only
  * Spark job in Checkpoint is its data write.
  */
object LinkJob {

  val Stages = Seq("blocked", "edges", "clusters")

  def run(spark: SparkSession, pages: Dataset[Page], cfg: LinkConfig,
      root: String): DataFrame = RunScope.run {
    var dirty = false

    def chained(name: String, counters: Long => Map[String, Long] = _ => Map.empty)
        (compute: => DataFrame): Checkpoint.StageResult = {
      if (dirty) Checkpoint.invalidate(spark, root, name)
      val r = Checkpoint.stage(spark, root, name, counters)(compute)
      if (!r.resumed) dirty = true
      r
    }

    val blocked = chained("blocked") {
      Ingest.encodeAndBlock(pages)
    }.df

    // measured counters: generated = the blocked pair space (Σ over blocks
    // of cross-provider products, from the kernel's block stats), kept =
    // committed rows (the kernel's popcount window skips an unmeasured
    // share of the generated pairs, so no scored count is claimed)
    var pairsGenerated = 0L
    val edges = chained("edges", kept => Map(
      "pairs_generated" -> pairsGenerated, "edges_kept" -> kept)) {
      val (e, pairs) = Linker.scoreCandidatesCounted(blocked, cfg)
      pairsGenerated = pairs
      e.toDF()
    }

    // guardrail (A4): enforced on the committed edge count
    Linker.requireScoredPairsCap(edges.rows, cfg)
    require(edges.rows <= cfg.maxSolverPairs,
      s"solver aborted: ${edges.rows} pairs exceeds cap ${cfg.maxSolverPairs}")

    chained("clusters") {
      import spark.implicits._
      Solver.solve(edges.df.as[Edge], cfg).toDF()
    }.df
  }

  /** spark-submit entry: LinkJob <checkpointRoot> <nA> <nB> <threshold>.
    * Synthesizes the page corpus deterministically (no external data) and
    * runs the full resumable pipeline. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: LinkJob <checkpointRoot> <nA> <nB> <threshold> [cores]")
    val Array(root, nA, nB, threshold) = args.take(4)
    val cores = args.lift(4).getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName("graft-link")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pages = PagesSynth.pages(spark, Seq(nA.toInt, nB.toInt))
    val clusters = run(spark, pages, LinkConfig(threshold.toDouble), root)
    println(s"clusters=${clusters.count()}")
    Checkpoint.lineage(spark, root).groupBy("stage")
      .agg(count(lit(1)).as("partitions"), sum("rows_out").as("rows"))
      .orderBy("stage").show(false)
    spark.stop()
  }
}
