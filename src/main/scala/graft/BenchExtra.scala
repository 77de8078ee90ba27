package graft
import org.apache.spark.sql.SparkSession
import graft.core.{LinkConfig, RunScope}
import graft.ingest.{Ingest, PagesSynth}
import graft.link.Linker

/** Round-6 optimization helper (guide §1.4): time a SUBSET of the declared
  * queries in isolation with the same session/config/methodology as
  * [[Bench]] (local[$SPARK_GRAFT_CPUS], shuffle.partitions=cpus, AQE on,
  * best-of-N `.count()`), and optionally dump `.explain("formatted")` for
  * each to plans/r06/<query>_<tag>.txt. Bench.scala itself is frozen for
  * measurement, so the per-change iteration loop lives here.
  *
  * Usage: sbt "runMain graft.BenchExtra q_soft_tfidf q_prefix_join"
  *   env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_QUERY_RUNS,
  *        SPARK_GRAFT_PLAN_TAG (e.g. "before"/"after" — when set, plans are
  *        written to plans/r06/), SPARK_GRAFT_TOPN (time the N slowest from
  *        BENCH_r05 if no args given).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_QUERY_RUNS", "2").toInt
    val planTag = sys.env.get("SPARK_GRAFT_PLAN_TAG")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // same JVM warmup as Bench so first-query numbers are comparable
    locally {
      val warm = PagesSynth.pages(spark, Seq(1500, 1500), overlap = 0.5, noise = 0.05)
      val recs = Ingest.encodePages(warm)
        .select("dp", "entity_id", "clk", "popcount")
        .withColumn("block_key", org.apache.spark.sql.functions.lit("1"))
      RunScope.run(Linker.scoreCandidates(recs, LinkConfig(threshold = 0.9)).toDF().count())
      spark.read.parquet(s"$sfDir/documents.parquet").limit(500)
        .groupBy("lang").count().count()
    }

    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val raw = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    val results = names.map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      spark.sparkContext.setJobDescription(s"bench-extra: $name")
      planTag.foreach { tag =>
        val dir = java.nio.file.Paths.get("plans/r06")
        java.nio.file.Files.createDirectories(dir)
        val plan = RunScope.run(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.writeString(dir.resolve(s"${name}_$tag.txt"), plan)
      }
      val samples = (1 to runs).map { _ =>
        RunScope.run(Bench.timeRun(try fn(spark, sfDir).count() catch { case e: Throwable =>
          raw.println(s"ERROR $name: ${e.getMessage.take(300)}"); throw e }))
      }
      val best = Bench.bestOf(samples)
      raw.println(f"$name%-28s min=$best%8.3f  samples=${samples.map(s => f"$s%.3f").mkString(",")}")
      (name, best, samples.count(_.isNaN))
    }
    val total = results.map(_._2).filterNot(_.isNaN).sum
    val failed = results.map(_._3).sum
    raw.println(f"TOTAL ${results.size} queries: $total%.3f s  failed_runs=$failed")
    spark.stop()
  }
}
