package graft

import org.apache.spark.sql.DataFrame
import graft.core.LinkConfig
import graft.ingest.PagesSynth
import graft.io.Checkpoint
import graft.jobs.LinkJob
import graft.link.Linker
import java.nio.file.{Files, Paths}

/** LinkJob's numbers come from the aggregates that already compute them:
  * the edges stage's `pairs_generated` from the kernel's block stats, a
  * stage's `rows` from its lineage (or, resumed, its manifest), and the
  * guardrail from the edges stage's `rows` — checked against brute force
  * and, with [[JobSites]], against the jobs one run submits. */
class LinkJobCountSpec extends SparkSpec {

  /** Σ over (string block key, dp < dp') of n_dp·n_dp', on the driver. */
  private def bruteComparisons(blocked: DataFrame): Long = {
    val perBlock = blocked.select("block_key", "dp").collect()
      .groupBy(_.getString(0))
      .values.map(_.groupBy(_.getInt(1)).values.map(_.length.toLong).toSeq)
    perBlock.map { ns =>
      (for (i <- ns.indices; j <- ns.indices if i < j) yield ns(i) * ns(j)).sum
    }.sum
  }

  private def manifestCounter(root: String, stage: String, key: String): Long = {
    val mf = Checkpoint.readManifest(spark, root, stage).get
    s""""$key":(\\d+)""".r.findFirstMatchIn(mf).get.group(1).toLong
  }

  private def mtime(root: String, stage: String) =
    Files.getLastModifiedTime(Paths.get(s"$root/$stage/_MANIFEST.json"))

  test("3-provider LinkJob: pairs_generated == brute force, edges_kept == rows == parquet") {
    val root = Files.createTempDirectory("graft-count").toString
    val pages = PagesSynth.pages(spark, Seq(150, 120, 100), overlap = 0.6)
    LinkJob.run(spark, pages, LinkConfig(threshold = 0.8), root).count()

    val brute = bruteComparisons(spark.read.parquet(s"$root/blocked"))
    assert(brute > 0, "no cross-provider block: weak test")
    assert(manifestCounter(root, "edges", "pairs_generated") == brute)
    val edges = spark.read.parquet(s"$root/edges").count()
    assert(edges > 0)
    assert(manifestCounter(root, "edges", "edges_kept") == edges)
    assert(manifestCounter(root, "edges", "rows") == edges)
  }

  test("totalComparisons == brute force on a hand-built 3-party frame; nothing persisted") {
    import spark.implicits._
    val rows =
      Seq.fill(3)(("solo", 0)) ++                                       // one provider
      Seq.fill(2)(("all", 0)) ++ Seq.fill(3)(("all", 1)) ++ Seq(("all", 2)) ++
      Seq(("gap", 0)) ++ Seq.fill(4)(("gap", 2))                          // dp 1 side empty
    val blocked = rows.zipWithIndex
      .map { case ((bk, dp), i) => (dp, i.toLong, bk) }
      .toDF("dp", "entity_id", "block_key")
    val before = spark.sparkContext.getPersistentRDDs.size
    val brute = bruteComparisons(blocked)
    assert(brute == 2 * 3 + 2 * 1 + 3 * 1 + 1 * 4)
    assert(Linker.totalComparisons(blocked) == brute)
    assert(Linker.totalComparisons(blocked.limit(0)) == 0L)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("a resumed stage reports the committed row count and counters get it") {
    val root = Files.createTempDirectory("graft-count-resume").toString
    val r1 = Checkpoint.stage(spark, root, "s", counters = n => Map("seen" -> n)) {
      spark.range(10).toDF("v")
    }
    assert(!r1.resumed && r1.rows == 10)
    assert(manifestCounter(root, "s", "seen") == 10)
    val r2 = Checkpoint.stage(spark, root, "s")(sys.error("resume must not recompute"))
    assert(r2.resumed && r2.rows == 10)
  }

  test("the guardrail also fires on a resumed edges stage") {
    val root = Files.createTempDirectory("graft-count-guard").toString
    val pages = PagesSynth.pages(spark, Seq(200, 200), overlap = 0.75)
    LinkJob.run(spark, pages, LinkConfig(threshold = 0.8), root)
    val edges = manifestCounter(root, "edges", "rows")
    assert(edges > 1)
    val t = mtime(root, "edges")
    val e = intercept[IllegalArgumentException] {
      LinkJob.run(spark, pages, LinkConfig(threshold = 0.8, maxScoredPairs = edges - 1), root)
    }
    assert(e.getMessage.contains("exceeds cap"))
    assert(mtime(root, "edges") == t, "the edges stage was recomputed")
  }

  test("one LinkJob.run submits no counting job of its own") {
    val root = Files.createTempDirectory("graft-count-jobs").toString
    val pages = PagesSynth.pages(spark, Seq(200, 200), overlap = 0.75)
    val (_, jobs) = JobSites.record(spark)(
      LinkJob.run(spark, pages, LinkConfig(threshold = 0.8), root))
    val listing = jobs.map(j => s"${j.id} ${j.api} @ ${j.site}").mkString("\n")
    // the helper attributes: the stage writes and the kernel's stats round-trip
    assert(jobs.exists(j => j.in("Checkpoint.scala") && j.api == "parquet"), listing)
    assert(jobs.exists(_.in("Linker.scala")), listing)
    assert(!jobs.exists(_.site.contains("Linker$.totalComparisons")), listing)
    assert(!jobs.exists(_.in("LinkJob.scala")), listing)
    assert(!jobs.exists(j => j.in("Checkpoint.scala") && j.api == "count"), listing)
  }
}
