package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.LinkConfig
import graft.ingest.PagesSynth
import graft.io.Checkpoint
import graft.jobs.LinkJob
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Checkpoint counts a fresh stage from the Parquet footers of the files
  * its write produced, one lineage row per output partition, and writes
  * the lineage rows on the driver: checked against Spark's own per-file
  * counts and, with [[JobSites]], against the jobs a stage submits. */
class CheckpointLineageSpec extends SparkSpec {

  private def lineageOf(root: String, stage: String): Set[(Int, Long)] =
    Checkpoint.lineage(spark, root).where(col("stage") === stage)
      .select("partition_id", "rows_out").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet

  /** The write task's partition of a `part-NNNNN-...` file path. */
  private def partOf(path: String): Int =
    path.split('/').last.stripPrefix("part-").takeWhile(_.isDigit).toInt

  test("one lineage row per non-empty output file, equal to Spark's per-file count") {
    val root = Files.createTempDirectory("graft-lineage").toString
    val st = Checkpoint.stage(spark, root, "s") {
      spark.range(3).toDF("v").repartition(7)
    }
    assert(!st.resumed && st.rows == 3L)
    val perFile = spark.read.parquet(s"$root/s")
      .groupBy(input_file_name().as("f")).count().collect()
      .map(r => (partOf(r.getString(0)), r.getLong(1))).toSeq
    assert(perFile.map(_._1).distinct.size == perFile.size, perFile.toString)
    assert(lineageOf(root, "s") == perFile.toSet)
    assert(lineageOf(root, "s").toSeq.map(_._2).sum == 3L)
  }

  test("maxRecordsPerFile: one task's files add into one partition row") {
    val root = Files.createTempDirectory("graft-lineage-split").toString
    val key = "spark.sql.files.maxRecordsPerFile"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    val st = try Checkpoint.stage(spark, root, "s") {
      spark.range(0, 7, 1, 1).toDF("v")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(st.rows == 7L)
    val files = new java.io.File(s"$root/s").list().filter(_.startsWith("part-"))
    assert(files.length == 4, files.mkString(", "))
    assert(files.map(partOf).distinct.length == 1, files.mkString(", "))
    assert(lineageOf(root, "s") == Set((partOf(files.head), 7L)))
  }

  test("an empty stage commits rows = 0 and its lineage still reads") {
    val root = Files.createTempDirectory("graft-lineage-empty").toString
    val st = Checkpoint.stage(spark, root, "e")(spark.range(0).toDF("v"))
    assert(!st.resumed && st.rows == 0L && st.df.count() == 0L)
    assert(Checkpoint.readManifest(spark, root, "e").get.contains(""""rows":0"""))
    val lin = Checkpoint.lineage(spark, root)
    assert(lin.columns.toSeq == Seq("partition_id", "rows_out", "stage"))
    assert(lin.count() == 0L)
    val resumed = Checkpoint.stage(spark, root, "e")(sys.error("resume must not recompute"))
    assert(resumed.resumed && resumed.rows == 0L)
  }

  test("Spark-written lineage and driver-written lineage read as one table") {
    val root = Files.createTempDirectory("graft-lineage-mixed").toString
    val sparkSchema = StructType(Seq(
      StructField("partition_id", IntegerType, nullable = false),
      StructField("rows_out", LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(Row(0, 5L), Row(3, 2L)), sparkSchema)
      .write.parquet(s"$root/_lineage/stage=old")
    Checkpoint.stage(spark, root, "new")(spark.range(0, 4, 1, 1).toDF("v"))
    val lin = Checkpoint.lineage(spark, root)
    assert(lin.schema.map(f => f.name -> f.dataType) ==
      Seq("partition_id" -> IntegerType, "rows_out" -> LongType, "stage" -> StringType))
    val all = lin.collect().map(r => (r.getString(2), r.getInt(0), r.getLong(1))).toSet
    assert(all == Set(("old", 0, 5L), ("old", 3, 2L), ("new", 0, 4L)))
  }

  /** The Checkpoint.scala line each Checkpoint job was submitted from. */
  private def checkpointLines(jobs: Seq[JobSites.Job]): Seq[Int] = {
    val line = """\(Checkpoint\.scala:(\d+)\)""".r
    jobs.filter(_.in("Checkpoint.scala"))
      .map(j => line.findFirstMatchIn(j.site).map(_.group(1).toInt).getOrElse(-1))
  }

  test("Checkpoint submits jobs only on its data-write line") {
    val src = Files.readAllLines(
      Paths.get("src/main/scala/graft/io/Checkpoint.scala")).asScala.toIndexedSeq
    val writeLine = src.indexWhere(_.contains("df.write.")) + 1
    assert(writeLine > 0 && src.count(_.contains(".write.")) == 1,
      "Checkpoint.scala has one Spark write")

    val root = Files.createTempDirectory("graft-lineage-jobs").toString
    val (_, stageJobs) = JobSites.record(spark)(
      Checkpoint.stage(spark, root, "s")(spark.range(20).toDF("v").repartition(3)))
    val pages = PagesSynth.pages(spark, Seq(200, 200), overlap = 0.75)
    val (_, runJobs) = JobSites.record(spark)(
      LinkJob.run(spark, pages, LinkConfig(threshold = 0.8), s"$root/run"))
    for (jobs <- Seq(stageJobs, runJobs)) {
      val listing = jobs.map(j => s"${j.id} ${j.api} @ ${j.site}").mkString("\n")
      val lines = checkpointLines(jobs)
      assert(lines.nonEmpty, listing)
      assert(lines.forall(_ == writeLine), s"Checkpoint jobs off line $writeLine\n$listing")
      assert(!jobs.exists(j => j.in("Checkpoint.scala") && j.api == "collect"), listing)
    }
  }
}
