package graft

import org.apache.spark.sql.functions._
import graft.core.LinkConfig
import graft.ingest.PagesSynth
import graft.io.Checkpoint
import graft.jobs.LinkJob
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A fresh checkpoint stage reads back what it wrote with the written
  * frame's schema: no Parquet schema-inference job, and the same schema
  * Parquet would infer. */
class CheckpointReadSpec extends SparkSpec {

  test("a fresh stage's frame has the schema Parquet infers for its files") {
    val root = Files.createTempDirectory("graft-ckpt-schema").toString
    // non-nullable columns and nested types: Parquet writes every field
    // nullable, and the stage's frame must say so too
    val df = spark.range(40).select(col("id"),
      (col("id") % 3).cast("int").as("k"),
      array(col("id"), lit(7L)).as("arr"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"),
      map(lit("m"), col("id")).as("mp"))
    val st = Checkpoint.stage(spark, root, "s")(df)
    assert(!st.resumed && st.rows == 40L)
    assert(st.df.schema == spark.read.parquet(s"$root/s").schema)
    assert(st.df.select("id", "k").collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      (0L until 40L).map(i => (i, (i % 3).toInt)).toSet)
  }

  test("one LinkJob.run submits no Parquet read job from Checkpoint") {
    val root = Files.createTempDirectory("graft-ckpt-reads").toString
    val pages = PagesSynth.pages(spark, Seq(200, 200), overlap = 0.75)
    val (_, jobs) = JobSites.record(spark)(
      LinkJob.run(spark, pages, LinkConfig(threshold = 0.8), root))
    val listing = jobs.map(j => s"${j.id} ${j.api} @ ${j.site}").mkString("\n")
    val src = Files.readAllLines(
      Paths.get("src/main/scala/graft/io/Checkpoint.scala")).asScala.toIndexedSeq
    val line = """\(Checkpoint\.scala:(\d+)\)""".r
    val parquetLines = jobs.filter(j => j.in("Checkpoint.scala") && j.api == "parquet")
      .flatMap(j => line.findFirstMatchIn(j.site).map(_.group(1).toInt))
    // the stage writes stay; every other parquet job there is a read
    assert(parquetLines.nonEmpty, listing)
    val reads = parquetLines.filterNot(n => src(n - 1).contains(".write"))
    assert(reads.isEmpty, s"parquet reads at Checkpoint.scala lines $reads\n$listing")
  }
}
