package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import graft.core.{BitOps, LinkConfig}
import graft.link.{Linker, Salting}
import scala.util.Random

/** The kernel skips its cross-block dedup where no pair can repeat (one
  * kept block) and keeps it where one can; its driver-side aim equals the
  * in-plan one; a salted block's chunk pairs spread over the partitions
  * of the chunk-pair join. */
class LinkerSingleBlockSpec extends SparkSpec {

  /** `n` random 16-byte CLKs per provider, record i of provider dp in
    * the blocks `blocksOf(dp, i)`. */
  private def dataset(seed: Int, n: Int, blocksOf: (Int, Int) => Seq[String]) = {
    val rnd = new Random(seed)
    for (dp <- 0 until 2; i <- 0 until n) yield {
      val clk = new Array[Byte](16)
      rnd.nextBytes(clk)
      (0 until 8).foreach(_ => clk(rnd.nextInt(16)) = 0)
      (dp, i.toLong, clk, blocksOf(dp, i))
    }
  }

  private def blocked(recs: Seq[(Int, Long, Array[Byte], Seq[String])]): DataFrame = {
    import spark.implicits._
    recs.toDF("dp", "entity_id", "clk", "blocks")
      .withColumn("popcount", graft.expr.popcount(col("clk")))
      .withColumn("block_key", explode(col("blocks")))
      .select("dp", "entity_id", "clk", "popcount", "block_key")
  }

  private def bruteForce(recs: Seq[(Int, Long, Array[Byte], Seq[String])], t: Double) =
    (for {
      a <- recs; b <- recs
      if a._1 < b._1 && a._4.exists(b._4.contains)
      s = BitOps.dice(a._3, b._3) if s >= t
    } yield (a._1, a._2, b._1, b._2, s)).toSet

  private def aggregates(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }

  test("forced-salting single block == brute force == join spec, with no aggregate after the kernel") {
    val recs = dataset(5, 150, (_, _) => Seq("1"))
    val t = 0.4
    val df = blocked(recs)
    // 300 rows at aim 2000: k = 7 salts, 49 chunk pairs
    val edges = Linker.scoreCandidatesChunked(df, LinkConfig(t), chunkSizeAim = 2000L)
    val got = edges.collect().map(e => (e.dp0, e.rec0, e.dp1, e.rec1, e.sim))
    val want = bruteForce(recs, t)
    assert(want.nonEmpty, "empty oracle: weak test")
    assert(got.length == got.toSet.size, "a pair came out twice")
    assert(got.toSet == want)
    assert(Linker.scoreCandidatesJoin(df, LinkConfig(t)).collect()
      .map(e => (e.dp0, e.rec0, e.dp1, e.rec1, e.sim)).toSet == want)
    assert(aggregates(edges.toDF()).isEmpty, edges.queryExecution.optimizedPlan.toString)
  }

  test("a pair shared by two blocks still comes out once") {
    // every record sits in blocks "a" and "b"; a few also in "c"
    val recs = dataset(9, 60, (_, i) => if (i % 7 == 0) Seq("a", "b", "c") else Seq("a", "b"))
    val t = 0.4
    val edges = Linker.scoreCandidates(blocked(recs), LinkConfig(t))
    val got = edges.collect().map(e => (e.dp0, e.rec0, e.dp1, e.rec1, e.sim))
    val want = bruteForce(recs, t)
    assert(want.nonEmpty, "empty oracle: weak test")
    assert(got.length == want.size, s"${got.length} edges for ${want.size} pairs")
    assert(got.toSet == want)
    assert(aggregates(edges.toDF()).nonEmpty, "multi-block edges must keep their dedup")
  }

  test("the driver's adaptive aim equals the in-plan one") {
    import spark.implicits._
    for (total <- Seq(0L, 1000L, 24L * 5000000L, 1L << 40, Long.MaxValue);
         aim <- Seq(25L, Salting.MinAim * 8, Linker.ChunkSizeAim)) {
      val inPlan = spark.range(1).select(Salting.adaptiveAim(lit(total), aim, 4)).as[Double].head()
      assert(Salting.adaptiveAimValue(total, aim, 4) == inPlan, s"total=$total aim=$aim")
    }
  }

  test("a forced-salting single block spreads its chunk pairs over the kernel's partitions") {
    val recs = dataset(13, 150, (_, _) => Seq("1"))
    // t = 0.1: every chunk pair emits edges, so each one shows its partition
    val edges = Linker.scoreCandidatesChunked(blocked(recs), LinkConfig(0.1), chunkSizeAim = 2000L)
    val partitions = edges.select(spark_partition_id()).distinct().count()
    val chunkPairs = 49 // k = ceil(300 / sqrt(2000)) = 7
    val parallelism = spark.sparkContext.defaultParallelism
    assert(partitions >= math.min(chunkPairs, parallelism),
      s"$chunkPairs chunk pairs ran in $partitions partitions")
  }
}
