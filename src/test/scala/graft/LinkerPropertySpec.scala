package graft

import org.apache.spark.sql.functions._
import graft.core.{BitOps, LinkConfig}
import graft.link.Linker
import scala.util.Random

/** Property test over random multi-provider, multi-block datasets
  * (the analogue of the reference's chunking-invariant tests,
  * `tests/test_chunking.py`): the chunked kernel with a tiny chunk aim
  * (forcing salt fan-out > 1) must equal brute force exactly — every
  * cross-provider pair sharing a block scored once, threshold applied,
  * duplicates collapsed. */
case class PropRec(dp: Int, id: Long, clk: Array[Byte], blocks: Seq[String])

class LinkerPropertySpec extends SparkSpec {
  type Rec = PropRec
  private def Rec(dp: Int, id: Long, clk: Array[Byte], blocks: Seq[String]) =
    PropRec(dp, id, clk, blocks)

  private def randomDataset(seed: Int): Seq[Rec] = {
    val rnd = new Random(seed)
    val dps = 2 + rnd.nextInt(2) // 2..3 providers
    val blockNames = Seq("a", "b", "c", "d", "e")
    (0 until dps).flatMap { dp =>
      val n = 50 + rnd.nextInt(150)
      (0 until n).map { i =>
        val clk = new Array[Byte](16)
        rnd.nextBytes(clk)
        // sparsify so dice values spread out
        (0 until 8).foreach(_ => clk(rnd.nextInt(16)) = 0)
        val nb = 1 + rnd.nextInt(3)
        Rec(dp, i.toLong, clk, Seq.fill(nb)(blockNames(rnd.nextInt(blockNames.length))).distinct)
      }
    }
  }

  test("chunked scoring == brute force on random blocked datasets (forced salting)") {
    import spark.implicits._
    (1 to 4).foreach { seed =>
      val recs = randomDataset(seed)
      // random bitvectors cluster around dice ~0.35-0.5: thresholds chosen
      // so the oracle is non-empty but selective
      val t = Seq(0.3, 0.4, 0.45)(seed % 3)
      val blocked = spark.createDataset(recs)
        .toDF("dp", "entity_id", "clk", "blocks")
        .withColumn("popcount", graft.expr.popcount(col("clk")))
        .withColumn("block_key", explode(col("blocks")))
        .select("dp", "entity_id", "clk", "popcount", "block_key")
      // chunk aim 2000 comparisons -> k > 1 for most blocks
      val got = Linker.scoreCandidatesChunked(blocked, LinkConfig(t), chunkSizeAim = 2000L)
        .collect().map(e => (e.dp0, e.rec0, e.dp1, e.rec1, e.sim)).toSet

      val expected = (for {
        a <- recs.iterator
        b <- recs.iterator
        if a.dp < b.dp
        if a.blocks.exists(b.blocks.contains)
        s = BitOps.dice(a.clk, b.clk)
        if s >= t
      } yield (a.dp, a.id, b.dp, b.id, s)).toSet

      assert(got == expected, s"seed=$seed t=$t got=${got.size} expected=${expected.size}")
      assert(expected.nonEmpty, s"seed=$seed produced an empty oracle — weak test")
    }
  }

  test("two-level salting past a tiny maxK cap == brute force, tasks near aim") {
    import spark.implicits._
    val recs = randomDataset(7)
    val t = 0.35
    val blocked = spark.createDataset(recs)
      .toDF("dp", "entity_id", "clk", "blocks")
      .withColumn("popcount", graft.expr.popcount(col("clk")))
      .withColumn("block_key", explode(col("blocks")))
      .select("dp", "entity_id", "clk", "popcount", "block_key")
    // aim 400 on ~100-200-row blocks needs k ~ 10 > maxK=4 -> the second
    // salt digit must engage (k2 > 1) for correctness AND task sizing
    val aim = 400L
    val got = Linker.scoreCandidatesChunked(blocked, LinkConfig(t),
      chunkSizeAim = aim, maxK = 4)
      .collect().map(e => (e.dp0, e.rec0, e.dp1, e.rec1, e.sim)).toSet
    val expected = (for {
      a <- recs.iterator; b <- recs.iterator
      if a.dp < b.dp && a.blocks.exists(b.blocks.contains)
      s = BitOps.dice(a.clk, b.clk) if s >= t
    } yield (a.dp, a.id, b.dp, b.id, s)).toSet
    assert(got == expected, s"got=${got.size} expected=${expected.size}")
    assert(expected.nonEmpty)

    // fan-out math: k1*k2 covers needK whenever needK <= maxK^2, so no
    // chunk pair exceeds ~aim comparisons in expectation (the old
    // single-digit cap silently under-split: k stuck at maxK)
    for (n <- Seq(1L, 10L, 100L, 1000L, 100000L, 1000000000L)) {
      val needK = math.max(math.ceil(n / math.sqrt(aim.toDouble)).toLong, 1L)
      val (k1, k2) = graft.link.Salting.fanoutScala(n, aim, 4)
      assert(k1 <= 4 && k2 <= 4 || needK > 16L)
      if (needK <= 16L)
        assert(k1.toLong * k2 >= needK, s"n=$n k1=$k1 k2=$k2 needK=$needK")
    }
    // and at the production cap a 10^9-row block is fully covered
    val (k1, k2) = graft.link.Salting.fanoutScala(1000000000L,
      Linker.ChunkSizeAim, graft.link.Salting.MaxSaltFanout)
    val needK = math.ceil(1000000000L / math.sqrt(Linker.ChunkSizeAim.toDouble)).toLong
    assert(k1.toLong * k2 >= needK, s"k1=$k1 k2=$k2 needK=$needK")
    // expected per-chunk rows -> chunk-pair comparisons <= ~2x aim
    val rowsPerChunk = 1000000000.0 / (k1.toLong * k2)
    assert(rowsPerChunk * rowsPerChunk <= 2.0 * Linker.ChunkSizeAim,
      s"chunk pair ${rowsPerChunk * rowsPerChunk} vs aim ${Linker.ChunkSizeAim}")
  }

  test("edgesDelta == full edges filtered to pairs touching the new batch") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val recs = randomDataset(seed + 10)
      val t = 0.35
      val blocked = spark.createDataset(recs)
        .toDF("dp", "entity_id", "clk", "blocks")
        .withColumn("popcount", graft.expr.popcount(col("clk")))
        .withColumn("block_key", explode(col("blocks")))
        .select("dp", "entity_id", "clk", "popcount", "block_key")
      val isNew = col("entity_id") % 7 === 3
      val got = graft.link.Pipeline.edgesDelta(blocked, LinkConfig(t), isNew)
        .collect().map(e => (e.dp0, e.rec0, e.dp1, e.rec1, e.sim)).toSet
      val expected = (for {
        a <- recs.iterator; b <- recs.iterator
        if a.dp < b.dp && a.blocks.exists(b.blocks.contains)
        if a.id % 7 == 3 || b.id % 7 == 3
        s = BitOps.dice(a.clk, b.clk) if s >= t
      } yield (a.dp, a.id, b.dp, b.id, s)).toSet
      assert(got == expected, s"seed=$seed got=${got.size} expected=${expected.size}")
      assert(expected.nonEmpty, s"seed=$seed empty delta oracle — weak test")
      // the delta must be a strict subset of the full run (old-old dropped)
      val full = (for {
        a <- recs.iterator; b <- recs.iterator
        if a.dp < b.dp && a.blocks.exists(b.blocks.contains)
        s = BitOps.dice(a.clk, b.clk) if s >= t
      } yield (a.dp, a.id, b.dp, b.id, s)).toSet
      assert(expected.subsetOf(full) && expected.size < full.size)
    }
  }
}
