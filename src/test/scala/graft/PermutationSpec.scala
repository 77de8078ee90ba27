package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.{ClusterMember, LinkConfig}
import graft.ingest.{Blocking, ClkIO}
import graft.link.Pipeline
import graft.cluster.{Permutation, Solver}

/** Invariant checks mirroring the reference's permutation test strategy
  * (`e2etests/tests/test_results_correctness.py:67-91` checks consistency,
  * not specific random draws). */
class PermutationSpec extends SparkSpec {

  test("permutation + mask invariants on febrl4 matching") {
    import spark.implicits._
    val cfg = LinkConfig(threshold = 0.8)
    val a = ClkIO.readBinary(spark, s"$fixturesDir/febrl4_a.bin", 0, 128)
    val b = ClkIO.readBinary(spark, s"$fixturesDir/febrl4_b.bin", 1, 128)
    val clusters = Pipeline.clusters(Pipeline.defaultBlock(a.union(b)), cfg)
    val nMatches = clusters.select("clusterId").distinct().count()

    val (perm, mask) = Permutation.permuteAndMask(clusters, 1000, 1000, seed = 7)
    val permA = Permutation.toDenseList(perm, 0)
    val permB = Permutation.toDenseList(perm, 1)
    val maskList = mask.orderBy("slot").select($"bit".as[Int]).collect()

    // each permutation is a bijection over its range
    assert(permA.length == 1000 && permA.toSet == (0L until 1000L).toSet)
    assert(permB.length == 1000 && permB.toSet == (0L until 1000L).toSet)
    // mask has exactly one bit per matched pair
    assert(maskList.length == 1000)
    assert(maskList.sum == nMatches)

    // matched pairs land in the same slot, and that slot is masked 1;
    // non-match slots are 0 (reference invariant: permutation.py:97-109)
    val truePairs = graft.cluster.Solver.pairsFromClusters(clusters)
      .select($"rec0".as[Long], $"rec1".as[Long]).collect()
    truePairs.foreach { case (ai, bi) =>
      assert(permA(ai.toInt) == permB(bi.toInt))
      assert(maskList(permA(ai.toInt).toInt) == 1)
    }
    // a masked slot is hit by exactly one matched pair
    val matchedSlots = truePairs.map { case (ai, _) => permA(ai.toInt) }
    assert(matchedSlots.distinct.length == matchedSlots.length)

    // determinism: same seed -> same output
    val (perm2, _) = Permutation.permuteAndMask(clusters, 1000, 1000, seed = 7)
    assert(Permutation.toDenseList(perm2, 0).sameElements(permA))
  }

  test("permutation identical at different input parallelism (distributed global rank)") {
    import spark.implicits._
    val cfg = LinkConfig(threshold = 0.85)
    val a = ClkIO.readBinary(spark, s"$fixturesDir/febrl4_a.bin", 0, 128)
    val b = ClkIO.readBinary(spark, s"$fixturesDir/febrl4_b.bin", 1, 128)
    val clusters = Pipeline.clusters(Pipeline.defaultBlock(a.union(b)), cfg)
    def canon(c: org.apache.spark.sql.Dataset[graft.core.ClusterMember]) = {
      val (perm, mask) = Permutation.permuteAndMask(c, 1000, 1000)
      (perm.select($"dp".as[Int], $"row_index".as[Long], $"slot".as[Long]).collect().toSet,
        mask.select($"slot".as[Long], $"bit".as[Int]).collect().toSet)
    }
    val (p1, m1) = canon(clusters)
    val (p2, m2) = canon(clusters.repartition(23))
    assert(p1 == p2 && m1 == m2)
    assert(p1.nonEmpty)
  }

  test("unequal sizes: mask length = min(n0,n1); overflow rows get slots >= min or unused") {
    import spark.implicits._
    // synthetic tiny matching: 3 matches between sides of 6 and 9 rows
    val members = Seq(
      (100L, 0, 0L), (100L, 1, 5L),
      (101L, 0, 2L), (101L, 1, 1L),
      (102L, 0, 4L), (102L, 1, 7L)
    ).map { case (c, dp, r) => graft.core.ClusterMember(c, dp, r) }
    val clusters = spark.createDataset(members)
    val (perm, mask) = Permutation.permuteAndMask(clusters, 6, 9, seed = 3)
    val permA = Permutation.toDenseList(perm, 0)
    val permB = Permutation.toDenseList(perm, 1)
    val maskList = mask.orderBy("slot").select($"bit".as[Int]).collect()
    assert(maskList.length == 6)
    assert(maskList.sum == 3)
    assert(permA.length == 6 && permA.toSet == (0L until 6L).toSet)
    assert(permB.length == 9 && permB.toSet == (0L until 9L).toSet)
    assert(permA(0) == permB(5) && permA(2) == permB(1) && permA(4) == permB(7))
  }

  // ---- the driver construction against its declarative spec ----

  /** The distributed formulation of the construction: each shuffle and
    * row order is a global rank (`orderBy` + zipWithIndex) over Spark's
    * own `xxhash64`. `permuteAndMask` must reproduce it exactly. */
  private def specPermuteAndMask(clusters: Dataset[ClusterMember], n0: Long, n1: Long,
      seed: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val pairs = Solver.pairsFromClusters(clusters)
      .where($"dp0" === 0 && $"dp1" === 1)
      .select($"rec0".as("a_index"), $"rec1".as("b_index"))
    val smaller = math.min(n0, n1)
    val slots = Blocking.withGlobalRank(
      spark.range(smaller).select($"id".as("slot")),
      "shuffle_rank", Seq(xxhash64(lit(seed), $"slot"), $"slot"))
    val numbered = Blocking.withGlobalRank(pairs, "group_number",
      Seq($"a_index", $"b_index"))
    val matched = numbered.join(slots, $"group_number" === $"shuffle_rank")
      .select($"a_index", $"b_index", $"slot")
    val nMatches = matched.count()
    val mask = slots.select($"slot",
      when($"shuffle_rank" < nMatches, 1).otherwise(0).as("bit"))
    def sidePermutation(dp: Int, n: Long, matchedSide: DataFrame): DataFrame = {
      val unusedSlots = slots.where($"shuffle_rank" >= nMatches).select($"slot")
      val overflow = spark.range(smaller, n).select($"id".as("slot"))
      val remaining = Blocking.withGlobalRank(unusedSlots.union(overflow),
        "rk", Seq(xxhash64(lit(seed + dp + 1), $"slot"), $"slot"))
      val unmatchedRows = Blocking.withGlobalRank(
        spark.range(n).select($"id".as("row_index"))
          .join(matchedSide.select($"row_index"), Seq("row_index"), "left_anti"),
        "rk", Seq($"row_index"))
      val filled = unmatchedRows.join(remaining, "rk").select($"row_index", $"slot")
      matchedSide.select($"row_index", $"slot").union(filled).withColumn("dp", lit(dp))
        .select($"dp", $"row_index", $"slot")
    }
    val permA = sidePermutation(0, n0, matched.select($"a_index".as("row_index"), $"slot"))
    val permB = sidePermutation(1, n1, matched.select($"b_index".as("row_index"), $"slot"))
    (permA.union(permB), mask)
  }

  test("driver shuffle order equals orderBy(xxhash64(lit(seed), slot), slot)") {
    import spark.implicits._
    // 300k slots: about ten pairs share their high 32 hash bits, the case
    // the shuffle's packed sort must repair by the full hash
    val n = 300000
    val seed = 19L
    val hashed = spark.range(n).select(xxhash64(lit(seed), $"id").as[Long]).collect()
    val highBitTies = hashed.map(_ >>> 32).groupBy(identity).count(_._2.length > 1)
    assert(highBitTies > 0)
    val expected = hashed.indices.sortBy(i => (hashed(i), i)).map(_.toLong)
    assert(Permutation.shuffle(Array.tabulate(n)(_.toLong), seed).toSeq == expected)
  }

  private def members(rows: (Long, Int, Long)*): Dataset[ClusterMember] = {
    import spark.implicits._
    spark.createDataset(rows.map { case (c, dp, r) => ClusterMember(c, dp, r) })
  }

  private def febrl4Clusters(threshold: Double): Dataset[ClusterMember] = {
    val a = ClkIO.readBinary(spark, s"$fixturesDir/febrl4_a.bin", 0, 128)
    val b = ClkIO.readBinary(spark, s"$fixturesDir/febrl4_b.bin", 1, 128)
    Pipeline.clusters(Pipeline.defaultBlock(a.union(b)), LinkConfig(threshold = threshold))
  }

  /** Asserts the driver construction's perm and mask rows equal the
    * spec's, as sorted multisets; returns the mask's bit count. */
  private def assertMatchesSpec(clusters: Dataset[ClusterMember], n0: Long, n1: Long,
      seed: Long): Long = {
    import spark.implicits._
    def rows(pm: (DataFrame, DataFrame)) = {
      val (perm, mask) = pm
      (perm.select($"dp".as[Int], $"row_index".as[Long], $"slot".as[Long]).collect().sorted.toSeq,
        mask.select($"slot".as[Long], $"bit".as[Int]).collect().sorted.toSeq)
    }
    val (perm, mask) = rows(Permutation.permuteAndMask(clusters, n0, n1, seed))
    val (specPerm, specMask) = rows(specPermuteAndMask(clusters, n0, n1, seed))
    assert(perm.length == n0 + n1 && mask.length == math.min(n0, n1))
    assert(perm == specPerm, s"perm rows differ from the spec (seed $seed, $n0 x $n1)")
    assert(mask == specMask, s"mask differs from the spec (seed $seed, $n0 x $n1)")
    mask.map(_._2.toLong).sum
  }

  test("driver construction equals the distributed spec on febrl4, seeds 7 and 42") {
    val clusters = febrl4Clusters(0.8)
    val nMatches = clusters.select("clusterId").distinct().count()
    assert(nMatches > 0)
    Seq(7L, 42L).foreach(seed => assert(assertMatchesSpec(clusters, 1000, 1000, seed) == nMatches))
  }

  test("driver construction equals the distributed spec at unequal sizes, both ways") {
    val pairs = Seq((100L, 0L, 5L), (101L, 2L, 1L), (102L, 4L, 7L))
    val aSmall = members(pairs.flatMap { case (c, a, b) => Seq((c, 0, a), (c, 1, b)) }: _*)
    val bSmall = members(pairs.flatMap { case (c, a, b) => Seq((c, 0, b), (c, 1, a)) }: _*)
    assert(assertMatchesSpec(aSmall, 6, 9, seed = 3) == 3)
    assert(assertMatchesSpec(bSmall, 9, 6, seed = 3) == 3)
  }

  test("driver construction equals the distributed spec on an empty matching") {
    // one-sided clusters give no cross pair
    assert(assertMatchesSpec(members(), 5, 8, seed = 11) == 0)
    assert(assertMatchesSpec(members((200L, 0, 1L), (200L, 0, 3L), (201L, 1, 2L)), 5, 8,
      seed = 11) == 0)
  }

  test("driver construction equals the distributed spec on a full matching") {
    // a_index i <-> b_index (3i + 2) mod 10: every row of the smaller side matched
    val full = members((0 until 7).flatMap(i => Seq((i.toLong, 0, i.toLong),
      (i.toLong, 1, (3L * i + 2) % 10))): _*)
    assert(assertMatchesSpec(full, 7, 10, seed = 5) == 7)
  }

  // ---- malformed input is rejected ----

  private def rejection(f: => Any): String = intercept[IllegalArgumentException](f).getMessage

  test("rejects side sizes outside [0, Int.MaxValue]") {
    assert(rejection(Permutation.permuteAndMask(members(), -1, 5)).contains("n0=-1"))
    assert(rejection(Permutation.permuteAndMask(members(), 5, Int.MaxValue + 1L))
      .contains(s"n1=${Int.MaxValue + 1L}"))
  }

  test("rejects a matched row index outside its side") {
    // a_index = n0 used to get a slot while an in-range row was dropped
    assert(rejection(Permutation.permuteAndMask(
      members((1L, 0, 6L), (1L, 1, 2L)), 6, 9)).contains("a_index 6"))
    assert(rejection(Permutation.permuteAndMask(
      members((1L, 0, 2L), (1L, 1, -1L)), 6, 9)).contains("b_index -1"))
  }

  test("rejects a row index matched more than once") {
    // the same a row in two clusters, and one cluster with two a rows
    assert(rejection(Permutation.permuteAndMask(
      members((1L, 0, 3L), (1L, 1, 2L), (2L, 0, 3L), (2L, 1, 4L)), 6, 9))
      .contains("a_index 3"))
    assert(rejection(Permutation.permuteAndMask(
      members((1L, 0, 3L), (1L, 0, 4L), (1L, 1, 2L)), 6, 9)).contains("b_index 2"))
  }

  test("toDenseList rejects rows that are not [0, rows) each once") {
    import spark.implicits._
    def perm(rows: (Long, Long)*) =
      rows.map { case (r, s) => (0, r, s) }.toDF("dp", "row_index", "slot")
    assert(Permutation.toDenseList(perm((1L, 7L), (0L, 9L)), 0).sameElements(Seq(9L, 7L)))
    assert(rejection(Permutation.toDenseList(perm((0L, 7L), (2L, 9L)), 0))
      .contains("row_index 2"))
    assert(rejection(Permutation.toDenseList(perm((1L, 7L), (1L, 9L)), 0))
      .contains("row_index 1"))
  }

  test("permutation path: at most 4 Spark jobs, no persisted RDD left behind") {
    import spark.implicits._
    val sc = spark.sparkContext
    val clusters = febrl4Clusters(0.8).persist()
    clusters.count()
    val group = "permutation-path"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val before = sc.getPersistentRDDs.size
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "permuteAndMask + dense lists + mask")
      try {
        val (perm, mask) = Permutation.permuteAndMask(clusters, 1000, 1000)
        assert(Permutation.toDenseList(perm, 0).length == 1000)
        assert(Permutation.toDenseList(perm, 1).length == 1000)
        assert(mask.orderBy("slot").select($"bit").collect().length == 1000)
      } finally sc.clearJobGroup()
      TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get >= 1 && jobs.get <= 4, s"${jobs.get} Spark jobs")
    assert(sc.getPersistentRDDs.size == before)
    clusters.unpersist(true)
  }
}
