package graft.cluster

import java.util.{Arrays, BitSet}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, lit, udf}
import graft.core.ClusterMember

/** 2-party permutation + mask construction — reference semantics at
  * `backend/entityservice/tasks/permutation.py:57-170`:
  *
  *  - matched pairs are packed into the SAME random slot of both
  *    permutations, slots drawn from a shuffle of [0, min(n0,n1));
  *  - mask[slot] = 1 iff slot holds a matched pair;
  *  - unmatched rows of each side fill the remaining slots (the unused
  *    slots below min(n0,n1) plus that side's overflow range) in random
  *    order.
  *
  * The reference uses unseeded `random.shuffle` (nondeterministic by
  * design; its tests only check consistency invariants). Here the shuffle
  * is a deterministic seeded hash order: slots ranked by
  * `(xxhash64(seed, slot), slot)`, hashed with Spark's own XXH64 so the
  * order is exactly `orderBy(xxhash64(lit(seed), col("slot")), col("slot"))`.
  * Matched pairs are numbered in `(a_index, b_index)` order; pair g takes
  * the slot of shuffle rank g. Side dp's unmatched rows, ascending, take
  * its remaining slots ranked by `(xxhash64(seed + dp + 1, slot), slot)`.
  *
  * The construction runs on the driver in one pass over primitive arrays:
  * one Spark job collects the matched clusters, then a few sorts of at
  * most n0+n1 longs build both permutations and the mask, O(n0+n1) driver
  * memory. The result is dense lists of n0+n1 slots that every consumer
  * ([[toDenseList]], the permutations export) holds on the driver anyway,
  * as the reference does in one process; distributing the ranks would buy
  * no memory headroom and costs a global sort per rank. PermutationSpec
  * checks the output equals the distributed `orderBy` formulation.
  */
object Permutation {

  private val HighBits = 0xFFFFFFFF00000000L

  /** `slots` (ascending, each in [0, 2^31)) reordered by
    * `(xxhash64(lit(seed), slot), slot)`: Spark's xxhash64 folds its
    * arguments from seed 42, and the order compares hashes as signed
    * longs. */
  private[graft] def shuffle(slots: Array[Long], seed: Long): Array[Long] = {
    val s = XXH64.hashLong(seed, 42L)
    def h(slot: Long) = XXH64.hashLong(slot, s)
    // one primitive sort on (high 32 hash bits, slot); then a stable
    // insertion sort by the full hash inside each run of equal high bits
    // (a handful of slots), which keeps the slot tiebreak
    val keyed = slots.map(x => (h(x) & HighBits) | x)
    Arrays.sort(keyed)
    var i = 0
    while (i < keyed.length) {
      var j = i + 1
      while (j < keyed.length && (keyed(j) & HighBits) == (keyed(i) & HighBits)) {
        val x = keyed(j) & ~HighBits
        var k = j
        while (k > i && h(x) < h(keyed(k - 1) & ~HighBits)) {
          keyed(k) = keyed(k - 1); k -= 1
        }
        keyed(k) = (keyed(i) & HighBits) | x
        j += 1
      }
      i = j
    }
    var k = 0
    while (k < keyed.length) { keyed(k) &= ~HighBits; k += 1 }
    keyed
  }

  /** The 2-party cross pairs of `clusters` (every dp-0 × dp-1 member pair
    * of a cluster), one Spark job: `partner(a)` = the b_index matched to
    * row a of side 0, or -1. Rejects a matched index outside its side's
    * range and a row index matched more than once, since either would
    * make the permutations non-bijective. */
  private def crossPairs(clusters: Dataset[ClusterMember], n0: Int, n1: Int): Array[Long] = {
    val rows = clusters.collect().filter(m => m.dp == 0 || m.dp == 1)
    // cluster number = rank of the cluster id among the distinct ids
    val ids = rows.map(_.clusterId)
    Arrays.sort(ids)
    var nIds = 0
    ids.indices.foreach { i =>
      if (i == 0 || ids(i) != ids(i - 1)) { ids(nIds) = ids(i); nIds += 1 }
    }
    val count0, count1 = new Array[Int](nIds)
    val rec0, rec1 = new Array[Long](nIds)
    rows.foreach { r =>
      val c = Arrays.binarySearch(ids, 0, nIds, r.clusterId)
      if (r.dp == 0) { count0(c) += 1; rec0(c) = r.entityId }
      else { count1(c) += 1; rec1(c) = r.entityId }
    }
    val partner = Array.fill(n0)(-1L)
    val matchedB = new BitSet(n1)
    (0 until nIds).foreach { c =>
      if (count0(c) > 0 && count1(c) > 0) {
        val a = rec0(c)
        val b = rec1(c)
        require(a >= 0 && a < n0, s"matched a_index $a is outside [0, $n0)")
        require(b >= 0 && b < n1, s"matched b_index $b is outside [0, $n1)")
        require(count1(c) == 1 && partner(a.toInt) < 0,
          s"a_index $a (dp 0) is matched more than once")
        require(count0(c) == 1 && !matchedB.get(b.toInt),
          s"b_index $b (dp 1) is matched more than once")
        partner(a.toInt) = b
        matchedB.set(b.toInt)
      }
    }
    partner
  }

  /** @return (permutation df: (dp, row_index, slot), mask df: (slot, bit)) */
  def permuteAndMask(clusters: Dataset[ClusterMember], n0: Long, n1: Long,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    require(n0 >= 0 && n0 <= Int.MaxValue && n1 >= 0 && n1 <= Int.MaxValue,
      s"side sizes must lie in [0, ${Int.MaxValue}]: n0=$n0 n1=$n1")
    val spark = clusters.sparkSession
    import spark.implicits._
    val (na, nb) = (n0.toInt, n1.toInt)
    val partner = crossPairs(clusters, na, nb)
    val smaller = math.min(na, nb)
    val shuffled = shuffle(Array.tabulate(smaller)(_.toLong), seed)

    // matched pair g (ascending a_index) takes the slot of shuffle rank g
    val permA = Array.fill(na)(-1L)
    val permB = Array.fill(nb)(-1L)
    val mask = new BitSet(smaller)
    var nMatches = 0
    var a = 0
    while (a < na) {
      if (partner(a) >= 0) {
        val slot = shuffled(nMatches)
        permA(a) = slot
        permB(partner(a).toInt) = slot
        mask.set(slot.toInt)
        nMatches += 1
      }
      a += 1
    }

    // side dp's remaining slots: the unused shuffle slots plus [smaller, n),
    // ascending, then ranked by the side's own seed; its unmatched rows
    // take them in ascending row order
    val unused = Arrays.copyOfRange(shuffled, nMatches, smaller)
    Arrays.sort(unused)
    def fill(perm: Array[Long], dp: Int): Unit = {
      val rest = Arrays.copyOf(unused, perm.length - nMatches)
      (unused.length until rest.length).foreach { i =>
        rest(i) = smaller.toLong + (i - unused.length)
      }
      val order = shuffle(rest, seed + dp + 1)
      var k = 0
      var row = 0
      while (row < perm.length) {
        if (perm(row) < 0) { perm(row) = order(k); k += 1 }
        row += 1
      }
    }
    fill(permA, 0)
    fill(permB, 1)

    // each partition of the permutation frame carries only its own slice
    // of the arrays, so no task deserializes all n0+n1 slots. One frame per
    // side with a literal dp: a filter on dp prunes the other side in the
    // optimizer, so both sides' dense lists run the same generated code.
    val step = ((na.toLong + nb) / spark.sparkContext.defaultParallelism + 1)
      .min(Int.MaxValue).toInt
    def side(dp: Int, slots: Array[Long]) = {
      val slices = (0 until slots.length by step).map { start =>
        val end = math.min(start.toLong + step, slots.length).toInt
        (start, Arrays.copyOfRange(slots, start, end))
      }
      spark.sparkContext.parallelize(slices, math.max(1, slices.length))
        .flatMap { case (start, part) =>
          part.indices.iterator.map(i => (start.toLong + i, part(i)))
        }.toDF("row_index", "slot")
        .select(lit(dp).as("dp"), col("row_index"), col("slot"))
    }
    val perm = side(0, permA).union(side(1, permB))
    // a range keeps its slots ordered and range-partitioned, so an
    // orderBy("slot") of the mask plans neither a sort nor an exchange
    val bit = udf((s: Long) => if (mask.get(s.toInt)) 1 else 0).asNonNullable()
    val maskDf = spark.range(smaller).select(col("id").as("slot"), bit(col("id")).as("bit"))
    (perm, maskDf)
  }

  /** M2: dense list form of one side's permutation (row order), as the
    * reference's `convert_mapping_to_list` (`utils.py:181-191`): one
    * collect of `(row_index, slot)` scattered by row index. */
  def toDenseList(perm: DataFrame, dp: Int): Array[Long] = {
    val rows = perm.where(col("dp") === dp)
      .select(col("row_index").cast("long"), col("slot").cast("long")).collect()
    val dense = new Array[Long](rows.length)
    val seen = new BitSet(rows.length)
    rows.foreach { r =>
      val i = r.getLong(0)
      require(i >= 0 && i < rows.length && !seen.get(i.toInt),
        s"side $dp: row_index $i breaks the rows [0, ${rows.length}) each once")
      seen.set(i.toInt)
      dense(i.toInt) = r.getLong(1)
    }
    dense
  }
}
