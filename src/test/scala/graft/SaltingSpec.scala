package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.link.Salting
import scala.util.Random

/** Property test of the square-chunk pair generator itself: over random
  * bucket sizes, with aim and maxK small enough that the second salt digit
  * engages (k2 > 1), the generated pairs must be exactly the brute-force
  * multiset {(bk, id0, id1) : same bucket, id0 < id1} — every pair once,
  * none missing. Callers that end in a dropDuplicates (the linkage kernel)
  * would hide a pair that meets twice; this checks the generator bare. */
class SaltingSpec extends SparkSpec {

  private def buckets(seed: Int): Seq[(String, Long)] = {
    val rnd = new Random(seed)
    (0 until 8).flatMap { b =>
      val n = 1 + rnd.nextInt(200)
      // ids recur across buckets (a record in several blocks), never twice
      // within one
      rnd.shuffle((0L until 400L).toList).take(n).map(id => (s"b$b", id))
    }
  }

  private def bruteForce(rows: Seq[(String, Long)]): Map[(String, Long, Long), Int] =
    (for {
      (bk, ids) <- rows.groupBy(_._1).toSeq
      a <- ids; b <- ids if a._2 < b._2
    } yield (bk, a._2, b._2)).groupBy(identity).view.mapValues(_.size).toMap

  private def multiset(pairs: DataFrame): Map[(String, Long, Long), Int] = {
    import spark.implicits._
    pairs.select($"bk".as[String], $"id0".as[Long], $"id1".as[Long])
      .collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
  }

  test("salted meet == brute-force pair multiset (two salt digits engaged)") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rows = buckets(seed)
      val base = rows.toDF("bk", "id")
      val stats = base.groupBy($"bk").agg(count(lit(1)).as("n"))
      // aim 25 -> needK = ceil(n/5), past maxK=3 for any bucket over 15 rows
      val salted = Salting.assignSalt(base, stats, "bk", lit(25L), 3, $"id")
      assert(salted.where($"k2" > 1).limit(1).count() == 1,
        s"seed=$seed: the second salt digit never engaged — weak test")
      val got = multiset(Salting.meet(salted, "bk").where($"id0" < $"id1"))
      val want = bruteForce(rows)
      assert(got == want, s"seed=$seed got=${got.values.sum} want=${want.values.sum}")
    }
  }

  test("Dedup.saltedSelfPairs honours a small explicit aim and stays exact") {
    import spark.implicits._
    val rows = buckets(11)
    val got = multiset(graft.dedup.Dedup.saltedSelfPairs(rows.toDF("bk", "id"),
      aim = 25L, maxK = 3))
    assert(got == bruteForce(rows))
    // the adaptive aim may lower a big aim to the floor, never raise a
    // small one
    val aimOf = (total: Long, aim: Long) => spark.range(1)
      .select(Salting.adaptiveAim(lit(total), aim, 4)).as[Double].head()
    assert(aimOf(1000L, 25L) == 25.0)
    assert(aimOf(1000L, Salting.MinAim * 4) == Salting.MinAim.toDouble)
    assert(aimOf(24L * 5000000L, Salting.MinAim * 8) == 5000001.0)
    assert(aimOf(Long.MaxValue, Salting.MinAim * 4) == Salting.MinAim * 4.0)
  }
}
