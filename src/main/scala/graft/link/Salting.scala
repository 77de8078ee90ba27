package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The square-chunk pair generator: the reference's split of a big block
  * into ~square work packages of CHUNK_SIZE_AIM comparisons
  * (`tasks/comparing.py:102-170`, `settings.py:103`) as two-sided salting.
  * The only implementation, shared by the linkage kernel
  * (graft.link.Linker.scoreCandidatesChunked) and the generic dedup pair
  * generator (graft.dedup.Dedup.saltedSelfPairs). Four pieces:
  *
  *  1. [[adaptiveAim]] — per-task comparison aim, shrunk for small jobs so
  *     even one hot block spreads over every core;
  *  2. [[fanoutCol]] — per-block composite fan-out (k1, k2);
  *  3. [[assignSalt]] — skewed blocks' fan-out rides a broadcast, each row
  *     gets salt = hash(ids) % (k1*k2);
  *  4. [[meet]] — each side replicates over the OTHER side's salt range and
  *     an equi-join on (key, salt0, salt1) meets every row pair of a block
  *     exactly once per orientation. The caller keeps one orientation with
  *     its own filter (dp0 < dp1, id0 < id1).
  *
  * A block/bucket of n rows needs fan-out needK = ceil(n / sqrt(aim)) so
  * that one chunk pair carries at most ~aim comparisons. A single salt
  * digit caps at [[MaxSaltFanout]]; a 10^9-row block needs needK ~ 62500,
  * so the fan-out is COMPOSITE: two digits (k1 = min(needK, maxK),
  * k2 = ceil(needK / k1), each <= maxK, effective k = k1*k2 >= needK up to
  * maxK^2 = 16.7M ~ 10^13-row blocks), materialized as two chained
  * explodes so no row ever builds a sequence array longer than maxK.
  * k2 = 1 for every block below maxK·sqrt(aim) rows.
  */
object Salting {

  /** Single salt-digit cap; the composite fan-out reaches its square. */
  val MaxSaltFanout: Int = 4096

  /** Floor of the adaptive aim: stops small jobs from over-salting (a 100K
    * floor was measured to slow the FS family ~1 s: 16 salt cells per
    * uniform 800-row bucket, 4x join-input replication for nothing). */
  val MinAim: Long = 1000000L

  /** Per-task comparison aim for a job of `totalPairs` (Σ n² over blocks).
    * When the WHOLE job is smaller than aim·parallelism, a fixed aim leaves
    * the work in a handful of block-keyed tasks (measured: 25 buckets
    * hashed into 32 partitions put 2-3 on one core while half the box
    * idled). Effective tasks ~= totalPairs/(2·aim) (one orientation of the
    * k² chunk pairs survives the caller's filter), so the divisor 6 targets
    * ~3 waves per core. Big jobs keep the caller's aim, so shuffle
    * replication (~n²·bytes/sqrt(aim) per block) is unchanged where it
    * matters. The floor never overrides an explicit aim below it. */
  def adaptiveAim(totalPairs: Column, aim: Long, parallelism: Int): Column =
    least(lit(aim.toDouble), greatest(lit(MinAim.toDouble),
      totalPairs.cast("double") / lit(6.0 * math.max(parallelism, 1)) + 1))

  /** [[adaptiveAim]] for a total the driver holds, as the same double. */
  def adaptiveAimValue(totalPairs: Long, aim: Long, parallelism: Int): Double =
    math.min(aim.toDouble, math.max(MinAim.toDouble,
      totalPairs.toDouble / (6.0 * math.max(parallelism, 1)) + 1))

  /** (k1, k2) fan-out columns from a bucket-size column `n`; the aim is a
    * column so it can come from job statistics inside the plan. */
  def fanoutCol(n: Column, aim: Column, maxK: Int): (Column, Column) = {
    val needK = greatest(ceil(n.cast("double") / sqrt(aim.cast("double"))),
      lit(1L))
    val k1 = least(needK, lit(maxK.toLong)).cast("int")
    val k2 = least(ceil(needK.cast("double") / k1), lit(maxK.toLong)).cast("int")
    (k1, k2)
  }

  /** Scala mirror of [[fanoutCol]] for property tests. */
  def fanoutScala(n: Long, aim: Long, maxK: Int): (Int, Int) = {
    val needK = math.max(math.ceil(n / math.sqrt(aim.toDouble)).toLong, 1L)
    val k1 = math.min(needK, maxK.toLong).toInt
    val k2 = math.min(math.ceil(needK.toDouble / k1).toLong, maxK.toLong).toInt
    (k1, k2)
  }

  /** Adds k1, k2 and salt to `rows`. `stats` holds one row per block:
    * column `key` and its size `n`, plus whatever `aim` reads. Only SKEWED
    * blocks (k > 1 — typically few) ride the broadcast: block-key
    * cardinality can be O(rows) at scale, so normal blocks default to
    * k = 1 via the left join. */
  def assignSalt(rows: DataFrame, stats: DataFrame, key: String,
      aim: Column, maxK: Int, ids: Column*): DataFrame = {
    val (k1, k2) = fanoutCol(col("n"), aim, maxK)
    val skewed = stats.select(col(key), k1.as("k1"), k2.as("k2"))
      .where(col("k1") > 1 || col("k2") > 1)
    withSalt(rows.join(broadcast(skewed), Seq(key), "left"),
      coalesce(col("k1"), lit(1)), coalesce(col("k2"), lit(1)), ids)
  }

  /** [[assignSalt]] when every block has the same fan-out (k1, k2). */
  def assignSalt(rows: DataFrame, k1: Int, k2: Int, ids: Column*): DataFrame =
    withSalt(rows, lit(k1), lit(k2), ids)

  private def withSalt(rows: DataFrame, k1: Column, k2: Column, ids: Seq[Column]) =
    rows.withColumn("k1", k1).withColumn("k2", k2)
      .withColumn("salt",
        pmod(xxhash64(ids: _*), (col("k1") * col("k2")).cast("long")).cast("int"))

  /** Two-sided meet of a salted frame (columns `key`, k1, k2, salt and a
    * payload): every payload column comes out twice, suffixed 0 and 1, one
    * row per (left row, right row) of the same block — each unordered pair
    * twice (once per orientation) and each row with itself once. The
    * other-side salt range is two chained explodes (each bounded by maxK),
    * the composite digit recombined as ta + k1·tb — equivalent to one
    * sequence(0, k1*k2-1) without materializing a k1*k2-long array.
    *
    * With `partitions` > 0 both sides are hash-partitioned on the join
    * keys into that many partitions: the join's own exchange, sized by
    * the caller (who knows how many chunk pairs there are) rather than
    * by spark.sql.shuffle.partitions, and never coalesced by AQE. */
  def meet(salted: DataFrame, key: String, partitions: Int = 0): DataFrame = {
    val payload = salted.columns.filterNot(Set(key, "k1", "k2", "salt"))
    def side(own: String, other: String, sfx: String) =
      salted.select(
        Seq(col(key), col("salt").as(own),
          explode(sequence(lit(0), col("k1") - 1)).as("ta"),
          col("k1"), col("k2")) ++
          payload.map(c => col(c).as(c + sfx)): _*)
        .withColumn("tb", explode(sequence(lit(0), col("k2") - 1)))
        .withColumn(other, col("ta") + col("k1") * col("tb"))
        .drop("ta", "tb", "k1", "k2")
    val keys = Seq(key, "salt0", "salt1")
    def placed(df: DataFrame) =
      if (partitions > 0) df.repartition(partitions, keys.map(col): _*) else df
    placed(side("salt0", "salt1", "0"))
      .join(placed(side("salt1", "salt0", "1")), keys)
      .drop("salt0", "salt1")
  }
}
