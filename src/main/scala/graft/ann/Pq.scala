package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jegou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory-bound ANN scale path: each
  * vector is stored as `numSub` one-byte codes (e.g. 4 bytes for a
  * 64-dim float vector, a 64x compression), and query-to-vector distance
  * is approximated by table lookups (ADC — asymmetric distance
  * computation) instead of touching the raw floats. At 100 TB this is
  * the difference between an index that lives in executor memory and one
  * that re-reads the corpus per query batch: the scored side of the
  * search shuffles only (vid, m, code) ints, never the vectors.
  *
  * This variant is INTEGER-EXACT end to end (the [[Ann.kmeansInt]]
  * pattern): vectors are quantized once onto a GLOBAL [0,254] grid (one
  * corpus-wide max|x| scalar — per-vector scales would make subspace
  * distances incomparable across vectors), codebooks are trained with
  * integer Lloyd iterations (deterministic lowest-vid init, integer
  * squared distances, (dist, cid) tie-break, floored centroid division
  * on the non-negative domain), and ADC distances are integer sums — so
  * the whole index build AND search are bit-identical at any parallelism
  * and replayable in plain SQL (the q_ann_pq_topk oracle re-derives code
  * assignment and the full ADC search from the dumped uv vectors +
  * codebooks alone).
  *
  * Plan shapes (all broadcast-small on the model side):
  * - train: per subspace, per iteration: one broadcast of the ksub
  *   centroids, one map-side-combining hash agg for the argmin, one
  *   posexplode + hash agg for the update; centroids collected (ksub x
  *   subDim ints) and re-materialized so lineage stays flat.
  * - codes: one broadcast join + one hash agg over (vid, m).
  * - search: the per-query distance TABLE (queries x numSub x ksub rows
  *   — tiny) is built first and broadcast against the corpus codes; one
  *   hash agg sums the numSub partial distances per (query, vid); a
  *   per-query window takes top-k. The corpus-side shuffle payload is
  *   3 ints per (vector, subspace) — no vectors move.
  */
object Pq {

  /** Corpus-wide shifted-int quantization: one max|x| agg (a scalar
    * collect), then uv_i = round(x_i/scale) + 127 in [0,254]. The shift
    * makes every later integer division non-negative (floor == truncate
    * across engines); squared distances are translation-invariant. */
  def quantizeGlobal(df: DataFrame, id: String, vec: String): DataFrame = {
    val v = col(vec).cast("array<double>")
    val m = df.select(max(array_max(transform(v, x => abs(x)))).as("m"))
      .head().getDouble(0)
    val scale = if (m == 0.0) 1.0 else m / 127.0
    df.select(col(id).cast("long").as("vid"),
      transform(v, x =>
        (greatest(least(round(x / lit(scale)), lit(127.0)), lit(-127.0))
          .cast("int") + lit(127)).as("u")).as("uv"))
  }

  private def sqDist(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (x, y) => ((x - y) * (x - y)).cast("long")),
    lit(0L), (s, x) => s + x)

  /** Per-subspace integer Lloyd: codebook rows (m, cid, cv). cid is the
    * vid of the init vector (the ksub lowest vids — deterministic,
    * replayable), matching [[Ann.kmeansInt]]'s convention. */
  def train(uv: DataFrame, numSub: Int, subDim: Int, ksub: Int,
      iters: Int): DataFrame = {
    require(numSub >= 1 && subDim >= 1 && ksub >= 1 && iters >= 1,
      s"numSub=$numSub subDim=$subDim ksub=$ksub iters=$iters")
    val spark = uv.sparkSession
    val books = (0 until numSub).map { m =>
      val q = uv.select(col("vid"),
        slice(col("uv"), m * subDim + 1, subDim).as("sv"))
      var cents = q.orderBy(col("vid")).limit(ksub)
        .select(col("vid").as("cid"), col("sv").as("cv"))
      val centSchema = cents.schema
      for (_ <- 1 to iters) {
        val assign = q.crossJoin(broadcast(cents))
          .withColumn("dist", sqDist(col("sv"), col("cv")))
          .groupBy("vid")
          .agg(min(struct(col("dist"), col("cid"))).as("mn"))
          .select(col("vid"), col("mn.cid").as("cid"))
        val upd = assign.join(q, "vid")
          .select(col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy("cid", "pos")
          .agg(expr("CAST(sum(CAST(x AS BIGINT)) DIV count(1) AS INT)").as("cx"))
          .groupBy("cid")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
            s => s.getField("cx")).as("cv_new"))
        val next = cents.join(upd, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("cv_new"), col("cv")).as("cv"))
          .collect()
        cents = spark.createDataFrame(
          java.util.Arrays.asList(next: _*), centSchema)
      }
      cents.select(lit(m).as("m"), col("cid"), col("cv"))
    }
    books.reduce(_ unionAll _)
  }

  /** Long-format corpus: one row per (vid, m) with the subvector. */
  private def subVectors(uv: DataFrame, numSub: Int, subDim: Int): DataFrame =
    uv.select(col("vid"), explode(array((0 until numSub).map(m =>
      struct(lit(m).as("m"),
        slice(col("uv"), m * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col("vid"), col("e.m").as("m"), col("e.sv").as("sv"))

  /** Code assignment: (vid, m, code) — the nearest codebook entry per
    * subspace, ties to the lowest cid. One broadcast join + one agg. */
  def codes(uv: DataFrame, codebook: DataFrame, numSub: Int,
      subDim: Int): DataFrame =
    subVectors(uv, numSub, subDim)
      .join(broadcast(codebook), "m")
      .withColumn("dist", sqDist(col("sv"), col("cv")))
      .groupBy("vid", "m")
      .agg(min(struct(col("dist"), col("cid"))).as("mn"))
      .select(col("vid"), col("m"), col("mn.cid").as("code"))

  /** ADC top-k: for each query id (a subset of the corpus), the k
    * nearest corpus vectors by summed per-subspace table distance.
    * Output: (query_id, neighbor_id, rank, adist) — adist is the exact
    * integer ADC distance. */
  def adcTopK(uv: DataFrame, codebook: DataFrame, codes: DataFrame,
      queryIds: DataFrame, k: Int, numSub: Int, subDim: Int): DataFrame = {
    val qsub = subVectors(
      uv.join(queryIds, col("vid") === col("query_id")).select("vid", "uv"),
      numSub, subDim)
      .select(col("vid").as("query_id"), col("m"), col("sv"))
    val dtab = qsub.join(broadcast(codebook), "m")
      .select(col("query_id"), col("m"), col("cid").as("code"),
        sqDist(col("sv"), col("cv")).as("pd"))
    val scored = codes.join(broadcast(dtab), Seq("m", "code"))
      .where(col("query_id") =!= col("vid"))
      .groupBy(col("query_id"), col("vid").as("neighbor_id"))
      .agg(sum(col("pd")).as("adist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adist")
  }

  /** End-to-end PQ search over a raw embedding column. `queryIds` must
    * have a single `query_id` column naming corpus rows. */
  def pqTopK(corpus: DataFrame, id: String, vec: String,
      queryIds: DataFrame, k: Int, numSub: Int = 8, ksub: Int = 16,
      iters: Int = 2): DataFrame = {
    val uv = graft.core.RunScope.persist("pq_uv",
      quantizeGlobal(corpus, id, vec))
    val dim = uv.select(size(col("uv"))).head().getInt(0)
    require(dim % numSub == 0, s"dim=$dim not divisible by numSub=$numSub")
    val subDim = dim / numSub
    val book = train(uv, numSub, subDim, ksub, iters)
    adcTopK(uv, book, codes(uv, book, numSub, subDim), queryIds, k,
      numSub, subDim)
  }
}
