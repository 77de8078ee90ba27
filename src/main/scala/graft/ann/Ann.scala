package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup.cosine
import scala.util.Random

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * - `bruteForceTopK`: the exact baseline — broadcast the (small) query
  *   set against the corpus, cosine in codegen'd array expressions,
  *   window top-k. Scales linearly in corpus size, constant in queries.
  * - `lshTopK`: random-hyperplane (sign) signatures, multi-probe via B
  *   independent bucket tables; candidates scored exactly within buckets
  *   only.
  * - `ivfTopK`: the other classic scale path — k-means coarse quantizer
  *   (deterministic seeded init + Lloyd iterations on normalized
  *   vectors), corpus partitioned into nlist inverted lists, queries
  *   probe the nprobe nearest lists and score exactly inside them. At
  *   cluster scale the corpus is hash-partitioned by list id, so a query
  *   touches nprobe/nlist of the data.
  *
  * Recall for both approximate paths measured vs brute force in AnnSpec.
  */
object Ann {

  /** Exact top-k neighbors by cosine for each query vector.
    * Output: (query_id, neighbor_id, rank, cos). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int): DataFrame = {
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).cast("array<double>").as("cv"))
    val q = queries.select(col(id).as("query_id"), col(vec).cast("array<double>").as("qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Symmetric per-vector int8 quantization: scale = max|x|/127 (1.0
    * for the zero vector), q_i = round(x_i/scale) clamped to [-127,127].
    * 4x less memory/shuffle than float32 for an ANN corpus — at 100 TB
    * that is the difference between an index that fits executor memory
    * and one that spills — and cosine over quantized vectors is pure
    * integer arithmetic (the per-vector scales cancel), so the query
    * path needs no float payload at all. Pure codegen column exprs; the
    * clamp is a no-op mathematically (|x/scale| <= 127 by construction)
    * and guards FP edge cases only.
    * Output: (id, scale double, qvec array<int> in [-127,127]). */
  def quantizeInt8(df: DataFrame, id: String, vec: String): DataFrame = {
    val v = col(vec).cast("array<double>")
    df.select(col(id), v.as("__v"))
      .withColumn("scale", {
        val s0 = array_max(transform(col("__v"), x => abs(x))) / lit(127.0)
        when(s0 === 0.0, lit(1.0)).otherwise(s0)
      })
      .select(col(id), col("scale"),
        transform(col("__v"), x =>
          greatest(least(round(x / col("scale")), lit(127.0)), lit(-127.0))
            .cast("int")).as("qvec"))
  }

  /** Integer-exact distributed k-means over int8-quantized vectors —
    * bit-identical at ANY parallelism (the property that makes an
    * iterative clustering job oracle-able, same pattern as the exact
    * integer PageRank): all distances and centroid updates are integer
    * arithmetic, ties break on centroid id, and the quantized domain is
    * SHIFTED to [0,254] so centroid-update division never sees a
    * negative numerator (floor-vs-truncate integer division semantics
    * then agree across engines; squared distances are translation-
    * invariant, so the shift changes nothing else).
    *
    * Init: the k lowest-id vectors (deterministic, replayable). Each
    * iteration: one broadcast of the k×dim centroid table, one map-side-
    * combining hash agg for the argmin (min over a (dist, cid) struct —
    * no window sort), one posexplode + hash agg for the update; empty
    * clusters keep their previous centroid. Centroids are collected
    * (k·dim ints) and re-materialized per round so lineage stays flat —
    * the same tiny-driver-state concession [[ivfTopK]] makes.
    * Output: (id, cluster = seed id, dist = squared int distance). */
  def kmeansInt(df: DataFrame, id: String, vec: String, k: Int,
      iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, s"k=$k iters=$iters")
    val spark = df.sparkSession
    val q = graft.core.RunScope.persist("kmeans_uv",
      quantizeInt8(df, id, vec)
        .select(col(id).as("vid"),
          transform(col("qvec"), x => x + lit(127)).as("uv")))
    var cents = q.orderBy(col("vid")).limit(k)
      .select(col("vid").as("cid"), col("uv").as("cv"))
    var assign: DataFrame = null
    val centSchema = cents.schema
    for (_ <- 1 to iters) {
      val dist = aggregate(
        zip_with(col("uv"), col("cv"),
          (a, b) => ((a - b) * (a - b)).cast("long")),
        lit(0L), (s, x) => s + x)
      assign = q.crossJoin(broadcast(cents))
        .withColumn("dist", dist)
        .groupBy("vid")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vid"), col("m.cid").as("cid"), col("m.dist").as("dist"))
      val upd = assign.join(q, "vid")
        .select(col("cid"), posexplode(col("uv")).as(Seq("pos", "x")))
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
    assign.select(col("vid").as(id), col("cid").as("cluster"), col("dist"))
  }

  /** Exact-within-quantization top-k by cosine over int8-quantized
    * vectors: same shape as [[bruteForceTopK]] (broadcast queries,
    * per-query window) but the pair arithmetic is an integer dot over
    * array<int> — long accumulator, so ANSI mode cannot overflow-throw
    * (127^2 * dim stays far below 2^63). */
  def int8TopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int): DataFrame = {
    def qnorm(c: Column) = sqrt(aggregate(
      transform(c, x => (x * x).cast("long")), lit(0L), (a, b) => a + b)
      .cast("double"))
    val c = quantizeInt8(corpus, id, vec)
      .select(col(id).as("neighbor_id"), col("qvec").as("cv"))
      .withColumn("cn", qnorm(col("cv")))
    val q = quantizeInt8(queries, id, vec)
      .select(col(id).as("query_id"), col("qvec").as("qv"))
      .withColumn("qn", qnorm(col("qv")))
    val dot = aggregate(
      zip_with(col("qv"), col("cv"), (x, y) => (x * y).cast("long")),
      lit(0L), (a, b) => a + b).cast("double")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(round(dot / (col("qn") * col("cn")), 6)))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009): combine
    * N retrieval rankings of the same query set into one list by
    * score(d) = Σ_i 1/(k0 + rank_i(d)), summing only the lists that
    * returned d. The standard zero-training way to fuse heterogeneous
    * retrievers (exact cosine + quantized ANN + lexical BM25 + LSH) —
    * the hybrid-search primitive of a retrieval corpus.
    *
    * Determinism: each 1/(k0+r) is one IEEE divide of small integers and
    * the terms are added in LIST ORDER, so the score is bit-identical in
    * any engine; it is then rounded to 9 dp and the fused rank windows
    * over the ROUNDED value (ties → neighbor_id), the same
    * round-then-rank contract as [[bruteForceTopK]]'s cos.
    *
    * Input frames each carry (query_id, neighbor_id, rank). Output:
    * (query_id, neighbor_id, rank_1..rank_N — 0 where that list missed
    * the doc — rrf_score, fused_rank).
    *
    * Scale shape: N-1 equi-joins on (query, doc) — rankings are k rows
    * per query, so the join inputs are tiny relative to the corpora that
    * produced them — then one window partitioned by query. */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty && k0 >= 1, s"rankings=${rankings.size} k0=$k0")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as(s"rank_${i + 1}"))
    }
    val joined = tagged.reduce((a, b) =>
      a.join(b, Seq("query_id", "neighbor_id"), "full_outer"))
    val score = tagged.indices.map(i =>
        coalesce(lit(1.0) / (lit(k0.toDouble) +
          col(s"rank_${i + 1}").cast("double")), lit(0.0)))
      .reduce[Column](_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(desc("rrf_score"), col("neighbor_id"))
    joined
      .withColumn("rrf_score", round(score, 9))
      .na.fill(0L, tagged.indices.map(i => s"rank_${i + 1}"))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
  }

  /** Deterministic random hyperplanes: tables x bitsPerTable x dim. */
  private[ann] def hyperplanes(tables: Int, bits: Int, dim: Int,
      seed: Long): Array[Array[Array[Double]]] =
    Array.tabulate(tables, bits) { (t, b) =>
      val r = new Random(seed * 1000003L + t * 8191L + b)
      Array.fill(dim)(r.nextGaussian())
    }

  /** Sign-LSH bucket keys for a vector: one key per table. */
  private[ann] def signKeys(v: Array[Double],
      planes: Array[Array[Array[Double]]]): Array[String] =
    planes.zipWithIndex.map { case (table, t) =>
      val sb = new StringBuilder(s"t$t:")
      table.foreach { plane =>
        var d = 0.0
        var i = 0
        val n = math.min(plane.length, v.length)
        while (i < n) { d += plane(i) * v(i); i += 1 }
        sb.append(if (d >= 0) '1' else '0')
      }
      sb.toString
    }

  /** Per-vector sign-LSH state: (vid, v double[], nrm, bks = one bucket
    * key per table). The dump the DuckDB oracle replays bucketed-pairing
    * semantics from; also the candidate source for
    * Dedup.embeddingCosinePairsApprox. */
  def signatures(df: DataFrame, id: String, vec: String,
      tables: Int = 16, bits: Int = 6, dim: Int = 64,
      seed: Long = 0xa11L): DataFrame = {
    val planes = hyperplanes(tables, bits, dim, seed)
    val keysUdf = udf((v: Seq[Double]) =>
      if (v == null) Array.empty[String] else signKeys(v.toArray, planes))
    df.select(col(id).as("vid"), col(vec).cast("array<double>").as("v"))
      .withColumn("nrm", graft.expr.vectorNorm(col("v")))
      .withColumn("bks", keysUdf(col("v")))
  }

  private def l2normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(_ / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Deterministic k-means coarse quantizer on L2-normalized vectors
    * (argmax dot == cosine assignment): seeded-hash sample init, `iters`
    * Lloyd rounds with distributed assignment + per-list mean (nlist
    * groups — tiny). Returns the normalized centroids. */
  private[ann] def trainCentroids(df: DataFrame, id: String, vec: String,
      nlist: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(id).cast("long").as("vid"),
      col(vec).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .map { case (vid, v) => (vid, l2normalize(v.toArray)) }
    var centroids = vecs
      .orderBy(xxhash64(lit(seed), col("_1")))
      .limit(nlist)
      .collect().map(_._2)
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val means = vecs
        .map { case (_, v) =>
          val cs = bc.value
          var best = 0; var bestD = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            val d = dot(cs(c), v)
            if (d > bestD) { bestD = d; best = c }
            c += 1
          }
          (best, v)
        }
        .groupByKey(_._1)
        .mapGroups { (list, it) =>
          var n = 0L
          var acc: Array[Double] = null
          it.foreach { case (_, v) =>
            if (acc == null) acc = new Array[Double](v.length)
            var i = 0
            while (i < v.length) { acc(i) += v(i); i += 1 }
            n += 1
          }
          (list, l2normalize(acc.map(_ / n)))
        }
        .collect().toMap
      centroids = Array.tabulate(centroids.length)(c => means.getOrElse(c, centroids(c)))
    }
    centroids
  }

  /** Per-vector IVF state: (vid, v normalized, list = nearest centroid,
    * probes = the nprobe nearest lists — used when the vector queries).
    * The dump the DuckDB oracle replays IVF search semantics from. */
  def ivfAssignments(df: DataFrame, id: String, vec: String,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      seed: Long = 0x1f5L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centroids = trainCentroids(df, id, vec, nlist, iters, seed)
    val bc = spark.sparkContext.broadcast(centroids)
    df.select(col(id).cast("long").as("vid"),
      col(vec).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .map { case (vid, raw) =>
        val v = l2normalize(raw.toArray)
        val cs = bc.value
        val ds = Array.tabulate(cs.length)(c => dot(cs(c), v))
        val order = ds.indices.sortBy(c => (-ds(c), c)).toArray
        (vid, v, order.head, order.take(nprobe))
      }
      .toDF("vid", "v", "list", "probes")
  }

  /** IVF approximate top-k: queries score exactly against the corpus
    * vectors in their nprobe nearest inverted lists. Each corpus vector
    * lives in exactly one list, so no candidate dedup is needed.
    * Centroid training sums floats in partition order (nondeterministic
    * across CALLS in the last ulp) but the trained centroids are
    * collected once and fixed in the returned plan — callers that need
    * run-to-run consistency (e.g. the oracle dump) must reuse ONE
    * `ivfAssignments` result via [[ivfTopKFromAssignments]]. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      seed: Long = 0x1f5L): DataFrame =
    ivfTopKFromAssignments(
      ivfAssignments(corpus, id, vec, nlist, nprobe, iters, seed),
      queries.select(col(id).cast("long").as("query_id")), k)

  /** Search over a precomputed (vid, v, list, probes) assignment table. */
  def ivfTopKFromAssignments(assigned: DataFrame, queryIds: DataFrame,
      k: Int): DataFrame = {
    val c = assigned.select(col("vid").as("neighbor_id"), col("v").as("cv"), col("list"))
    val q = assigned.join(queryIds, col("vid") === col("query_id"))
      .select(col("query_id"), col("v").as("qv"), explode(col("probes")).as("list"))
    val cands = c.join(q, "list")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(graft.expr.dotProduct(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** LSH-bucketed approximate top-k: only pairs sharing at least one of
    * `tables` sign-signature buckets are scored. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, tables: Int = 16, bits: Int = 6, dim: Int = 64,
      seed: Long = 0xa11L): DataFrame = {
    def bucketed(df: DataFrame, idAs: String, vecAs: String) =
      signatures(df, id, vec, tables, bits, dim, seed)
        .select(col("vid").as(idAs), col("v").as(vecAs), col("bks"))
        .withColumn("bkey", explode(col("bks"))).drop("bks")
    val c = bucketed(corpus, "neighbor_id", "cv")
    val q = bucketed(queries, "query_id", "qv")
    val cands = c.join(q, "bkey")
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "qv", "cv")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Gonzalez (1985) greedy max-min k-center selection over
    * int8-quantized vectors — the classic 2-approximation for the
    * k-center objective, the standard pick for DIVERSE subset selection
    * in training pipelines (annotation batches, coreset seeds,
    * farthest-point sampling) where k-means picks density and this picks
    * coverage.
    *
    * Deterministic and integer-exact: distances are squared L2 over the
    * quantized ints (order-free Long sums), the first center is the
    * lowest id, each round adds the point farthest from its nearest
    * already-chosen center (ties → lowest id), and round r's selection
    * value is the covering radius of the first r−1 centers — a
    * non-increasing sequence (the property the spec pins).
    *
    * Scale shape: k passes over the corpus, each one codegen scan with
    * the centers folded in as literal arrays + a TakeOrdered(1)
    * reduction — no shuffle; driver state is k·dim ints (the same
    * bounded-collect concession as [[kmeansInt]]'s centroid table). k is
    * a small constant by construction of the use case.
    *
    * @return (round, center_id, maxmin_dist) — maxmin_dist of round 1
    *         is 0 by convention. */
  def kCentersInt(df: DataFrame, id: String, vec: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k")
    val spark = df.sparkSession
    import spark.implicits._
    val q = graft.core.RunScope.persist("kcenters",
      quantizeInt8(df, id, vec)
        .select(col(id).cast("long").as("vid"), col("qvec")))
    val first = q.orderBy(col("vid")).select(col("vid"), col("qvec")).head()
    var centers = Vector((first.getLong(0), first.getSeq[Int](1).toArray, 0L))
    while (centers.size < k) {
      val dists = centers.map { case (_, cv, _) =>
        aggregate(zip_with(col("qvec"), typedlit(cv.toSeq),
          (x, y) => ((x - y) * (x - y)).cast("long")),
          lit(0L), (a, b) => a + b)
      }
      val minD = dists.reduce(least(_, _))
      val nxt = q.select(col("vid"), col("qvec"), minD.as("d"))
        .orderBy(col("d").desc, col("vid")).limit(1).head()
      centers = centers :+
        ((nxt.getLong(0), nxt.getSeq[Int](1).toArray, nxt.getLong(2)))
    }
    centers.zipWithIndex
      .map { case ((cid, _, d), i) => (i + 1, cid, d) }
      .toDF("round", "center_id", "maxmin_dist")
  }
}
