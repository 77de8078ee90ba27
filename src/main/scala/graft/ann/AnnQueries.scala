package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._
import graft.dedup.Dedup

/** Embedding search: exact and quantized top-k, LSH, IVF and PQ
  * indexes with their recall gate, k-means / k-center selection, rank
  * fusion and embedding-space dedup.
  *
  * Outside the record-linkage boundary: a candidate for deletion
  * together with its engine code and specs. */
object AnnQueries extends QueryFamily {
  // IVF centroid training sums floats in partition order — consistent
  // within one materialized assignment table, not across calls — so the
  // query and the oracle dump must share ONE result (memoized per
  // session+dir, same eviction discipline as febrl4ClustersCache).
  private val ivfSigCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def ivfSig(spark: SparkSession, dir: String): DataFrame = {
    ivfSigCache.keySet().removeIf(k =>
      try k._1.sparkContext.isStopped catch { case _: Throwable => true })
    ivfSigCache.computeIfAbsent((spark, dir), { case (s, d) =>
      Ann.ivfAssignments(embs(s, d), "vec_id", "embedding").persist()
    })
  }

  // PQ model (uv + codebook) — integer-exact and deterministic at any
  // parallelism, so memoization is an efficiency choice (the aux dumps
  // and the query would agree even recomputed), kept for the same
  // session-cache discipline as ivfSig.
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, DataFrame)]()
  private def pqModel(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    pqCache.keySet().removeIf(k =>
      try k._1.sparkContext.isStopped catch { case _: Throwable => true })
    pqCache.computeIfAbsent((spark, dir), { case (s, d) =>
      val uv = graft.ann.Pq.quantizeGlobal(embs(s, d), "vec_id", "embedding")
        .persist()
      val book = graft.ann.Pq.train(uv, numSub = 8, subDim = 8, ksub = 16,
        iters = 2).persist()
      (uv, book)
    })
  }

  /** q_kcenter oracle, generated: int8 quantize replay + 7 chained
    * Gonzalez rounds (the same shape hand-written would be 70 identical
    * lines; generation keeps round r mechanically identical to round
    * r+1, which is the point of the replay). */
  private def kcenterOracleSql: String = {
    def dist(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, 65), i -> " +
        s"CAST(($a.qv[i] - $b.qv[i]) * ($a.qv[i] - $b.qv[i]) AS BIGINT)))" +
        " AS BIGINT)"
    val rounds = (2 to 8).map { r =>
      s"""c$r AS (SELECT vec_id, d FROM m${r - 1} ORDER BY d DESC, vec_id LIMIT 1),
         v$r AS (SELECT q.vec_id, q.qv FROM q JOIN c$r USING (vec_id)),
         m$r AS (SELECT m.vec_id, least(m.d, ${dist("q", "v")}) AS d
                 FROM m${r - 1} m, q, v$r v WHERE q.vec_id = m.vec_id)"""
    }.mkString(",\n")
    val tail = (2 to 8).map(r =>
      s"UNION ALL SELECT $r, vec_id, CAST(d AS BIGINT) FROM c$r")
      .mkString("\n")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
       e1 AS (SELECT vec_id, e,
                list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc0
              FROM e0),
       e2 AS (SELECT vec_id, e,
                CASE WHEN sc0 = 0 THEN 1.0 ELSE sc0 END AS sc
              FROM e1),
       q AS (SELECT vec_id,
               list_transform(e, x -> CAST(round(x / sc) AS INT)) AS qv
             FROM e2),
       c1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
       m1 AS (SELECT q.vec_id, ${dist("q", "c")} AS d FROM q, c1 c),
       $rounds
       SELECT 1 AS round, vec_id AS center_id,
              CAST(0 AS BIGINT) AS maxmin_dist
       FROM c1
       $tail"""
  }

  override def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_sig" -> ((s, dir) =>
      Ann.signatures(embs(s, dir), "vec_id", "embedding")
        .select(col("vid"), col("v"), col("bks"))),
    "ivf_sig" -> ((s, dir) => ivfSig(s, dir)),
    // PQ index state: globally-quantized vectors + per-subspace integer
    // codebooks. Training is integer-exact (bit-identical at any
    // parallelism), so the q_ann_pq_topk oracle re-derives CODE
    // ASSIGNMENT and the full ADC search in SQL from these two dumps —
    // only the Lloyd iterations themselves stay with PqSpec's local
    // brute-force equality.
    "pq_uv" -> ((s, dir) => pqModel(s, dir)._1),
    "pq_codebook" -> ((s, dir) => pqModel(s, dir)._2),
  )

  val queries: Seq[Query] = Seq(
    // brute-force cosine top-k (ANN baseline)
    Query("q_topk_cosine", (s, dir) => {
      val e = embs(s, dir)
      Ann.bruteForceTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         s AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(q.e, c.e), 6) AS cos
           FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         r AS (
           SELECT query_id, neighbor_id, cos,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 5"""),
    // int8 symmetric quantization of the embedding column (the 4x
    // memory/shuffle cut for a 100-TB ANN corpus); scale + quantized
    // values are deterministic double arithmetic DuckDB replays exactly
    // (qvec projected as CSV — pandas can't sort list columns)
    Query("q_quantize_int8", (s, dir) =>
      Ann.quantizeInt8(embs(s, dir).where(col("vec_id") < 200), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 9).as("scale_r"),
          array_join(col("qvec"), ",").as("qvec_csv"))
        .orderBy(col("vec_id")),
      // int8 quantization replayed in double arithmetic: same max/127
      // scale, same round-half-away-from-zero, same zero-vector guard
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings WHERE vec_id < 200),
         s0 AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc0
                FROM v),
         s1 AS (SELECT vec_id, e,
                  CASE WHEN sc0 = 0 THEN 1.0 ELSE sc0 END AS sc
                FROM s0)
         SELECT vec_id, round(sc, 9) AS scale_r,
                array_to_string(list_transform(e,
                  x -> CAST(round(x / sc) AS INT)), ',') AS qvec_csv
         FROM s1"""),
    // top-k over the quantized corpus: integer dot, scales cancel in
    // cosine — the oracle re-derives the quantization AND the ranking
    // from the raw parquet, fully independent of the Spark code
    Query("q_ann_int8_topk", (s, dir) => {
      val e = embs(s, dir)
      Ann.int8TopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // quantize + integer-dot cosine + rank, all re-derived from the raw
      // parquet (list_sum over BIGINT products is exact; norms/division in
      // double match the Spark formula term for term)
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         s0 AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc0
                FROM v),
         q AS (SELECT vec_id,
                 list_transform(e, x -> CAST(round(
                   x / (CASE WHEN sc0 = 0 THEN 1.0 ELSE sc0 END)) AS INT)) AS qv
               FROM s0),
         n AS (SELECT vec_id, qv,
                 sqrt(CAST(list_sum(list_transform(qv,
                   x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) AS nrm
               FROM q),
         s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                      ELSE round(CAST(list_sum(list_transform(
                             range(1, len(a.qv) + 1),
                             i -> CAST(a.qv[i] AS BIGINT) * b.qv[i])) AS DOUBLE)
                           / (a.nrm * b.nrm), 6) END AS cos
               FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         r AS (SELECT query_id, neighbor_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 5"""),
    // embedding-cosine near-dup pairs
    Query("q_cosine_pairs", (s, dir) =>
      Dedup.embeddingCosinePairs(embs(s, dir), "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("id0"), col("id1")),
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         SELECT a.vec_id AS id0, b.vec_id AS id1,
                round(list_cosine_similarity(a.e, b.e), 6) AS cos
         FROM v a JOIN v b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4"""),
    // SemDeDup: semantic dedup inside the SAME k-means cells the IVF
    // index uses (cluster once, serve ANN and dedup); the oracle replays
    // cell-blocked pairing + ε-graph components from the ivf_sig dump
    Query("q_semdedup", (s, dir) =>
      Dedup.semanticDedup(ivfSig(s, dir), threshold = 0.4)
        .orderBy(col("vid")),
      // SemDeDup replay: cell-equi-join pairs (the kmeans cell IS the
      // block), exact dot of the dumped normalized vectors, recursive
      // min-label components over the ε-graph, keep = min vid per group
      s"""WITH RECURSIVE
         v AS (SELECT vid, v, list FROM '$OracleAuxDir/ivf_sig/*.parquet'),
         p AS (SELECT a.vid AS u, b.vid AS w
               FROM v a JOIN v b ON a.list = b.list AND a.vid < b.vid
               WHERE round(list_dot_product(a.v, b.v), 6) >= 0.4),
         n AS (SELECT u AS node FROM p UNION SELECT w FROM p),
         adj AS (SELECT u AS a, w AS b FROM p UNION SELECT w, u FROM p),
         reach(node, lbl) AS (
           SELECT node, node FROM n
           UNION
           SELECT adj.b, reach.lbl FROM reach JOIN adj ON reach.node = adj.a),
         comp AS (SELECT node, min(lbl) AS grp FROM reach GROUP BY node)
         SELECT v.vid, COALESCE(comp.grp, v.vid) AS grp,
                COALESCE(comp.grp, v.vid) = v.vid AS keep
         FROM v LEFT JOIN comp ON v.vid = comp.node"""),
    // reciprocal-rank fusion of two ANN retrievers (exact cosine +
    // int8-quantized) — the hybrid-search merge; scores are IEEE-exact
    // sums of two small-integer reciprocals, ranked after rounding
    Query("q_rrf", (s, dir) => {
      val e = embs(s, dir)
      val q = e.where(col("vec_id") < 10)
      val exact = Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
      val int8 = Ann.int8TopK(e, q, "vec_id", "embedding", k = 10)
      Ann.rrfFuse(Seq(exact, int8))
        .where(col("fused_rank") <= 10)
        .select("query_id", "neighbor_id", "rank_1", "rank_2",
          "rrf_score", "fused_rank")
        .orderBy("query_id", "fused_rank")
    },
      // RRF: replay BOTH rankings (exact cosine + int8 integer-dot, each
      // top-10 per query), full-outer merge, score = list-ordered sum of
      // reciprocals rounded to 9dp, fused rank windows over the rounded
      // score with neighbor tie-break
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         es AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(q.e, c.e), 6) AS cos
           FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         er AS (
           SELECT query_id, neighbor_id,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM es QUALIFY rank <= 10),
         s0 AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc0
                FROM v),
         q8 AS (SELECT vec_id,
                 list_transform(e, x -> CAST(round(
                   x / (CASE WHEN sc0 = 0 THEN 1.0 ELSE sc0 END)) AS INT)) AS qv
               FROM s0),
         n8 AS (SELECT vec_id, qv,
                 sqrt(CAST(list_sum(list_transform(qv,
                   x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) AS nrm
               FROM q8),
         is0 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                      ELSE round(CAST(list_sum(list_transform(
                             range(1, len(a.qv) + 1),
                             i -> CAST(a.qv[i] AS BIGINT) * b.qv[i])) AS DOUBLE)
                           / (a.nrm * b.nrm), 6) END AS cos
               FROM n8 a JOIN n8 b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         ir AS (
           SELECT query_id, neighbor_id,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM is0 QUALIFY rank <= 10),
         f AS (SELECT COALESCE(er.query_id, ir.query_id) AS query_id,
                      COALESCE(er.neighbor_id, ir.neighbor_id) AS neighbor_id,
                      er.rank AS ra, ir.rank AS rb
               FROM er FULL OUTER JOIN ir
                 ON er.query_id = ir.query_id
                AND er.neighbor_id = ir.neighbor_id),
         sc AS (SELECT query_id, neighbor_id,
                      COALESCE(ra, 0) AS rank_1, COALESCE(rb, 0) AS rank_2,
                      round(
                        COALESCE(CAST(1 AS DOUBLE)
                          / CAST(60 + ra AS DOUBLE), 0.0)
                        + COALESCE(CAST(1 AS DOUBLE)
                          / CAST(60 + rb AS DOUBLE), 0.0), 9) AS rrf_score
                FROM f),
         fr AS (SELECT *,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY rrf_score DESC, neighbor_id) AS BIGINT)
                    AS fused_rank
                FROM sc)
         SELECT query_id, neighbor_id, rank_1, rank_2, rrf_score,
                fused_rank
         FROM fr WHERE fused_rank <= 10
         ORDER BY query_id, fused_rank"""),
    // integer-exact k-means (k=8, 2 Lloyd iterations) over int8-shifted
    // embeddings: bit-identical at any parallelism — the exact-integer-
    // arithmetic pattern (PageRank) applied to clustering, so the whole
    // iterative job replays in SQL
    Query("q_kmeans_int", (s, dir) =>
      graft.ann.Ann.kmeansInt(embs(s, dir), "vec_id", "embedding",
          k = 8, iters = 2)
        .orderBy(col("vec_id")),
      // full 2-iteration Lloyd replay in relational form: same int8+127
      // quantization, same integer distances, same (dist, cid) tiebreak,
      // same floored centroid division (non-negative domain), empty
      // clusters keep their previous centroid
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
         s0 AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc0
                FROM v),
         q AS (SELECT vec_id, list_transform(e, x -> CAST(round(
                 x / (CASE WHEN sc0 = 0 THEN 1.0 ELSE sc0 END)) AS INT)
                 + 127) AS uv
               FROM s0),
         d AS (SELECT vec_id, unnest(uv) AS x,
                      generate_subscripts(uv, 1) AS i FROM q),
         c0 AS (SELECT vec_id AS cid, i, x AS cx FROM d
                WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT 8)),
         a1d AS (SELECT d.vec_id, c0.cid,
                   CAST(sum(CAST(d.x - c0.cx AS BIGINT) * (d.x - c0.cx))
                     AS BIGINT) AS dist
                 FROM d JOIN c0 ON d.i = c0.i GROUP BY 1, 2),
         a1 AS (SELECT vec_id, cid FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rn FROM a1d) WHERE rn = 1),
         c1u AS (SELECT a1.cid, d.i,
                   CAST(sum(CAST(d.x AS BIGINT)) // count(*) AS INT) AS cx
                 FROM a1 JOIN d ON a1.vec_id = d.vec_id GROUP BY 1, 2),
         c1 AS (SELECT c0.cid, c0.i, COALESCE(c1u.cx, c0.cx) AS cx
                FROM c0 LEFT JOIN c1u ON c0.cid = c1u.cid AND c0.i = c1u.i),
         a2d AS (SELECT d.vec_id, c1.cid,
                   CAST(sum(CAST(d.x - c1.cx AS BIGINT) * (d.x - c1.cx))
                     AS BIGINT) AS dist
                 FROM d JOIN c1 ON d.i = c1.i GROUP BY 1, 2),
         a2 AS (SELECT vec_id, cid, dist FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rn FROM a2d) WHERE rn = 1)
         SELECT vec_id, cid AS cluster, dist FROM a2"""),
    // Gonzalez max-min k-center selection (k=8) over int8-quantized
    // embeddings: the diversity-selection dual of q_kmeans_int —
    // farthest-point sampling with integer-exact distances, lowest-id
    // seed and ties, covering-radius sequence in the output
    Query("q_kcenter", (s, dir) =>
      graft.ann.Ann.kCentersInt(embs(s, dir), "vec_id", "embedding", k = 8)
        .orderBy(col("round")),
      // Gonzalez greedy replay: quantize CTE + 7 chained rounds, each =
      // (argmax of running min-dist with lowest-id tiebreak) -> join the
      // new center's vector -> fold it into the running min via least()
      kcenterOracleSql),
    // approximate cosine pairs — the 100-TB path (sign-LSH candidates,
    // exact confirm; oracle replays pairing from the ann_sig dump)
    Query("q_cosine_pairs_lsh", (s, dir) =>
      Dedup.embeddingCosinePairsApprox(embs(s, dir), "vec_id", "embedding",
        threshold = 0.4).orderBy(col("id0"), col("id1")),
      s"""WITH v AS (SELECT vid, v, bks FROM '$OracleAuxDir/ann_sig/*.parquet'),
         p AS (
           SELECT a.vid AS id0, b.vid AS id1,
                  round(list_cosine_similarity(a.v, b.v), 6) AS cos
           FROM v a JOIN v b ON a.vid < b.vid
             AND len(list_intersect(a.bks, b.bks)) > 0)
         SELECT id0, id1, cos FROM p WHERE cos >= 0.4"""),
    Query("q_ann_lsh_topk", (s, dir) => {
      val e = embs(s, dir)
      Ann.lshTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // sign-LSH ANN top-k replayed from the ann_sig dump
      s"""WITH v AS (SELECT vid, v, bks FROM '$OracleAuxDir/ann_sig/*.parquet'),
         s AS (
           SELECT q.vid AS query_id, c.vid AS neighbor_id,
                  round(list_cosine_similarity(q.v, c.v), 6) AS cos
           FROM v q JOIN v c ON q.vid < 10 AND c.vid <> q.vid
             AND len(list_intersect(q.bks, c.bks)) > 0),
         r AS (
           SELECT query_id, neighbor_id, cos,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 5"""),
    // IVF coarse-quantizer ANN (the other scale path; oracle replays the
    // probe-list search from the ivf_sig dump)
    Query("q_ann_ivf_topk", (s, dir) =>
      Ann.ivfTopKFromAssignments(ivfSig(s, dir),
        embs(s, dir).where(col("vec_id") < 10)
          .select(col("vec_id").cast("long").as("query_id")), k = 5)
        .orderBy(col("query_id"), col("rank")),
      s"""WITH v AS (SELECT vid, v, list, probes FROM '$OracleAuxDir/ivf_sig/*.parquet'),
         s AS (
           SELECT q.vid AS query_id, c.vid AS neighbor_id,
                  round(list_dot_product(q.v, c.v), 6) AS cos
           FROM v q JOIN v c ON q.vid < 10 AND c.vid <> q.vid
             AND list_contains(q.probes, c.list)),
         r AS (
           SELECT query_id, neighbor_id, cos,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 5"""),
    // ANN quality gate: recall@5 of the IVF index against brute-force
    // exact cosine per query — the accuracy/cost readout every approx
    // index deployment needs before it replaces the exact path
    Query("q_ann_recall", (s, dir) => {
      val e = embs(s, dir)
      val q = e.where(col("vec_id") < 10)
      val exact = Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Ann.ivfTopKFromAssignments(ivfSig(s, dir),
          q.select(col("vec_id").cast("long").as("query_id")), k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits") * 2000L).as("recall_scaled"))
        .orderBy("query_id")
    },
      // recall@5 = the q_topk_cosine exact chain LEFT-joined with the
      // q_ann_ivf_topk probe chain, hits counted per query
      s"""WITH ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         ex_s AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(q.e, c.e), 6) AS cos
           FROM ve q JOIN ve c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         ex_r AS (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank FROM ex_s),
         exact AS (SELECT query_id, neighbor_id FROM ex_r WHERE rank <= 5),
         vi AS (SELECT vid, v, list, probes FROM '$OracleAuxDir/ivf_sig/*.parquet'),
         iv_s AS (
           SELECT q.vid AS query_id, c.vid AS neighbor_id,
                  round(list_dot_product(q.v, c.v), 6) AS cos
           FROM vi q JOIN vi c ON q.vid < 10 AND c.vid <> q.vid
             AND list_contains(q.probes, c.list)),
         iv_r AS (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank FROM iv_s),
         ivf AS (SELECT query_id, neighbor_id, 1 AS hit
                 FROM iv_r WHERE rank <= 5)
         SELECT e.query_id,
                CAST(sum(coalesce(i.hit, 0)) AS BIGINT) AS n_hits,
                CAST(sum(coalesce(i.hit, 0)) * 2000 AS BIGINT) AS recall_scaled
         FROM exact e LEFT JOIN ivf i
           ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         GROUP BY e.query_id"""),
    // product-quantization ANN (Jegou et al. 2011) — the memory-bound
    // scale path: 8 one-byte codes per 64-dim vector, ADC table-lookup
    // distances; integer-exact end to end, so the oracle re-derives code
    // assignment AND the full search from the pq_uv + pq_codebook dumps
    Query("q_ann_pq_topk", (s, dir) => {
      val (uv, book) = pqModel(s, dir)
      graft.ann.Pq.adcTopK(uv, book,
          graft.ann.Pq.codes(uv, book, numSub = 8, subDim = 8),
          embs(s, dir).where(col("vec_id") < 10)
            .select(col("vec_id").cast("long").as("query_id")),
          k = 5, numSub = 8, subDim = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      // full PQ replay from the dumped quantized vectors + codebooks:
      // code assignment (argmin integer subspace distance, (dist, cid)
      // tie-break) and the ADC search (summed table distances, ascending
      // (adist, neighbor) top-k) are both re-derived in SQL — every
      // number is integer arithmetic, so the match is bit-for-bit
      s"""WITH u AS (SELECT vid, uv FROM '$OracleAuxDir/pq_uv/*.parquet'),
         d AS (SELECT vid,
                      CAST((generate_subscripts(uv, 1) - 1) // 8 AS INT) AS m,
                      CAST((generate_subscripts(uv, 1) - 1) % 8 AS INT) AS pos,
                      unnest(uv) AS x
               FROM u),
         cb AS (SELECT m, cid,
                       CAST(generate_subscripts(cv, 1) - 1 AS INT) AS pos,
                       unnest(cv) AS cx
                FROM '$OracleAuxDir/pq_codebook/*.parquet'),
         ad AS (SELECT d.vid, d.m, cb.cid,
                       sum(CAST(d.x - cb.cx AS BIGINT) * (d.x - cb.cx)) AS dist
                FROM d JOIN cb ON d.m = cb.m AND d.pos = cb.pos
                GROUP BY 1, 2, 3),
         codes AS (SELECT vid, m, cid AS code FROM (
                     SELECT *, row_number() OVER (PARTITION BY vid, m
                       ORDER BY dist, cid) AS rn FROM ad) WHERE rn = 1),
         dtab AS (SELECT vid AS query_id, m, cid AS code, dist AS pd
                  FROM ad WHERE vid < 10),
         s AS (SELECT t.query_id, c.vid AS neighbor_id,
                      CAST(sum(t.pd) AS BIGINT) AS adist
               FROM codes c JOIN dtab t ON c.m = t.m AND c.code = t.code
               WHERE c.vid <> t.query_id GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, adist,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY adist, neighbor_id) AS BIGINT) AS rank
               FROM s)
         SELECT query_id, neighbor_id, rank, adist FROM r WHERE rank <= 5"""),
  )
}
