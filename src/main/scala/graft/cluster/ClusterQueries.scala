package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._
import graft.core.LinkConfig
import graft.link.Pipeline
import graft.link.LinkageQueries.febrl4Clusters

/** Clustering and its evaluation: pairwise and cluster-level quality
  * against the febrl4 truth, threshold selection and calibration,
  * ranking metrics, cluster stability across runs, and the clustering
  * and fusion operators that run after scoring.
  *
  * Inside the record-linkage boundary. */
object ClusterQueries extends QueryFamily {
  private val F1Grid = Seq(0.7, 0.75, 0.8, 0.85, 0.9)
  private val SweepGrid =
    Seq(0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95)

  /** [[Pipeline.thresholdSweep]] over the febrl4 fixture's edges, scored
    * once at the grid's lowest threshold. */
  private def febrl4Sweep(s: SparkSession, grid: Seq[Double]): DataFrame =
    Pipeline.thresholdSweep(
      febrl4Edges(s, grid.min).toDF().where(col("dp0") === 0 && col("dp1") === 1),
      febrl4Truth(s), grid)

  /** The oracle side of [[febrl4Sweep]]: the kernel-replayed pairs fanned
    * into each grid row they clear, LEFT joined to the truth, up to CTE
    * `f` with the sweep's columns. The inner grid join drops a threshold
    * no pair clears, as the engine's does. */
  private def febrl4SweepSql(grid: Seq[Double]): String =
    s"""$febrl4DicePairsSql,
         $febrl4TruthSql,
         g AS (SELECT CAST(unnest([${grid.mkString(", ")}]) AS DOUBLE)
                 AS threshold),
         m AS (SELECT g.threshold, CAST(count(*) AS BIGINT) AS n_pred,
                      CAST(sum(CASE WHEN t.rec0 IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS tp
               FROM p
               JOIN g ON p.sim >= g.threshold
               LEFT JOIN truth t ON p.rec0 = t.rec0 AND p.rec1 = t.rec1
               GROUP BY 1),
         ta AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
         f AS (SELECT threshold, n_pred, n_true, tp, $precisionRecallF1Sql
               FROM m, ta)"""

  val queries: Seq[Query] = Seq(
    // Newman modularity of the greedy solver's clustering against the
    // scored edge graph at the same threshold — unclustered endpoints
    // get unique singleton labels so shredded components dilute Q
    Query("q_modularity", (s, _) =>
      graft.cluster.Evaluation.modularity(
        febrl4Edges(s, 0.8).toDF(),
        febrl4Clusters(s).select(col("dp"), col("entityId").as("rec"),
          col("clusterId").as("label"))),
      // modularity replay: kernel edges at 0.8, the frozen golden
      // clustering as labels (singleton fallback = -(packed node + 1)),
      // Q from the exact integer sufficient statistics
      s"""WITH ${febrl4EdgesSql(0.8)},
         lab AS (SELECT "dp" AS dp, "entityId" AS rec, "clusterId" AS label
                 FROM ${febrl4GoldenSql()}),
         le AS (SELECT
                  COALESCE(l0.label,
                    -((e.dp0 * 1099511627776 + e.rec0) + 1)) AS lab0,
                  COALESCE(l1.label,
                    -((e.dp1 * 1099511627776 + e.rec1) + 1)) AS lab1
                FROM e
                LEFT JOIN lab l0 ON l0.dp = e.dp0 AND l0.rec = e.rec0
                LEFT JOIN lab l1 ON l1.dp = e.dp1 AND l1.rec = e.rec1),
         st AS (SELECT CAST(count(*) AS BIGINT) AS m,
                       CAST(sum(CASE WHEN lab0 = lab1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS intra
                FROM le),
         deg AS (SELECT lab, count(*) AS d
                 FROM (SELECT lab0 AS lab FROM le
                       UNION ALL SELECT lab1 FROM le)
                 GROUP BY 1),
         ds AS (SELECT CAST(sum(d * d) AS BIGINT) AS dsq FROM deg)
         SELECT st.m AS n_edges, st.intra AS n_intra,
                ds.dsq AS deg_sq_sum,
                round((4.0 * st.m * st.intra - CAST(ds.dsq AS DOUBLE))
                      / (4.0 * st.m * st.m), 6) AS modularity
         FROM st, ds"""),
    // cluster-cohesion audit: CC at t=0.75 over the kernel edges, then
    // per-component implied-pair closure vs actually-scored edges; the
    // oracle recomputes the components themselves with a recursive
    // min-label CTE over the replayed edge set
    Query("q_cluster_cohesion", (s, _) =>
      graft.cluster.Evaluation.clusterCohesion(
          febrl4Edges(s, 0.75).toDF())
        .orderBy(col("component")),
      // cohesion audit: recursive min-label connected components over the
      // replayed t=0.75 edge set (labels propagate along edges until the
      // UNION fixpoint; min reachable packed node id == the engine's
      // component label), then the same comb-2 / edge-support aggregates
      s"""WITH RECURSIVE
         $febrl4DicePairsSql,
         e AS (SELECT (CAST(dp0 AS BIGINT) << 40) | rec0 AS u,
                      (CAST(dp1 AS BIGINT) << 40) | rec1 AS v, sim
               FROM p WHERE sim >= 0.75),
         n AS (SELECT u AS node FROM e UNION SELECT v FROM e),
         adj AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
         reach(node, lbl) AS (
           SELECT node, node FROM n
           UNION
           SELECT adj.b, reach.lbl FROM reach JOIN adj ON reach.node = adj.a),
         comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
         m AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
               FROM comp GROUP BY component),
         es AS (SELECT comp.component, CAST(count(*) AS BIGINT) AS n_edges,
                       min(e.sim) AS min_sim, max(e.sim) AS max_sim
                FROM e JOIN comp ON e.u = comp.node GROUP BY comp.component)
         SELECT m.component, m.n_members,
                (m.n_members * (m.n_members - 1)) // 2 AS n_pairs_implied,
                es.n_edges, es.min_sim, es.max_sim
         FROM m JOIN es USING (component)"""),
    // edge-level threshold selection against the labeled truth: the
    // P/R/F1 curve over a threshold grid with the argmax marked — the
    // tuning readout in front of q_febrl4_eval's cluster-level gate
    Query("q_threshold_f1", (s, _) =>
      febrl4Sweep(s, F1Grid)
        .withColumn("is_best",
          col("f1") === max(col("f1")).over(Window.partitionBy(lit(1))))
        .orderBy("threshold"),
      // threshold F1 curve: the sweep replay over the 5-point grid (every
      // point cleared by some pair, so one row each), argmax marked
      s"""WITH ${febrl4SweepSql(F1Grid)}
         SELECT threshold, n_pred, n_true, tp, precision, recall, f1,
                f1 = max(f1) OVER () AS is_best
         FROM f"""),
    // single-linkage dendrogram cuts: cluster structure at each
    // threshold (cutting single-link at t == CC over edges with sim>=t);
    // the oracle recomputes all three cuts with one thr-parameterized
    // recursive min-label CC
    Query("q_dendrogram_cut", (s, _) =>
      graft.cluster.Evaluation.dendrogramCuts(
          febrl4Edges(s, 0.75).toDF(),
          Seq(0.75, 0.8, 0.85))
        .orderBy(col("threshold")),
      // dendrogram cuts: one threshold-parameterized recursive min-label
      // CC over the replayed kernel edges (same skeleton as
      // q_cluster_cohesion, with thr riding every CTE key)
      s"""WITH RECURSIVE
         $febrl4DicePairsSql,
         t AS (SELECT CAST(unnest([0.75, 0.8, 0.85]) AS DOUBLE) AS thr),
         e AS (SELECT t.thr,
                      (CAST(dp0 AS BIGINT) << 40) | rec0 AS u,
                      (CAST(dp1 AS BIGINT) << 40) | rec1 AS v
               FROM p, t WHERE p.sim >= t.thr),
         n AS (SELECT DISTINCT thr, u AS node FROM e
               UNION SELECT DISTINCT thr, v FROM e),
         adj AS (SELECT thr, u AS a, v AS b FROM e
                 UNION SELECT thr, v, u FROM e),
         reach(thr, node, lbl) AS (
           SELECT thr, node, node FROM n
           UNION
           SELECT reach.thr, adj.b, reach.lbl FROM reach
           JOIN adj ON reach.thr = adj.thr AND reach.node = adj.a),
         comp AS (SELECT thr, node, min(lbl) AS component
                  FROM reach GROUP BY thr, node),
         sizes AS (SELECT thr, component, count(*) AS m
                   FROM comp GROUP BY thr, component),
         ec AS (SELECT thr, CAST(count(*) AS BIGINT) AS n_edges
                FROM e GROUP BY thr)
         SELECT sizes.thr AS threshold,
                CAST(count(*) AS BIGINT) AS n_clusters,
                CAST(sum(m) AS BIGINT) AS n_records,
                CAST(max(m) AS BIGINT) AS max_size,
                any_value(ec.n_edges) AS n_edges
         FROM sizes JOIN ec ON sizes.thr = ec.thr
         GROUP BY sizes.thr"""),
    // golden-record survivorship over 2-word-prefix groups: majority
    // vote on lang/source (min-value tiebreak), longest-text rule on
    // n_chars — the merge step downstream of every linkage run
    Query("q_golden_record", (s, dir) => {
      val d = docs(s, dir).select(
        concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("group_key"),
        col("lang"), col("source"), col("n_chars"))
      graft.cluster.Survivorship.goldenRecord(d, "group_key",
        Seq("lang", "source"), Seq("n_chars")).orderBy(col("group_key"))
    },
      // majority vote replayed as count + row_number (count DESC, value
      // ASC tiebreak); max fields and member counts as plain aggs
      """WITH d AS (SELECT array_to_string(string_split(text, ' ')[1:2], ' ')
                      AS group_key, lang, source, n_chars FROM documents),
         l AS (SELECT group_key, lang FROM (
             SELECT group_key, lang, row_number() OVER (PARTITION BY group_key
               ORDER BY count(*) DESC, lang) AS rn
             FROM d WHERE lang IS NOT NULL GROUP BY group_key, lang)
           WHERE rn = 1),
         s AS (SELECT group_key, source FROM (
             SELECT group_key, source, row_number() OVER (PARTITION BY group_key
               ORDER BY count(*) DESC, source) AS rn
             FROM d WHERE source IS NOT NULL GROUP BY group_key, source)
           WHERE rn = 1),
         base AS (SELECT group_key, count(*) AS n_members,
                         max(n_chars) AS max_n_chars
                  FROM d GROUP BY group_key)
         SELECT base.group_key, n_members, l.lang, s.source, max_n_chars
         FROM base LEFT JOIN l USING (group_key)
                   LEFT JOIN s USING (group_key)"""),
    // deterministic synchronous label propagation (3 rounds) on the same
    // graph — community splits where CC would merge everything reachable
    Query("q_label_prop", (s, dir) =>
      graft.cluster.LabelProp.run(coPurchaseEdgesThinned(s, dir), iters = 3)
        .orderBy(col("node")),
      // three synchronous LPA rounds: neighbor-label counts + top-1 by
      // (cnt DESC, label ASC) per round, chained MATERIALIZED CTEs
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                       greatest(a.l_partkey, b.l_partkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey),
         sym AS MATERIALIZED (SELECT u AS node, v AS nbr FROM e0
                              UNION ALL SELECT v, u FROM e0),
         l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM sym),
         c1 AS MATERIALIZED (SELECT s.node, l.label, count(*) AS cnt
                FROM sym s JOIN l0 l ON l.node = s.nbr GROUP BY 1, 2),
         l1 AS MATERIALIZED (SELECT node, label FROM c1
                QUALIFY row_number() OVER (PARTITION BY node
                  ORDER BY cnt DESC, label ASC) = 1),
         c2 AS MATERIALIZED (SELECT s.node, l.label, count(*) AS cnt
                FROM sym s JOIN l1 l ON l.node = s.nbr GROUP BY 1, 2),
         l2 AS MATERIALIZED (SELECT node, label FROM c2
                QUALIFY row_number() OVER (PARTITION BY node
                  ORDER BY cnt DESC, label ASC) = 1),
         c3 AS MATERIALIZED (SELECT s.node, l.label, count(*) AS cnt
                FROM sym s JOIN l2 l ON l.node = s.nbr GROUP BY 1, 2),
         l3 AS MATERIALIZED (SELECT node, label FROM c3
                QUALIFY row_number() OVER (PARTITION BY node
                  ORDER BY cnt DESC, label ASC) = 1)
         SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
         FROM l3"""),
    // INCREMENTAL connected components: cluster the co-purchase graph
    // from 80% of the edges, then fold the remaining 20% in as a delta —
    // touching only the delta and the label table, never the old edge
    // set. The oracle closes over the FULL edge set, so the incremental
    // path is checked against the from-scratch answer
    Query("q_cc_delta", (s, dir) => {
      import s.implicits._
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 4 === 0 && col("l_partkey") % 2 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      val isDelta = (col("u") + col("v")) % 5 === 0
      val prev = graft.cluster.ConnectedComponents.run(
        edges.where(!isDelta).as[(Long, Long)])
      graft.cluster.ConnectedComponents.incrementalRun(
          prev, edges.where(isDelta).as[(Long, Long)])
        .orderBy(col("node"))
    },
      // from-scratch closure over the FULL edge set (recursive CTE, min
      // reachable node id) — must equal the incremental result
      """WITH RECURSIVE
         li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
                WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         p AS (SELECT DISTINCT a.pk AS u, b.pk AS v
               FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
         nodes AS (SELECT DISTINCT u AS id FROM e),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.v, reach.r FROM e JOIN reach ON e.u = reach.id)
         SELECT id AS node, min(r) AS component FROM reach GROUP BY id"""),
    // Pairwise precision/recall/F1 of the LIVE pipeline vs the febrl4
    // ground truth at the flagship threshold and at t=0.75 (the
    // BASELINE.json F1>=0.99 gate threshold — LinkageFixtureSpec's
    // semantic gate). The oracle replays the metric from the FROZEN
    // golden cluster fixtures, so the driver independently checks that
    // the live solver still produces the F1-grade pairs.
    Query("q_febrl4_eval", (s, _) => {
      import s.implicits._
      val truth = febrl4Truth(s).withColumn("t", lit(1L))
      def evalAt(t: Double): DataFrame = {
        val clusters =
          if (t == 0.8) febrl4Clusters(s).as[graft.core.ClusterMember]
          else Pipeline.clusters(febrl4Blocked(s), LinkConfig(threshold = t))
        val pred = Solver.pairsFromClusters(clusters)
          .where($"dp0" === 0 && $"dp1" === 1)
          .select($"rec0", $"rec1", lit(1L).as("p"))
        pred.join(truth, Seq("rec0", "rec1"), "full_outer")
          .agg(
            sum(coalesce($"p", lit(0L)) * coalesce($"t", lit(0L))).as("tp"),
            sum(coalesce($"p", lit(0L))).as("n_pred"),
            sum(coalesce($"t", lit(0L))).as("n_true"))
          .withColumn("threshold", lit(t))
      }
      Pipeline.precisionRecallF1(evalAt(0.75).unionByName(evalAt(0.8)))
        .select("threshold", "n_pred", "n_true", "tp",
          "precision", "recall", "f1")
        .orderBy("threshold")
    },
      // pairwise P/R/F1 replayed from the FROZEN golden cluster fixtures
      // (t=0.8 flagship + t=0.75, the BASELINE F1>=0.99 gate threshold)
      // against the committed ground-truth pair list; the Spark side
      // computes the same metrics from the LIVE pipeline. Identical double
      // arithmetic (BIGINT/BIGINT division then 2*p*r/(p+r)) on both sides.
      s"""WITH $febrl4TruthSql,
         pred AS (
           SELECT CAST(0.75 AS DOUBLE) AS threshold,
                  a."entityId" AS rec0, b."entityId" AS rec1
           FROM ${febrl4GoldenSql(0.75)} a
           JOIN ${febrl4GoldenSql(0.75)} b
             ON a."clusterId" = b."clusterId" AND a.dp = 0 AND b.dp = 1
           UNION ALL
           SELECT CAST(0.8 AS DOUBLE), a."entityId", b."entityId"
           FROM ${febrl4GoldenSql()} a
           JOIN ${febrl4GoldenSql()} b
             ON a."clusterId" = b."clusterId" AND a.dp = 0 AND b.dp = 1),
         m AS (SELECT p.threshold,
                 CAST(count(*) AS BIGINT) AS n_pred,
                 CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
                 CAST(sum(CASE WHEN t.rec0 IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS tp
               FROM pred p
               LEFT JOIN truth t ON p.rec0 = t.rec0 AND p.rec1 = t.rec1
               GROUP BY 1)
         SELECT threshold, n_pred, n_true, tp, $precisionRecallF1Sql
         FROM m"""),
    // B-cubed cluster-level evaluation of the golden febrl4 clustering
    // vs truth: full 2x2000-record universe (absent records = singleton
    // labels), exact fixed-point per-cell terms (integer DIV), doubles
    // only in the final three ratios
    Query("q_bcubed", (s, _) =>
      graft.cluster.Evaluation.bcubed(febrl4Assignment(s), "pred", "truth"),
      // B-cubed replay: same universe, same singleton labels, same
      // fixed-point integer cell terms (// == DIV on positive operands)
      s"""WITH $febrl4AssignmentSql,
         nce AS (SELECT c, e, CAST(count(*) AS BIGINT) AS n_ce
                 FROM a GROUP BY c, e),
         nc AS (SELECT c, CAST(count(*) AS BIGINT) AS n_c FROM a GROUP BY c),
         ne AS (SELECT e, CAST(count(*) AS BIGINT) AS n_e FROM a GROUP BY e),
         j AS (SELECT n_ce, n_c, n_e
               FROM nce JOIN nc USING (c) JOIN ne USING (e)),
         s AS (SELECT CAST(sum(n_ce) AS BIGINT) AS n,
                      CAST(sum((n_ce * n_ce * 1000000000) // n_c)
                           AS BIGINT) AS p_num,
                      CAST(sum((n_ce * n_ce * 1000000000) // n_e)
                           AS BIGINT) AS r_num
               FROM j)
         SELECT n, p_num, r_num,
                p_num / (1000000000.0 * n) AS b3_precision,
                r_num / (1000000000.0 * n) AS b3_recall,
                2.0 * (p_num / (1000000000.0 * n))
                    * (r_num / (1000000000.0 * n))
                  / (p_num / (1000000000.0 * n)
                     + r_num / (1000000000.0 * n)) AS b3_f1
         FROM s"""),
    // Rand index over the same assignment — pair-level agreement without
    // pair enumeration (three comb-2 aggs + inclusion-exclusion, all
    // integer until the final ratio)
    Query("q_rand_index", (s, _) =>
      graft.cluster.Evaluation.randIndex(febrl4Assignment(s), "pred",
        "truth"),
      // same assignment CTEs as q_bcubed; comb-2 sums + inclusion-
      // exclusion, one double at the end
      s"""WITH $febrl4AssignmentSql,
         ss AS (SELECT CAST(sum((n_ce * (n_ce - 1)) // 2) AS BIGINT)
                         AS agree_same,
                       CAST(sum(n_ce) AS BIGINT) AS n FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_ce FROM a
                   GROUP BY c, e)),
         pp AS (SELECT CAST(sum((n_c * (n_c - 1)) // 2) AS BIGINT)
                         AS pred_pairs FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_c FROM a
                   GROUP BY c)),
         tt AS (SELECT CAST(sum((n_e * (n_e - 1)) // 2) AS BIGINT)
                         AS truth_pairs FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_e FROM a
                   GROUP BY e)),
         x AS (SELECT n, (n * (n - 1)) // 2 AS pairs_total, agree_same,
                      pred_pairs, truth_pairs,
                      (n * (n - 1)) // 2 - pred_pairs - truth_pairs
                        + agree_same AS agree_diff
               FROM ss, pp, tt)
         SELECT n, pairs_total, agree_same, pred_pairs, truth_pairs,
                agree_diff,
                (agree_same + agree_diff) / CAST(pairs_total AS DOUBLE)
                  AS rand_index
         FROM x"""),
    // cluster churn between the committed t=0.75 and t=0.8 golden
    // clusterings: splits / merges / stable clusters after a threshold
    // change — the monitoring readout an incremental-linkage consumer
    // watches after every delta batch
    Query("q_cluster_churn", (s, _) =>
      graft.cluster.Evaluation.clusterChurn(
        febrl4Golden(s, 0.75), febrl4Golden(s), "id", "clusterId"),
      // full-outer id join of the two golden fixtures, identical singleton
      // labels, cell/size aggs and the same stable/split/merge predicates
      s"""WITH o AS (SELECT dp * 10000 + entityId AS id, clusterId AS c
                    FROM ${febrl4GoldenSql(0.75)}),
         nn AS (SELECT dp * 10000 + entityId AS id, clusterId AS c
                FROM ${febrl4GoldenSql()}),
         u AS (SELECT coalesce(o.c, -coalesce(o.id, nn.id) - 1) AS c_old,
                      coalesce(nn.c, -coalesce(o.id, nn.id) - 1) AS c_new
               FROM o FULL OUTER JOIN nn ON o.id = nn.id),
         cells AS (SELECT c_old, c_new, CAST(count(*) AS BIGINT) AS n_cell
                   FROM u GROUP BY c_old, c_new),
         osz AS (SELECT c_old, CAST(count(*) AS BIGINT) AS n_old
                 FROM u GROUP BY c_old),
         nsz AS (SELECT c_new, CAST(count(*) AS BIGINT) AS n_new
                 FROM u GROUP BY c_new),
         j AS (SELECT cells.*, osz.n_old, nsz.n_new
               FROM cells JOIN osz USING (c_old) JOIN nsz USING (c_new)),
         po AS (SELECT c_old, count(*) AS spans,
                       max(CASE WHEN n_cell = n_old AND n_cell = n_new
                           THEN 1 ELSE 0 END) AS stable
                FROM j GROUP BY c_old),
         pn AS (SELECT c_new, count(*) AS merges FROM j GROUP BY c_new),
         oa AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters_old,
                       CAST(sum(CASE WHEN spans > 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_split,
                       CAST(sum(stable) AS BIGINT) AS n_stable FROM po),
         na AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters_new,
                       CAST(sum(CASE WHEN merges > 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_merged FROM pn),
         nr AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM u)
         SELECT n_records, n_clusters_old, n_clusters_new, n_split,
                n_merged, n_stable
         FROM nr, oa, na"""),
    // persistent cluster ids across the t075 -> t08 runs: a new cluster
    // adopts an old id only as its RECIPROCAL best-overlap partner
    Query("q_persistent_ids", (s, _) =>
      graft.cluster.Evaluation.persistentIds(
          febrl4Golden(s, 0.75), febrl4Golden(s), "id", "clusterId")
        .orderBy(col("new_cluster")),
      // persistent ids: the same member-overlap table, reciprocal-best via
      // two row_number windows over it (both computed on the FULL table)
      s"""WITH o AS (SELECT dp * 10000 + entityId AS id, clusterId AS old_c
                    FROM ${febrl4GoldenSql(0.75)}),
         n AS (SELECT dp * 10000 + entityId AS id, clusterId AS new_c
               FROM ${febrl4GoldenSql()}),
         sizes AS (SELECT new_c, CAST(count(*) AS BIGINT) AS n_members
                   FROM n GROUP BY 1),
         ov AS (SELECT new_c, old_c, CAST(count(*) AS BIGINT) AS overlap
                FROM n JOIN o USING (id) GROUP BY 1, 2),
         mutual AS (SELECT new_c, old_c AS persistent_id, overlap FROM ov
                    QUALIFY row_number() OVER (PARTITION BY new_c
                        ORDER BY overlap DESC, old_c) = 1
                      AND row_number() OVER (PARTITION BY old_c
                        ORDER BY overlap DESC, new_c) = 1)
         SELECT s.new_c AS new_cluster, s.n_members, m.persistent_id,
                COALESCE(m.overlap, 0) AS overlap,
                m.persistent_id IS NOT NULL AS carried
         FROM sizes s LEFT JOIN mutual m ON s.new_c = m.new_c"""),
    // 1:many violation audit: distribution of per-record accepted-edge
    // counts per provider at the accept threshold
    Query("q_match_multiplicity", (s, _) =>
      graft.cluster.Evaluation.matchMultiplicity(
          febrl4Edges(s, 0.8).toDF())
        .orderBy(col("dp"), col("n_matches")),
      // multiplicity replay: kernel edges at 0.8, endpoint union, two aggs
      s"""WITH ${febrl4EdgesSql(0.8)},
         ends AS (SELECT dp0 AS dp, rec0 AS rec FROM e
                  UNION ALL SELECT dp1, rec1 FROM e),
         per AS (SELECT dp, rec, CAST(count(*) AS BIGINT) AS n_matches
                 FROM ends GROUP BY 1, 2)
         SELECT dp, n_matches, CAST(count(*) AS BIGINT) AS n_records
         FROM per GROUP BY 1, 2"""),
    // transitive-closure quality: exact Dice over every IMPLIED member
    // pair of each golden cluster (kernel recomputed from packed words)
    Query("q_cluster_sim_range", (s, _) => {
      val labels = febrl4Golden(s)
        .select(col("dp"), col("entityId").as("rec"),
          col("clusterId").as("label"))
      val clks = febrl4Clks(s)
        .select(col("dp"), col("entity_id").as("rec"), col("pc"), col("words"))
      graft.cluster.Evaluation.intraClusterSims(labels, clks)
        .orderBy(col("label"))
    },
      // implied-pair Dice range per golden cluster: members join the CLK
      // fixture, within-label ordered pairing, the same kernel expression
      s"""WITH lab AS (SELECT dp, entityId AS rec, clusterId AS label
                      FROM ${febrl4GoldenSql()}),
         c AS (SELECT dp, entity_id AS rec, pc, words
               FROM '$FixturesDir/febrl4_clks.parquet'),
         m AS (SELECT lab.label, c.dp, c.rec, c.pc, c.words
               FROM lab JOIN c USING (dp, rec)),
         p AS (SELECT a.label,
                 2.0 * list_sum(list_transform(range(1, 17),
                   i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc)
                   AS sim
               FROM m a JOIN m b ON a.label = b.label
                 AND (a.dp < b.dp OR (a.dp = b.dp AND a.rec < b.rec))),
         st AS (SELECT label, CAST(count(*) AS BIGINT) AS n_pairs,
                       min(sim) AS min_sim, max(sim) AS max_sim
                FROM p GROUP BY 1),
         sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
                FROM lab GROUP BY 1)
         SELECT st.label, sz.n_members, st.n_pairs, st.min_sim, st.max_sim
         FROM st JOIN sz USING (label)"""),
    // reliability diagram: observed match rate (vs febrl4 truth) per
    // similarity bin over the 0.5-floored kernel edges
    Query("q_score_calibration", (s, _) =>
      graft.cluster.Evaluation.scoreCalibration(
          febrl4Edges(s, 0.5).toDF(), febrl4Truth(s))
        .orderBy(col("bin")),
      // calibration replay: kernel at 0.5, truth CSV left join, same
      // floor-binning and rounded rates
      s"""WITH ${febrl4LabeledEdgesSql(0.5)},
         b AS (SELECT CAST(floor(sim * 20) AS BIGINT) AS bin,
                      CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(sum(is_true) AS BIGINT) AS n_true
               FROM l GROUP BY 1)
         SELECT bin, n_pairs, n_true,
                round(CAST(n_true AS DOUBLE) / n_pairs, 6) AS match_rate,
                round(CAST(bin AS DOUBLE) / 20, 4) AS bin_lo
         FROM b"""),
    // threshold-free ranking quality vs the labeled truth: exact ROC
    // AUC in the Mann-Whitney form (concordant/tied pair counts from
    // the distinct-score table, half-credit ties)
    Query("q_auc", (s, _) =>
      graft.cluster.RankEval.rocAuc(
        febrl4Edges(s, 0.5).toDF(),
        febrl4Truth(s)),
      // kernel replay at t=0.5, truth left-join, then the Mann-Whitney
      // sufficient statistics off the distinct-score table — concordant =
      // positives x negatives strictly below, ties at half credit, exact
      // in HUGEINT == Spark decimal(38,0)
      s"""WITH ${febrl4LabeledEdgesSql(0.5)},
         g AS (SELECT sim, CAST(sum(is_true) AS BIGINT) AS n_pos_v,
                      CAST(sum(1 - is_true) AS BIGINT) AS n_neg_v
               FROM l GROUP BY 1),
         cw AS (SELECT *, COALESCE(CAST(sum(n_neg_v) OVER (ORDER BY sim
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS neg_below FROM g),
         s AS (SELECT CAST(sum(n_pos_v) AS BIGINT) AS n_pos,
                      CAST(sum(n_neg_v) AS BIGINT) AS n_neg,
                      CAST(sum(CAST(n_pos_v AS HUGEINT) * neg_below)
                        AS HUGEINT) AS n_concordant,
                      CAST(sum(CAST(n_pos_v AS HUGEINT) * n_neg_v)
                        AS HUGEINT) AS n_tied
               FROM cw)
         SELECT n_pos, n_neg, n_concordant, n_tied,
                CAST(2 * n_concordant + n_tied AS HUGEINT) AS auc_num,
                CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS HUGEINT)
                  AS auc_den,
                CASE WHEN 2 * CAST(n_pos AS HUGEINT) * n_neg > 0
                  THEN round(CAST(2 * n_concordant + n_tied AS DOUBLE)
                    / CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE), 6)
                END AS auc
         FROM s"""),
    // Kolmogorov-Smirnov separation of the match / non-match score
    // populations, with the exact argmax score (smallest-score ties)
    Query("q_ks_stat", (s, _) =>
      graft.cluster.RankEval.ksStatistic(
        febrl4Edges(s, 0.5).toDF(),
        febrl4Truth(s)),
      // same distinct-score table, inclusive CDFs, exact cross-multiplied
      // gap, argmax tie-broken to the smallest score
      s"""WITH ${febrl4LabeledEdgesSql(0.5)},
         g AS (SELECT sim, CAST(sum(is_true) AS BIGINT) AS n_pos_v,
                      CAST(sum(1 - is_true) AS BIGINT) AS n_neg_v
               FROM l GROUP BY 1),
         cw AS (SELECT sim,
                       CAST(sum(n_pos_v) OVER w AS BIGINT) AS cpos,
                       CAST(sum(n_neg_v) OVER w AS BIGINT) AS cneg
                FROM g WINDOW w AS (ORDER BY sim
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         tot AS (SELECT CAST(sum(is_true) AS BIGINT) AS n_pos,
                        CAST(sum(1 - is_true) AS BIGINT) AS n_neg FROM l),
         d AS (SELECT cw.sim, tot.n_pos, tot.n_neg,
                      CAST(abs(CAST(cw.cpos AS HUGEINT) * tot.n_neg
                        - CAST(cw.cneg AS HUGEINT) * tot.n_pos) AS HUGEINT)
                        AS ks_num,
                      CAST(CAST(tot.n_pos AS HUGEINT) * tot.n_neg
                        AS HUGEINT) AS ks_den
               FROM cw CROSS JOIN tot)
         SELECT n_pos, n_neg, ks_num, ks_den, sim AS at_sim,
                CASE WHEN ks_den > 0 THEN round(
                  CAST(ks_num AS DOUBLE) / CAST(ks_den AS DOUBLE), 6)
                END AS ks_d
         FROM d ORDER BY ks_num DESC, sim ASC LIMIT 1"""),
    // clerical-review budget curve: equal-depth gains/lift buckets over
    // the (sim desc, rec0, rec1)-ranked pair list — global ranks via
    // the two-phase range-partition pass, never a one-task window
    Query("q_gains", (s, _) =>
      graft.cluster.RankEval.gainsTable(
          febrl4Edges(s, 0.5).toDF(),
          febrl4Truth(s), buckets = 10)
        .orderBy(col("bucket")),
      // full ranked replay: row_number over (sim desc, rec0, rec1), the
      // exact equal-depth bucket rule ((rk-1)*B DIV n), running totals
      s"""WITH ${febrl4LabeledEdgesSql(0.5)},
         n AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(is_true) AS BIGINT) AS n_pos FROM l),
         r AS (SELECT is_true, row_number() OVER (
                 ORDER BY sim DESC, rec0, rec1) AS rk FROM l),
         b AS (SELECT ((rk - 1) * 10) // n.n AS bucket,
                      CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(sum(is_true) AS BIGINT) AS n_true
               FROM r, n GROUP BY 1),
         w AS (SELECT *,
                      CAST(sum(n_pairs) OVER (ORDER BY bucket) AS BIGINT)
                        AS cum_pairs,
                      CAST(sum(n_true) OVER (ORDER BY bucket) AS BIGINT)
                        AS cum_true
               FROM b)
         SELECT bucket, n_pairs, n_true, cum_pairs, cum_true,
                CASE WHEN n.n_pos > 0 THEN
                  round(CAST(cum_true AS DOUBLE) / n.n_pos, 6) END AS capture,
                CASE WHEN cum_pairs > 0 AND n.n_pos > 0 THEN
                  round(CAST(cum_true AS DOUBLE) * n.n
                    / (CAST(cum_pairs AS DOUBLE) * n.n_pos), 6) END AS lift
         FROM w, n"""),
    // retrieval-style summary of the whole ranked list: average
    // precision with per-positive contributions rounded to fixed point
    // so the sum is order-free
    Query("q_avg_precision", (s, _) =>
      graft.cluster.RankEval.averagePrecision(
        febrl4Edges(s, 0.5).toDF(),
        febrl4Truth(s)),
      // ranked replay again; per-positive precision tp/rk rounded to e9
      // fixed point then summed — the order-free AP contract
      s"""WITH ${febrl4LabeledEdgesSql(0.5)},
         r AS (SELECT is_true, row_number() OVER (
                 ORDER BY sim DESC, rec0, rec1) AS rk FROM l),
         ppos AS (SELECT rk, CAST(row_number() OVER (ORDER BY rk)
                    AS BIGINT) AS tp
                  FROM r WHERE is_true = 1),
         s AS (SELECT COALESCE(CAST(sum(CAST(round(1e9 * tp / rk)
                 AS BIGINT)) AS BIGINT), 0) AS ap_sum_e9 FROM ppos),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_ranked,
                      CAST(sum(is_true) AS BIGINT) AS n_pos FROM l)
         SELECT n.n_pos, n.n_ranked, s.ap_sum_e9,
                CASE WHEN n.n_pos > 0 THEN round(
                  CAST(s.ap_sum_e9 AS DOUBLE) / (n.n_pos * 1e9), 6)
                END AS avg_precision
         FROM s, n"""),
    // truth discovery / data fusion (TruthFinder family, integer fixed
    // point): sources = doc_id%5 shards, objects = 3-token dup keys,
    // conflicting claims = the 4th token; 2 trust-iteration rounds, then
    // the per-object winner — what survivorship should pick when merged
    // records disagree and sources differ in reliability
    Query("q_truth_discovery", (s, dir) => {
      val toks = split(col("text"), " ")
      val claims = docs(s, dir).select(
        (col("doc_id") % 5).as("src"),
        concat_ws(" ", slice(toks, 1, 3)).as("obj"),
        element_at(toks, 4).as("val"))
        .where(col("val").isNotNull)
      graft.cluster.TruthDiscovery.resolve(claims, "src", "obj", "val")
        .orderBy(col("obj"))
    },
      // truth-discovery replay: both trust-iteration rounds as chained
      // CTEs (HUGEINT sums make the widened normalize multiply exact),
      // winner per object via row_number (conf DESC, val ASC)
      """WITH c AS (SELECT DISTINCT doc_id % 5 AS src,
                array_to_string(list_slice(str_split(text, ' '), 1, 3), ' ')
                  AS obj,
                str_split(text, ' ')[4] AS val
              FROM documents
              WHERE str_split(text, ' ')[4] IS NOT NULL),
         t0 AS (SELECT DISTINCT src, 500000 AS t FROM c),
         cf1 AS (SELECT obj, val, sum(t) AS conf, count(*) AS n_votes
                 FROM c JOIN t0 USING (src) GROUP BY obj, val),
         to1 AS (SELECT obj, sum(conf) AS tot FROM cf1 GROUP BY obj),
         cn1 AS (SELECT cf1.obj, val, (conf * 1000000) // tot AS conf,
                        n_votes
                 FROM cf1 JOIN to1 USING (obj)),
         t1 AS (SELECT src, sum(cn1.conf) // count(*) AS t
                FROM c JOIN cn1 ON c.obj = cn1.obj AND c.val = cn1.val
                GROUP BY src),
         cf2 AS (SELECT obj, val, sum(t) AS conf, count(*) AS n_votes
                 FROM c JOIN t1 USING (src) GROUP BY obj, val),
         to2 AS (SELECT obj, sum(conf) AS tot FROM cf2 GROUP BY obj),
         cn2 AS (SELECT cf2.obj, val, (conf * 1000000) // tot AS conf,
                        n_votes
                 FROM cf2 JOIN to2 USING (obj)),
         w AS (SELECT obj, val, conf, n_votes,
                      row_number() OVER (PARTITION BY obj
                        ORDER BY conf DESC, val) AS rn
               FROM cn2)
         SELECT obj, val, CAST(conf AS BIGINT) AS conf,
                CAST(n_votes AS BIGINT) AS n_votes
         FROM w WHERE rn = 1"""),
    // threshold-tuning curve: edge-level P/R/F1 at 10 thresholds from
    // ONE kernel pass at t=0.5 (the reference's similarity_scores run
    // type as an operator-facing sweep); the oracle re-derives every
    // candidate score from the committed CLK fixture with DuckDB's own
    // bit_count kernel, so the whole curve is independently replayed
    Query("q_threshold_sweep", (s, _) =>
      febrl4Sweep(s, SweepGrid)
        .orderBy(col("threshold")),
      // full threshold curve replayed from the committed CLK fixture:
      // DuckDB recomputes every cross-provider Dice score with its own
      // bit_count (the er_febrl4_edges kernel replay), fans each pair into
      // the grid rows it clears, and joins the truth CSV — identical
      // BIGINT/DOUBLE arithmetic to the Spark side
      s"""WITH ${febrl4SweepSql(SweepGrid)}
         SELECT threshold, n_pred, n_true, tp, precision, recall, f1 FROM f"""),
    // similarity-score histogram for threshold tuning — the reference's
    // similarity_scores run type reduced to its diagnostic use; bins are
    // replayed from the same bit-for-bit DuckDB Dice kernel as
    // er_febrl4_edges
    Query("q_sim_histogram", (s, _) =>
      febrl4Edges(s, 0.5)
        .toDF()
        .groupBy(floor(col("sim") * 20).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("sim")).as("min_sim"), max(col("sim")).as("max_sim"))
        .orderBy(col("bin")),
      // similarity histogram from the same bit-for-bit kernel replay as
      // er_febrl4_edges; floor needs the BIGINT cast (DuckDB floor keeps
      // DOUBLE, Spark floor is already LONG)
      s"""WITH $febrl4DicePairsSql
         SELECT CAST(floor(sim * 20) AS BIGINT) AS bin,
                count(*) AS n_pairs, min(sim) AS min_sim, max(sim) AS max_sim
         FROM p WHERE sim >= 0.5
         GROUP BY 1"""),
    // adjusted Rand index of the golden febrl4 clustering vs truth —
    // randIndex corrected for chance; integer-exact sufficient
    // statistics and a floored scaled divide (see Evaluation scaladoc)
    Query("q_adjusted_rand", (s, _) =>
      graft.cluster.Evaluation.adjustedRandIndex(febrl4Assignment(s),
        "pred", "truth"),
      // adjusted Rand: q_rand_index's comb-2 sufficient statistics, then
      // num = 2(C*Sij - Sa*Sb), den = C*(Sa+Sb) - 2*Sa*Sb in HUGEINT
      // (arrow decimal128(38,0) == Spark's decimal(38,0)) and ONE floored
      // scaled divide
      s"""WITH $febrl4AssignmentSql,
         ss AS (SELECT CAST(sum((n_ce * (n_ce - 1)) // 2) AS BIGINT)
                         AS s_ij,
                       CAST(sum(n_ce) AS BIGINT) AS n FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_ce FROM a
                   GROUP BY c, e)),
         pp AS (SELECT CAST(sum((n_c * (n_c - 1)) // 2) AS BIGINT)
                         AS s_a FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_c FROM a
                   GROUP BY c)),
         tt AS (SELECT CAST(sum((n_e * (n_e - 1)) // 2) AS BIGINT)
                         AS s_b FROM
                  (SELECT CAST(count(*) AS BIGINT) AS n_e FROM a
                   GROUP BY e)),
         x AS (SELECT n, (n * (n - 1)) // 2 AS pairs_total, s_ij, s_a, s_b,
                      2 * (CAST((n * (n - 1)) // 2 AS HUGEINT) * s_ij
                           - CAST(s_a AS HUGEINT) * s_b) AS ari_num,
                      CAST((n * (n - 1)) // 2 AS HUGEINT) * (s_a + s_b)
                        - 2 * CAST(s_a AS HUGEINT) * s_b AS ari_den
               FROM ss, pp, tt)
         SELECT n, pairs_total, s_ij, s_a, s_b, ari_num, ari_den,
                CAST(ari_num * 1000000000 // ari_den AS BIGINT)
                  AS ari_scaled
         FROM x"""),
    // one-round star clustering over the thinned co-purchase graph —
    // the bounded-diameter alternative to CC (local-degree-max centers,
    // best-center satellite attach, orphans stand alone)
    Query("q_star_cluster", (s, dir) =>
      graft.cluster.Star.assign(coPurchaseEdgesThinned(s, dir))
        .orderBy(col("id")),
      // one-round star cover replay: same degree table, center = local
      // (deg, id) maximum (strict, so adjacent centers are impossible),
      // satellite attach = (deg, id)-argmax over center neighbors via
      // QUALIFY-style row_number
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_orderkey % 4 = 0 AND l_partkey % 2 = 0),
         e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                       greatest(a.l_partkey, b.l_partkey) AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey),
         adj AS (SELECT u AS id, v AS nb FROM e0
                 UNION ALL SELECT v, u FROM e0),
         deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM adj
                 GROUP BY id),
         nbd AS (SELECT adj.id, d1.deg AS deg, adj.nb, d2.deg AS nb_deg
                 FROM adj JOIN deg d1 ON adj.id = d1.id
                          JOIN deg d2 ON adj.nb = d2.id),
         mx AS (SELECT id, deg, nb_deg, nb,
                       row_number() OVER (PARTITION BY id
                         ORDER BY nb_deg DESC, nb DESC) AS r
                FROM nbd),
         flag AS (SELECT id, deg,
                         (deg > nb_deg OR (deg = nb_deg AND id > nb))
                           AS is_center
                  FROM mx WHERE r = 1),
         cent AS (SELECT id, deg FROM flag WHERE is_center),
         att AS (SELECT nbd.id, nbd.nb,
                        row_number() OVER (PARTITION BY nbd.id
                          ORDER BY nbd.nb_deg DESC, nbd.nb DESC) AS r
                 FROM nbd JOIN cent ON nbd.nb = cent.id),
         a1 AS (SELECT id, nb AS star_c FROM att WHERE r = 1)
         SELECT f.id,
                CASE WHEN f.is_center THEN 'center'
                     WHEN a1.star_c IS NOT NULL THEN 'satellite'
                     ELSE 'orphan' END AS role,
                CASE WHEN f.is_center OR a1.star_c IS NULL THEN f.id
                     ELSE a1.star_c END AS star
         FROM flag f LEFT JOIN a1 ON f.id = a1.id"""),
  )
}
