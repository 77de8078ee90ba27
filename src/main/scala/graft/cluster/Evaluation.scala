package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cluster-level linkage evaluation. [[graft.link.Pipeline.pairwiseF1]]
  * scores the EDGE set; the standard complement for entity resolution is
  * B-cubed (Bagga & Baldwin 1998) — the per-RECORD precision/recall of
  * the clustering itself, which unlike pairwise F1 neither lets one
  * mega-cluster dominate the score quadratically nor ignores singletons.
  *
  * For record i with predicted cluster C(i) and truth entity E(i):
  *   P_i = |C(i) ∩ E(i)| / |C(i)|,  R_i = |C(i) ∩ E(i)| / |E(i)|
  * and B³ precision/recall are the means over all records. Grouping by
  * the (cluster, entity) intersection cell, that mean is
  *   P = Σ_{c,e} n_ce² / n_c / N  (recall symmetric with n_e).
  *
  * Determinism: each cell's term is computed in FIXED-POINT integer
  * arithmetic — (n_ce² · scale) DIV n_c — and summed as longs, so the
  * result is bit-identical at any partitioning and replayable in any
  * engine with integer division (the [[PageRank]] discipline; floating
  * sums commute per shuffle order and never hash-compare stably). Only
  * the final 3 ratios are doubles, each a single division of two
  * deterministic scalars.
  *
  * Bounds: a cell term overflows long when n_ce² · scale ≥ 2⁶³ — with
  * the default scale 10⁹ that is n_ce ≈ 3·10⁶ members sharing one
  * (cluster, entity) cell; pass a smaller scale for labeled sets beyond
  * that.
  *
  * Scale shape: three hash aggs over bare ids + two equi-joins on the
  * cell table (dimension-sized — one row per non-empty intersection)
  * and a single global fold. No collects, no windows.
  */
object Evaluation {

  /** @param assign one row per record: (predCol, truthCol) cluster /
    *               entity labels. Singletons must be present with
    *               unique labels (they count for both P and R).
    * @return one row: (n, p_num, r_num, b3_precision, b3_recall, b3_f1)
    *         where p_num/r_num are the exact fixed-point sums. */
  def bcubed(assign: DataFrame, predCol: String, truthCol: String,
      scale: Long = 1000000000L): DataFrame = {
    require(scale >= 1000L, "scale below 1e3 loses all precision")
    val a = assign.select(col(predCol).as("c"), col(truthCol).as("e"))
    val nce = a.groupBy("c", "e").agg(count(lit(1)).as("n_ce"))
    val nc = a.groupBy("c").agg(count(lit(1)).as("n_c"))
    val ne = a.groupBy("e").agg(count(lit(1)).as("n_e"))
    val cells = nce.join(nc, "c").join(ne, "e")
    val sums = cells.agg(
      sum(col("n_ce")).as("n"),
      sum(expr(s"(n_ce * n_ce * ${scale}L) DIV n_c")).as("p_num"),
      sum(expr(s"(n_ce * n_ce * ${scale}L) DIV n_e")).as("r_num"))
    val p = col("p_num").cast("double") / (lit(scale) * col("n"))
    val r = col("r_num").cast("double") / (lit(scale) * col("n"))
    sums.select(col("n"), col("p_num"), col("r_num"),
      p.as("b3_precision"), r.as("b3_recall"),
      (lit(2.0) * p * r / (p + r)).as("b3_f1"))
  }

  /** Rand index: fraction of record PAIRS on which the two clusterings
    * agree (same-same or different-different). Entirely integer until
    * the one final division: agreements-same = Σ C(n_ce,2) over
    * intersection cells, pred/truth pair counts = Σ C(n_c,2)/C(n_e,2),
    * and agreements-different follows by inclusion-exclusion — no pair
    * enumeration ever happens, so the O(n²) pair space costs three
    * dimension-sized aggs. Same scale shape and determinism argument as
    * [[bcubed]]. */
  def randIndex(assign: DataFrame, predCol: String,
      truthCol: String): DataFrame = {
    val a = assign.select(col(predCol).as("c"), col(truthCol).as("e"))
    val sameSame = a.groupBy("c", "e").agg(count(lit(1)).as("n_ce"))
      .agg(sum(expr("(n_ce * (n_ce - 1)) DIV 2")).as("agree_same"),
        sum(col("n_ce")).as("n"))
    val predPairs = a.groupBy("c").agg(count(lit(1)).as("n_c"))
      .agg(sum(expr("(n_c * (n_c - 1)) DIV 2")).as("pred_pairs"))
    val truthPairs = a.groupBy("e").agg(count(lit(1)).as("n_e"))
      .agg(sum(expr("(n_e * (n_e - 1)) DIV 2")).as("truth_pairs"))
    sameSame.crossJoin(predPairs).crossJoin(truthPairs)
      .withColumn("pairs_total", expr("(n * (n - 1)) DIV 2"))
      .withColumn("agree_diff",
        col("pairs_total") - col("pred_pairs") - col("truth_pairs")
          + col("agree_same"))
      .select(col("n"), col("pairs_total"), col("agree_same"),
        col("pred_pairs"), col("truth_pairs"), col("agree_diff"),
        ((col("agree_same") + col("agree_diff")).cast("double")
          / col("pairs_total")).as("rand_index"))
  }

  /** Adjusted Rand index (Hubert & Arabie 1985) — [[randIndex]] corrected
    * for chance, the comparison that stays meaningful when cluster-size
    * distributions differ between runs. Same comb-2 sufficient statistics
    * (S_ij = same-same pair count, S_a / S_b = within-pred /
    * within-truth pair counts, C = C(n,2)); cleared of fractions so the
    * whole computation is integer-exact:
    *   num = 2·(C·S_ij − S_a·S_b),  den = C·(S_a+S_b) − 2·S_a·S_b,
    *   ARI = num/den, emitted as floor(scale·num/den) in DECIMAL(38,0).
    * The truncating DIV matches DuckDB's // only for num ≥ 0 — a
    * negative ARI (worse-than-chance clustering) is visible in the raw
    * `ari_num` sign, which ships precisely so that case can't hide.
    *
    * Scale shape: identical to [[randIndex]] — three hash aggs to one
    * row each, never a pair enumeration. */
  def adjustedRandIndex(assign: DataFrame, predCol: String,
      truthCol: String, scale: Long = 1000000000L): DataFrame = {
    val a = assign.select(col(predCol).as("c"), col(truthCol).as("e"))
    val sameSame = a.groupBy("c", "e").agg(count(lit(1)).as("n_ce"))
      .agg(sum(expr("CAST((n_ce * (n_ce - 1)) DIV 2 AS BIGINT)"))
          .cast("long").as("s_ij"),
        sum(col("n_ce")).cast("long").as("n"))
    val predPairs = a.groupBy("c").agg(count(lit(1)).as("n_c"))
      .agg(sum(expr("CAST((n_c * (n_c - 1)) DIV 2 AS BIGINT)"))
        .cast("long").as("s_a"))
    val truthPairs = a.groupBy("e").agg(count(lit(1)).as("n_e"))
      .agg(sum(expr("CAST((n_e * (n_e - 1)) DIV 2 AS BIGINT)"))
        .cast("long").as("s_b"))
    sameSame.crossJoin(predPairs).crossJoin(truthPairs)
      .withColumn("pairs_total", expr("(n * (n - 1)) DIV 2"))
      .withColumn("ari_num", expr(
        """2 * (CAST(pairs_total AS DECIMAL(38,0)) * s_ij
           - CAST(s_a AS DECIMAL(38,0)) * s_b)"""))
      .withColumn("ari_den", expr(
        """CAST(pairs_total AS DECIMAL(38,0)) * (s_a + s_b)
           - 2 * CAST(s_a AS DECIMAL(38,0)) * s_b"""))
      .select(col("n"), col("pairs_total"), col("s_ij"), col("s_a"),
        col("s_b"),
        col("ari_num").cast("decimal(38,0)").as("ari_num"),
        col("ari_den").cast("decimal(38,0)").as("ari_den"),
        expr(s"CAST(CAST(ari_num AS DECIMAL(38,0)) * ${scale}L" +
          " DIV CAST(ari_den AS DECIMAL(38,0)) AS BIGINT)")
          .as("ari_scaled"))
  }

  /** Cluster churn between two clusterings of one record universe — the
    * monitoring metric for incremental linkage
    * ([[graft.link.Pipeline.edgesDelta]] consumers): after a re-run or a
    * delta batch, how many clusters split, merged, or survived
    * untouched. A cluster is STABLE when its member set is identical on
    * both sides (its one intersection cell covers it entirely); an old
    * cluster SPLIT if its members now span >1 new cluster; a new
    * cluster MERGED >1 old cluster. Singleton semantics are the
    * caller's: feed every record on both sides (absent = its own
    * singleton label), as records dropping out of clusters is churn too.
    *
    * Scale shape: one full-outer id join + three hash aggs over
    * (old, new) cells; output is one row. */
  def clusterChurn(oldA: DataFrame, newA: DataFrame, idCol: String,
      clusterCol: String): DataFrame = {
    val o = oldA.select(col(idCol).as("id"), col(clusterCol).as("_old"))
    val n = newA.select(col(idCol).as("id"), col(clusterCol).as("_new"))
    val u = o.join(n, Seq("id"), "full_outer").select(
      coalesce(col("_old"), -col("id") - 1).as("c_old"),
      coalesce(col("_new"), -col("id") - 1).as("c_new"))
    val cells = u.groupBy("c_old", "c_new").agg(count(lit(1)).as("n_cell"))
    val oldSz = u.groupBy("c_old").agg(count(lit(1)).as("n_old"))
    val newSz = u.groupBy("c_new").agg(count(lit(1)).as("n_new"))
    val j = cells.join(oldSz, "c_old").join(newSz, "c_new")
    val perOld = j.groupBy("c_old").agg(
      count(lit(1)).as("spans"),
      max(when(col("n_cell") === col("n_old") &&
        col("n_cell") === col("n_new"), 1L).otherwise(0L)).as("stable"))
    val perNew = j.groupBy("c_new").agg(count(lit(1)).as("merges"))
    val oldAgg = perOld.agg(count(lit(1)).as("n_clusters_old"),
      sum(when(col("spans") > 1, 1L).otherwise(0L)).as("n_split"),
      sum(col("stable")).as("n_stable"))
    val newAgg = perNew.agg(count(lit(1)).as("n_clusters_new"),
      sum(when(col("merges") > 1, 1L).otherwise(0L)).as("n_merged"))
    val nRec = u.agg(count(lit(1)).as("n_records"))
    nRec.crossJoin(oldAgg).crossJoin(newAgg)
      .select("n_records", "n_clusters_old", "n_clusters_new",
        "n_split", "n_merged", "n_stable")
  }

  /** Cluster-cohesion audit over a thresholded edge set: transitive
    * closure admits record pairs the pairwise kernel never scored at
    * threshold (A~B ≥ t and B~C ≥ t force A and C into one component
    * even when sim(A,C) < t); per component this reports how much of
    * the implied pair closure the scored edges actually support —
    * the quality readout a clerical pipeline cuts over-merged clusters
    * with.
    *
    * Exact-output discipline: components label by min reachable packed
    * node id (dp << 40 | entity — [[graft.core.NodeId]], deterministic
    * at any parallelism); pair counts are integer comb-2; sim extremes
    * are min/max (order-free IEEE, engine-exact), never an
    * order-dependent double sum.
    *
    * Scale shape: CC is the library's small/large-star loop (driver
    * union-find below 2M edges); then ONE hash-agg for member counts
    * and one edges⋈components join (components broadcast-able when the
    * cluster map is small) + hash-agg for edge support. No windows, no
    * unbounded collects.
    *
    * @param edges Edge-shaped frame (sim, dp0, rec0, dp1, rec1).
    * @return one row per component (all have ≥ 2 members by
    *         construction): (component, n_members, n_pairs_implied,
    *         n_edges, min_sim, max_sim). */
  def clusterCohesion(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    def node(dp: String, rec: String) =
      shiftleft(col(dp).cast("long"), 40).bitwiseOR(col(rec))
    // consumed by CC and by the per-component edge-stats join; the
    // upstream is the scoring kernel — persist so it runs once
    val e = graft.core.RunScope.persist("cohesion_edges",
      edges.select(node("dp0", "rec0").as("u"),
        node("dp1", "rec1").as("v"), col("sim")))
    val comps = ConnectedComponents.run(e.select($"u", $"v").as[(Long, Long)])
    val members = comps.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    val edgeStats = e.join(comps.withColumnRenamed("node", "u"), "u")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_edges"),
        min($"sim").as("min_sim"), max($"sim").as("max_sim"))
    members.join(edgeStats, Seq("component"))
      .select(col("component"), col("n_members"),
        expr("n_members * (n_members - 1) DIV 2").as("n_pairs_implied"),
        col("n_edges"), col("min_sim"), col("max_sim"))
  }

  /** Single-linkage dendrogram cuts: the cluster structure the greedy
    * solver would inherit at each similarity threshold — cutting a
    * single-link dendrogram at t is exactly connected components over
    * the edges with sim ≥ t (agglomerative single-link hierarchy; the
    * standard threshold-selection readout ER practitioners sweep before
    * freezing a linkage threshold).
    *
    * One CC run per cut (thresholds are few and user-chosen; each run is
    * the library's small/large-star loop), then one hash-agg per cut —
    * nothing here scales with pair count beyond the already-thresholded
    * edge set, so a 100-TB run costs |cuts| × CC(edges ≥ min cut).
    *
    * @param edges Edge-shaped frame (sim, dp0, rec0, dp1, rec1).
    * @return one row per threshold: (threshold, n_clusters, n_records,
    *         max_size, n_edges) — records/clusters counted over nodes
    *         with at least one surviving edge. */
  def dendrogramCuts(edges: DataFrame, thresholds: Seq[Double]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(thresholds.nonEmpty, "need at least one cut")
    def node(dp: String, rec: String) =
      shiftleft(col(dp).cast("long"), 40).bitwiseOR(col(rec))
    // every cut re-reads the edge set (CC materialize + n_edges count +
    // the final agg — 3 actions x |cuts|); the upstream is the scoring
    // kernel, so persist once (measured round 6: q_dendrogram_cut ran
    // the kernel chain ~9x for 3 cuts)
    val packed = graft.core.RunScope.persist("dendrogram_edges",
      edges.select(node("dp0", "rec0").as("u"),
        node("dp1", "rec1").as("v"), col("sim")))
    thresholds.map { t =>
      val e = packed.where($"sim" >= t)
      val comps = ConnectedComponents.run(e.select($"u", $"v").as[(Long, Long)])
      val sizes = comps.groupBy($"component").agg(count(lit(1)).as("m"))
      val nEdges = e.count()
      sizes.agg(
          count(lit(1)).as("n_clusters"),
          sum($"m").cast("long").as("n_records"),
          max($"m").cast("long").as("max_size"))
        .select(lit(t).as("threshold"), col("n_clusters"),
          col("n_records"), col("max_size"), lit(nEdges).as("n_edges"))
    }.reduce(_ union _)
  }

  /** Match-multiplicity audit — the 1:many violation readout for a
    * pipeline whose solver assumes each record links at most once (the
    * reference's greedy 1:1 solver, `entityservice` permutation output):
    * the distribution of per-record accepted-edge counts, per provider.
    * Rows with n_matches ≥ 2 are the records the 1:1 assumption throws
    * into the conflict queue; their volume is the health metric.
    *
    * Scale shape: one endpoint union + two hash-aggs over bare ids.
    *
    * @param edges Edge-shaped frame (sim, dp0, rec0, dp1, rec1), already
    *              thresholded at the accept cut.
    * @return (dp, n_matches, n_records) — how many records of provider
    *         dp have exactly n_matches accepted candidates. */
  def matchMultiplicity(edges: DataFrame): DataFrame =
    edges.select(col("dp0").as("dp"), col("rec0").as("rec"))
      .unionByName(edges.select(col("dp1").as("dp"), col("rec1").as("rec")))
      .groupBy("dp", "rec").agg(count(lit(1)).as("n_matches"))
      .groupBy("dp", "n_matches").agg(count(lit(1)).as("n_records"))

  /** Persistent cluster ids across two linkage runs: each new cluster
    * adopts an old cluster's id exactly when the two are RECIPROCAL
    * best-overlap partners (the mutual-best discipline — a split's
    * fragments can't both claim the old id, a merge adopts the old id
    * it best continues). Deterministic tie-breaks: (overlap DESC,
    * partner id ASC) on both sides. Clusters with no reciprocal partner
    * get carried = false and a null persistent id — the caller mints
    * fresh ids for those, keeping the id space collision-free.
    *
    * Scale shape: one member join keyed by record id, one hash-agg to
    * the overlap table (one row per intersecting cluster pair), two
    * keyed windows over it, one size agg. Nothing scales with pairs.
    *
    * @param oldA,newA one row per record: (idCol, clusterCol).
    * @return one row per NEW cluster: (new_cluster, n_members,
    *         persistent_id, overlap, carried). */
  def persistentIds(oldA: DataFrame, newA: DataFrame, idCol: String,
      clusterCol: String): DataFrame = {
    val o = oldA.select(col(idCol).as("id"), col(clusterCol).as("old_c"))
    val n = newA.select(col(idCol).as("id"), col(clusterCol).as("new_c"))
    val sizes = n.groupBy("new_c").agg(count(lit(1)).as("n_members"))
    val ov = n.join(o, "id")
      .groupBy("new_c", "old_c").agg(count(lit(1)).as("overlap"))
    val bestOldForNew = Window.partitionBy("new_c")
      .orderBy(col("overlap").desc, col("old_c"))
    val bestNewForOld = Window.partitionBy("old_c")
      .orderBy(col("overlap").desc, col("new_c"))
    val mutual = ov
      .withColumn("rn_new", row_number().over(bestOldForNew))
      .withColumn("rn_old", row_number().over(bestNewForOld))
      .where(col("rn_new") === 1 && col("rn_old") === 1)
      .select(col("new_c"), col("old_c").as("persistent_id"),
        col("overlap"))
    sizes.join(mutual, Seq("new_c"), "left")
      .select(col("new_c").as("new_cluster"), col("n_members"),
        col("persistent_id"), coalesce(col("overlap"), lit(0L)).as("overlap"),
        col("persistent_id").isNotNull.as("carried"))
  }

  /** Score-calibration table (reliability diagram) against labeled
    * truth: scored pairs bucketed by similarity bin, with the OBSERVED
    * match rate per bin — the readout that says whether "sim 0.85" means
    * the same thing this run as last run, and where the accept threshold
    * actually sits on the precision surface. A well-calibrated kernel
    * shows match_rate rising steeply through the chosen cut.
    *
    * Scale shape: one keyed left join onto the truth pair set (truth is
    * label-sized, usually broadcast-able) and one hash-agg to `bins`
    * rows. No windows, no collects.
    *
    * @param edges Edge-shaped frame (sim, dp0, rec0, dp1, rec1), floored
    *              at the generation threshold.
    * @param truth positive pairs as (rec0, rec1) in the same id space.
    * @return per bin: (bin, n_pairs, n_true, match_rate, bin_lo). */
  def scoreCalibration(edges: DataFrame, truth: DataFrame,
      bins: Int = 20): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val t = truth.select(col("rec0"), col("rec1"))
      .withColumn("is_true", lit(1L))
    edges.select(col("rec0"), col("rec1"), col("sim"))
      .join(t, Seq("rec0", "rec1"), "left")
      .groupBy(floor(col("sim") * bins).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("is_true"), lit(0L))).as("n_true"))
      .withColumn("match_rate",
        round(col("n_true").cast("double") / col("n_pairs"), 6))
      .withColumn("bin_lo", round(col("bin").cast("double") / bins, 4))
  }

  /** Intra-cluster similarity range — the transitive-closure QUALITY
    * audit [[clusterCohesion]]'s edge-support counts can't give: for
    * every IMPLIED member pair of each cluster (not just the scored
    * edges), the exact Dice similarity, reduced to per-cluster
    * (min, max). A cluster whose min_sim is far below the run threshold
    * was built by transitive chaining, not pairwise evidence — the
    * standard argument for splitting review.
    *
    * The kernel is recomputed inline from the packed CLK words
    * (codegen'd zip_with/bit_count — the same integer Dice the linker
    * scores), so no edge set has to be kept around at any threshold.
    *
    * Scale shape: the self-join is keyed by cluster label and bounded by
    * the max cluster size squared (linkage clusters are small by
    * construction; the guardrail operators bound them upstream).
    *
    * @param labels (dp, rec, label) cluster assignment.
    * @param clks   (dp, rec, pc, words) packed encodings.
    * @return one row per cluster with ≥2 members: (label, n_members,
    *         n_pairs, min_sim, max_sim). */
  def intraClusterSims(labels: DataFrame, clks: DataFrame): DataFrame = {
    val m = labels.join(clks, Seq("dp", "rec"))
      .select(col("label"), col("dp"), col("rec"), col("pc"), col("words"))
    val a = m.select(col("label"), col("dp").as("dp0"), col("rec").as("rec0"),
      col("pc").as("pc0"), col("words").as("w0"))
    val b = m.select(col("label"), col("dp").as("dp1"), col("rec").as("rec1"),
      col("pc").as("pc1"), col("words").as("w1"))
    val pairs = a.join(b, Seq("label"))
      .where(col("dp0") < col("dp1") ||
        (col("dp0") === col("dp1") && col("rec0") < col("rec1")))
    val inter = aggregate(
      zip_with(col("w0"), col("w1"), (x, y) => bit_count(x.bitwiseAND(y))),
      lit(0L), (acc, x) => acc + x)
    val sim = lit(2.0) * inter / (col("pc0") + col("pc1"))
    pairs.select(col("label"), sim.as("sim"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_pairs"), min(col("sim")).as("min_sim"),
        max(col("sim")).as("max_sim"))
      .join(labels.groupBy("label").agg(count(lit(1)).as("n_members")),
        Seq("label"))
      .select(col("label"), col("n_members"), col("n_pairs"),
        col("min_sim"), col("max_sim"))
  }

  /** Newman modularity of a clustering against the scored edge graph:
    * Q = Σ_c [ e_c/m − (d_c/2m)² ] where e_c = intra-cluster edges,
    * d_c = total degree of cluster c, m = |edges| — the standard "is
    * this partition better than chance on this graph" audit for a
    * solver's output (Newman & Girvan 2004). A greedy 1:1 solver that
    * shreds well-connected components shows up here as Q far below the
    * single-link ceiling.
    *
    * Exact rational form: Q = (4m·Σe_c − Σd_c²) / (4m²). All three
    * sufficient statistics are exact integers; only the final division
    * is a double (single IEEE op — engine-identical, the accepted
    * pattern). Σd_c² is summed with decimal(38,0) widening and reported
    * as BIGINT — a graph where Σd_c² exceeds Long range fails the cast
    * loudly under ANSI rather than wrapping.
    *
    * Endpoints absent from `labels` get a unique singleton label
    * (−(packed node id + 1)), so unclustered-but-scored records dilute Q
    * exactly as they should instead of silently merging.
    *
    * Scale shape: two keyed left joins (labels; broadcast-able when the
    * cluster map is small), one union for degrees, three hash-aggs, one
    * 1-row cross join. No windows, no collects.
    *
    * @param edges  Edge-shaped frame (sim, dp0, rec0, dp1, rec1) — the
    *               graph, already thresholded.
    * @param labels (dp, rec, label) cluster assignment.
    * @return one row: (n_edges, n_intra, deg_sq_sum, modularity). */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    def packed(dp: String, rec: String) =
      shiftleft(col(dp).cast("long"), 40).bitwiseOR(col(rec))
    val l0 = labels.select(col("dp").as("d0"), col("rec").as("r0"),
      col("label").as("l0"))
    val l1 = labels.select(col("dp").as("d1"), col("rec").as("r1"),
      col("label").as("l1"))
    // consumed by the edge-stat agg AND the degree agg; the upstream is
    // the scoring kernel — persist so it runs once
    val le = graft.core.RunScope.persist("modularity_edges",
      edges
        .join(l0, col("dp0") === col("d0") && col("rec0") === col("r0"), "left")
        .join(l1, col("dp1") === col("d1") && col("rec1") === col("r1"), "left")
        .select(
          coalesce(col("l0"), -(packed("dp0", "rec0") + 1)).as("lab0"),
          coalesce(col("l1"), -(packed("dp1", "rec1") + 1)).as("lab1")))
    val st = le.agg(count(lit(1)).as("m"),
      sum(when(col("lab0") === col("lab1"), 1L).otherwise(0L)).as("intra"))
    val dsq = le.select(col("lab0").as("lab"))
      .unionByName(le.select(col("lab1").as("lab")))
      .groupBy("lab").agg(count(lit(1)).as("d"))
      .agg(sum((col("d") * col("d")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("dsq"))
    st.crossJoin(dsq).select(
      col("m").as("n_edges"), col("intra").as("n_intra"),
      col("dsq").cast("long").as("deg_sq_sum"),
      round((lit(4.0) * col("m") * col("intra")
          - col("dsq").cast("double"))
        / (lit(4.0) * col("m") * col("m")), 6).as("modularity"))
  }
}
