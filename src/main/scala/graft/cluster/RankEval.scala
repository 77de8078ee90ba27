package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking-quality evaluation of a scored linkage (or retrieval) run
  * against labeled truth — the threshold-FREE complement of
  * [[Evaluation.scoreCalibration]] and the per-threshold P/R/F1 curves:
  * ROC AUC says how well the score ORDERS matches above non-matches
  * regardless of where the cut lands, KS locates the single score that
  * best separates the two populations, the gains table is the clerical-
  * review budgeting readout ("the top decile of pairs holds 83% of the
  * matches"), and average precision summarizes the whole ranked list
  * the way retrieval benchmarks do.
  *
  * Determinism (the [[Evaluation.bcubed]] discipline): every statistic
  * is assembled from integer sufficient statistics — pair counts per
  * distinct score value, concordant/tied pair counts, cumulative
  * positives at a rank — widened to decimal(38,0) before any product
  * that could leave the long range, and divided exactly once into the
  * reported double. Floating sums never accumulate across rows, so
  * results are bit-identical at any partitioning and replayable in any
  * engine (DuckDB HUGEINT == Spark decimal(38,0) == Arrow
  * decimal128(38,0)).
  *
  * Scale shapes:
  *  - [[rocAuc]]/[[ksStatistic]] aggregate to one row per DISTINCT
  *    score before any window. For the Dice kernel over b-bit
  *    encodings every score is a rational 2c/s with c ≤ b/2 ≤ s ≤ 2b,
  *    so the distinct-score table is bounded by ~b²/2 rows (≈ 500K at
  *    b = 1024) INDEPENDENT of the pair count — the one-task cumulative
  *    window over it is free. For unbounded score domains, bin first.
  *  - [[gainsTable]]/[[averagePrecision]] need the global rank of every
  *    pair; a bare `Window.orderBy` would serialize onto one task, so
  *    ranks come from the two-phase range-partition + per-partition
  *    offsets pass ([[graft.rel.Relational.prefixSum]]'s shape): one
  *    range shuffle, a numPartitions-sized collect, one narrow map. */
object RankEval {

  /** Scored pairs joined to the labeled truth: (rec0, rec1, sim,
    * is_true). Truth is match-set-sized — broadcastable in practice;
    * the join stays a keyed equi-join either way. */
  private def labeled(edges: DataFrame, truth: DataFrame): DataFrame =
    edges.select(col("rec0"), col("rec1"), col("sim"))
      .join(truth.select(col("rec0"), col("rec1"))
          .withColumn("hit", lit(1L)),
        Seq("rec0", "rec1"), "left")
      .withColumn("is_true", coalesce(col("hit"), lit(0L)))
      .drop("hit")

  /** Per-distinct-score label counts: (sim, n_pos_v, n_neg_v). */
  private def byScore(edges: DataFrame, truth: DataFrame): DataFrame =
    labeled(edges, truth).groupBy(col("sim"))
      .agg(sum(col("is_true")).as("n_pos_v"),
        sum(lit(1L) - col("is_true")).as("n_neg_v"))

  /** Exact ROC AUC in the Mann–Whitney form: the probability a random
    * (positive, negative) pair is ordered correctly, ties at half
    * credit —
    *   AUC = (#{pos > neg} + ½·#{pos = neg}) / (n_pos · n_neg)
    * computed entirely from the distinct-score table: concordant pairs
    * charge each score's positives with the negatives STRICTLY below
    * it, tied pairs are the within-score product. Equals the trapezoid
    * area under the ROC curve exactly.
    *
    * @return one row: (n_pos, n_neg, n_concordant, n_tied, auc_num,
    *         auc_den, auc) with auc_num = 2·concordant + tied and
    *         auc_den = 2·n_pos·n_neg exact in decimal(38,0). */
  def rocAuc(edges: DataFrame, truth: DataFrame): DataFrame = {
    val w = Window.orderBy(col("sim"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore(edges, truth)
      .withColumn("neg_below",
        coalesce(sum(col("n_neg_v")).over(w), lit(0L)))
      .agg(sum(col("n_pos_v")).cast("long").as("n_pos"),
        sum(col("n_neg_v")).cast("long").as("n_neg"),
        sum(col("n_pos_v").cast("decimal(38,0)") * col("neg_below"))
          .cast("decimal(38,0)").as("n_concordant"),
        sum(col("n_pos_v").cast("decimal(38,0)") * col("n_neg_v"))
          .cast("decimal(38,0)").as("n_tied"))
      .withColumn("auc_num",
        (col("n_concordant") * 2 + col("n_tied")).cast("decimal(38,0)"))
      .withColumn("auc_den",
        (col("n_pos").cast("decimal(38,0)") * col("n_neg") * 2)
          .cast("decimal(38,0)"))
      .withColumn("auc", when(col("auc_den") > 0,
        round(col("auc_num").cast("double") / col("auc_den").cast("double"),
          6)))
  }

  /** Kolmogorov–Smirnov separation: the max distance between the
    * positive and negative score CDFs, and the score where it happens —
    * the standard "where does one cut separate best" readout for a
    * score model. Exact: D at score v is |cpos·n_neg − cneg·n_pos| over
    * the common denominator n_pos·n_neg; the argmax tie-breaks to the
    * smallest score, so the row is unique.
    *
    * @return one row: (n_pos, n_neg, ks_num, ks_den, at_sim, ks_d). */
  def ksStatistic(edges: DataFrame, truth: DataFrame): DataFrame = {
    val w = Window.orderBy(col("sim"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the distinct-score table (bounded ~b²/2 rows) feeds both the
    // cumulative window and the totals agg; its upstream is the scoring
    // kernel — persist so the kernel runs once, not twice
    val byS = graft.core.RunScope.persist("rankeval_byscore",
      byScore(edges, truth))
    val cum = byS
      .withColumn("cpos", sum(col("n_pos_v")).over(w))
      .withColumn("cneg", sum(col("n_neg_v")).over(w))
    val tot = byS.agg(sum(col("n_pos_v")).cast("long").as("n_pos"),
      sum(col("n_neg_v")).cast("long").as("n_neg"))
    cum.crossJoin(tot)
      .withColumn("ks_num",
        abs(col("cpos").cast("decimal(38,0)") * col("n_neg")
          - col("cneg").cast("decimal(38,0)") * col("n_pos"))
          .cast("decimal(38,0)"))
      .withColumn("ks_den",
        (col("n_pos").cast("decimal(38,0)") * col("n_neg"))
          .cast("decimal(38,0)"))
      .orderBy(col("ks_num").desc, col("sim").asc)
      .limit(1)
      .select(col("n_pos"), col("n_neg"), col("ks_num"), col("ks_den"),
        col("sim").as("at_sim"),
        when(col("ks_den") > 0,
          round(col("ks_num").cast("double") / col("ks_den").cast("double"),
            6)).as("ks_d"))
  }

  /** Global rank + running positive count for every scored pair, in the
    * total order (sim desc, rec0, rec1), WITHOUT a single-partition
    * window: range-partition and sort by the order key, collect only
    * the per-partition (rows, positives) totals, and add each
    * partition's exclusive offsets back in one narrow pass.
    *
    * @return ((rec0, rec1, sim, is_true, rk, tp), n_ranked, n_pos) with
    *         rk the 1-based global rank and tp the positives at ranks
    *         ≤ rk (inclusive). */
  private def rankedWithTp(edges: DataFrame,
      truth: DataFrame): (DataFrame, Long, Long) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val ranged = graft.core.RunScope.persist("rank_eval",
      labeled(edges, truth)
        .select(col("rec0").cast("long"), col("rec1").cast("long"),
          col("sim").cast("double"), col("is_true").cast("long"))
        .repartitionByRange(col("sim").desc, col("rec0"), col("rec1"))
        .sortWithinPartitions(col("sim").desc, col("rec0"), col("rec1")))
    val totals = ranged
      .select(spark_partition_id().as("pid"), col("is_true"))
      .groupBy("pid")
      .agg(count(lit(1)).as("n"), sum("is_true").as("t"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val nParts = if (totals.isEmpty) 0 else totals.keys.max + 1
    val rowOff = new Array[Long](nParts + 1)
    val tpOff = new Array[Long](nParts + 1)
    (0 until nParts).foreach { p =>
      val (n, t) = totals.getOrElse(p, (0L, 0L))
      rowOff(p + 1) = rowOff(p) + n
      tpOff(p + 1) = tpOff(p) + t
    }
    val bc = spark.sparkContext.broadcast((rowOff, tpOff))
    val out = ranged.as[(Long, Long, Double, Long)].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var rk = bc.value._1(pid)
      var tp = bc.value._2(pid)
      it.map { case (r0, r1, sim, isTrue) =>
        rk += 1
        tp += isTrue
        (r0, r1, sim, isTrue, rk, tp)
      }
    }.toDF("rec0", "rec1", "sim", "is_true", "rk", "tp")
    (out, rowOff(nParts), tpOff(nParts))
  }

  /** Cumulative gains / lift table: pairs ranked by (sim desc, rec0,
    * rec1) and cut into `buckets` equal-depth buckets (bucket of rank k
    * is (k−1)·buckets DIV n — the exact equal-depth rule, no ntile
    * ambiguity). Per bucket: its pair and match counts, the running
    * totals, the fraction of all matches captured so far, and the lift
    * over random review order. The clerical-review budget curve.
    *
    * @return per bucket: (bucket, n_pairs, n_true, cum_pairs, cum_true,
    *         capture, lift). */
  def gainsTable(edges: DataFrame, truth: DataFrame,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val (ranked, n, nPos) = rankedWithTp(edges, truth)
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .groupBy(expr(s"((rk - 1) * ${buckets}L) DIV ${math.max(n, 1L)}")
        .as("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("is_true")).as("n_true"))
      .withColumn("cum_pairs", sum(col("n_pairs")).over(w))
      .withColumn("cum_true", sum(col("n_true")).over(w))
      .withColumn("capture", when(lit(nPos) > 0,
        round(col("cum_true").cast("double") / nPos, 6)))
      .withColumn("lift", when(col("cum_pairs") > 0 && lit(nPos) > 0,
        round(col("cum_true").cast("double") * n
          / (col("cum_pairs").cast("double") * nPos), 6)))
  }

  /** Average precision over the ranked pair list: AP = mean over
    * positives of precision@(that positive's rank) — the area under the
    * (uninterpolated) P/R curve, the retrieval-benchmark summary of the
    * whole ranking. Each positive's precision tp/k is ONE double divide
    * of two exact integers rounded to 9 decimals and summed as longs
    * (order-free); exact while 10⁹·tp stays under 2⁵³, i.e. n_pos up to
    * ~9·10⁶ — beyond that, shard the evaluation by entity partition.
    *
    * @return one row: (n_pos, n_ranked, ap_sum_e9, avg_precision). */
  def averagePrecision(edges: DataFrame, truth: DataFrame): DataFrame = {
    val (ranked, n, nPos) = rankedWithTp(edges, truth)
    ranked.where(col("is_true") === 1)
      .select(round(lit(1e9) * col("tp") / col("rk")).cast("long")
        .as("contrib"))
      .agg(coalesce(sum(col("contrib")), lit(0L)).as("ap_sum_e9"))
      .select(lit(nPos).as("n_pos"), lit(n).as("n_ranked"),
        col("ap_sum_e9"),
        when(lit(nPos) > 0,
          round(col("ap_sum_e9").cast("double") / (nPos * 1e9), 6))
          .as("avg_precision"))
  }
}
