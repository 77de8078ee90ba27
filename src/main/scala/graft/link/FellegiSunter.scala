package graft.link

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fellegi–Sunter probabilistic record linkage with EM-estimated
  * parameters — the unsupervised counterpart of [[FieldMatch]]'s
  * fixed-weight scoring (Fellegi & Sunter 1969; Winkler's EM formulation,
  * as popularised by splink/fastLink). The reference service assumes
  * weights are baked into the CLK encoding up front
  * (`docs/concepts.rst` "comparison techniques"); this estimates the
  * per-field agreement weights FROM the candidate pairs themselves, which
  * is what a linkage run over an unlabeled web-scale corpus actually
  * needs.
  *
  * Model: each candidate pair has a binary agreement vector γ ∈ {0,1}^K.
  * A latent match indicator M with prior λ; P(γ_k=1 | M) = m_k and
  * P(γ_k=1 | U) = u_k, fields conditionally independent. EM alternates
  * the pair posterior w(γ) = λ·Π f_k / (λ·Π f_k + (1−λ)·Π g_k) with
  * count-weighted maximisation of λ, m, u.
  *
  * Scale shape — the sufficient-statistics trick: the E/M steps only ever
  * see the 2^K DISTINCT PATTERNS and their counts, never the pairs. The
  * quadratic work (candidate generation + per-pair γ) is fully
  * distributed (callers route pairs through
  * [[graft.dedup.Dedup.saltedSelfPairs]]); one hash-aggregate collapses
  * 10^12 pairs to ≤2^K rows (map-side combined — the shuffle carries at
  * most 2^K rows per task), and the EM loop runs on those ≤2^K sufficient
  * statistics on the driver — the same bounded-collect discipline as the
  * IVF coarse quantizer's nlist centroids (K ≤ 16 enforced, so ≤65536
  * rows regardless of corpus size).
  *
  * Arithmetic is EXACT fixed point: probabilities are scaled longs
  * (`scale` = 1.0) and every division is floored (BigInt quotients of
  * non-negative values == DuckDB HUGEINT `//`), so the fitted parameters
  * and posteriors are bit-identical at any parallelism and replay in SQL
  * as chained CTEs — floating-point EM would never hash-match across
  * engines (same pattern as [[graft.cluster.PageRank]] /
  * `Ann.kmeansInt`). Estimates are clamped to [1, scale−1] so no E-step
  * product can hit a hard 0/1 and divide by zero.
  */
object FellegiSunter {

  /** Default probability scale: 1e9 keeps every E-step product and every
    * count-weighted sum inside a signed 64-bit long for corpora up to
    * ~9e9 candidate pairs per pattern; the M-step numerators that exceed
    * it (Σc·w · scale) are BigInt here / HUGEINT in a SQL replay. */
  val Scale: Long = 1000000000L

  /** Fitted model: λ and per-field m/u, all scaled by `scale`. */
  final case class Params(lambda: Long, m: Array[Long], u: Array[Long])

  private def requireGammas(gammaCols: Seq[String]): Unit =
    require(gammaCols.nonEmpty && gammaCols.size <= 16,
      "1..16 gamma fields (2^K sufficient statistics must stay bounded)")

  /** A 0/1 gamma column as every fit reads it: int, null counts as 0. */
  private def gammaKey(c: String): Column =
    coalesce(col(c).cast("int"), lit(0)).as(c)

  /** The ONE distributed aggregation of every fit: 10^12 pairs -> the
    * ≤2^K observed patterns of the int `keys` with their pair count `n`,
    * collected to the driver in a deterministic order. */
  private def patternCounts(pairs: DataFrame, keys: Seq[Column],
      n: Column = count(lit(1))): Array[(Array[Int], Long)] = {
    val K = keys.size
    val counts = pairs.groupBy(keys: _*).agg(n.as("n_pairs"))
      .collect()
      .map(r => (Array.tabulate(K)(r.getInt), r.getLong(K)))
      // deterministic EM input order (comma-joined: unambiguous for
      // any digit width, unlike bare concatenation)
      .sortBy(_._1.mkString(","))
    require(counts.nonEmpty, "no candidate pairs")
    counts
  }

  /** A driver-built frame of ≤2^K rows in one partition. */
  private def localFrame(spark: SparkSession, fields: Seq[(String, DataType)],
      rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) }))

  /** `m_<f>` then `u_<f>` for every gamma field, in gammaCols order. */
  private def paramNames(gammaCols: Seq[String]): Seq[String] =
    gammaCols.map("m_" + _) ++ gammaCols.map("u_" + _)

  /** One row per observed pattern: the flags, `n_pairs`, `posterior`,
    * `is_match`, `lambda` and the fitted per-field parameters. */
  private def fitFrame(spark: SparkSession, names: Seq[String],
      counts: Array[(Array[Int], Long)], posts: Array[Long], lambda: Long,
      params: Seq[(String, Long)], scale: Long): DataFrame =
    localFrame(spark,
      names.map(_ -> IntegerType) ++ Seq("n_pairs" -> LongType,
        "posterior" -> LongType, "is_match" -> BooleanType,
        "lambda" -> LongType) ++ params.map(_._1 -> LongType),
      counts.toSeq.zip(posts).map { case ((g, c), w) =>
        Row.fromSeq(g.toSeq ++ Seq(c, w, w * 2 > scale, lambda) ++
          params.map(_._2))
      })

  /** [[emClassify]] with an optional frozen u: the checks, the collect,
    * the EM and the fitted-pattern rows. */
  private def classify(pairs: DataFrame, gammaCols: Seq[String],
      frozenU: Option[Array[Long]], iters: Int, scale: Long): DataFrame = {
    require(iters >= 1 && scale >= 1000L, "iters >= 1, scale >= 1000")
    val counts = patternCounts(pairs, gammaCols.map(gammaKey))
    val (trace, posts) = emFit(counts, gammaCols.size, iters, scale, frozenU)
    val p = trace.last
    fitFrame(pairs.sparkSession, gammaCols, counts, posts, p.lambda,
      paramNames(gammaCols).zip(p.m ++ p.u), scale)
  }

  /** Fit by EM over candidate pairs and classify each agreement pattern.
    *
    * @param pairs one row per candidate pair; `gammaCols` are 0/1 int
    *              columns (any numeric type; nulls count as 0).
    * @param iters full EM iterations (E+M) before the final E-step that
    *              produces the reported posteriors.
    * @return one row per OBSERVED pattern: the γ flags, `n_pairs`,
    *         `posterior` (scaled P(M|γ)), `is_match` (posterior > 1/2),
    *         and the fitted `lambda` / `m_<f>` / `u_<f>` columns
    *         (constant across rows — included so one result row carries
    *         the whole fitted model).
    */
  def emClassify(pairs: DataFrame, gammaCols: Seq[String], iters: Int = 2,
      scale: Long = Scale): DataFrame = {
    requireGammas(gammaCols)
    classify(pairs, gammaCols, None, iters, scale)
  }

  /** Match-weight waterfall (splink's waterfall chart data): per-field
    * evidence decomposition of each fitted pattern — the explainability
    * readout that turns an opaque posterior into "which field carried
    * this decision". For pattern γ, field k contributes the Bayes factor
    * f_k/g_k where f_k = m_k if γ_k=1 else 1−m_k (and g_k likewise from
    * u_k); the posterior is the prior folded with all K factors.
    *
    * The factor is reported as the EXACT scaled integer
    * (f·scale) DIV g — same fixed-point discipline as the fit itself, so
    * the whole decomposition hash-replays in SQL. Runs entirely on
    * [[emClassify]]'s ≤2^K output rows (one explode, no extra pass over
    * pairs).
    *
    * @return one row per (pattern, field): γ flags, n_pairs, posterior,
    *         field, f_m, f_u (the chosen per-field probabilities) and
    *         bayes_scaled = (f_m·scale) DIV f_u. */
  def waterfall(pairs: DataFrame, gammaCols: Seq[String], iters: Int = 2,
      scale: Long = Scale): DataFrame = {
    val fit = emClassify(pairs, gammaCols, iters, scale)
    val entries = gammaCols.map { c =>
      struct(lit(c).as("field"),
        when(col(c) === 1, col(s"m_$c"))
          .otherwise(lit(scale) - col(s"m_$c")).as("f_m"),
        when(col(c) === 1, col(s"u_$c"))
          .otherwise(lit(scale) - col(s"u_$c")).as("f_u"))
    }
    fit.select(gammaCols.map(col) ++ Seq(col("n_pairs"), col("posterior"),
        explode(array(entries: _*)).as("e")): _*)
      .select(gammaCols.map(col) ++ Seq(col("n_pairs"), col("posterior"),
        col("e.field").as("field"), col("e.f_m").as("f_m"),
        col("e.f_u").as("f_u"),
        expr(s"e.f_m * ${scale}L DIV e.f_u").as("bayes_scaled")): _*)
  }

  /** EM with the u side FROZEN — splink's canonical two-stage training
    * recipe (`estimate_u_using_random_sampling` then
    * `estimate_parameters_using_expectation_maximisation` with u fixed):
    * the blocked candidate pairs over-represent agreement by
    * construction, so u estimated from them is biased high; anchoring u
    * to the unblocked record-sample estimate ([[estimateU]]) and letting
    * EM fit only λ and m removes exactly that bias. Same exact
    * fixed-point arithmetic, same ≤2^K sufficient-statistics collect,
    * same EM core ([[emFit]]); the M-step simply skips u.
    *
    * @param uScaled one frozen u per gamma column, already scaled (the
    *                `u_scaled` column of [[estimateU]]'s output, in
    *                gammaCols order). Clamped to [1, scale−1].
    * @return [[emClassify]]-shaped rows (the u_ columns echo the frozen
    *         values). */
  def emClassifyFixedU(pairs: DataFrame, gammaCols: Seq[String],
      uScaled: Seq[Long], iters: Int = 2, scale: Long = Scale): DataFrame = {
    requireGammas(gammaCols)
    require(uScaled.size == gammaCols.size, "one frozen u per gamma field")
    classify(pairs, gammaCols, Some(uScaled.toArray), iters, scale)
  }

  /** Model-expected precision/recall curve — threshold selection FROM
    * the fitted model, before any labels exist (the readout splink users
    * build from `predict()` histograms): treating the fitted posterior
    * w(γ) as each pattern's match probability, cutting at posterior p
    * accepts all patterns with w ≥ p and expects
    * TP = Σ_{w≥p} n·w, FP = Σ_{w≥p} n·(S−w), FN = Σ_{w<p} n·w.
    * Every sum is an EXACT scaled integer (decimal-widened against the
    * n·w ≈ 10^12·10^9 product; reported columns cast back to BIGINT — a
    * corpus whose sums exceed Long range fails loudly under ANSI).
    *
    * Scale shape: runs entirely on [[emClassify]]'s ≤2^K pattern rows —
    * the global window is over a MODEL table bounded by K ≤ 16, never
    * the pairs.
    *
    * @return one row per distinct posterior cut, descending:
    *         (posterior, n_pairs, exp_tp_scaled, exp_fp_scaled,
    *         exp_matches_scaled, precision, recall). */
  def modelPrCurve(pairs: DataFrame, gammaCols: Seq[String],
      iters: Int = 2, scale: Long = Scale): DataFrame = {
    val fit = emClassify(pairs, gammaCols, iters, scale)
    val byw = fit.groupBy(col("posterior"))
      .agg(sum(col("n_pairs")).as("n"))
    val nw = col("n").cast("decimal(38,0)") * col("posterior")
    val nv = col("n").cast("decimal(38,0)") * (lit(scale) - col("posterior"))
    val w = Window.orderBy(col("posterior").desc)
    val tot = byw.agg(sum(nw).cast("decimal(38,0)").cast("long")
      .as("exp_matches_scaled"))
    byw
      .withColumn("exp_tp_scaled", sum(nw).over(w).cast("long"))
      .withColumn("exp_fp_scaled", sum(nv).over(w).cast("long"))
      .crossJoin(tot)
      .select(col("posterior"), col("n").as("n_pairs"),
        col("exp_tp_scaled"), col("exp_fp_scaled"),
        col("exp_matches_scaled"),
        round(col("exp_tp_scaled").cast("double")
          / (col("exp_tp_scaled") + col("exp_fp_scaled")), 6).as("precision"),
        round(col("exp_tp_scaled").cast("double")
          / col("exp_matches_scaled"), 6).as("recall"))
  }

  /** Conditional-independence diagnostic (the assumption the whole
    * Fellegi–Sunter factorisation stands on): per observed pattern γ,
    * the EXPECTED pair count under full field independence — the
    * product of per-field marginals, E[γ] = N·Π_k (n_k(γ_k)/N) — next
    * to the observed count, plus the lift obs/expected. Patterns with
    * lift far from 1 mark correlated fields (splink's comparison-level
    * correlation warning; Winkler's interaction-term diagnostics).
    *
    * Exact fixed point: expected_scaled = (Π n_k(γ_k))·scale / N^(K−1)
    * and lift_scaled = obs·scale·N^(K−1) / Π n_k(γ_k), both BigInt floor
    * divisions on the driver over the ≤2^K sufficient statistics (the
    * [[emClassify]] collect discipline). lift saturates at 10^6·scale —
    * a vanishing expected count would otherwise overflow the output
    * long. expected_scaled overflows long once E ≥ 2^63/scale pairs
    * (≈9.2e9 at the default 10^9); pass a smaller scale beyond that.
    *
    * @return one row per observed pattern: (gammas..., n_pairs,
    *         expected_scaled, lift_scaled). */
  def patternIndependence(pairs: DataFrame, gammaCols: Seq[String],
      scale: Long = Scale): DataFrame = {
    requireGammas(gammaCols)
    val K = gammaCols.size
    val counts = patternCounts(pairs, gammaCols.map(gammaKey))
    val n = BigInt(counts.map(_._2).sum)
    val ones = Array.tabulate(K)(k =>
      BigInt(counts.collect { case (g, c) if g(k) == 1 => c }.sum))
    val s = BigInt(scale)
    val liftCap = s * 1000000L
    val nPow = n.pow(K - 1)
    val rows = counts.map { case (g, c) =>
      val prod = (0 until K).map(k =>
        if (g(k) == 1) ones(k) else n - ones(k)).product
      val expected = (prod * s / nPow).toLong
      val lift =
        if (prod == 0) 0L
        else (BigInt(c) * s * nPow / prod).min(liftCap).toLong
      Row.fromSeq(g.toSeq ++ Seq(c, expected, lift))
    }
    localFrame(pairs.sparkSession, gammaCols.map(_ -> IntegerType) ++
      Seq("n_pairs", "expected_scaled", "lift_scaled").map(_ -> LongType),
      rows.toSeq)
  }

  /** Direct u estimation from a record sample (splink's
    * `estimate_u_using_random_sampling`): u_k = P(γ_k=1 | U) estimated as
    * the per-field agreement rate over pairs drawn from a deterministic
    * record sample — at web scale almost every pair is a non-match, so
    * the sampled cross join IS the U distribution up to O(λ) bias. This
    * anchors the EM's u side to unblocked reality (blocked pairs
    * over-represent agreement by construction).
    *
    * The caller supplies the sampled pair frame (hash-gated record
    * sample × itself — bounded by the sampling rate, never the corpus);
    * this is ONE pass and one 1-row aggregate over it, melted to a row
    * per field. u_scaled = (n_agree·scale) DIV n_pairs, the same fixed
    * point the EM consumes. */
  def estimateU(pairs: DataFrame, gammaCols: Seq[String],
      scale: Long = Scale): DataFrame =
    agreementRates(pairs, gammaCols, scale, "u_scaled")

  /** Per-field agreement rate over `pairs`, one row per field:
    * (field, n_pairs, n_agree, `rateCol` = (n_agree·scale) DIV n_pairs).
    * The body of [[estimateU]] and [[estimateMFromLabels]]. */
  private def agreementRates(pairs: DataFrame, gammaCols: Seq[String],
      scale: Long, rateCol: String): DataFrame = {
    require(gammaCols.nonEmpty, "need at least one gamma field")
    val aggCols = count(lit(1)).as("n") +: gammaCols.map(c =>
      sum(coalesce(col(c).cast("long"), lit(0L))).as(s"a_$c"))
    val one = pairs.agg(aggCols.head, aggCols.tail: _*)
    val entries = gammaCols.map(c =>
      struct(lit(c).as("field"), col(s"a_$c").as("n_agree")))
    one.select(col("n"), explode(array(entries: _*)).as("e"))
      .select(col("e.field").as("field"), col("n").as("n_pairs"),
        col("e.n_agree").as("n_agree"),
        expr(s"e.n_agree * ${scale}L DIV n").as(rateCol))
  }

  /** splink's `estimate_m_from_label_column`: when SOME ground-truth
    * entity label exists (a national id, a vendor's golden cluster, the
    * truth column of a labeled benchmark), the m-side of the model needs
    * no EM at all — block on the label, call every intra-label pair a
    * match, and m_k is simply the agreement rate of field k over those
    * pairs. The u-side anchor still comes from [[estimateU]]'s random
    * sample; together they seed (or fully replace) the EM.
    *
    * `pairs` must already BE the intra-label pairs with 0/1 gamma
    * columns — pair formation stays with the caller because the label
    * blocking is corpus-specific (same division of labor as
    * [[estimateU]]). Output mirrors estimateU: one row per field with
    * (field, n_pairs, n_agree, m_scaled), m in exact floored fixed point
    * so SQL replays bit-for-bit.
    *
    * Scale shape: one global agg (map-side combined, a single row wide)
    * plus a K-way literal melt — nothing per-pair survives the shuffle. */
  def estimateMFromLabels(pairs: DataFrame, gammaCols: Seq[String],
      scale: Long = Scale): DataFrame =
    agreementRates(pairs, gammaCols, scale, "m_scaled")

  /** Active-learning pair selection by uncertainty sampling: fit the FS
    * model ([[emClassify]]) and surface the k candidate pairs whose
    * posterior sits closest to 1/2 — exactly the pairs a clerical
    * labeling budget buys the most model improvement from (the
    * uncertainty-sampling loop splink/dedupe run between training
    * rounds; contrast [[graft.link.Review.threeZone]], which queues by
    * similarity band, not by model confidence).
    *
    * `pairs` carries `idCols` plus 0/1 `gammaCols`. Posteriors are the
    * EM's exact scaled longs, so uncertainty = |posterior − scale/2| is
    * integer-exact and the selection replays in SQL; ties (pairs sharing
    * an agreement pattern share a posterior) break on `idCols`, making
    * the selected set a pure function of the corpus.
    *
    * Scale shape: the model is ≤2^K pattern rows (broadcast back onto
    * the distributed pair set — no second shuffle), and the global
    * order-by-limit is a TakeOrdered: per-partition top-k then a k-row
    * driver merge, never a full sort. */
  def uncertaintySample(pairs: DataFrame, gammaCols: Seq[String],
      idCols: Seq[String], k: Int, iters: Int = 2,
      scale: Long = Scale): DataFrame = {
    require(k > 0 && idCols.nonEmpty, s"k=$k idCols=$idCols")
    // ONE quadratic pass: the pair frame feeds both the EM's
    // sufficient-statistics collect and the posterior broadcast join —
    // without a materialization point, AQE compiles the consumers as
    // separate stages and the whole candidate-generation + gamma pipeline
    // runs twice (round-5 defect: 22 s). Round-6 phase probe on the HOW:
    // generation 4.4 s, `persist()`'s InMemoryRelation columnar-encode
    // WRITE 3.7 s, both cache reads 1.7 s — so the cache format, not the
    // caching idea, was half the cost. localCheckpoint stores the raw
    // UnsafeRows (no columnar encode; guide §5's cheaper-lineage-cut),
    // dropping the write to ~1 s. Trade-off (documented upstream): a
    // checkpointed intermediate is not recomputable under executor loss —
    // acceptable for a bounded per-call intermediate; blocks are freed by
    // the ContextCleaner once the frame is unreachable.
    val cached = pairs.localCheckpoint(false)
    val fit = emClassify(cached.selectExpr(gammaCols: _*), gammaCols,
        iters, scale)
      .select((gammaCols.map(col) :+ col("posterior")): _*)
    cached.join(broadcast(fit), gammaCols)
      .withColumn("uncertainty", abs(col("posterior") - lit(scale / 2)))
      .orderBy((col("uncertainty").asc +: idCols.map(c => col(c).asc)): _*)
      .limit(k)
  }

  /** Multi-LEVEL Fellegi–Sunter (splink-style comparison levels): each
    * field's agreement is GRADED, γ_k ∈ {0..L_k−1} (e.g. exact / close /
    * different), with per-level probabilities m_k[l] = P(γ_k=l | M) and
    * u_k[l] = P(γ_k=l | U) — binary agree/disagree loses exactly the
    * signal a graded comparator (edit-distance band, numeric window)
    * carries, which is why production FS implementations are
    * level-based. Same EM, same sufficient-statistics collapse (≤ Π L_k
    * patterns, capped), same exact fixed-point arithmetic as
    * [[emClassify]].
    *
    * @param levelCols (column, numLevels) per field; values outside
    *                  [0, numLevels) are clamped into range.
    * @return one row per observed pattern: the level flags, `n_pairs`,
    *         `posterior`, `is_match`, `lambda`, and `m_<col>_<l>` /
    *         `u_<col>_<l>` for every field × level. */
  def emClassifyLevels(pairs: DataFrame, levelCols: Seq[(String, Int)],
      iters: Int = 2, scale: Long = Scale): DataFrame = {
    require(levelCols.nonEmpty && levelCols.forall(_._2 >= 2), "levels >= 2")
    // BigInt product: a Long product of many level counts can wrap to a
    // small value and silently defeat this bounded-collect guard
    require(levelCols.map(x => BigInt(x._2)).product <= BigInt(65536),
      "pattern space must stay bounded (<= 65536 sufficient statistics)")
    require(iters >= 1 && scale >= 1000L)
    val counts = patternCounts(pairs, levelCols.map { case (c, l) =>
      greatest(lit(0), least(lit(l - 1),
        coalesce(col(c).cast("int"), lit(0)))).as(c)
    })
    val (lam, m, u, posts) = emFitLevels(counts, levelCols.map(_._2), iters, scale)
    val params = levelCols.zipWithIndex.flatMap { case ((c, l), k) =>
      (0 until l).flatMap(lv => Seq(
        (s"m_${c}_$lv", m(k)(lv)), (s"u_${c}_$lv", u(k)(lv))))
    }
    fitFrame(pairs.sparkSession, levelCols.map(_._1), counts, posts, lam,
      params, scale)
  }

  /** Level-aware EM core of [[emClassifyLevels]]; its start values and
    * per-level M-step differ from the binary core [[emFit]]. Returns
    * (lambda, m[k][l], u[k][l], posteriors). */
  private def emFitLevels(counts: Array[(Array[Int], Long)],
      levels: Seq[Int], iters: Int,
      scale: Long): (Long, Array[Array[Long]], Array[Array[Long]], Array[Long]) = {
    val S = BigInt(scale)
    val K = levels.size
    def clamp(x: BigInt): Long = x.max(BigInt(1)).min(S - 1).toLong

    var lam = scale / 10L
    // start: highest level likely under M, lowest under U — uniform
    // inside each hypothesis would be a saddle point (every pattern gets
    // the same posterior and the field params never move)
    var m = levels.map(l =>
      Array.tabulate(l)(lv => if (lv == l - 1) scale * 7L / 10L
        else scale * 3L / (10L * (l - 1))).map(math.max(_, 1L))).toArray
    var u = levels.map(l =>
      Array.tabulate(l)(lv => if (lv == 0) scale * 7L / 10L
        else scale * 3L / (10L * (l - 1))).map(math.max(_, 1L))).toArray

    def eStep(): Array[Long] = counts.map { case (g, _) =>
      var a = BigInt(lam)
      var b = S - BigInt(lam)
      var k = 0
      while (k < K) {
        a = a * BigInt(m(k)(g(k))) / S
        b = b * BigInt(u(k)(g(k))) / S
        k += 1
      }
      val den = a + b
      if (den == 0) 0L else (a * S / den).toLong
    }

    for (_ <- 1 to iters) {
      val w = eStep()
      var sumCW = BigInt(0)
      var sumCV = BigInt(0)
      var sumC = BigInt(0)
      val numM = levels.map(l => Array.fill(l)(BigInt(0))).toArray
      val numU = levels.map(l => Array.fill(l)(BigInt(0))).toArray
      counts.indices.foreach { i =>
        val (g, c) = counts(i)
        val cw = BigInt(c) * BigInt(w(i))
        val cv = BigInt(c) * (S - BigInt(w(i)))
        sumCW += cw; sumCV += cv; sumC += BigInt(c)
        var k = 0
        while (k < K) { numM(k)(g(k)) += cw; numU(k)(g(k)) += cv; k += 1 }
      }
      lam = clamp(sumCW / sumC)
      m = numM.map(_.map(n =>
        clamp(if (sumCW == 0) BigInt(0) else n * S / sumCW)))
      u = numU.map(_.map(n =>
        clamp(if (sumCV == 0) BigInt(0) else n * S / sumCV)))
    }
    (lam, m, u, eStep())
  }

  /** The binary EM core over pattern sufficient statistics, exact
    * scaled-long fixed point, behind every binary fit. With `frozenU`
    * (clamped to [1, scale−1]) u never moves and the M-step fits only λ
    * and m. Returns the full per-iteration trajectory — element i is the
    * parameter set after M-step i+1, replayed in SQL as the i-th chained
    * CTE — and the final E-step's posteriors. */
  private def emFit(counts: Array[(Array[Int], Long)], K: Int, iters: Int,
      scale: Long, frozenU: Option[Array[Long]] = None)
      : (Vector[Params], Array[Long]) = {
    val S = BigInt(scale)
    def clamp(x: BigInt): Long =
      x.max(BigInt(1)).min(S - 1).toLong

    // classical uninformative-ish starting point: λ=0.1, m=0.9, u=0.1
    // (or the frozen u, clamped)
    var lam = scale / 10L
    var m = Array.fill(K)(scale * 9L / 10L)
    var u = frozenU.fold(Array.fill(K)(scale / 10L))(_.map(v => clamp(BigInt(v))))

    /** posterior w(γ) for each pattern under the current params */
    def eStep(): Array[Long] = counts.map { case (g, _) =>
      var a = BigInt(lam)
      var b = S - BigInt(lam)
      var k = 0
      while (k < K) {
        a = a * (if (g(k) == 1) BigInt(m(k)) else S - BigInt(m(k))) / S
        b = b * (if (g(k) == 1) BigInt(u(k)) else S - BigInt(u(k))) / S
        k += 1
      }
      val den = a + b
      if (den == 0) 0L else (a * S / den).toLong
    }

    val trace = Vector.newBuilder[Params]
    for (_ <- 1 to iters) {
      val w = eStep()
      var sumCW = BigInt(0)
      var sumC = BigInt(0)
      var sumCV = BigInt(0) // Σ c·(S−w)
      val numM = Array.fill(K)(BigInt(0))
      val numU = Array.fill(K)(BigInt(0))
      counts.indices.foreach { i =>
        val (g, c) = counts(i)
        val cw = BigInt(c) * BigInt(w(i))
        val cv = BigInt(c) * (S - BigInt(w(i)))
        sumCW += cw; sumC += BigInt(c); sumCV += cv
        var k = 0
        while (k < K) {
          if (g(k) == 1) { numM(k) += cw; numU(k) += cv }
          k += 1
        }
      }
      lam = clamp(sumCW / sumC)
      m = numM.map(n => clamp(if (sumCW == 0) BigInt(0) else n * S / sumCW))
      if (frozenU.isEmpty)
        u = numU.map(n => clamp(if (sumCV == 0) BigInt(0) else n * S / sumCV))
      trace += Params(lam, m.clone(), u.clone())
    }
    (trace.result(), eStep())
  }

  /** EM convergence trace (splink's parameter-estimate history): one row
    * per iteration with λ and every per-field m/u as the EXACT scaled
    * integers the fixed-point fit produced — so the whole trajectory
    * (not just the converged point) hash-replays in SQL as chained CTEs,
    * and a user can see how far from converged `iters` left the model.
    *
    * Scale shape: identical to [[emClassify]] — the one distributed
    * aggregation collapses the pair set to ≤2^K sufficient statistics;
    * the iteration loop runs on the driver in exact integer arithmetic.
    *
    * @return one row per iteration: (iter, lambda, m_<field>...,
    *         u_<field>...), all scaled longs. */
  def emTrace(pairs: DataFrame, gammaCols: Seq[String], iters: Int = 2,
      scale: Long = Scale): DataFrame = {
    requireGammas(gammaCols)
    require(iters >= 1 && scale >= 1000L, "iters >= 1, scale >= 1000")
    val counts = patternCounts(pairs, gammaCols.map(gammaKey))
    val (trace, _) = emFit(counts, gammaCols.size, iters, scale)
    val rows = trace.zipWithIndex.map { case (p, i) =>
      // Seq[Any] keeps the iter element an Int (a bare Seq(i+1, lambda)
      // would widen it to Long and break the IntegerType encoder)
      Row.fromSeq(Seq[Any](i + 1, p.lambda) ++ p.m ++ p.u)
    }
    localFrame(pairs.sparkSession, Seq("iter" -> IntegerType) ++
      ("lambda" +: paramNames(gammaCols)).map(_ -> LongType), rows)
  }

  /** Splink-style TERM-FREQUENCY adjustment (splink's `tf_adjustments`;
    * Winkler's value-specific frequency weights): agreement on a COMMON
    * value ("Smith") is far weaker evidence than on a rare one
    * ("Xylander"), because the chance two NON-matches collide on v is
    * ≈ tf(v), not the field-average u_k. After the standard EM fit, the
    * U-side factor of the tf field is replaced per pair by that pair's
    * matched-value frequency: den uses clamp(tf(v)) where γ_tf = 1, the
    * global u_k otherwise — rare values push the posterior up, stopwords
    * of the name space push it down.
    *
    * Scale shape: the EM fit is the usual ≤2^K bounded collect; the
    * adjustment itself is FULLY DISTRIBUTED — pairs collapse to
    * (pattern, value) sufficient statistics with one hash-agg, term
    * frequencies are one hash-agg over the records + a keyed join (NOT
    * broadcast: the value dictionary can be corpus-sized), the fitted
    * ≤2^K pattern table broadcasts, and the posterior refold is pure
    * column arithmetic. Exact fixed point throughout: the fold multiplies
    * then floor-divides by `scale` after each field in `gammaCols` order,
    * so every posterior replays in SQL with `//`.
    *
    * @param pairs gamma columns plus `tfValCol` = the shared value when
    *              the tf field agrees (null otherwise — caller contract).
    * @param records one row per record with `recordValCol`, the
    *                population the term frequencies are measured over.
    * @return one row per observed (pattern, matched value):
    *         (gammas..., tf_val, n_pairs, tf_v, posterior_base,
    *         posterior_adj, is_match_adj). */
  def tfAdjustedPosteriors(pairs: DataFrame, gammaCols: Seq[String],
      tfGamma: String, tfValCol: String, records: DataFrame,
      recordValCol: String, iters: Int = 2, scale: Long = Scale): DataFrame = {
    require(gammaCols.contains(tfGamma), s"$tfGamma must be a gamma field")
    requireGammas(gammaCols)
    // ONE quadratic pass: the (pattern, value) groups subsume the EM's
    // per-pattern counts (sum over values), so the pair job never runs
    // twice; the grouped frame is bounded by patterns x distinct matched
    // values — tiny rows, safe to persist. The returned frame reads it
    // lazily, so it stays cached until the caller's run ends (RunScope).
    val groups = graft.core.RunScope.persist("fs_tf_groups", pairs
      .groupBy((gammaCols.map(gammaKey) :+ col(tfValCol).as("tf_val")): _*)
      .agg(count(lit(1)).as("n_pairs")))
    val counts = patternCounts(groups, gammaCols.map(col), sum(col("n_pairs")))
    val (trace, posts) = emFit(counts, gammaCols.size, iters, scale)
    val params = trace.last
    val fitted = localFrame(pairs.sparkSession,
      gammaCols.map(_ -> IntegerType) ++
        ("posterior_base" +: "lambda" +: paramNames(gammaCols)).map(_ -> LongType),
      counts.toSeq.zip(posts).map { case ((g, _), w) =>
        Row.fromSeq(g.toSeq ++ Seq(w, params.lambda) ++ params.m ++ params.u)
      })
    val nRec = records.agg(count(lit(1)).as("n_rec"))
    val tf = records.groupBy(col(recordValCol).as("tf_val"))
      .agg(count(lit(1)).as("n_val"))
      .crossJoin(broadcast(nRec))
      .select(col("tf_val"),
        greatest(expr(s"n_val * ${scale}L DIV n_rec"), lit(1L)).as("tf_v"))
    var df = groups
      .join(broadcast(fitted), gammaCols)
      .join(tf, Seq("tf_val"), "left")
      .withColumn("num", col("lambda"))
      .withColumn("den", lit(scale) - col("lambda"))
    gammaCols.foreach { c =>
      df = df.withColumn("num",
        expr(s"num * (CASE WHEN $c = 1 THEN m_$c ELSE ${scale}L - m_$c END)" +
          s" DIV ${scale}L"))
      val uTerm =
        if (c == tfGamma)
          s"CASE WHEN $c = 1 THEN GREATEST(1L, LEAST(${scale - 1}L," +
            s" COALESCE(tf_v, u_$c))) ELSE ${scale}L - u_$c END"
        else s"CASE WHEN $c = 1 THEN u_$c ELSE ${scale}L - u_$c END"
      df = df.withColumn("den", expr(s"den * ($uTerm) DIV ${scale}L"))
    }
    df.select((gammaCols.map(col) ++ Seq(
      col("tf_val"), col("n_pairs"), col("tf_v"), col("posterior_base"),
      expr(s"num * ${scale}L DIV GREATEST(1L, num + den)").as("posterior_adj"),
      expr(s"(num * ${scale}L DIV GREATEST(1L, num + den)) * 2 > ${scale}L")
        .as("is_match_adj"))): _*)
  }
}
