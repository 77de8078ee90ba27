package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.{Blake2b256, RunScope}
import scala.util.hashing.MurmurHash3

/** Blocking-key generation + block metadata (SURVEY.md §2 B1-B3).
  *
  * The reference receives user-supplied block labels and BLAKE2b-hashes
  * them (`encoding_storage.py:238-242`); block membership is many-to-many
  * (`models/models.py:184-191`). Here blocks are derived from text via
  * MinHash-LSH bands over word tokens (BASELINE.json.north_star: "salted
  * blocking keys (minhash/LSH bands over token shingles)"), then hashed
  * with the same BLAKE2b-256 hexdigest as the reference.
  */
object Blocking {

  val DefaultBands = 8
  val DefaultRows = 4
  val DefaultSeed = 0x10c4

  /** The one block key of a text with no tokens: the hash of label "1". */
  val EmptyTextKey: String = Blake2b256.hashName("1")

  /** MinHash-LSH band keys of a text: bands * rowsPerBand minhashes over
    * the token set; one block label per band. Pure, deterministic. */
  def lshKeys(text: String, bands: Int = DefaultBands,
      rowsPerBand: Int = DefaultRows, seed: Int = DefaultSeed): Array[String] = {
    val toks = ClkEncoder.tokens(text)
    if (toks.isEmpty) return Array(EmptyTextKey)
    val nHashes = bands * rowsPerBand
    val mins = new Array[Int](nHashes)
    java.util.Arrays.fill(mins, Int.MaxValue)
    toks.foreach { t =>
      var j = 0
      while (j < nHashes) {
        val h = MurmurHash3.stringHash(t, seed + j * 0x9e3779b1)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
    }
    Array.tabulate(bands) { b =>
      val sig = new StringBuilder(s"b$b")
      var r = 0
      while (r < rowsPerBand) { sig.append(':').append(mins(b * rowsPerBand + r)); r += 1 }
      Blake2b256.hashName(sig.toString)
    }
  }

  /** B1: records+text -> exploded (.. , block_key) rows. Input must carry
    * a text column; output keeps all input columns. */
  def withLshBlocks(df: DataFrame, textCol: String,
      bands: Int = DefaultBands, rowsPerBand: Int = DefaultRows,
      seed: Int = DefaultSeed): DataFrame = {
    val keysUdf = udf((t: String) =>
      lshKeys(if (t == null) "" else t, bands, rowsPerBand, seed))
    df.withColumn("block_key", explode(keysUdf(col(textCol))))
  }

  /** B3: per-(dp, block) record counts (`database/insertions.py:50-67`). */
  def blockStats(blocked: DataFrame): DataFrame =
    blocked.groupBy(col("dp"), col("block_key")).agg(count(lit(1)).as("n"))

  /** Blocking-quality metrics for the provider pair (0, 1): reduction
    * ratio vs the full n0*n1 cross product, pairs completeness (recall
    * of true matches surviving blocking) and pairs quality (candidate
    * precision) — the standard blocking evaluation the LSH band/row
    * parameters are tuned against, sitting next to the reference's own
    * comparison-count metrics (A5/A6, `tasks/comparing.py:44-99`).
    * `truth` = (rec0, rec1) true-match entity-id pairs.
    *
    * Scale shape: candidates ride as bare ids (block-equi-join →
    * distinct), the truth join is id-equi (broadcast-able), and the
    * output is one row — no collect, no cross product is materialized. */
  def blockingMetrics(blocked: DataFrame, truth: DataFrame): DataFrame = {
    val ids = blocked.select(col("dp"), col("entity_id"), col("block_key"))
    val cand = ids.where(col("dp") === 0)
        .select(col("block_key"), col("entity_id").as("rec0"))
      .join(ids.where(col("dp") === 1)
        .select(col("block_key"), col("entity_id").as("rec1")), "block_key")
      .select("rec0", "rec1").distinct()
    val t = truth.select(col("rec0").cast("long").as("rec0"),
        col("rec1").cast("long").as("rec1"))
      .withColumn("istrue", lit(1L))
    val recs = blocked.select("dp", "entity_id").distinct()
      .agg(sum(when(col("dp") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("dp") === 1, 1L).otherwise(0L)).as("n1"))
    val candAgg = cand.join(t, Seq("rec0", "rec1"), "left")
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce(col("istrue"), lit(0L))).as("tp"))
    val trueAgg = t.agg(count(lit(1)).as("n_true"))
    recs.crossJoin(candAgg).crossJoin(trueAgg).select(
      col("n_cand"), col("n_true"), col("tp"),
      (lit(1.0) - col("n_cand") / (col("n0") * col("n1"))).as("reduction_ratio"),
      (col("tp") / col("n_true")).as("pairs_completeness"),
      (col("tp") / col("n_cand")).as("pairs_quality"))
  }

  /** B2: blocks common to a provider pair (dp0 < dp1)
    * (`tasks/comparing.py:173-187`). */
  def commonBlocks(blocked: DataFrame): DataFrame = {
    val per = blocked.select(col("dp"), col("block_key")).distinct()
    val l = per.select(col("block_key"), col("dp").as("dp0"))
    val r = per.select(col("block_key"), col("dp").as("dp1"))
    l.join(r, "block_key").where(col("dp0") < col("dp1"))
      .select(col("block_key"), col("dp0"), col("dp1"))
  }

  /** Distributed 0-based global rank in the total order given by `order`
    * (must be a TOTAL order — include a unique tiebreaker). Implemented as
    * sort + zipWithIndex: the one genuinely per-partition-imperative step
    * (offset accumulation) that the DataFrame API lacks. The rank of a row
    * in a total order is invariant to partition boundaries, so ranks are
    * identical at any parallelism. The rank primitive behind
    * [[sortedNeighborhoodPairs]]. */
  def withGlobalRank(df: DataFrame, out: String,
      order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(order: _*)
    val indexed = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(indexed, sorted.schema.add(out, LongType, nullable = false))
  }

  /** Sorted-neighborhood blocking (Hernandez & Stolfo's merge/purge):
    * sort all records by a discriminating key and emit every pair whose
    * positions in the total order are within `window` of each other — the
    * classic complement to equi-key blocking, catching near-matches whose
    * keys differ in a low-order character and never collide on any exact
    * block key. Complexity is O(n·w) pairs regardless of key skew (an
    * equi-block over a heavy key is O(n²) in that block; SN is immune).
    *
    * Scale shape: one distributed range-partitioned sort +
    * per-partition offsets ([[withGlobalRank]] — never a single-partition
    * window), then a hash equi-join of the rank column against rank+offset
    * for offsets 1..window-1. Both join sides are bare (rank, id, key)
    * rows; the explode factor is window-1, constant per record.
    *
    * The sort key must be made TOTAL with the id tiebreak (done here) so
    * ranks — and therefore the emitted pair set — are deterministic at
    * any partitioning.
    *
    * @return (id0, id1, dist) with id0's rank < id1's rank,
    *         dist = rank distance in [1, window-1]. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyCol: String,
      window: Int): DataFrame = {
    require(window >= 2, "window must cover at least adjacent rows")
    val ranked = withGlobalRank(
      df.select(col(idCol).as("_sn_id"), col(keyCol).as("_sn_key")),
      "_sn_rank", Seq(col("_sn_key"), col("_sn_id")))
    val l = ranked.select(col("_sn_id").as("id0"), col("_sn_rank"))
      .withColumn("dist",
        explode(lit((1 until window).toArray)))
      .withColumn("_sn_rank2", col("_sn_rank") + col("dist"))
    val r = ranked.select(col("_sn_id").as("id1"),
      col("_sn_rank").as("_sn_rank2"))
    l.join(r, "_sn_rank2").select(col("id0"), col("id1"), col("dist"))
  }

  /** Block k-anonymity diagnostics — the privacy readout of a blocking
    * scheme before encodings ever leave a data provider: a record in a
    * block smaller than k is re-identifiable by its block membership
    * alone (the reference's threat model hashes block NAMES with
    * BLAKE2b for exactly this reason, `encoding_storage.py:238-242`;
    * hashing hides the label but not a size-1 membership). Reports, per
    * provider: block count, records, how many of each sit below k, and
    * the minimum block size.
    *
    * Scale shape: one (dp, block) count agg + one per-dp rollup — the
    * same two-phase shape as [[blockStats]]; output is one row per dp. */
  def kAnonymityStats(blocked: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "k-anonymity below 2 is vacuous")
    val sizes = blocked.select(col("dp"), col("entity_id"), col("block_key"))
      .distinct()
      .groupBy("dp", "block_key").agg(count(lit(1)).as("n"))
    sizes.groupBy("dp").agg(
      count(lit(1)).as("n_blocks"),
      sum(col("n")).as("n_memberships"),
      sum(when(col("n") < k, 1L).otherwise(0L)).as("blocks_below_k"),
      sum(when(col("n") < k, col("n")).otherwise(0L))
        .as("memberships_below_k"),
      min(col("n")).as("min_block_size"))
      .withColumn("k", lit(k))
  }

  /** Greedy blocking-scheme learning over labeled records (Michelson &
    * Knoblock AAAI 2006; Bilenko et al. ICDM 2006 "Adaptive blocking"):
    * given candidate blocking predicates and ground-truth entity labels,
    * select predicates one at a time, each round taking the predicate
    * whose candidate pairs cover the most TRUE matched pairs not covered
    * by the already-selected scheme (ties broken by predicate name).
    * The marginal-gain column is the tuning readout: when new_true
    * collapses, the scheme is saturated and further predicates only add
    * candidate-pair cost.
    *
    * Semantics (frozen): memberships = one key per record per predicate
    * (null/empty keys drop out); candidate pairs are cross-provider
    * (dp 0 × dp 1) equi-key; a pair is true iff the truth labels agree;
    * coverage is over distinct true pairs. Predicates with zero marginal
    * gain still rank (at 0) so a fixed `rounds` always emits `rounds`
    * rows.
    *
    * Scale shape: the pred-tagged pair table is built once (predicate
    * count is a small constant, so it is ≤ |preds| blocked equi-joins)
    * and persisted; each round is ONE distinct-anti-join + agg over it
    * and collects a single winner row. No pair enumeration beyond what
    * the predicates themselves generate — oversized predicates are
    * exactly what the cand_pairs cost column exposes.
    *
    * @param labeled  records with dp/rec/truth columns.
    * @param preds    (name, key expression) candidate predicates.
    * @return (round, pred, new_true, cum_true, cand_pairs) one row per
    *         selection round. */
  def greedyBlockingScheme(labeled: DataFrame, dpCol: String, recCol: String,
      truthCol: String, preds: Seq[(String, org.apache.spark.sql.Column)],
      rounds: Int = 3): DataFrame = {
    require(preds.nonEmpty && rounds >= 1 && rounds <= preds.length,
      s"need 1 <= rounds=$rounds <= ${preds.length} predicates")
    val spark = labeled.sparkSession
    import spark.implicits._
    val mem = preds.map { case (name, e) =>
      labeled.select(lit(name).as("pred"), col(dpCol).cast("int").as("dp"),
        col(recCol).cast("long").as("rec"),
        col(truthCol).cast("long").as("truth"), e.cast("string").as("key"))
        .where(col("key").isNotNull && col("key") =!= "")
    }.reduce(_ unionAll _)
    val a = mem.where(col("dp") === 0).select(col("pred"), col("key"),
      col("rec").as("rec0"), col("truth").as("t0"))
    val b = mem.where(col("dp") === 1).select(col("pred"), col("key"),
      col("rec").as("rec1"), col("truth").as("t1"))
    val pairs = RunScope.persist("blocking_scheme",
      a.join(b, Seq("pred", "key"))
        .select(col("pred"), col("rec0"), col("rec1"),
          (col("t0") === col("t1")).as("istrue"))
        .dropDuplicates("pred", "rec0", "rec1"))
    val candCounts = pairs.groupBy("pred")
      .agg(count(lit(1)).as("cand_pairs")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truePairs = pairs.where(col("istrue")).select("pred", "rec0", "rec1")
    var covered = spark.emptyDataset[(Long, Long)].toDF("rec0", "rec1")
    var selected = List.empty[String]
    var cum = 0L
    val out = (1 to rounds).map { r =>
      val remaining = preds.map(_._1).filterNot(selected.contains)
      val gains = truePairs
        .where(col("pred").isin(remaining: _*))
        .join(covered, Seq("rec0", "rec1"), "left_anti")
        .groupBy("pred").agg(count(lit(1)).as("n")).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      val (win, gain) = remaining
        .map(p => p -> gains.getOrElse(p, 0L))
        .minBy { case (p, n) => (-n, p) }
      covered = covered
        .unionAll(truePairs.where(col("pred") === win)
          .select("rec0", "rec1"))
        .distinct()
      selected ::= win
      cum += gain
      (r, win, gain, cum, candCounts.getOrElse(win, 0L))
    }
    out.toDF("round", "pred", "new_true", "cum_true", "cand_pairs")
  }

  /** Differentially-private block-size release — the geometric mechanism
    * (Ghosh–Roughgarden–Sundararajan, STOC 2009: two-sided geometric
    * noise is the universally optimal ε-DP mechanism for counting
    * queries). Each (dp, block) size n is released as max(n + Z, 0) with
    * Z = G₁ − G₂, Gᵢ iid Geometric(1/2) (P(G=j) = 2^-(j+1)), giving
    * ε = ln 2 per count at sensitivity 1; the max(·,0) clamp is monotone
    * post-processing and costs no privacy. The practical PPRL use: a
    * provider can publish its block-size histogram for capacity planning
    * / skew-plan negotiation without revealing exact memberships (the
    * reference hides block NAMES by BLAKE2b-hashing,
    * `encoding_storage.py:238-242`; sizes still leak — this releases
    * them under DP instead).
    *
    * Determinism: production DP draws fresh randomness; this engine
    * freezes the draw to a keyed md5 stream over (seed, dp, block_key) —
    * the repo-wide reproducible-and-SQL-replayable convention (same as
    * the BLIP mask) — and Gᵢ is read as the trailing-ones count of a
    * 32-bit hash window via exact integer mask tests (no libm, no UDF).
    *
    * Scale shape: one (dp, block) count agg + per-row column algebra; no
    * second shuffle. Production callers publish only
    * (dp, block_key, n_released); n and noise ride along for audit.
    *
    * @return (dp, block_key, n, noise, n_released). */
  def dpBlockSizes(blocked: DataFrame, seed: Int = 0x5eed): DataFrame = {
    val sizes = blocked.select(col("dp"), col("entity_id"), col("block_key"))
      .distinct()
      .groupBy("dp", "block_key").agg(count(lit(1)).as("n"))
    val h = md5(concat_ws(":", lit(seed), col("dp"), col("block_key"))
      .cast("binary"))
    // trailing-ones of a 32-bit window = Σ_j [low-j-bits all ones]
    val masks = array((1 to 32).map(j => lit((1L << j) - 1)): _*)
    def geo(w: org.apache.spark.sql.Column) =
      aggregate(masks, lit(0L),
        (acc, m) => acc + when(w.bitwiseAND(m) === m, 1L).otherwise(0L))
    val g1 = geo(conv(substring(h, 1, 8), 16, 10).cast("long"))
    val g2 = geo(conv(substring(h, 9, 8), 16, 10).cast("long"))
    sizes.select(col("dp"), col("block_key"), col("n"),
      (g1 - g2).as("noise"),
      greatest(col("n") + g1 - g2, lit(0L)).as("n_released"))
  }

  /** Block l-diversity diagnostics — the attribute-disclosure companion
    * to [[kAnonymityStats]] (Machanavajjhala et al., ICDE 2006): a block
    * can satisfy k-anonymity yet be HOMOGENEOUS in a sensitive
    * attribute, so block membership alone reveals that attribute. A
    * block is l-diverse when its members span at least l distinct
    * sensitive values; reported per provider: block count, how many
    * blocks fall below l, and the min/max diversity observed.
    *
    * Scale shape: one distinct-(dp, block, value) hash-agg, one
    * (dp, block) count agg, one per-dp rollup — same two-phase shape as
    * [[blockStats]], output one row per dp. */
  def lDiversityStats(blocked: DataFrame, sensitiveCol: String,
      l: Int): DataFrame = {
    require(l >= 2, "l-diversity below 2 is vacuous")
    val div = blocked
      .select(col("dp"), col("block_key"), col(sensitiveCol).as("_sv"))
      .distinct()
      .groupBy("dp", "block_key").agg(count(lit(1)).as("n_distinct"))
    div.groupBy("dp").agg(
      count(lit(1)).as("n_blocks"),
      sum(when(col("n_distinct") < l, 1L).otherwise(0L))
        .cast("long").as("blocks_below_l"),
      min(col("n_distinct")).as("min_diversity"),
      max(col("n_distinct")).as("max_diversity"))
      .withColumn("l", lit(l))
  }

  /** Block t-closeness audit (Li–Li–Venkatasubramanian ICDE'07) — the
    * distributional tightening of [[lDiversityStats]]: an l-diverse block
    * still leaks when its sensitive-value DISTRIBUTION diverges from the
    * population's (a block that is 90% one language in a 50/50 corpus
    * discloses plenty at l = 2). Per (dp, block), the total-variation
    * distance (= categorical EMD with unit ground distance) between the
    * block's distribution and that provider's global distribution, kept
    * integer-exact: with block counts c_v (n_b rows) and global counts
    * C_v (N rows),
    *   tvd_num = Σ_v |c_v·N − C_v·n_b|   over denominator 2·n_b·N,
    * and the absent-value cells collapse algebraically —
    *   Σ_v |…| = n_b·N + Σ_{v present in the block} (|c_v·N − C_v·n_b|
    *             − C_v·n_b)
    * — so only the block's own value cells are ever materialized (no
    * block × vocabulary grid). The distance ships as one floored
    * DECIMAL(38,0) divide at `scale`, bit-replayable.
    *
    * Scale shape: one hash-agg to (block, value) cells, one to block
    * sizes, one broadcast-sized global-distribution join, one rollup per
    * provider. Nothing touches pair or record scale after the first agg.
    *
    * @param blocked (dp, block_key, sensitiveCol) rows, one per record.
    * @param tScaled the closeness threshold at `scale` (t·scale).
    * @return per dp: n_blocks, blocks_above_t, min/max block distance
    *         (scaled), t_scaled, scale. */
  def tClosenessStats(blocked: DataFrame, sensitiveCol: String,
      tScaled: Long, scale: Long = 1000000L): DataFrame = {
    require(tScaled >= 0 && tScaled <= scale, "tScaled in [0, scale]")
    val rows = blocked.select(col("dp"), col("block_key"),
      col(sensitiveCol).as("_sv"))
    val cell = rows.groupBy("dp", "block_key", "_sv")
      .agg(count(lit(1)).as("c"))
    val blockN = cell.groupBy("dp", "block_key")
      .agg(sum("c").cast("long").as("n_b"))
    val glob = rows.groupBy("dp", "_sv").agg(count(lit(1)).as("cv"))
    val tot = glob.groupBy("dp").agg(sum("cv").cast("long").as("n_tot"))
    val perBlock = cell
      .join(broadcast(glob), Seq("dp", "_sv"))
      .join(blockN, Seq("dp", "block_key"))
      .join(broadcast(tot), Seq("dp"))
      .withColumn("term", expr(
        """abs(CAST(c AS DECIMAL(38,0)) * n_tot
           - CAST(cv AS DECIMAL(38,0)) * n_b)
           - CAST(cv AS DECIMAL(38,0)) * n_b"""))
      .groupBy("dp", "block_key")
      .agg(max("n_b").as("n_b"), max("n_tot").as("n_tot"),
        sum("term").as("term_sum"))
      .withColumn("tvd_num",
        expr("CAST(n_b AS DECIMAL(38,0)) * n_tot + term_sum"))
      .withColumn("t_block", expr(
        s"""CAST(CAST(tvd_num AS DECIMAL(38,0)) * ${scale}L
            DIV (2 * CAST(n_b AS DECIMAL(38,0)) * n_tot) AS BIGINT)"""))
    perBlock.groupBy("dp").agg(
      count(lit(1)).as("n_blocks"),
      sum(when(col("t_block") > tScaled, 1L).otherwise(0L))
        .cast("long").as("blocks_above_t"),
      min(col("t_block")).as("min_t_scaled"),
      max(col("t_block")).as("max_t_scaled"))
      .withColumn("t_scaled", lit(tScaled))
      .withColumn("scale", lit(scale))
  }

  /** Multi-pass blocking with provenance — the standard recall hedge
    * (Hernández & Stolfo's multi-pass sorted neighborhood generalised to
    * key union): run several cheap blocking schemes, union the candidate
    * pairs, and keep WHICH schemes proposed each pair. The provenance
    * column is what downstream meta-blocking / weighting consumes (a
    * pair proposed by 3 independent schemes is stronger evidence than a
    * pair proposed by one giant block).
    *
    * One equi-join per scheme (each a plain shuffle hash join on its
    * key — route skewed schemes through [[graft.link.Salting]] as the
    * CLK pipeline does), one dedup agg. The scheme list rides as a
    * sorted CSV string, not an array (arrays poison downstream row
    * sorts; the CSV is canonical because scheme names are sorted and
    * comma-free by contract).
    *
    * @return (id0, id1, schemes, n_schemes) with id0 < id1. */
  def multiPassPairs(df: DataFrame, idCol: String,
      schemes: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(schemes.nonEmpty, "need at least one blocking scheme")
    require(schemes.forall(!_._1.contains(",")), "scheme names must be comma-free")
    val per = schemes.map { case (name, key) =>
      val b = df.select(col(idCol).cast("long").as("id"), key.as("bk"))
      b.as("a").join(b.as("b"),
          col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id0"), col("b.id").as("id1"),
          lit(name).as("scheme"))
    }.reduce(_ union _)
    per.groupBy("id0", "id1")
      .agg(sort_array(collect_set(col("scheme"))).as("ss"))
      .select(col("id0"), col("id1"),
        concat_ws(",", col("ss")).as("schemes"),
        size(col("ss")).as("n_schemes"))
  }

  /** Blocking-rule profiler (splink's pre-linkage blocking-rule analysis:
    * count the comparisons a candidate rule would generate BEFORE paying
    * for them): for each named key expression, block-size distribution
    * stats and the implied self-join pair count Σ m·(m−1)/2, plus the
    * reduction ratio vs the unblocked n·(n−1)/2. The rule-selection
    * readout an ER practitioner sweeps before committing a blocking
    * scheme — a rule with a huge max block or a weak reduction ratio is
    * rejected here, at one hash-agg per rule, never at pair-generation
    * cost.
    *
    * Pair counts are exact integer comb-2 sums; only the final ratio is
    * a double (IEEE-identical cross-engine). One groupBy + one 1-row agg
    * per rule — nothing touches pairs, so the profile costs O(n) per
    * rule at any corpus size.
    *
    * @param rules (name, key expression); null keys form their own block
    *              (count them like any key — a null-heavy rule shows up
    *              as one giant block, which is exactly the signal).
    * @return one row per rule: (rule, n_blocks, max_block, n_pairs,
    *         reduction_ratio). */
  def blockingRuleProfile(df: DataFrame,
      rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one candidate rule")
    val n = df.count()
    val totalPairs = n.toDouble * (n - 1) / 2
    rules.map { case (name, key) =>
      df.groupBy(key.as("k")).agg(count(lit(1)).as("m"))
        .agg(count(lit(1)).as("n_blocks"),
          max(col("m")).cast("long").as("max_block"),
          sum(expr("m * (m - 1) DIV 2")).cast("long").as("n_pairs"))
        .select(lit(name).as("rule"), col("n_blocks"), col("max_block"),
          col("n_pairs"),
          (lit(1.0) - col("n_pairs").cast("double") / totalPairs)
            .as("reduction_ratio"))
    }.reduce(_ union _)
  }

  /** Meta-blocking with weighted-edge pruning (WEP, Papadakis et al.,
    * TKDE 2014): turn a redundancy-positive block collection (LSH bands,
    * q-grams — any scheme where true matches co-occur in MANY blocks)
    * into a weighted pair graph, weight = number of shared blocks (CBS),
    * and discard every pair at or below the mean edge weight. Oversized
    * blocks are purged first (`maxBlock`) — they carry no discriminating
    * signal and dominate the pair count.
    *
    * The mean-weight cut is evaluated in EXACT integer arithmetic
    * (weight · n_edges > Σ weights), never a floating mean, so the kept
    * set is bit-stable across partitionings and replayable by the SQL
    * oracle.
    *
    * Scale shape: block purge is one agg + semi-join; pair weights are
    * the standard block equi-join on bare ids feeding one map-side-
    * combined count; the Σ/n scalar rides a broadcast cross join (one
    * row). The equi-join inherits the purge cap, so no block contributes
    * more than maxBlock² pairs; for skewed production corpora route the
    * self-join through [[graft.link.Salting]] as [[graft.link.Linker]]
    * does.
    *
    * @param blocked (idCol, blockCol) membership rows (dedup setting:
    *                one logical source; both orientations emitted once
    *                as id0 < id1).
    * @return (id0, id1, weight) — the pruned candidate graph. */
  def metaBlockingWep(blocked: DataFrame, idCol: String, blockCol: String,
      maxBlock: Int = 1000): DataFrame = {
    val m = blocked.select(col(idCol).as("_mb_id"),
      col(blockCol).as("_mb_bk")).distinct()
    val kept = m.groupBy("_mb_bk").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2 && col("n") <= maxBlock)
      .select("_mb_bk")
    val mm = m.join(kept, "_mb_bk")
    val w = mm.select(col("_mb_bk"), col("_mb_id").as("id0"))
      .join(mm.select(col("_mb_bk"), col("_mb_id").as("id1")), "_mb_bk")
      .where(col("id0") < col("id1"))
      .groupBy("id0", "id1").agg(count(lit(1)).as("weight"))
    val tot = w.agg(sum(col("weight")).as("_w_sum"),
      count(lit(1)).as("_w_cnt"))
    w.crossJoin(broadcast(tot))
      .where(col("weight") * col("_w_cnt") > col("_w_sum"))
      .select("id0", "id1", "weight")
  }

  /** Frequency-aware (rare-token) blocking: key each record on its
    * GLOBALLY RAREST token — the classic TF-IDF-flavoured refinement of
    * attribute blocking (rare values discriminate, frequent values
    * flood): a record pair sharing ANY rare token lands in one block,
    * while stop-word-grade tokens never become keys, so block sizes stay
    * near the token-frequency floor instead of the Zipf head. Ties
    * (equal global count) break to the lexicographically smallest token
    * so the key is a pure function of the corpus, bit-stable across
    * partitionings and replayable in SQL.
    *
    * Output: one row per record — (id, block_key, key_count) where
    * key_count is the chosen token's global frequency (= an upper bound
    * on the record's block size).
    *
    * Scale shape: token counts are one hash agg over the exploded
    * corpus (map-side combined); the per-record argmin is a shuffle
    * join token→count (vocab-sized, NOT broadcast — a web-scale vocab
    * is billions of tokens) followed by one window partitioned by
    * record id (bounded by tokens-per-record). No step is keyed by
    * anything rarer than (token) or (record), so the Zipf head hits the
    * count agg only, where partial aggregation absorbs it. */
  def rareTokenKeys(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("_rt_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .distinct()
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("_rt_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_rt_id"))
      .orderBy(col("_rt_n").asc, col("tok").asc)
    toks.join(counts, "tok")
      .withColumn("_rt_rn", row_number().over(w))
      .where(col("_rt_rn") === 1)
      .select(col("_rt_id").as("id"), col("tok").as("block_key"),
        col("_rt_n").as("key_count"))
  }

  /** Canopy-style blocking (McCallum, Nigam & Ungar 2000): overlapping
    * canopies built with a CHEAP distance (shared distinct tokens); the
    * expensive comparison then runs only within canopies. This is the
    * deterministic DISTRIBUTED variant: seeds are a hash-drawn record
    * sample (md5-prefix gate — the [[graft.link.FellegiSunter.estimateU]]
    * sampling discipline) instead of the paper's sequential
    * remove-as-you-go seed scan, which has no parallel equivalent; the
    * canonical overlap property (a record may fall in several canopies)
    * is preserved, and records matching no seed become their own
    * singleton canopy so coverage is total.
    *
    * Scale shape: one distinct-token explode per side, one inverted-
    * index equi-join on token (seed side is sample-rate-bounded), one
    * (record, seed) hash-agg, one anti-join for orphans. Hot tokens are
    * bounded by the seed sample rate; cap them upstream with a df filter
    * if the corpus has stopword-like keys.
    *
    * @param df corpus; @param id record id column; @param text token
    *           source (whitespace split, distinct).
    * @param seedHexPrefixes md5 first-hex-char values that make a record
    *                        a seed (2 chars ≈ 1/8 of the corpus).
    * @param minShared cheap-distance threshold: distinct shared tokens
    *                  required to join a seed's canopy.
    * @return (rec, canopy, shared) — canopy = seed id, or the record's
    *         own id with shared = 0 for orphans. */
  def canopyAssign(df: DataFrame, id: String, text: String,
      seedHexPrefixes: Seq[String] = Seq("0", "1"),
      minShared: Int = 2): DataFrame = {
    require(seedHexPrefixes.nonEmpty && minShared >= 1,
      "need seed prefixes and minShared >= 1")
    // the corpus arrives as a near-single-split scan (small files locally;
    // one input split can carry the whole corpus), and the seed side
    // broadcasts — so the token-join fan-out (|tok rows| x |seed rows per
    // token|, tens of millions on a small-vocab corpus) plus its partial
    // aggregation would run in the SCAN's task count, i.e. ~1 core
    // (measured round 6: 13.6 s single-task). Hash-repartitioning the
    // record side by rec before the explode spreads the join + partial agg
    // across the cluster; deterministic key, no semantic change.
    val par = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    val toks = df.select(col(id).as("rec"), col(text).as("__t"))
      .repartition(par, col("rec"))
      .select(col("rec"),
        explode(array_distinct(split(col("__t"), " "))).as("tok"))
    val seedToks = df
      .where(substring(md5(col(id).cast("string").cast("binary")), 1, 1)
        .isin(seedHexPrefixes: _*))
      .select(col(id).as("canopy"), explode(array_distinct(split(col(text),
        " "))).as("tok"))
    // `assigned` feeds BOTH the output union and the orphan anti-join;
    // AQE compiles the branches as separate stages with no exchange
    // reuse, so without a persist the whole token join + aggregation runs
    // twice (released when the caller's run ends)
    val assigned = RunScope.persist("canopy",
      toks.join(seedToks, "tok")
        .groupBy("rec", "canopy").agg(count(lit(1)).as("shared"))
        .where(col("shared") >= minShared))
    val orphans = df.select(col(id).as("rec"))
      .join(assigned.select(col("rec")).distinct(), Seq("rec"), "left_anti")
      .select(col("rec"), col("rec").as("canopy"), lit(0L).as("shared"))
    assigned.unionByName(orphans)
  }

  /** Suffix-array blocking (Aizawa & Oyama 2005): each record joins the
    * block of EVERY suffix (length ≥ minLen) of its blocking-key value,
    * so prefix typos/truncations still collide on the shared tail —
    * the classic cheap alternative to q-gram blocking for name keys.
    * Oversized suffix blocks (shared tails like a common surname ending)
    * are pruned by maxBlockSize — the standard guard that keeps the
    * candidate count near-linear at corpus scale.
    *
    * Scale shape: suffix explosion is bounded by max key length − minLen
    * + 1 rows per record; block sizes are one hash-agg; the prune join
    * broadcasts only oversized keys (few by construction). No UDF.
    *
    * @param df records; @param keyCol blocking-key string expression.
    * @return (dp, rec, suffix) memberships after pruning. */
  def suffixKeys(df: DataFrame, dpCol: String, recCol: String,
      keyCol: org.apache.spark.sql.Column, minLen: Int = 5,
      maxBlockSize: Long = 50): DataFrame = {
    require(minLen >= 1 && maxBlockSize >= 2, "need minLen>=1, maxBlockSize>=2")
    val n = length(keyCol) - minLen + 1
    val starts = when(n >= 1, sequence(lit(1), n))
      .otherwise(array().cast("array<int>"))
    val mem = df.select(col(dpCol).as("dp"), col(recCol).as("rec"),
        explode(transform(starts, i => keyCol.substr(i, lit(Int.MaxValue))))
          .as("suffix"))
    val oversized = mem.groupBy("suffix")
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxBlockSize)
      .select(col("suffix"))
    mem.join(broadcast(oversized), Seq("suffix"), "left_anti")
  }

  /** Cross-provider candidate pairs from [[suffixKeys]] memberships:
    * (dp0, rec0, dp1, rec1, n_shared, max_len) — n_shared = number of
    * surviving shared suffixes, max_len = longest shared suffix (the
    * match-evidence strength ordering review queues sort by). */
  def suffixBlockPairs(df: DataFrame, dpCol: String, recCol: String,
      keyCol: org.apache.spark.sql.Column, minLen: Int = 5,
      maxBlockSize: Long = 50): DataFrame = {
    val mem = suffixKeys(df, dpCol, recCol, keyCol, minLen, maxBlockSize)
    val a = mem.select(col("suffix"), col("dp").as("dp0"), col("rec").as("rec0"))
    val b = mem.select(col("suffix"), col("dp").as("dp1"), col("rec").as("rec1"))
    a.join(b, Seq("suffix"))
      .where(col("dp0") < col("dp1"))
      .groupBy("dp0", "rec0", "dp1", "rec1")
      .agg(count(lit(1)).as("n_shared"),
        max(length(col("suffix"))).as("max_len"))
  }

  /** Deterministic sampled bit positions for [[hammingLshKeys]]: position
    * j = high bits of the Weyl sequence (j+1)·φ64 (Fibonacci hashing —
    * the SQL-replayable "random" projection used throughout this repo).
    * nBits must be a power of two so the top `log2(nBits)` product bits
    * are an unbiased index. */
  def hammingLshPositions(bands: Int, bitsPerBand: Int,
      nBits: Int = 1024): Array[Int] = {
    require(Integer.bitCount(nBits) == 1, "nBits must be a power of two")
    require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 63,
      "need 1 <= bitsPerBand <= 63")
    val shift = 64 - Integer.numberOfTrailingZeros(nBits)
    Array.tabulate(bands * bitsPerBand)(j =>
      (((j + 1).toLong * 0x9E3779B97F4A7C15L) >>> shift).toInt)
  }

  /** Hamming bit-sampling LSH band keys over a packed CLK (Indyk–Motwani
    * STOC'98: sampling r raw bits is locality-sensitive for Hamming
    * distance — two encodings at distance d collide on a band with
    * probability (1−d/n)^r). Unlike the MinHash bands above there is NO
    * signature state at all: each band key is r constant-position bit
    * reads straight out of the packed words column, so at 10^12 scale the
    * blocking pass is a projection — no UDF, no per-record hashing, just
    * `bands` long keys per record feeding the candidate equi-shuffle.
    *
    * Bit p of the encoding = (words[p/64] >>> (p%64)) & 1 — the same
    * packed-word indexing the q_binary_codec oracle pins byte-for-byte.
    *
    * @return array column of `bands` long keys (band i at index i). */
  def hammingLshKeys(words: org.apache.spark.sql.Column, bands: Int,
      bitsPerBand: Int, nBits: Int = 1024): org.apache.spark.sql.Column =
    graft.expr.hammingLshKeys(words, bands, bitsPerBand, nBits)

  /** Hamming-LSH candidate generation + exact Dice confirm over packed
    * CLK encodings — the zero-state alternative blocking scheme for the
    * C1 kernel (the production path salts user/MinHash blocks;
    * this one needs no block labels and no signature pass at all).
    *
    * Scale shape: explode to `bands` (band, key) rows per record, ONE
    * equi-shuffle on (band, key) with the cross-provider filter inside
    * the join, collapse band multi-hits with a hash-agg (n_bands = LSH
    * evidence strength), then the codegen zip_with/bit_count Dice on the
    * surviving pairs only. Hot bands (all-zero-sample keys on sparse
    * encodings) are exactly the skew the two-level salting generator
    * handles; at fixture scale the plain join is the right plan.
    *
    * @param clks (dp, entity_id, pc, words) packed encodings.
    * @return (dp0, rec0, dp1, rec1, n_bands, sim) — cross-provider pairs
    *         sharing ≥1 band key with confirmed Dice ≥ threshold. */
  def hammingLshPairs(clks: DataFrame, threshold: Double, bands: Int = 64,
      bitsPerBand: Int = 12, nBits: Int = 1024): DataFrame = {
    val keyed = clks
      .select(col("dp"), col("entity_id"),
        posexplode(hammingLshKeys(col("words"), bands, bitsPerBand, nBits)))
      .toDF("dp", "rec", "band", "key")
    val a = keyed.toDF("dp0", "rec0", "band", "key")
    val b = keyed.toDF("dp1", "rec1", "band", "key")
    val cand = a.join(b, Seq("band", "key"))
      .where(col("dp0") < col("dp1"))
      .groupBy("dp0", "rec0", "dp1", "rec1")
      .agg(count(lit(1)).as("n_bands"))
    val x = clks.select(col("dp").as("dp0"), col("entity_id").as("rec0"),
      col("pc").as("pc0"), col("words").as("w0"))
    val y = clks.select(col("dp").as("dp1"), col("entity_id").as("rec1"),
      col("pc").as("pc1"), col("words").as("w1"))
    val inter = aggregate(
      zip_with(col("w0"), col("w1"), (u, v) => bit_count(u.bitwiseAND(v))),
      lit(0L), (acc, v) => acc + v)
    cand.join(x, Seq("dp0", "rec0")).join(y, Seq("dp1", "rec1"))
      .withColumn("sim", lit(2.0) * inter / (col("pc0") + col("pc1")))
      .where(col("sim") >= threshold)
      .select(col("dp0"), col("rec0"), col("dp1"), col("rec1"),
        col("n_bands"), col("sim"))
  }
}
