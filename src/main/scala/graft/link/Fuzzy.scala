package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy string matching — the non-encoded cousin of the CLK
  * pipeline's block → candidate → confirm shape (reference:
  * `backend/entityservice/views/project.py` runs the same three stages
  * over Bloom encodings; here the confirm kernel is plain edit distance
  * so results stay SQL-replayable).
  *
  * Scale shape: candidates come from TWO equi-join block passes (prefix
  * and suffix of `affixLen` chars) — each is a plain shuffle hash join on
  * a short key, no cross product anywhere; the union dedupes before the
  * confirm so the O(maxDist·min(len)) banded Levenshtein (Spark's
  * threshold form — aborts once the distance exceeds `maxDist`) runs once
  * per distinct candidate pair. Dual-affix blocking survives one edit
  * anywhere: a single substitution/deletion/insertion can break the
  * prefix OR the suffix, never both (edits ≤ maxDist touching both
  * affixes require the string to be shorter than 2·affixLen + maxDist).
  */
object Fuzzy {

  /** All (query row, corpus row) pairs sharing a prefix or suffix block
    * whose edit distance is ≤ `maxDist`; adds a `dist` column. Inputs
    * must be distinct on their own columns (the union dedup relies on
    * it) and their column names disjoint.
    */
  /** Monge–Elkan aggregated similarity of two token arrays: the mean
    * over `toks0` of each token's BEST Jaro-Winkler match in `toks1`
    * (Monge & Elkan, KDD'96) — the standard comparator for multi-token
    * names where token order and count differ ("J. W. Smith" vs "Smith,
    * John"). Per-token maxima are rounded to 1e-6 FIXED POINT and summed
    * as longs, so the aggregate is independent of float summation order
    * and SQL-replayable; only the final mean divides in double. */
  def mongeElkanScore(toks0: Column, toks1: Column): Column = {
    val per = transform(toks0, t => round(array_max(
      transform(toks1, u => graft.expr.jaroWinkler(t, u))) * 1000000)
      .cast("long"))
    val s = aggregate(per, lit(0L), (a, b) => a + b)
    s.cast("double") / size(toks0)
  }

  /** Symmetric Monge-Elkan-JW pairs within blocks: score = the mean of
    * both directed scores (each asymmetric), threshold inclusive. Same
    * salted self-pair scale shape as every pair generator here.
    * Output: (id0, id1, me). */
  def mongeElkanPairs(df: DataFrame, id: String, toks: Column,
      blockKey: Column, threshold: Double): DataFrame = {
    val base = df.select(col(id).cast("long").as("id"), blockKey.as("bk"),
      toks.as("ts"))
    val pairs = graft.dedup.Dedup.saltedSelfPairs(base)
    val me = round((mongeElkanScore(col("ts0"), col("ts1")) +
      mongeElkanScore(col("ts1"), col("ts0"))) / 2000000.0, 6)
    graft.dedup.Dedup.scoreAndFilter(pairs, "me", me, threshold,
      "id0", "id1", "me")
  }

  /** SoftTF-IDF pairs (Cohen, Ravikumar & Fienberg, IIWeb 2003 — their
    * best-performing name comparator): TF-IDF cosine where a token may
    * match its CLOSEST Jaro-Winkler partner (sim ≥ θ) instead of
    * requiring equality, so "jon"/"john" still contribute their idf
    * weight. score(a,b) = Σ_{t∈a, bestJW(t,b) ≥ θ}
    * w(t,a)·w(best,b)·jw / (‖a‖·‖b‖).
    *
    * Cross-engine exactness: idf weights are fixed-point longs
    * (tf·(n·idfScale DIV df)); per-token JW maxima are rounded to 1e-6
    * and PACKED with the partner weight into one long
    * (jw6·2³² + w, valid while w < 2³² — enforced), so the argmax and
    * its tie-break (higher partner weight) are a plain integer max in
    * both engines; per-token contributions round to longs and SUM
    * ORDER-FREE; only the final norms divide in double.
    *
    * Scale shape: two hash-aggs build the weight lists (df table joined
    * back — broadcastable while small), pairs ride
    * [[graft.dedup.Dedup.saltedSelfPairs]], and the JW work is array
    * exprs per pair row — nothing shuffles tokens at pair grain. */
  def softTfidfPairs(df: DataFrame, id: String, toks: Column,
      blockKey: Column, theta: Double = 0.9, threshold: Double = 0.3,
      idfScale: Long = 1000L): DataFrame = {
    require(theta > 0 && theta <= 1 && idfScale >= 1)
    val base = df.select(col(id).cast("long").as("id"), blockKey.as("bk"),
      toks.as("ts"))
    val n = base.count()
    val tokRows = base.select(col("id"), col("bk"), explode(col("ts")).as("t"))
      .groupBy("id", "bk", "t").agg(count(lit(1)).as("tf"))
    val dfTab = tokRows.groupBy("t").agg(count(lit(1)).as("df"))
    val weights = tokRows.join(dfTab, "t")
      .select(col("id"), col("bk"), col("t"),
        (col("tf") * expr(s"(${n}L * ${idfScale}L) DIV df")).as("w"))
    val maxW = weights.agg(max(col("w"))).head().getLong(0)
    require(maxW < (1L << 32),
      s"idf weights must fit 32 bits for the packed argmax (max $maxW); " +
        "lower idfScale")
    // the weight-list table feeds the pair generator's stats subtree AND
    // both join sides — persist once, like the jaccard paths' signature
    // tables
    val wl = graft.core.RunScope.persist("soft_tfidf_wl",
      weights.groupBy("id", "bk")
        .agg(sort_array(collect_list(struct(col("t"), col("w")))).as("wl"),
          sqrt(sum(col("w") * col("w")).cast("double")).as("nrm")))
    val pairs = graft.dedup.Dedup.saltedSelfPairs(
      wl.select(col("id"), col("bk"), col("wl"), col("nrm")))
    val theta6 = math.round(theta * 1000000)
    // fused codegen kernel — bit-identical to the former nested
    // transform/array_max/aggregate tree (HOF lambdas are CodegenFallback:
    // interpreted + boxed per token PAIR, measured as the bench's slowest
    // query); packed argmax + exact HALF_UP rounding live in
    // graft.core.SoftTfidf (see its scaladoc for the equivalence argument)
    val sum6 = graft.expr.softTfidfSum6(col("wl0"), col("wl1"), theta6)
    val score = round(sum6.cast("double") / (col("nrm0") * col("nrm1")), 6)
    graft.dedup.Dedup.scoreAndFilter(pairs, "soft_tfidf", score, threshold,
      "id0", "id1", "soft_tfidf")
  }

  def fuzzyJoin(queries: DataFrame, qCol: String,
                corpus: DataFrame, cCol: String,
                maxDist: Int, affixLen: Int = 2): DataFrame = {
    require(maxDist >= 0)
    affixCandidates(queries, qCol, corpus, cCol, affixLen)
      .withColumn("dist", graft.expr.levenshteinBand(col(qCol), col(cCol), maxDist))
      .where(col("dist") >= 0)
  }

  /** [[fuzzyJoin]] under TRUE Damerau–Levenshtein (codegen'd
    * [[graft.expr.damerauLevenshtein]]): a swap of adjacent characters
    * costs 1 instead of 2, so transposition typos ("mathcing") land at
    * distance 1. Same dual-affix blocking — DL ≤ Levenshtein, and one
    * edit (including a transposition inside the string) can break at
    * most one affix, never both; an edit that TOUCHES an affix is still
    * found through the other one. */
  def fuzzyJoinDL(queries: DataFrame, qCol: String,
                  corpus: DataFrame, cCol: String,
                  maxDist: Int, affixLen: Int = 2): DataFrame = {
    require(maxDist >= 0)
    affixCandidates(queries, qCol, corpus, cCol, affixLen)
      .withColumn("dist",
        graft.expr.damerauLevenshtein(col(qCol), col(cCol)))
      .where(col("dist") <= maxDist)
  }

  /** End-to-end fuzzy dedup: blocked edit-distance self-pairs over a
    * name table → distributed connected components → canonical min-id
    * group per name. The un-encoded analogue of the full CLK pipeline
    * (block → confirm → cluster) in one call; every stage is the
    * already-gated operator ([[fuzzyJoin]], `ConnectedComponents.run`).
    * Input must be unique per id; names may repeat (ids group them). */
  def fuzzyGroups(names: org.apache.spark.sql.DataFrame, idCol: String,
      nameCol: String, maxDist: Int = 2, affixLen: Int = 2): DataFrame = {
    val spark = names.sparkSession
    import spark.implicits._
    val l = names.select(col(idCol).cast("long").as("id0"),
      col(nameCol).as("n0"))
    val r = names.select(col(idCol).cast("long").as("id1"),
      col(nameCol).as("n1"))
    val pairs = fuzzyJoin(l, "n0", r, "n1", maxDist, affixLen)
      .where(col("id0") < col("id1"))
      .select($"id0".as[Long], $"id1".as[Long])
    val comp = graft.cluster.ConnectedComponents.run(pairs)
      .withColumnRenamed("node", "id")
    names.select(col(idCol).cast("long").as("id"), col(nameCol).as("name"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), col("name"),
        coalesce(col("component"), col("id")).as("group_id"))
  }

  /** Token-sort edit similarity (the fuzzywuzzy/RapidFuzz
    * `token_sort_ratio` family): canonicalize each string to its
    * alphabetically-sorted token sequence, then normalized Levenshtein
    * over the canonical forms — the word-order-insensitive comparator
    * ("SMITH, JOHN K" vs "john k smith" scores ~1.0 where plain edit
    * distance collapses). Similarity = 1 − dist/max(len) over the
    * canonical strings, one double divide of two exact ints.
    *
    * Blocking: sorting makes the lexicographic MIN and MAX tokens
    * order-invariant, so candidates are the union of first-sorted-token
    * and last-sorted-token equi-joins (the [[affixCandidates]] shape on
    * canonical forms) — any reordering still collides on both keys; a
    * typo inside one boundary token still collides on the other.
    *
    * Scale shape: two hash equi-joins + distinct, Levenshtein only on
    * blocked candidates; canonical forms are computed once per side
    * before the join (never per pair). */
  def tokenSortPairs(queries: DataFrame, qCol: String,
                     corpus: DataFrame, cCol: String,
                     minSim: Double): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, "minSim in (0, 1]")
    def canon(c: Column) =
      array_join(sort_array(split(trim(c), "\\s+")), " ")
    val q = queries.withColumn("_ts_q", canon(col(qCol)))
    val c = corpus.withColumn("_ts_c", canon(col(cCol)))
    def blocked(key: Column => Column): DataFrame =
      q.withColumn("_ts_b", key(col("_ts_q")))
        .join(c.withColumn("_ts_b", key(col("_ts_c"))), "_ts_b")
        .drop("_ts_b")
    val first = (s: Column) => element_at(split(s, " "), 1)
    val last = (s: Column) => element_at(split(s, " "), -1)
    blocked(first).unionByName(blocked(last)).distinct()
      .withColumn("dist", levenshtein(col("_ts_q"), col("_ts_c")))
      .withColumn("token_sort_sim",
        round(lit(1.0) - col("dist").cast("double") /
          greatest(length(col("_ts_q")), length(col("_ts_c"))), 6))
      .where(col("token_sort_sim") >= minSim)
      .drop("_ts_q", "_ts_c")
  }

  /** The candidate stage alone: distinct (query row × corpus row) pairs
    * sharing a prefix or suffix block — plug any confirm kernel on top
    * (threshold Levenshtein in [[fuzzyJoin]], Jaro-Winkler in the
    * q_jw_match driver query). */
  def affixCandidates(queries: DataFrame, qCol: String,
                      corpus: DataFrame, cCol: String,
                      affixLen: Int = 2): DataFrame = {
    require(affixLen > 0)
    def blocked(key: Column => Column): DataFrame = {
      val q = queries.withColumn("_fz_b", key(col(qCol)))
      val c = corpus.withColumn("_fz_b", key(col(cCol)))
      q.join(c, "_fz_b").drop("_fz_b")
    }
    val prefix = (s: Column) => substring(s, 1, affixLen)
    val suffix = (s: Column) => substring(s, -affixLen, affixLen)
    blocked(prefix).unionByName(blocked(suffix)).distinct()
  }
}
