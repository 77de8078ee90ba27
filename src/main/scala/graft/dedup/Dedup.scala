package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.RunScope
import graft.link.Salting
import scala.util.hashing.MurmurHash3

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), MinHash+LSH near-dup, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup. Exact/Jaccard/cosine are pure DataFrame
  * plans (SQL-replayable); MinHash/SimHash signatures are deterministic
  * Scala UDFs verified against brute-force oracles in DedupSpec.
  *
  * Scale design: every pair-generating path routes through
  * [[saltedSelfPairs]] — per-bucket two-sided salt fan-out sized from
  * bucket stats by the square-chunk generator the linkage hot path also
  * uses (graft.link.Salting) — so a single hot block/bucket key is never
  * one quadratic task. The near-dup joins share two candidate → verify
  * shapes: [[hashedSetPairs]] for the blocked set joins (Jaccard,
  * containment, Tversky) and [[bandKeyPairs]] for the LSH joins (MinHash,
  * weighted MinHash, incremental MinHash, the estimator audits, SimHash,
  * sign-LSH cosine); each join keeps only its score.
  */
object Dedup {

  /** Exact dedup on a key: one keeper (min id) per group + group size.
    * Scale shape: a single hash-aggregate — the canonical exact-dedup plan
    * (map-side partial agg, no join). */
  def exactGroups(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("group_size"))

  /** Default per-task comparison aim for the salted pair joins (smaller
    * than Linker.ChunkSizeAim: dedup payloads are token/shingle arrays,
    * 10-100x wider than packed 128-byte CLKs). */
  val PairAim: Long = 4000000L

  /** Two-sided salted self-join pair generator — the generic skew-proof
    * replacement for `l.join(r, "bk").where(id0 < id1)`.
    *
    * Input: columns (bk, id, payload...). The fan-out, salt and two-sided
    * meet are graft.link.Salting's square-chunk generator (the one the
    * linkage kernel uses, salted on hash(id)); this method owns only the
    * job total, which rides the plan as a 1-row scalar broadcast — a
    * driver action here taxed every sub-second salted query ~0.3-0.5 s —
    * and the bucket-stats persist. A hot bucket becomes k^2 ~ n^2/aim
    * well-sized tasks instead of one quadratic straggler; id0 < id1 keeps
    * one orientation of every unordered pair.
    *
    * Output: bk, id0, id1, and payload columns suffixed 0/1.
    */
  def saltedSelfPairs(base: DataFrame, aim: Long = PairAim,
      maxK: Int = Salting.MaxSaltFanout): DataFrame = {
    // slot-cached (NO eager action — it materializes inside the
    // broadcast build): the stats frame feeds both the job-total scalar
    // and the per-bucket fan-out rows; without the cache the base
    // subtree (which can be an expensive signature pipeline) is scanned
    // once per consumer
    val stats = RunScope.persist("salted_stats",
      base.groupBy(col("bk")).agg(count(lit(1)).as("n")))
    val tot = stats.agg(
      coalesce(sum(col("n").cast("decimal(38,0)") * col("n")), lit(0))
        .cast("double").as("__tp"))
    val aimCol = Salting.adaptiveAim(col("__tp"), aim,
      base.sparkSession.sparkContext.defaultParallelism)
    val salted = Salting.assignSalt(base, stats.crossJoin(broadcast(tot)),
      "bk", aimCol, maxK, col("id"))
    Salting.meet(salted, "bk").where(col("id0") < col("id1"))
  }

  // Signature tables feeding a pair join are referenced 2-3x in one plan
  // (bucket explode + two confirm-join sides) and AQE reuses no exchange
  // between the branches, so each call site persists its table into its
  // own RunScope slot rather than rerun the signature pipeline per branch.

  /** Project `score` then threshold-filter WITHOUT Catalyst re-evaluating
    * the scoring expression in both Filter and Project: PushDownPredicates
    * only pushes a filter through an all-deterministic projection, so the
    * score is wrapped in a value-preserving nondeterministic branch
    * (`when(monotonically_increasing_id >= 0, score)` — the condition is
    * always true, the value is bit-identical) that pins the filter ABOVE
    * the projection. The expensive expression (array intersection / dot
    * product) is then computed exactly once per candidate row
    * (PlanSpec-gated). */
  def scoreAndFilter(df: DataFrame, name: String, score: Column,
      threshold: Double, keep: String*): DataFrame =
    df.select(col("*"),
        when(monotonically_increasing_id() >= 0, score).as(name))
      .where(col(name) >= threshold)
      .select(keep.head, keep.tail: _*)

  /** Sorted distinct xxhash64 image of an array column — the per-document
    * precompute behind every hashed-set confirm kernel. Hashing each
    * element to a long once per DOCUMENT turns the per-PAIR intersection
    * from a UTF8String hash-set probe (~1-3 ms on ~143-element trigram
    * sets — the round-2 q_jaccard_char3 outlier) into a codegen'd long
    * merge scan ([[graft.expr.sortedIntersectCount]]). Set sizes and
    * intersection counts are preserved exactly absent xxhash64 collisions
    * (P ~ |set|^2/2^64 per document — negligible, and the driver's
    * value-hash gate would surface one). */
  def hashedSet(elems: Column): Column =
    sort_array(array_distinct(transform(elems, e => xxhash64(e))))

  /** Distinct character n-gram set of a text column — a pure (codegen'd)
    * column expression, no UDF: transform over an index sequence +
    * substring. Texts shorter than n yield the whole text as one gram. */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) < n, array(text))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))

  /** n-gram Jaccard near-dup pairs within candidate blocks over
    * whitespace word tokens: block on a cheap key first (never
    * all-pairs), then score. `blockKey` must be a deterministic function
    * of the text columns. */
  def jaccardPairs(df: DataFrame, id: String, text: String, blockKey: Column,
      threshold: Double, aim: Long = PairAim): DataFrame =
    jaccardPairsBy(df, id, array_distinct(split(col(text), " ")), blockKey,
      threshold, aim)

  /** Jaccard pairs over an arbitrary precomputed element-set column
    * (word tokens, char n-grams, shingles — anything array-typed),
    * reduced to a sorted long-hash set ONCE per document ([[hashedSet]]). */
  def jaccardPairsBy(df: DataFrame, id: String, elems: Column, blockKey: Column,
      threshold: Double, aim: Long = PairAim, maxK: Int = Salting.MaxSaltFanout): DataFrame =
    jaccardPairsHashed(df, id, hashedSet(elems), blockKey, threshold, aim, maxK)

  /** Set Jaccard of two sorted long-set columns, rounded to 4 dp. */
  private def setJaccard(a: String, b: String): Column = {
    val i = graft.expr.sortedIntersectCount(col(a), col(b)).cast("double")
    round(i / (size(col(a)) + size(col(b)) - i), 4)
  }

  /** The blocked hashed-set candidate → verify join of the Jaccard,
    * containment and Tversky paths. The (bk, id, toks, sz) table is
    * persisted in RunScope slot `slot`; only (bk, id, sz) rides the salted
    * fan-out; pairs failing `sizeOk` (over sz0/sz1) drop before any set is
    * fetched; the sets join back once per side.
    * Output: id0, id1, sz0, sz1, toks0, toks1. */
  private def hashedSetPairs(slot: String, df: DataFrame, id: String,
      toks: Column, blockKey: Column, aim: Long, maxK: Int,
      sizeOk: Option[Column] = None): DataFrame = {
    val sig = RunScope.persist(slot,
      df.select(blockKey.as("bk"), col(id).as("id"), toks.as("toks"))
        .withColumn("sz", size(col("toks"))))
    val paired = saltedSelfPairs(sig.select(col("bk"), col("id"), col("sz")),
      aim, maxK)
    sizeOk.fold(paired)(ok => paired.where(ok)).select("id0", "id1", "sz0", "sz1")
      .join(sig.select(col("id").as("id0"), col("toks").as("toks0")), "id0")
      .join(sig.select(col("id").as("id1"), col("toks").as("toks1")), "id1")
  }

  /** Jaccard pairs over a PRE-HASHED sorted long-set column (e.g.
    * [[graft.expr.hashedCharNgrams]]) on [[hashedSetPairs]], pruned by
    * size window: jaccard <= min(|A|,|B|)/max(|A|,|B|), the set analogue
    * of the kernel's popcount window (1e-4 slack for the round(.,4)). */
  def jaccardPairsHashed(df: DataFrame, id: String, toks: Column, blockKey: Column,
      threshold: Double, aim: Long = PairAim, maxK: Int = Salting.MaxSaltFanout): DataFrame = {
    val sizeOk = least(col("sz0"), col("sz1")).cast("double") >=
      greatest(col("sz0"), col("sz1")) * (threshold - 1e-4)
    scoreAndFilter(
      hashedSetPairs("jaccard", df, id, toks, blockKey, aim, maxK, Some(sizeOk)),
      "jaccard", setJaccard("toks0", "toks1"), threshold, "id0", "id1", "jaccard")
  }

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ threshold over a
    * PRE-HASHED sorted long-set column. Containment catches the subset
    * duplication Jaccard structurally misses — a short document quoted
    * inside a long one scores |A|/|A| = 1.0 here but only |A|/|B| ≈ 0 on
    * Jaccard — the boilerplate/quotation case in web-corpus dedup
    * (Broder's resemblance-vs-containment distinction, SEQUENCES'97).
    *
    * Runs on [[hashedSetPairs]] with no size-window prune: containment is
    * not bounded by the size ratio (a 10-gram doc inside a 10k-gram doc
    * still scores 1.0), so every blocked pair must run the merge scan —
    * the blocking key carries the entire pruning burden by design. */
  def containmentPairsHashed(df: DataFrame, id: String, toks: Column,
      blockKey: Column, threshold: Double, aim: Long = PairAim,
      maxK: Int = Salting.MaxSaltFanout): DataFrame =
    scoreAndFilter(
      hashedSetPairs("containment", df, id, toks, blockKey, aim, maxK),
      "containment",
      round(graft.expr.sortedIntersectCount(col("toks0"), col("toks1"))
        .cast("double") / least(col("sz0"), col("sz1")).cast("double"), 4),
      threshold, "id0", "id1", "containment")

  /** Tversky-index near-dup pairs (Tversky 1977) over a PRE-HASHED
    * sorted long-set column: the asymmetric generalization of Jaccard
    * and Dice —
    *   S(A,B) = |A∩B| / (|A∩B| + α·|A\B| + β·|B\A|)
    * (α=β=1 is Jaccard, α=β=½ is Dice). α > β penalizes material the
    * PROTOTYPE side has that the variant lacks more than additions —
    * the "is B a variant of A" question in template/boilerplate dedup,
    * where containment (α=0 or β=0 up to scaling) is the degenerate
    * case. Sides are oriented id0 < id1: id0 is the A/prototype side.
    *
    * α and β are carried as exact tenths (alphaTenths/betaTenths), so
    * den₁₀ = 10·inter + αT·(sz0−inter) + βT·(sz1−inter) is an exact
    * long and the score is ONE double divide of two exact ints, rounded
    * to 4 dp before the threshold compare (the Jaccard-family accept
    * contract — bit-replayable in any IEEE engine).
    * Runs on [[hashedSetPairs]] with no size-window prune (asymmetric
    * weights break the size-ratio bound the way containment does). */
  def tverskyPairsHashed(df: DataFrame, id: String, toks: Column,
      blockKey: Column, alphaTenths: Int, betaTenths: Int,
      threshold: Double, aim: Long = PairAim, maxK: Int = Salting.MaxSaltFanout): DataFrame = {
    require(alphaTenths >= 0 && betaTenths >= 0
      && alphaTenths + betaTenths > 0, "need nonneg weights, not both 0")
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val den10 = lit(10L) * col("inter") +
      lit(alphaTenths.toLong) * (col("sz0") - col("inter")) +
      lit(betaTenths.toLong) * (col("sz1") - col("inter"))
    scoreAndFilter(
      hashedSetPairs("tversky", df, id, toks, blockKey, aim, maxK)
        .withColumn("inter",
          graft.expr.sortedIntersectCount(col("toks0"), col("toks1")).cast("long")),
      "tversky",
      round(lit(10L) * col("inter") / den10.cast("double"), 4),
      threshold, "id0", "id1", "inter", "sz0", "sz1", "tversky")
  }

  /** [[tverskyPairsHashed]] over whitespace word tokens. */
  def tverskyPairs(df: DataFrame, id: String, text: String,
      blockKey: Column, alphaTenths: Int, betaTenths: Int,
      threshold: Double, aim: Long = PairAim): DataFrame =
    tverskyPairsHashed(df, id, hashedSet(array_distinct(split(col(text), " "))),
      blockKey, alphaTenths, betaTenths, threshold, aim)

  /** Prefix-filtered exact set-similarity self-join (the AllPairs /
    * PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08): find
    * EVERY pair with token-set Jaccard ≥ t, no LSH recall loss and no
    * external blocking key. Under a global token order, two sets with
    * J ≥ t must share a token inside each other's first
    * p = |x| − ⌈t·|x|⌉ + 1 tokens, so the prefix (not the whole set) is
    * the join key. Ordering tokens by ascending document frequency
    * (ties lexicographic) makes prefixes the RAREST tokens of each
    * record — the candidate join is skew-light by construction, and the
    * length filter min·D ≥ t·max (J ≤ min/max) prunes before any
    * intersection. The threshold is carried as the exact rational
    * ⌈t·10⁴⌉/10⁴: prefix length, length filter, and the final
    * inter·D ≥ t·(union) accept are all integer cross-multiplications —
    * bit-exact and SQL-replayable; the double ratio is reporting only.
    *
    * Scale shape: one token explode + one df hash-agg; the per-record
    * rank is a window over single-record partitions (bounded by doc
    * length); candidates route through [[saltedSelfPairs]] keyed on the
    * prefix token (a pathological corpus where one token is rare AND
    * shared by millions of records still fans out). Each record's hashed
    * token set (computed once per document) rides the salted prefix
    * fan-out with it, so the merge-scan verify runs inside the generation
    * stage and only accepted pairs shuffle, into a final dropDuplicates
    * that collapses pairs generated through more than one shared token. */
  def prefixFilterPairs(df: DataFrame, id: String, text: String,
      threshold: Double, aim: Long = PairAim, maxK: Int = Salting.MaxSaltFanout): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val D = 10000L
    val tnum = math.ceil(threshold * D).toLong
    val elems = array_distinct(split(col(text), " "))
    val toks = df.select(col(id).cast("long").as("id"),
      explode(elems).as("tok"))
    val sig = RunScope.persist("prefixfilter",
      df.select(col(id).cast("long").as("id"), hashedSet(elems).as("toks"))
        .withColumn("sz", size(col("toks")).cast("long")))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("tok"))
    // the hashed set RIDES the prefix fan-out: shuffle volume is
    // O(corpus · prefix-length · set bytes) — LINEAR in the corpus — in
    // exchange for never shuffling the candidate-pair stream (round 6
    // measured the bare-id shape, candidates -> distinct -> sets join ->
    // verify, at 16.4 of the query's 15.5-24.8 s). Only accepted pairs
    // (plus bounded cross-token duplicates) shuffle, into a dropDuplicates.
    val prefix = toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w))
      .join(sig.select(col("id"), col("sz"), col("toks")), "id")
      .where(col("rn") <=
        col("sz") - expr(s"(sz * $tnum + ${D - 1}) DIV $D") + 1)
      .select(col("tok").as("bk"), col("id"), col("sz"), col("rn"),
        col("toks"))
    // PPJoin position filter (Xiao et al. WWW'08), output-preserving:
    // J >= t  <=>  inter >= ceil(tnum·(sz0+sz1)/(D+tnum)) =: alpha, and
    // for a candidate generated through the shared prefix token at
    // positions (rn0, rn1) of the df-global order, the overlap is bounded
    // by 1 + min(sz0-rn0, sz1-rn1) (all other common tokens lie strictly
    // after it in both records). Any truly-qualifying pair survives via
    // its FIRST common token — the standard PPJoin guarantee — so
    // dropping generations that fail the bound removes only duplicates;
    // the exact merge-scan verify (below, same stage) is unchanged.
    val alpha = expr(s"($tnum * (sz0 + sz1) + ${D + tnum - 1}) DIV ${D + tnum}")
    // the guard projection (scoreAndFilter's trick) pins the accept
    // filter ABOVE the inter projection so the merge scan runs once per
    // surviving generation, not once in Filter and again in Project
    val accepted = saltedSelfPairs(prefix, aim, maxK)
      .where(least(col("sz0"), col("sz1")) * D >=
        greatest(col("sz0"), col("sz1")) * tnum)
      .where(lit(1L) + least(col("sz0") - col("rn0"),
        col("sz1") - col("rn1")) >= alpha)
      .select(col("id0"), col("id1"), col("sz0"), col("sz1"),
        when(monotonically_increasing_id() >= 0,
          graft.expr.sortedIntersectCount(col("toks0"), col("toks1"))
            .cast("long")).as("inter"))
      .where(col("inter") * D >= (col("sz0") + col("sz1") - col("inter")) * tnum)
    accepted
      .dropDuplicates("id0", "id1")
      .select(col("id0"), col("id1"), col("inter"), col("sz0"), col("sz1"),
        round(col("inter").cast("double") /
          (col("sz0") + col("sz1") - col("inter")), 4).as("jaccard"))
  }

  /** Weighted (multiset / bag) Jaccard near-dup pairs:
    * Σ_t min(tf_A, tf_B) / Σ_t max(tf_A, tf_B) over term frequencies —
    * catches copies that token-SET Jaccard overrates or underrates when
    * frequencies differ (boilerplate-padded duplicates, repetition-
    * inflated spam; the small-vocab failure mode where every doc's token
    * set converges but tf profiles still discriminate).
    *
    * Exact integer identity: Σmax = tot_A + tot_B − Σmin, so only the
    * shared-term min-sum and per-doc token totals are needed; the
    * threshold test cross-multiplies (num·1e6 ≥ thr·den) so the cut is
    * bit-exact and SQL-replayable, with the double ratio emitted only for
    * reporting (round 4).
    *
    * Scale shape: tf vectors are computed ONCE per document as a sorted
    * map column (O(distinct·len) codegen transform, no UDF) and ride the
    * salted pair fan-out; the per-pair min-sum is a codegen
    * map_zip_with + aggregate — no explode of the pair set, no
    * per-term shuffle. Same salted-block discipline as
    * [[jaccardPairsHashed]]. */
  def weightedJaccardPairs(df: DataFrame, id: String, text: String,
      blockKey: Column, threshold: Double, aim: Long = PairAim,
      maxK: Int = Salting.MaxSaltFanout): DataFrame = {
    val thr = math.round(threshold * 1000000L)
    // tf-map build is an interpreted-HOF projection — persist it once so
    // the pair generator's stats subtree and both join sides reuse it
    // (the sig-table discipline of the jaccard paths)
    val base = RunScope.persist("wjaccard_tf",
      df.select(blockKey.as("bk"), col(id).cast("long").as("id"),
          split(col(text), " ").as("ts"))
        .select(col("bk"), col("id"),
          size(col("ts")).cast("long").as("tot"),
          expr("""map_from_entries(transform(array_distinct(ts),
                  t -> struct(t, CAST(size(filter(ts, x -> x = t)) AS LONG))))""")
            .as("m")))
    val paired = saltedSelfPairs(base, aim, maxK)
    // fused codegen kernel (graft.core.SetOps.tfMinSumShared has its
    // equivalence to the map_zip_with/aggregate HOF tree)
    val minSum = graft.expr.tfMinSumShared(col("m0"), col("m1"))
    wjThresholded(paired, minSum, col("tot0"), col("tot1"), thr)
  }

  /** Shared weighted-jaccard tail: guard-projected Σmin (the same
    * filter-above-projection trick as [[scoreAndFilter]] — the cut here
    * is a two-column cross-multiply, not a scalar), den from the
    * Σmax = totA+totB−Σmin identity, integer threshold, round-4 report
    * ratio. One encoding of the cut for the keyed AND keyless paths. */
  private def wjThresholded(pairs: DataFrame, minSum: Column,
      tot0: Column, tot1: Column, thr: Long): DataFrame =
    pairs
      .select(col("id0"), col("id1"), tot0.as("__t0"), tot1.as("__t1"),
        when(monotonically_increasing_id() >= 0, minSum).as("wj_num"))
      .withColumn("wj_den", col("__t0") + col("__t1") - col("wj_num"))
      .where(col("wj_num") * lit(1000000L) >= lit(thr) * col("wj_den"))
      .select(col("id0"), col("id1"), col("wj_num"), col("wj_den"),
        round(col("wj_num").cast("double") / col("wj_den"), 4)
          .as("wjaccard"))

  /** Word-bigram shingles of a text (deduplicated). Bigrams discriminate
    * documents whose unigram vocabularies overlap heavily (a small-vocab
    * corpus makes unigram MinHash buckets degenerate to all-pairs —
    * measured as a 1000x blowup on the synthetic tables). */
  def shingles2(text: String): Array[String] = {
    val toks = graft.ingest.ClkEncoder.tokens(text)
    if (toks.length < 2) toks
    else Array.tabulate(toks.length - 1)(i => toks(i) + " " + toks(i + 1)).distinct
  }

  /** Raw MinHash component values: component j = min over shingles of
    * murmur3(s, seed + j·0x9e3779b1). Empty input keeps the all-MaxValue
    * sentinel (so two empty docs estimate 1.0 — consistent with the
    * "b:empty" band key colliding them). */
  private def minhashValues(sh: Array[String], nh: Int,
      seed: Int): Array[Int] = {
    val mins = Array.fill(nh)(Int.MaxValue)
    sh.foreach { s =>
      var j = 0
      while (j < nh) {
        val h = MurmurHash3.stringHash(s, seed + j * 0x9e3779b1)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
    }
    mins
  }

  /** Spread a narrow input across the cluster BEFORE a per-row UDF when
    * it arrives under-partitioned (a small corpus is one input split, so
    * a CPU-heavy signature UDF would run on ONE core — guide §2.5 input
    * skew; measured round 6 on the minhash paths). Deterministic hash
    * key; a no-op (no shuffle) when the scan already has enough splits —
    * the 100-TB case, where an extra shuffle of raw text would be the
    * bigger cost. */
  private def spreadForUdf(df: DataFrame, key: Column): DataFrame = {
    val par = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    if (df.rdd.getNumPartitions * 2 < par) df.repartition(par, key) else df
  }

  /** The one MinHash signature builder: (doc, `mem` = the member set
    * `members` cuts from the text, vals = its bands·rowsPerBand component
    * minima, bks = its LSH band keys "b<band>:<v>:…:<v>"). The keys are
    * cut from `vals`, so each component is hashed once per document; an
    * empty member set has the one key "b:empty". */
  private def minhashTable(df: DataFrame, id: String, text: String,
      members: String => Array[String], mem: String, bands: Int,
      rowsPerBand: Int, seed: Int): DataFrame = {
    val memUdf = udf((t: String) => members(if (t == null) "" else t))
    val valsUdf = udf((m: Seq[String]) => minhashValues(
      if (m == null) Array.empty else m.toArray, bands * rowsPerBand, seed))
    val keysUdf = udf((m: Seq[String], v: Seq[Int]) =>
      if (m == null || m.isEmpty) Array("b:empty")
      else Array.tabulate(bands) { b =>
        val sb = new StringBuilder(s"b$b")
        var r = 0
        while (r < rowsPerBand) { sb.append(':').append(v(b * rowsPerBand + r)); r += 1 }
        sb.toString
      })
    spreadForUdf(df, col(id))
      .select(col(id).as("doc"), memUdf(col(text)).as(mem))
      .withColumn("vals", valsUdf(col(mem)))
      .withColumn("bks", keysUdf(col(mem), col("vals")))
  }

  /** Per-document MinHash state: (doc, sh = bigram shingles,
    * bks = LSH band keys). The dump the DuckDB oracle replays the pairing
    * semantics from (candidates = share >= 1 band key; confirm = shingle
    * Jaccard) — the signature computation itself is gated by DedupSpec's
    * brute-force recall/precision oracle. */
  def minhashSignatures(df: DataFrame, id: String, text: String,
      bands: Int = 8, rowsPerBand: Int = 4, seed: Int = 0xd5ed): DataFrame =
    minhashComponentSignatures(df, id, text, bands, rowsPerBand, seed).drop("vals")

  /** [[minhashSignatures]] plus the raw per-component minimum hash
    * values (`vals`, length bands·rowsPerBand) — the state the
    * estimator-accuracy audit and its oracle replay need. Kept separate
    * from the production signature table so the band keys stay the only
    * thing the LSH hot path carries. */
  def minhashComponentSignatures(df: DataFrame, id: String, text: String,
      bands: Int = 8, rowsPerBand: Int = 4, seed: Int = 0xd5ed): DataFrame =
    minhashTable(df, id, text, shingles2, "sh", bands, rowsPerBand, seed)

  /** The band-key candidate → verify join of the LSH paths: ids (column
    * `id` of `sig`) sharing a key of the key-array column `keys` pair up
    * through [[saltedSelfPairs]] carrying only (bucket, id), one distinct
    * collapses pairs found through several keys, and each `payload` column
    * joins back once per side — O(bucket collisions), never O(n^2). With
    * `newFlag` (a 0/1 column) only pairs touching a 1-row are generated:
    * buckets without one drop in a semi join before pair generation, 0×0
    * pairs on a bare-int filter before the distinct.
    * Output: id0, id1, then the payload columns suffixed 0, then 1. */
  private def bandKeyPairs(sig: DataFrame, id: String, keys: String,
      payload: Seq[String], aim: Long,
      newFlag: Option[String] = None): DataFrame = {
    val ids = sig.select(Seq(explode(col(keys)).as("bk"), col(id).as("id")) ++
      newFlag.map(col): _*)
    val (base, touching) = newFlag.fold((ids, lit(true))) { nw =>
      val touched = ids.where(col(nw) === 1).select("bk").distinct()
      (ids.join(touched, Seq("bk"), "left_semi"), col(nw + "0") + col(nw + "1") >= 1)
    }
    def side(s: String) =
      sig.select(col(id).as("id" + s) +: payload.map(p => col(p).as(p + s)): _*)
    saltedSelfPairs(base, aim).where(touching)
      .select("id0", "id1").dropDuplicates("id0", "id1")
      .join(side("0"), "id0")
      .join(side("1"), "id1")
  }

  /** The estimator audit behind [[minhashAccuracy]] and
    * [[bbitMinhashAccuracy]]: over every LSH candidate pair, `n` counts
    * the components `eq` holds for and `est` turns that count into the
    * estimate, next to the exact shingle Jaccard and the absolute error.
    * Unthresholded — the audit wants the misses too. The component count
    * is a codegen'd zip_with/aggregate over two fixed-length int arrays. */
  private def componentAudit(slot: String, df: DataFrame, id: String,
      text: String, bands: Int, rowsPerBand: Int, seed: Int, aim: Long,
      eq: (Column, Column) => Column, n: String, est: String,
      estimate: Column => Column): DataFrame = {
    val sig = RunScope.persist(slot,
      minhashComponentSignatures(df, id, text, bands, rowsPerBand, seed)
        .withColumn("shh", hashedSet(col("sh"))))
    val nEq = aggregate(
      zip_with(col("vals0"), col("vals1"),
        (a, b) => when(eq(a, b), 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    bandKeyPairs(sig, "doc", "bks", Seq("shh", "vals"), aim)
      .select(col("id0"), col("id1"), nEq.as(n), estimate(nEq).as(est),
        setJaccard("shh0", "shh1").as("jaccard"))
      .withColumn("abs_err", round(abs(col(est) - col("jaccard")), 4))
  }

  /** MinHash estimator-accuracy audit: for every LSH candidate pair, the
    * k-component MinHash Jaccard estimate (share of equal components —
    * the textbook unbiased estimator) NEXT TO the exact shingle Jaccard,
    * with the absolute error. The tuning readout that says whether
    * bands·rows is enough signature for the corpus before anyone trusts
    * the LSH recall at 100 TB — a fat error tail means more rows per
    * band, not a lower threshold. Runs on [[bandKeyPairs]], like
    * [[minhashLshPairs]].
    *
    * @return (id0, id1, n_eq, est_jaccard, jaccard, abs_err) per LSH
    *         candidate pair (unthresholded — the audit wants the
    *         misses too). */
  def minhashAccuracy(df: DataFrame, id: String, text: String,
      bands: Int = 8, rowsPerBand: Int = 4, seed: Int = 0xd5ed,
      aim: Long = PairAim): DataFrame = {
    val k = bands * rowsPerBand
    componentAudit("minhash_acc", df, id, text, bands, rowsPerBand, seed, aim,
      _ === _, "n_eq", "est_jaccard", nEq => round(nEq.cast("double") / k, 4))
  }

  /** b-bit MinHash estimator audit (Li & König, WWW 2010): store only the
    * lowest `b` bits of each of the k MinHash components — a 32/b-fold
    * signature-memory cut — and estimate Jaccard from b-bit collisions
    * with the paper's bias correction: a b-bit component pair collides
    * with probability C = 2^-b + (1 - 2^-b)·J, so
    * Ĵ = (ĉ - 2^-b) / (1 - 2^-b) with ĉ = n_eq_b / k. Arithmetic is kept
    * in exact integers up to one final double divide
    * (Ĵ = (n_eq_b·2^b − k) / ((2^b − 1)·k), rounded 4dp) so the estimate
    * replays bit-for-bit in any engine; the unbiased correction can go
    * negative at tiny J — that is the estimator, reported raw.
    *
    * Same audit as [[minhashAccuracy]] with the mask folded into the
    * component compare (the full values are dumped once; a production
    * store would keep only the packed b-bit rows — the memory claim, not
    * the compute path, is what changes).
    *
    * @return (id0, id1, n_eq_b, est_bbit, jaccard, abs_err) per LSH
    *         candidate pair. */
  def bbitMinhashAccuracy(df: DataFrame, id: String, text: String,
      b: Int = 4, bands: Int = 8, rowsPerBand: Int = 4, seed: Int = 0xd5ed,
      aim: Long = PairAim): DataFrame = {
    require(b >= 1 && b <= 16, s"b out of range: $b")
    val k = bands * rowsPerBand
    val mask = (1 << b) - 1
    componentAudit("bbit_minhash", df, id, text, bands, rowsPerBand, seed, aim,
      (x, y) => x.bitwiseAND(lit(mask)) === y.bitwiseAND(lit(mask)),
      "n_eq_b", "est_bbit",
      nEqB => round((nEqB * (1L << b) - k).cast("double") / (((1L << b) - 1) * k), 4))
  }

  /** MinHash-LSH near-dup candidate pairs over word-bigram shingles:
    * band-bucket join ([[bandKeyPairs]]: only (bucket, id) rides the
    * salted pair generation; the hashed shingle sets join back once per
    * candidate side), then exact shingle-Jaccard confirm. */
  def minhashLshPairs(df: DataFrame, id: String, text: String,
      threshold: Double, bands: Int = 8, rowsPerBand: Int = 4,
      seed: Int = 0xd5ed, aim: Long = PairAim): DataFrame = {
    val sig = RunScope.persist("minhash",
      minhashSignatures(df, id, text, bands, rowsPerBand, seed)
        .withColumn("shh", hashedSet(col("sh"))))
    scoreAndFilter(bandKeyPairs(sig, "doc", "bks", Seq("shh"), aim),
      "jaccard", setJaccard("shh0", "shh1"), threshold, "id0", "id1", "jaccard")
  }

  /** Capped multiset expansion of a whitespace-token text: the n-th copy
    * of a token (n ≤ tfCap) becomes the member "tok§(n-1)". */
  private def tfExpand(t: String, tfCap: Int): Array[String] = {
    val tf = new java.util.HashMap[String, Int]()
    val out = scala.collection.mutable.ArrayBuffer[String]()
    t.split(" ").foreach { tok =>
      val n = tf.merge(tok, 1, (a, b) => a + b)
      if (n <= tfCap) out += (tok + "§" + (n - 1))
    }
    out.toArray
  }

  /** (doc, mem, bks) weighted-minhash signature table: `mem` is the
    * capped multiset expansion, `bks` its MinHash band keys. Public so
    * the `wminhash_sig` oracle-aux dump replays the pairing independently. */
  def weightedMinhashSignatures(df: DataFrame, id: String, text: String,
      tfCap: Int = 8, bands: Int = 8, rowsPerBand: Int = 4,
      seed: Int = 0xd5ed): DataFrame =
    minhashTable(df, id, text, t => tfExpand(t, tfCap), "mem", bands,
      rowsPerBand, seed).drop("vals")

  /** Weighted-MinHash LSH near-dup pairs — the SCALE PATH for
    * [[weightedJaccardPairs]] (which needs a caller-supplied block key):
    * classic integer weighted MinHash by multiset expansion (Haveliwala
    * et al.'s replication trick): token t with frequency f expands to
    * members "t§0".."t§min(f,cap)-1", so plain MinHash over the expanded
    * set estimates J_w = Σmin/Σmax over capped tfs, and band-bucket
    * collisions recall high-J_w pairs without any blocking key. The tf
    * cap bounds expansion (spam with one token repeated 10^6 times costs
    * cap members, not 10^6) and is part of the documented semantics: the
    * CONFIRM score is the exact capped-tf weighted Jaccard.
    *
    * Runs on [[bandKeyPairs]], like [[minhashLshPairs]]; the exact
    * min-sum confirm is the same sorted-long merge kernel over the
    * expanded-member hash sets (member multiplicity is capped-tf by
    * construction, so set intersection == Σmin exactly). */
  def weightedMinhashLshPairs(df: DataFrame, id: String, text: String,
      threshold: Double, tfCap: Int = 8, bands: Int = 8,
      rowsPerBand: Int = 4, seed: Int = 0xd5ed,
      aim: Long = PairAim): DataFrame = {
    val sig = RunScope.persist("wminhash",
      weightedMinhashSignatures(df, id, text, tfCap, bands, rowsPerBand, seed)
        .withColumn("memh", hashedSet(col("mem")))
        .withColumn("sz", size(col("mem")).cast("long")))
    wjThresholded(bandKeyPairs(sig, "doc", "bks", Seq("memh", "sz"), aim),
      graft.expr.sortedIntersectCount(col("memh0"), col("memh1")), col("sz0"), col("sz1"),
      math.round(threshold * 1000000L))
  }

  /** INCREMENTAL MinHash-LSH dedup: near-dup pairs of (old ∪ new) that
    * TOUCH the new batch — the always-on corpus-ingest shape (a new crawl
    * snapshot arrives; re-deduping 10^12 existing documents per batch is
    * the thing this avoids; companion to
    * [[graft.cluster.ConnectedComponents.incrementalRun]] which then
    * folds these edges into the standing groups).
    *
    * Contract (the delta contract, same as the linkage path's
    * q_link_delta): output == [[minhashLshPairs]] over the UNION corpus
    * filtered to pairs with ≥1 new endpoint — gated by spec equality and
    * replayed by the driver oracle as exactly that filter.
    *
    * Scale shape: signatures are computed for the union (the old side's
    * signatures would be served from the checkpoint store in production —
    * the expensive stage here is pair generation, not signing);
    * [[bandKeyPairs]] with the new-batch flag drops buckets containing NO
    * new document before pair generation, so untouched buckets pay zero
    * quadratic work, and old×old pairs inside touched buckets die before
    * the confirm joins. */
  def minhashLshPairsDelta(oldDf: DataFrame, newDf: DataFrame, id: String,
      text: String, threshold: Double, bands: Int = 8, rowsPerBand: Int = 4,
      seed: Int = 0xd5ed, aim: Long = PairAim): DataFrame = {
    // ids present in BOTH sides are re-crawled documents: the NEW text
    // wins (the old row is dropped before the union), so the contract
    // reads "full run over (old \ new) ∪ new" — without this, an
    // overlapping id would fan out the sig join and emit conflicting
    // duplicate pairs
    val newSide = newDf.select(col(id).as("__id"), col(text).as("__t"),
      lit(1).as("nw"))
    val all = oldDf.select(col(id).as("__id"), col(text).as("__t"),
        lit(0).as("nw"))
      .join(newSide.select("__id"), Seq("__id"), "left_anti")
      .unionByName(newSide)
    val sig = RunScope.persist("minhash_delta",
      minhashSignatures(all, "__id", "__t", bands, rowsPerBand, seed)
        .join(all.select(col("__id").as("doc"), col("nw")), "doc")
        .withColumn("shh", hashedSet(col("sh"))))
    scoreAndFilter(bandKeyPairs(sig, "doc", "bks", Seq("shh"), aim, Some("nw")),
      "jaccard", setJaccard("shh0", "shh1"), threshold, "id0", "id1", "jaccard")
  }

  /** 64-bit SimHash over word tokens (sign-sum of per-token hash bits). */
  def simhash64(text: String): Long = {
    val toks = graft.ingest.ClkEncoder.tokens(text)
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h1 = MurmurHash3.stringHash(t, 0x51a7)
      val h2 = MurmurHash3.stringHash(t, 0x51a8)
      val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Near-duplicate GROUP resolution — the standard last stage of a
    * corpus dedup pipeline: MinHash-LSH near-dup pairs -> connected
    * components -> one deterministic canonical representative per group
    * (the min id; a training pipeline keeps `is_canonical` rows).
    * Documents with no near-duplicate form singleton groups. Reuses the
    * distributed CC solver (small-star rounds, driver union-find under
    * 2M edges), so the shuffle story is the linkage pipeline's.
    * Output: (id long, group_id long, is_canonical boolean). */
  def nearDupGroups(df: DataFrame, id: String, text: String,
      threshold: Double, bands: Int = 8, rowsPerBand: Int = 4,
      seed: Int = 0xd5ed): DataFrame =
    minLabelGroups(df.select(col(id).cast("long").as("id")),
        minhashLshPairs(df, id, text, threshold, bands, rowsPerBand, seed))
      .select(col("id"), col("grp").as("group_id"),
        (col("id") === col("grp")).as("is_canonical"))

  /** (id, grp) for each id of `ids`: grp is the min id of its connected
    * component over the (id0, id1) `pairs`, an id in no pair its own
    * group. */
  private def minLabelGroups(ids: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val comp = graft.cluster.ConnectedComponents.run(pairs
      .select(col("id0").cast("long"), col("id1").cast("long")).as[(Long, Long)])
    ids.join(comp.withColumnRenamed("node", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("grp"))
  }

  /** End-to-end corpus dedup FUNNEL — the composition a training-data
    * pipeline actually runs: exact full-text dedup first (one cheap hash
    * aggregation that kills byte-identical copies), MinHash-LSH near-dup
    * over the survivors second (the expensive stage only ever sees what
    * exact dedup left). One summary row per stage (raw → exact →
    * neardup) with doc and whitespace-token counts — the removal readout
    * a curation run reports.
    *
    * Stage 2 reuses [[nearDupGroups]]; MinHash signatures are computed
    * per document (corpus-independent), so pairing among survivors
    * equals all-doc pairing restricted to survivor endpoints — exactly
    * what the SQL oracle replays from the full signature dump.
    *
    * Scale shape: one md5 hash-agg + keyed survivor join, then the LSH
    * pipeline on the reduced set; the summary is three 1-row aggregates
    * unioned. */
  def dedupFunnel(df: DataFrame, id: String, text: String,
      threshold: Double = 0.5): DataFrame = {
    val base = df.select(col(id).cast("long").as("id"), col(text).as("text"),
      size(split(col(text), " ")).cast("long").as("n_tokens"))
    def stat(idx: Int, name: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    val exactKeep = base
      .groupBy(md5(col("text").cast("binary")).as("k"))
      .agg(min(col("id")).as("id"))
      .select(col("id"))
    val exactSurv = base.join(exactKeep, "id")
    val ndKeep = nearDupGroups(exactSurv, "id", "text", threshold)
      .where(col("is_canonical")).select(col("id"))
    val ndSurv = base.join(ndKeep, "id")
    stat(0, "raw", base)
      .unionAll(stat(1, "exact", exactSurv))
      .unionAll(stat(2, "neardup", ndSurv))
  }

  /** Near-dup-aware dedup keep rule: resolve LSH near-dup groups, then
    * keep ONE representative per group by a per-document score (the
    * document a curation pipeline retains — e.g. longest, highest
    * quality). Ties break to the smallest id so the choice is
    * deterministic. One row per group:
    * (group_id, keeper_id, group_size, keeper_score).
    *
    * Scale shape: groups come from [[nearDupGroups]] (bounded CC); the
    * argmax is a max-of-struct hash aggregation — one shuffle keyed by
    * group_id, partial map-side combine, never a global window/sort. */
  def keepBestPerGroup(df: DataFrame, id: String, text: String,
      score: Column, threshold: Double): DataFrame = {
    val g = nearDupGroups(df, id, text, threshold)
    val scored = df.select(col(id).cast("long").as("id"),
      score.cast("long").as("score"))
    g.join(scored, "id")
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("group_size"),
        max(struct(col("score").as("s"), (-col("id")).as("nid"))).as("best"))
      .select(col("group_id"), (-col("best.nid")).as("keeper_id"),
        col("group_size"), col("best.s").as("keeper_score"))
  }

  val simhashUdf = udf((t: String) => simhash64(if (t == null) "" else t))

  /** Per-document 64-bit SimHash signature (doc, sh). */
  def simhashSignatures(df: DataFrame, id: String, text: String): DataFrame =
    spreadForUdf(df, col(id))
      .select(col(id).as("doc"), simhashUdf(col(text)).as("sh"))

  /** SimHash near-dup pairs with Hamming distance <= maxDist, bucketed by
    * 16-bit bands (a pair within distance d <= 3 shares at least one of 4
    * bands — pigeonhole), so no all-pairs comparison. Runs on
    * [[bandKeyPairs]]: a band shared by many exact copies fans out like
    * any hot bucket, and the payload is one long per side. */
  def simhashPairs(df: DataFrame, id: String, text: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-band pigeonhole covers Hamming distance <= 3")
    val sig = RunScope.persist("simhash",
      simhashSignatures(df, id, text).withColumn("bks", array((0 until 4).map(b =>
        concat(lit(s"$b:"), shiftright(col("sh"), b * 16).bitwiseAND(65535L))): _*)))
    // scoreAndFilter's guard: dist is computed once (and stays nullable)
    bandKeyPairs(sig, "doc", "bks", Seq("sh"), PairAim)
      .select(col("id0"), col("id1"), when(monotonically_increasing_id() >= 0,
        bit_count(col("sh0").bitwiseXOR(col("sh1")))).as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Cosine similarity of two double-array columns (codegen'd dot/norm,
    * deterministic left-to-right order — bit-compatible with a sequential
    * oracle). */
  def cosine(a: Column, b: Column): Column =
    graft.expr.dotProduct(a, b) / (graft.expr.vectorNorm(a) * graft.expr.vectorNorm(b))

  /** Rounded cosine of the v0/v1 vector columns from their norms
    * nrm0/nrm1 (6 dp, the engine-exact convention). */
  private def pairCosine: Column =
    round(graft.expr.dotProduct(col("v0"), col("v1")) / (col("nrm0") * col("nrm1")), 6)

  /** EXACT embedding-cosine near-dup pairs above a threshold. An exact
    * threshold join over dense vectors is inherently all-pairs (cosine
    * admits no norm-based prune on normalized embeddings), but the plan is
    * a two-sided-salted EQUI-join (single logical bucket, fan-out from row
    * count) — k^2 well-sized shuffle-hash tasks, no CartesianProduct node,
    * no straggler. For corpora where n^2 itself is unaffordable use
    * [[embeddingCosinePairsApprox]]. */
  def embeddingCosinePairs(df: DataFrame, id: String, vec: String,
      threshold: Double, aim: Long = 16000000L): DataFrame = {
    val v = df.select(lit("1").as("bk"), col(id).as("id"),
      col(vec).cast("array<double>").as("v"))
      .withColumn("nrm", graft.expr.vectorNorm(col("v")))
    scoreAndFilter(saltedSelfPairs(v, aim), "cos", pairCosine,
      threshold, "id0", "id1", "cos")
  }

  /** APPROXIMATE embedding-cosine near-dup pairs — the 100-TB path: only
    * pairs sharing >= 1 sign-LSH bucket (graft.ann.Ann hyperplanes) are
    * scored exactly ([[bandKeyPairs]]: candidate generation carries bare
    * ids; vectors join back once per side). Recall vs the exact join is
    * measured in TrainingOpsSpec. */
  def embeddingCosinePairsApprox(df: DataFrame, id: String, vec: String,
      threshold: Double, tables: Int = 16, bits: Int = 6, dim: Int = 64,
      seed: Long = 0xa11L, aim: Long = PairAim): DataFrame = {
    val sig = RunScope.persist("cosine_lsh",
      graft.ann.Ann.signatures(df, id, vec, tables, bits, dim, seed))
    scoreAndFilter(bandKeyPairs(sig, "vid", "bks", Seq("v", "nrm"), aim),
      "cos", pairCosine, threshold, "id0", "id1", "cos")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-dup
    * removal inside k-means cells — embeddings are clustered, pairwise
    * cosine is computed ONLY within a vector's cell (the clustering IS
    * the blocking; cross-cell near-dups are the accepted recall loss
    * that makes the method linear), ε-similar vectors chain into groups,
    * and each group keeps one representative.
    *
    * Input is [[graft.ann.Ann.ivfAssignments]] output (vid,
    * l2-normalized v, list) so the cell assignment is shared with the
    * IVF index — cluster once, serve both ANN and dedup. Cosine of
    * normalized vectors = plain dot, rounded to 6 (the engine-exact
    * convention of [[embeddingCosinePairs]]). Groups are connected
    * components of the ε-graph labeled by min vid (deterministic,
    * order-free — the paper's keep-one-per-group with a stable choice);
    * keep = (vid == group).
    *
    * Scale shape: cells bound the pair join exactly like LSH buckets
    * (same two-level salting), CC runs only on above-threshold pairs,
    * output is one row per vector via a left join. No windows, no
    * unbounded collects. */
  def semanticDedup(assignments: DataFrame, threshold: Double,
      aim: Long = PairAim): DataFrame = {
    val v = assignments.select(col("list").cast("string").as("bk"),
      col("vid").as("id"), col("v"))
    val pairs = scoreAndFilter(saltedSelfPairs(v, aim), "cos",
      round(graft.expr.dotProduct(col("v0"), col("v1")), 6),
      threshold, "id0", "id1")
    minLabelGroups(assignments.select(col("vid").as("id")), pairs)
      .select(col("id").as("vid"), col("grp"), (col("grp") === col("id")).as("keep"))
  }

  /** (doc, h): the md5 of every `window`-char window of each document,
    * every `stride` chars, generated map-side as one transform+explode
    * (no join). Documents shorter than one window have none. */
  private def md5Windows(df: DataFrame, id: String, text: String,
      window: Int, stride: Int): DataFrame =
    df.where(length(col(text)) >= window)
      .select(col(id).as("doc"),
        explode(transform(
          sequence(lit(1), length(col(text)) - window + 1, lit(stride)),
          p => md5(col(text).substr(p, lit(window)).cast("binary")))).as("h"))

  /** EXACT substring-duplication detector (the span-level complement of
    * document near-dedup, after Lee et al. 2022's "Deduplicating Training
    * Data Makes Language Models Better"): every document is cut into
    * `window`-char windows every `stride` chars, a window is duplicated
    * iff its hash occurs in >= `minDocs` distinct documents, and each
    * document reports its duplicated-window fraction — the
    * boilerplate/copy-paste signal a corpus cleaner thresholds on.
    *
    * Scale shape: [[md5Windows]] (map-side), counted with one
    * hash-aggregate on the window hash (partial map-side combine), and
    * only DUPLICATED hashes
    * flow into the membership join back to windows. Window hashing uses
    * md5 here so DuckDB can replay it; swap [[org.apache.spark.sql.functions.xxhash64]]
    * in for 8-byte keys at the 100-TB scale — the plan is unchanged.
    */
  def duplicatedSpans(df: DataFrame, id: String, text: String,
      window: Int = 40, stride: Int = 20, minDocs: Int = 2): DataFrame = {
    require(window > 0 && stride > 0 && minDocs >= 2)
    val windows = md5Windows(df, id, text, window, stride)
    val dupHashes = windows.groupBy("h")
      .agg(count_distinct(col("doc")).as("nd"))
      .where(col("nd") >= minDocs)
      .select("h")
    val perDoc = windows.join(dupHashes, Seq("h"), "left_semi")
      .groupBy("doc").agg(count(lit(1)).as("n_dup"))
    windows.groupBy("doc").agg(count(lit(1)).as("n_win"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc"), col("n_win"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)) / col("n_win").cast("double"), 6)
          .as("dup_frac"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    * character k-gram, slide a w-hash window, and keep the RIGHTMOST
    * MINIMUM of each window, deduped. Guarantee: any substring match of
    * length ≥ w+k−1 between two documents shares at least one selected
    * fingerprint, at expected density 2/(w+1) of the full k-gram set —
    * the local-selection property fixed-stride windowing
    * ([[duplicatedSpans]]) does not have (a one-char offset shifts every
    * stride-aligned window; winnowing's picks survive).
    *
    * Plan shape: k-gram hashes are generated map-side (one
    * transform+posexplode); the per-window minimum is ONE bounded
    * per-document window (docs are KB–MB at any corpus scale, so the
    * partition-by-doc window never skews); the rightmost-argmin resolves
    * via an equi-join on (doc, hash == window-min) with a w-wide
    * position band — hash join, fan-out ≤ w. No pair enumeration, no
    * global windows.
    *
    * @return selected fingerprints (doc, pos, fp): 1-based k-gram start
    *         positions and their md5 hex (lexicographic minima — stable
    *         across engines for the SQL replay). */
  def winnowingFingerprints(df: DataFrame, id: String, text: String,
      k: Int = 12, w: Int = 8): DataFrame = {
    require(k > 0 && w > 1, s"need k > 0, w > 1: k=$k w=$w")
    val grams = df
      .where(length(col(text)) >= k + w - 1)
      .select(col(id).as("doc"),
        posexplode(transform(sequence(lit(1), length(col(text)) - k + 1),
          p => md5(col(text).substr(p, lit(k)).cast("binary")))))
      .select(col("doc"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    val winMins = grams
      .withColumn("n", max(col("pos")).over(Window.partitionBy("doc")))
      .withColumn("wmin", min(col("h")).over(
        Window.partitionBy("doc").orderBy("pos").rowsBetween(0, w - 1)))
      .where(col("pos") <= col("n") - w + 1)
      .select(col("doc"), col("pos").as("i"), col("wmin"))
    winMins.as("w").join(grams.as("g"),
        col("w.doc") === col("g.doc") && col("g.h") === col("w.wmin") &&
          col("g.pos").between(col("w.i"), col("w.i") + w - 1))
      .groupBy(col("w.doc").as("doc"), col("w.i"), col("w.wmin").as("fp"))
      .agg(max(col("g.pos")).as("pos"))
      .select(col("doc"), col("pos"), col("fp"))
      .distinct()
  }

  /** ORDER-AWARE n-gram novelty — the leakage-style complement of
    * [[duplicatedSpans]]: a window counts as SEEN for doc d iff its hash
    * first occurs in a strictly earlier document (min doc id over the
    * hash < d), so the first copy of a boilerplate block stays novel and
    * every later copy is charged. This is the per-document "how much of
    * this text existed before it" score a curation pipeline uses to keep
    * first occurrences while dropping echoes (and, run with a corpus/
    * benchmark id split, the train-test contamination direction check).
    *
    * Scale shape: the same [[md5Windows]] as [[duplicatedSpans]], one
    * (hash → min doc) hash-agg, one equi-join back on the hash
    * (partition-aligned with the agg's shuffle), one per-doc agg — no
    * windows over tokens, no pair enumeration. */
  def ngramNovelty(df: DataFrame, id: String, text: String,
      window: Int = 40, stride: Int = 20): DataFrame = {
    require(window > 0 && stride > 0)
    val windows = md5Windows(df, id, text, window, stride)
    val firstDoc = windows.groupBy("h").agg(min(col("doc")).as("first_doc"))
    windows.join(firstDoc, Seq("h"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_win"),
        sum(when(col("first_doc") < col("doc"), 1L).otherwise(0L))
          .as("n_seen"))
      .select(col("doc"), col("n_win"), col("n_seen"),
        round(lit(1.0) - col("n_seen") / col("n_win").cast("double"), 6)
          .as("novelty"))
  }
}
