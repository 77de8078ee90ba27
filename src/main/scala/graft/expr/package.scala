package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** Column-level entry points for the custom Catalyst expressions. */
package object expr {
  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftSqlBridge.column(e)
  private def ex(c: Column) = GraftSqlBridge.expression(c)
  private def call(name: String, args: Column*): Column =
    col(KernelCall(name, args.map(ex)))

  /** Set-bit count of a binary column. */
  def popcount(c: Column): Column = call("popcount", c)

  /** Sørensen–Dice coefficient of two bitvectors:
    * `2 * popcount(a & b) / (popcount(a) + popcount(b))`; 0.0 for two empty
    * vectors. Threshold semantics in the pipeline are `sim >= t`
    * (reference keeps scores >= threshold, `tasks/comparing.py:340-343`). */
  def dice(a: Column, b: Column): Column = call("dice", a, b)

  /** Dice with a precomputed popcount-sum column: the join carries
    * per-record popcounts, mirroring the reference's popcount cache
    * (`cache/encodings.py:42-45`), which saves two popcount passes per pair. */
  def dicePre(a: Column, b: Column, pcSum: Column): Column =
    call("dice_pre", a, b, pcSum)

  /** Allocation-free dot product of two array<double> columns over their
    * common prefix. */
  def dotProduct(a: Column, b: Column): Column = call("dot_product", a, b)

  /** Merge-scan intersection size of two array<long> set signatures: no
    * per-pair hash set, no UTF8String comparisons. The confirm kernel for
    * every hashed-gram Jaccard path (word tokens, char n-grams, MinHash
    * shingles). PRECONDITION: both arrays ascending-sorted and
    * duplicate-free, as [[hashedCharNgrams]] and the hashed-token
    * signatures produce them; it undercounts otherwise. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call("sorted_intersect_count", a, b)

  /** Sorted distinct 64-bit hashes of a text's character n-grams, in one
    * pass over the UTF8String bytes. Replaces a sequence+transform+substr
    * plan that allocated one UTF8String per character position. */
  def hashedCharNgrams(text: Column, n: Int): Column =
    call("hashed_char_ngrams", text, lit(n))

  /** L2 norm of an array<double> column. */
  def vectorNorm(a: Column): Column = call("vector_norm", a)

  /** Jaro-Winkler similarity of two string columns, with DuckDB's
    * semantics: 0.0 on empty input, boost only above jaro 0.7, prefix cap
    * 4, scale 0.1. */
  def jaroWinkler(a: Column, b: Column): Column = call("jaro_winkler", a, b)

  /** Fused SoftTF-IDF contribution sum of two array<struct<t,w>> weight
    * lists (graft.core.SoftTfidf.sum6: packed JW argmax, exact HALF_UP
    * fixed point). Replaces a nested transform/array_max/aggregate tree
    * whose lambdas are CodegenFallback (interpreted and boxed per token
    * pair); the arithmetic is bit-identical to that tree. */
  def softTfidfSum6(wl0: Column, wl1: Column, theta6: Long): Column =
    call("soft_tfidf_sum", wl0, wl1, lit(theta6))

  /** Shared-key min-sum of two string->long tf map columns (the
    * weighted-Jaccard numerator). Replaces an interpreted
    * map_zip_with/aggregate lambda tree with a bit-identical result. */
  def tfMinSumShared(a: Column, b: Column): Column =
    call("tf_min_sum_shared", a, b)

  /** Banded Levenshtein with the semantics of Spark's built-in
    * `levenshtein(l, r, k)` (exact distance when <= k, else -1), ~10-30x
    * faster per call on ASCII inputs (byte-level band DP, the built-in
    * otherwise; property-fuzzed equal to the built-in in FuzzySpec). */
  def levenshteinBand(a: Column, b: Column, k: Int): Column =
    call("levenshtein_band", a, b, lit(k))

  /** True (Lowrance–Wagner) Damerau-Levenshtein distance of two string
    * columns, adjacent transpositions first-class: the variant DuckDB's
    * damerau_levenshtein implements. */
  def damerauLevenshtein(a: Column, b: Column): Column =
    call("damerau_levenshtein", a, b)

  /** 16-bit Morton (Z-order) code of two pre-quantized 8-bit int columns:
    * the clustering key that makes min/max file skipping effective on both
    * dimensions at once. */
  def morton16(x: Column, y: Column): Column = call("morton16", x, y)

  /** Hamming bit-sampling LSH band keys of a packed array<long> CLK. */
  def hammingLshKeys(words: Column, bands: Int, bitsPerBand: Int,
      nBits: Int = 1024): Column =
    col(HammingLshKeys(ex(words), bands, bitsPerBand, nBits))

  /** Bloom build side: the k probe positions of a long hash column in an
    * m-bit filter (Kirsch–Mitzenmacher double hashing), exploded and
    * bit_or-aggregated into filter words by
    * [[graft.rel.Relational.bloomSemiJoin]]. */
  def bloomPositions(h: Column, k: Int, mBits: Long): Column =
    call("bloom_positions", h, lit(k), lit(mBits))

  /** Bloom probe side: membership of a long hash column in driver-built
    * filter words (false = definitely absent). */
  def bloomMightContain(h: Column, bits: Array[Long], k: Int,
      mBits: Long): Column =
    col(BloomMightContain(ex(h), bits, k, mBits))

  /** Register all SQL names on a live session (same table and
    * `ExpressionInfo` as [[GraftExtensions]] gives a session built
    * `.withExtensions`). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
  }
}
