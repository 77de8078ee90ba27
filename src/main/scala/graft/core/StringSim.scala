package graft.core

import org.apache.spark.unsafe.types.UTF8String

/** Jaro / Jaro-Winkler string similarity kernels (Winkler 1990) — the
  * soft string comparator classical record linkage uses where this
  * pipeline's CLK path uses Dice over encodings (the reference's
  * encodings exist precisely to avoid exchanging these raw strings;
  * a non-private deployment compares them directly).
  *
  * Semantics are matched to DuckDB's `jaro_winkler_similarity` so driver
  * oracles replay scores value-exact: similarity 0.0 when either side is
  * empty, Winkler boost only when jaro > 0.7, common prefix capped at 4,
  * scaling factor 0.1. Operates on UTF-16 code units (identical to
  * byte/codepoint definitions on ASCII data).
  *
  * Called from codegen'd expressions (graft.expr.jaroWinkler);
  * allocation is two boolean scratch arrays per pair, O(len1·window)
  * time.
  */
object StringSim {

  def jaro(a: UTF8String, b: UTF8String): Double =
    jaroStr(a.toString, b.toString)

  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    val j = jaroStr(s1, s2)
    if (j <= 0.7) return j
    var l = 0
    val max = math.min(4, math.min(s1.length, s2.length))
    while (l < max && s1.charAt(l) == s2.charAt(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }

  private def jaroStr(s1: String, s2: String): Double = {
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (s1 == s2) return 1.0
    val window = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mm = m.toDouble
    // NB: the transposition count is HALVED WITH FLOOR (t / 2 integer
    // division) — this is RapidFuzz/DuckDB semantics, fuzz-verified
    // identical over 3000 random pairs; the t/2.0 real-division variant
    // some references use diverges whenever t is odd
    (mm / l1 + mm / l2 + (mm - t / 2) / mm) / 3.0
  }

  /** Banded Levenshtein with threshold — the semantics of Spark's
    * built-in `levenshtein(l, r, k)`: the exact edit distance when it is
    * <= k, else -1. The built-in (UTF8String.levenshteinDistance) spends
    * ~15 µs/call on ~35-char inputs (measured round 6: ~6 s of every
    * FS-family query's ~7 s was this one expression over ~8M pairs);
    * this kernel runs the classic O((2k+1)·n) band directly on the
    * UTF-8 bytes when both sides are pure ASCII (byte == code point) and
    * delegates to the built-in's own backing method otherwise, so the
    * result is identical by construction on the fallback path and by
    * the banded-DP equivalence (property-fuzzed against the built-in in
    * FuzzySpec) on the fast path. Negative k: the built-in returns -1
    * for any k < 0 (distance can't be below 0... it returns -1 whenever
    * distance > k); delegate for exactness. */
  def levenshteinBand(a: UTF8String, b: UTF8String, k: Int): Int = {
    if (k < 0) return a.levenshteinDistance(b, k)
    if (a.numBytes != a.numChars || b.numBytes != b.numChars)
      return a.levenshteinDistance(b, k)
    var s = a; var t = b
    if (s.numBytes > t.numBytes) { val tmp = s; s = t; t = tmp }
    val n = s.numBytes; val m = t.numBytes
    if (m - n > k) return -1
    if (n == 0) return m // m <= k here (m - 0 <= k)
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    java.util.Arrays.fill(cur, inf)
    var j = 0
    val j0max = math.min(m, k)
    while (j <= j0max) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      cur(0) = if (i <= k) i else inf
      if (lo >= 2) cur(lo - 1) = inf
      var rowMin = inf
      j = lo
      while (j <= hi) {
        val cost = if (s.getByte(i - 1) == t.getByte(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (hi < m) cur(hi + 1) = inf
      if (rowMin >= inf) return -1
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(m) <= k) prev(m) else -1
  }

  def damerauLevenshtein(a: UTF8String, b: UTF8String): Int =
    damerauStr(a.toString, b.toString)

  /** TRUE (unrestricted) Damerau–Levenshtein distance — the Lowrance &
    * Wagner 1975 alphabet-indexed DP: edit distance with adjacent
    * transposition as a first-class operation whose halves may be edited
    * further ("CA"→"ABC" = 2; the restricted OSA variant says 3). This
    * is the variant DuckDB's `damerau_levenshtein` implements (probe:
    * CA/ABC → 2), so the oracle compares engines directly; parity is
    * pinned by the committed fixture `fixtures/damerau_vectors.csv`
    * (DuckDB-generated random pairs) in FuzzySpec.
    *
    * O(|a|·|b|) time and scratch — the transposition recurrence reaches
    * back arbitrarily far, so plain Levenshtein's two-row trick does not
    * apply. Comparison is by UTF-16 code unit (the [[jaroWinkler]]
    * convention; corpus fields are ASCII). */
  private def damerauStr(s1: String, s2: String): Int = {
    val la = s1.length; val lb = s2.length
    if (la == 0) return lb
    if (lb == 0) return la
    val inf = la + lb
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= la) { d(i + 1)(0) = inf; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(0)(j + 1) = inf; d(1)(j + 1) = j; j += 1 }
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val i1: Int = {
          val v = da.get(s2.charAt(j - 1)); if (v == null) 0 else v.intValue()
        }
        val j1 = db
        var cost = 1
        if (s1.charAt(i - 1) == s2.charAt(j - 1)) { cost = 0; db = j }
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val tra = d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
        d(i + 1)(j + 1) = math.min(math.min(sub, ins), math.min(del, tra))
        j += 1
      }
      da.put(s1.charAt(i - 1), i)
      i += 1
    }
    d(la + 1)(lb + 1)
  }
}
