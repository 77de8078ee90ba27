package graft.core

import org.apache.spark.sql.catalyst.util.ArrayData

/** Fused SoftTF-IDF contribution kernel (Cohen–Ravikumar–Fienberg) — the
  * per-pair double loop of graft.link.Fuzzy.softTfidfPairs as ONE codegen'd
  * call instead of a nested transform/array_max/aggregate tree.
  *
  * Why: Catalyst higher-order functions (transform, aggregate, array_max
  * with lambdas) are CodegenFallback — every lambda application is
  * interpreted with per-element boxing, and the SoftTF-IDF comparator runs
  * |a|·|b| of them per candidate PAIR. Measured round 6: the interpreted
  * tree made q_soft_tfidf the bench's slowest query (~40 s driver window);
  * this kernel does the identical arithmetic in a tight loop.
  *
  * Exactness contract (the reason this file is fiddly): the result must be
  * BIT-IDENTICAL to the expression tree it replaces, because the driver
  * oracle hash-checks the query output. The tree's arithmetic is
  *
  *   per a-token: best = max over b of
  *       round(jw(a.t, b.t) * 1e6)::long * 2^32 + b.w          (packed argmax)
  *   j6 = best >> 32; wb = best & (2^32-1)
  *   contrib = if (j6 >= theta6)
  *       round(((double)j6 * (double)a.w) * (double)wb / 1e6)::long else 0
  *   sum6 = Σ contrib (long adds, array order)
  *
  * where round(x) is Spark's Round(_, 0) on DoubleType: HALF_UP on the
  * SHORTEST-DECIMAL representation — java.math.BigDecimal.valueOf(x)
  * .setScale(0, HALF_UP). That differs from floor(x+0.5) only when x sits
  * within the decimal-representation error of an exact .5 boundary, so
  * [[roundHalfUp]] takes the cheap branch when provably safe and falls
  * back to the BigDecimal path otherwise.
  */
object SoftTfidf {

  /** Spark Round(x, 0) for finite doubles, bit-identically (see scaladoc).
    * Fast path: floor/ceil decided by the binary fraction when x is
    * farther from the .5 boundary than shortest-decimal conversion can
    * move it (|d - x| <= ulp(x)/2); BigDecimal fallback at the boundary. */
  def roundHalfUp(x: Double): Double = {
    val f = math.floor(x)
    val frac = x - f
    val guard = math.max(math.ulp(x) * 2.0, 1e-12)
    if (math.abs(frac - 0.5) > guard) { if (frac > 0.5) f + 1.0 else f }
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Σ over a-tokens of the thresholded best-JW contribution; `wl0`/`wl1`
    * are array<struct<t: string, w: long>> weight lists (field order as
    * built by softTfidfPairs), `theta6` the 1e-6-scaled JW threshold.
    * Null tokens are skipped as the tree's null lambda results were: a null
    * b-token never wins the argmax (array_max ignores nulls), and a null
    * a-token — or one with no non-null partner — contributes 0. */
  def sum6(wl0: ArrayData, wl1: ArrayData, theta6: Long): Long = {
    val n0 = wl0.numElements()
    val n1 = wl1.numElements()
    var sum = 0L
    var i = 0
    while (i < n0) {
      val sa = wl0.getStruct(i, 2)
      val ta = sa.getUTF8String(0)
      val wa = sa.getLong(1)
      if (ta != null) {
        var best = Long.MinValue
        var found = false
        var j = 0
        while (j < n1) {
          val sb = wl1.getStruct(j, 2)
          val tb = sb.getUTF8String(0)
          if (tb != null) {
            val jw = StringSim.jaroWinkler(ta, tb)
            val j6 = roundHalfUp(jw * 1000000.0).toLong
            val packed = j6 * 4294967296L + sb.getLong(1)
            if (packed > best) best = packed
            found = true
          }
          j += 1
        }
        val j6 = best >> 32
        if (found && j6 >= theta6) {
          val wb = best & 0xFFFFFFFFL
          sum += roundHalfUp(
            (j6.toDouble * wa.toDouble) * wb.toDouble / 1000000.0).toLong
        }
      }
      i += 1
    }
    sum
  }
}
