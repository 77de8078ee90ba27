package graft.core

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Bloom-filter kernels shared by the build side
  * ([[graft.expr.bloomPositions]]) and the probe side
  * ([[graft.expr.BloomMightContain]]). Both sides derive bit positions from
  * the SAME function over the same xxhash64 key hash, so a key inserted on
  * the build side can never be missed on the probe side — the Bloom
  * one-sided-error guarantee reduces to referential transparency here.
  *
  * Positions use Kirsch–Mitzenmacher double hashing (g_i = h1 + i·h2,
  * "Less Hashing, Same Performance", ESA'06): k positions from one 64-bit
  * hash with no further hashing, preserving the asymptotic false-positive
  * rate. Arithmetic intentionally uses Java wrap-around semantics (this is
  * hashing, not accounting), which also keeps it outside Spark's ANSI
  * overflow checking.
  */
object BloomOps {

  /** Derived second hash; forced odd so the stride cycles through all
    * residues of any power-of-two-free modulus reachable before wrap. */
  def mix(h: Long): Long = ((h ^ (h >>> 33)) * 0xff51afd7ed558ccdL) | 1L

  /** The i-th probe position of hash `h` in an m-bit filter. */
  @inline private def pos(x: Long, mBits: Long): Long = {
    val p = x % mBits
    if (p < 0) p + mBits else p
  }

  /** All k probe positions as a Catalyst long array (build side). */
  def positions(h: Long, k: Int, mBits: Long): ArrayData = {
    val out = new Array[Long](k)
    val h2 = mix(h)
    var x = h
    var i = 0
    while (i < k) {
      out(i) = pos(x, mBits)
      x += h2
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Probe: true iff every probe position's bit is set (possible member);
    * false is definite non-membership. */
  def mightContain(h: Long, bits: Array[Long], k: Int, mBits: Long): Boolean = {
    val h2 = mix(h)
    var x = h
    var i = 0
    while (i < k) {
      val p = pos(x, mBits)
      if ((bits((p >>> 6).toInt) & (1L << (p & 63L).toInt)) == 0L) return false
      x += h2
      i += 1
    }
    true
  }
}
