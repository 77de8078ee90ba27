package graft.core

/** Pure-Scala BLAKE2b-256 (RFC 7693), unkeyed. The reference hashes block
  * names with BLAKE2b-256 hexdigest for privacy + bounded length
  * (`backend/entityservice/encoding_storage.py:238-242`); the JVM standard
  * library lacks BLAKE2, so this is a from-spec implementation (verified
  * against hashlib.blake2b(digest_size=32) vectors in Blake2bSpec).
  */
object Blake2b256 {

  private val IV = Array(
    0x6a09e667f3bcc908L, 0xbb67ae8584caa73bL, 0x3c6ef372fe94f82bL,
    0xa54ff53a5f1d36f1L, 0x510e527fade682d1L, 0x9b05688c2b3e6c1fL,
    0x1f83d9abfb41bd6bL, 0x5be0cd19137e2179L)

  private val Sigma: Array[Array[Int]] = Array(
    Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15),
    Array(14, 10, 4, 8, 9, 15, 13, 6, 1, 12, 0, 2, 11, 7, 5, 3),
    Array(11, 8, 12, 0, 5, 2, 15, 13, 10, 14, 3, 6, 7, 1, 9, 4),
    Array(7, 9, 3, 1, 13, 12, 11, 14, 2, 6, 5, 10, 4, 0, 15, 8),
    Array(9, 0, 5, 7, 2, 4, 10, 15, 14, 1, 11, 12, 6, 8, 3, 13),
    Array(2, 12, 6, 10, 0, 11, 8, 3, 4, 13, 7, 5, 15, 14, 1, 9),
    Array(12, 5, 1, 15, 14, 13, 4, 10, 0, 7, 6, 3, 9, 2, 8, 11),
    Array(13, 11, 7, 14, 12, 1, 3, 9, 5, 0, 15, 4, 8, 6, 2, 10),
    Array(6, 15, 14, 9, 11, 3, 0, 8, 12, 2, 13, 7, 1, 4, 10, 5),
    Array(10, 2, 8, 4, 7, 6, 1, 5, 15, 11, 9, 14, 3, 12, 13, 0))

  private val DigestBytes = 32

  def hash(input: Array[Byte]): Array[Byte] = {
    val h = IV.clone()
    h(0) ^= 0x01010000L ^ DigestBytes.toLong // no key, 32-byte digest

    var t = 0L
    var off = 0
    val n = input.length
    // process all full blocks except a final (possibly partial) block
    while (n - off > 128) {
      t += 128
      compress(h, input, off, t, last = false)
      off += 128
    }
    val lastLen = n - off // 0..128 (0 only when n == 0)
    val block = new Array[Byte](128)
    System.arraycopy(input, off, block, 0, lastLen)
    t += lastLen
    compress(h, block, 0, t, last = true)

    val out = new Array[Byte](DigestBytes)
    var i = 0
    while (i < DigestBytes) {
      out(i) = (h(i / 8) >>> (8 * (i % 8))).toByte
      i += 1
    }
    out
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hexdigest, as hashlib's `hexdigest()`. Table-driven: a
    * per-byte `String.format` made hashing the block keys of an LSH
    * explode CPU-bound on formatting. */
  def hashHex(input: Array[Byte]): String = {
    val d = hash(input)
    val out = new Array[Char](2 * DigestBytes)
    var i = 0
    while (i < DigestBytes) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Block-name hash: BLAKE2b-256 hexdigest of the UTF-8 label, as the
    * reference's `hash_block_name`. */
  def hashName(name: String): String =
    hashHex(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def compress(h: Array[Long], block: Array[Byte], off: Int,
      t: Long, last: Boolean): Unit = {
    val m = new Array[Long](16)
    var i = 0
    while (i < 16) {
      var w = 0L
      var j = 7
      while (j >= 0) { w = (w << 8) | (block(off + i * 8 + j) & 0xffL); j -= 1 }
      m(i) = w
      i += 1
    }
    val v = new Array[Long](16)
    System.arraycopy(h, 0, v, 0, 8)
    System.arraycopy(IV, 0, v, 8, 8)
    v(12) ^= t // low word of offset counter (inputs < 2^64 bytes)
    // v(13) ^= t-high (always 0 here)
    if (last) v(14) = ~v(14)

    var r = 0
    while (r < 12) {
      val s = Sigma(r % 10)
      g(v, 0, 4, 8, 12, m(s(0)), m(s(1)))
      g(v, 1, 5, 9, 13, m(s(2)), m(s(3)))
      g(v, 2, 6, 10, 14, m(s(4)), m(s(5)))
      g(v, 3, 7, 11, 15, m(s(6)), m(s(7)))
      g(v, 0, 5, 10, 15, m(s(8)), m(s(9)))
      g(v, 1, 6, 11, 12, m(s(10)), m(s(11)))
      g(v, 2, 7, 8, 13, m(s(12)), m(s(13)))
      g(v, 3, 4, 9, 14, m(s(14)), m(s(15)))
      r += 1
    }
    i = 0
    while (i < 8) { h(i) ^= v(i) ^ v(i + 8); i += 1 }
  }

  @inline private def g(v: Array[Long], a: Int, b: Int, c: Int, d: Int,
      x: Long, y: Long): Unit = {
    v(a) = v(a) + v(b) + x
    v(d) = java.lang.Long.rotateRight(v(d) ^ v(a), 32)
    v(c) = v(c) + v(d)
    v(b) = java.lang.Long.rotateRight(v(b) ^ v(c), 24)
    v(a) = v(a) + v(b) + y
    v(d) = java.lang.Long.rotateRight(v(d) ^ v(a), 16)
    v(c) = v(c) + v(d)
    v(b) = java.lang.Long.rotateRight(v(b) ^ v(c), 63)
  }
}
