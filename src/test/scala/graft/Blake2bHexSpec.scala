package graft

import graft.core.Blake2b256
import graft.ingest.Blocking
import org.scalatest.funsuite.AnyFunSuite

/** The table-driven hexdigest is the per-byte `%02x` formatting it
  * replaced, byte for byte. */
class Blake2bHexSpec extends AnyFunSuite {

  private def formatted(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString

  test("hashHex == per-byte %02x of hash on 500 random inputs of length 0-300") {
    val rnd = new scala.util.Random(0x5eed)
    (0 until 500).foreach { _ =>
      val x = new Array[Byte](rnd.nextInt(301))
      rnd.nextBytes(x)
      assert(Blake2b256.hashHex(x) == formatted(Blake2b256.hash(x)))
    }
  }

  test("a text with no tokens gets the constant key hashName(\"1\")") {
    assert(Blocking.EmptyTextKey == Blake2b256.hashName("1"))
    assert(Blocking.lshKeys("").toSeq == Seq(Blake2b256.hashName("1")))
    assert(Blocking.lshKeys("   ").toSeq == Seq(Blocking.EmptyTextKey))
  }
}
