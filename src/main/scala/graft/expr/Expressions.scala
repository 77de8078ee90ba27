package graft.expr

import graft.core.{BitOps, BloomOps, SetOps, SoftTfidf, StringSim, VecOps}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.GraftSqlBridge.AbstractType
import org.apache.spark.sql.types._

/** Catalyst expressions over the per-row kernels in graft.core.
  *
  * The reference hands each pair to anonlink's C++ popcount kernel
  * (`backend/entityservice/tasks/comparing.py:340-343`). Here every kernel
  * is a static `graft.core` method, and [[KernelCall]] is the one
  * expression that calls it: analysis checks its argument types, and the
  * optimizer replaces it with Spark's `StaticInvoke` of the method, which
  * stays inside whole-stage codegen. The pair-scoring hot path itself is
  * the chunk-pair `flatMap` in `graft.link.Linker.chunked`, which calls
  * `BitOps` directly; `dice_pre` serves `Linker.scoreCandidatesJoin` and
  * `graft.streaming.EventStream.streamingLinkage`.
  */

/** A `graft.core` kernel: the object and method `StaticInvoke` calls, its
  * result type, and the argument types analysis accepts (no implicit casts:
  * `dice(s, s)` on strings fails at analysis, not on the executors). */
private[expr] case class Kernel(target: AnyRef, method: String,
    dataType: DataType, inputTypes: AbstractType*)

/** The call of the [[KernelCall.kernels]] entry `name` on `children`. A
  * null argument gives a null result. */
case class KernelCall(name: String, children: Seq[Expression])
    extends RuntimeReplaceable with ExpectsInputTypes {
  private def kernel = KernelCall.kernels(name)
  override def inputTypes: Seq[AbstractType] = kernel.inputTypes
  override lazy val replacement: Expression = StaticInvoke(
    kernel.target.getClass, kernel.dataType, kernel.method, children,
    returnNullable = false)
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

object KernelCall {
  private val doubles = ArrayType(DoubleType)
  private val longs = ArrayType(LongType)
  private val longSet = ArrayType(LongType, containsNull = false)

  private[expr] val kernels: Map[String, Kernel] = Map(
    "popcount" -> Kernel(BitOps, "popcount", IntegerType, BinaryType),
    "dice" -> Kernel(BitOps, "dice", DoubleType, BinaryType, BinaryType),
    "dice_pre" -> Kernel(BitOps, "dicePre", DoubleType,
      BinaryType, BinaryType, IntegerType),
    "morton16" -> Kernel(BitOps, "morton16", IntegerType, IntegerType, IntegerType),
    "dot_product" -> Kernel(VecOps, "dot", DoubleType, doubles, doubles),
    "vector_norm" -> Kernel(VecOps, "norm2", DoubleType, doubles),
    "sorted_intersect_count" -> Kernel(SetOps, "intersectCountSortedLong",
      IntegerType, longs, longs),
    "hashed_char_ngrams" -> Kernel(SetOps, "hashedCharNgrams", longSet,
      StringType, IntegerType),
    "tf_min_sum_shared" -> Kernel(SetOps, "tfMinSumShared", LongType,
      MapType, MapType),
    "jaro_winkler" -> Kernel(StringSim, "jaroWinkler", DoubleType,
      StringType, StringType),
    "damerau_levenshtein" -> Kernel(StringSim, "damerauLevenshtein",
      IntegerType, StringType, StringType),
    "levenshtein_band" -> Kernel(StringSim, "levenshteinBand", IntegerType,
      StringType, StringType, IntegerType),
    "soft_tfidf_sum" -> Kernel(SoftTfidf, "sum6", LongType,
      ArrayType, ArrayType, LongType),
    "bloom_positions" -> Kernel(BloomOps, "positions", longSet,
      LongType, IntegerType, LongType))
}

/** Hamming bit-sampling LSH band keys over a packed array<long> encoding
  * (Indyk–Motwani bit sampling). Positions ride the plan as one int[]
  * reference object; the per-row work is bands·bitsPerBand shift/and ops
  * in a tight loop (graft.core.BitOps.hammingLshKeys), kept inside
  * whole-stage codegen — the equivalent built-in array() expression
  * unrolls to ~770 terms and trips janino's method-size limit. */
case class HammingLshKeys(child: Expression, bands: Int, bitsPerBand: Int,
    nBits: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val positions: Array[Int] =
    graft.ingest.Blocking.hammingLshPositions(bands, bitsPerBand, nBits)
  override def nullSafeEval(w: Any): Any =
    BitOps.hammingLshKeys(
      w.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      positions, bitsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val posRef = ctx.addReferenceObj("lshPositions", positions, "int[]")
    defineCodeGen(ctx, ev,
      w => s"graft.core.BitOps.hammingLshKeys($w, $posRef, $bitsPerBand)")
  }
  override protected def withNewChildInternal(newChild: Expression): HammingLshKeys =
    copy(child = newChild)
  override def prettyName: String = "hamming_lsh_keys"
}

/** Probe side of the Bloom runtime filter: definite-no / maybe-yes
  * membership of a 64-bit key hash in a driver-built filter word array.
  * The words ride the plan as a reference object (serialized once per
  * task via the closure broadcast), and the probe stays inside
  * whole-stage codegen — the big side is filtered during its scan stage,
  * before any shuffle write. */
case class BloomMightContain(child: Expression, bits: Array[Long], k: Int,
    mBits: Long) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(h: Any): Any =
    BloomOps.mightContain(h.asInstanceOf[Long], bits, k, mBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bitsRef = ctx.addReferenceObj("bloomBits", bits, "long[]")
    defineCodeGen(ctx, ev,
      h => s"graft.core.BloomOps.mightContain($h, $bitsRef, $k, ${mBits}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
  override def prettyName: String = "bloom_might_contain"
}
