package graft

import graft.core.{BitOps, BloomOps, SetOps, SoftTfidf, StringSim, VecOps}
import graft.expr.GraftExtensions
import org.apache.spark.sql.{Column, Row, TestSqlFunctions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.Random

/** Every `graft.expr` entry point, interpreted and through whole-stage
  * codegen, against a direct call of its `graft.core` kernel; and the two
  * routes that register the SQL names. */
class KernelExpressionSpec extends SparkSpec {

  private val sqlNames = Set("popcount", "dice", "dice_pre", "dot_product",
    "vector_norm", "sorted_intersect_count", "hashed_char_ngrams",
    "jaro_winkler", "damerau_levenshtein")

  private val wlType = ArrayType(StructType(Seq(
    StructField("t", StringType), StructField("w", LongType, nullable = false))))
  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("a", BinaryType), StructField("b", BinaryType),
    StructField("pcs", IntegerType),
    StructField("v0", ArrayType(DoubleType)), StructField("v1", ArrayType(DoubleType)),
    StructField("s0", ArrayType(LongType)), StructField("s1", ArrayType(LongType)),
    StructField("t0", StringType), StructField("t1", StringType),
    StructField("wl0", wlType), StructField("wl1", wlType),
    StructField("m0", MapType(StringType, LongType)),
    StructField("m1", MapType(StringType, LongType)),
    StructField("x", IntegerType), StructField("y", IntegerType),
    StructField("h", LongType), StructField("words", ArrayType(LongType))))

  // row 0 is all nulls, row 1 all empty values; CLKs have ragged lengths
  private val rows: Seq[Row] = {
    val rnd = new Random(41)
    def maybe[T](i: Int, k: Int)(v: => T): Any = if (i % k == 0) null else v
    def clk(): Array[Byte] = {
      val a = new Array[Byte](Seq(0, 3, 8, 64, 127, 128)(rnd.nextInt(6))); rnd.nextBytes(a); a
    }
    def str(): String = {
      val alphabet = "ab cdé漢" // multibyte chars take the non-ASCII paths
      Array.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    def set(): Seq[Long] = Seq.fill(rnd.nextInt(30))(rnd.nextInt(60).toLong).distinct.sorted
    def wl(): Seq[Row] = Seq.fill(rnd.nextInt(5))(
      Row(if (rnd.nextInt(6) == 0) null else str(), rnd.nextInt(1000).toLong))
    def tf(): Map[String, Long] =
      Seq.fill(rnd.nextInt(5))("k" + rnd.nextInt(6) -> rnd.nextInt(9).toLong).toMap
    val empty = Row(1, Array[Byte](), Array[Byte](), 0, Seq(), Seq(), Seq(), Seq(),
      "", "", Seq(), Seq(), Map(), Map(), 0, 0, 0L, Seq.fill(16)(0L))
    val raw = Row.fromSeq(0 +: Seq.fill(schema.length - 1)(null)) +: empty +: (2 until 80).map { i =>
      val (a, b) = (clk(), clk())
      Row(i, maybe(i, 7)(a), maybe(i, 11)(b),
        maybe(i, 5)(BitOps.popcount(a) + BitOps.popcount(b)),
        maybe(i, 6)(Seq.fill(rnd.nextInt(6))(rnd.nextGaussian())),
        maybe(i, 13)(Seq.fill(rnd.nextInt(6))(rnd.nextGaussian())),
        maybe(i, 9)(set()), maybe(i, 10)(set()), maybe(i, 8)(str()), maybe(i, 12)(str()),
        maybe(i, 7)(wl()), maybe(i, 9)(wl()), maybe(i, 6)(tf()), maybe(i, 11)(tf()),
        maybe(i, 9)(rnd.nextInt(256)), maybe(i, 13)(rnd.nextInt(256)),
        maybe(i, 10)(rnd.nextLong()), maybe(i, 8)(Seq.fill(16)(rnd.nextLong())))
    }
    raw.map(r => new GenericRowWithSchema(r.toSeq.toArray, schema))
  }

  private def bin(r: Row, c: String) = r.getAs[Array[Byte]](c)
  private def utf(r: Row, c: String) = UTF8String.fromString(r.getAs[String](c))
  private def arr(r: Row, c: String): ArrayData =
    new GenericArrayData(r.getAs[Seq[Any]](c).map {
      case s: Row => InternalRow(UTF8String.fromString(s.getString(0)), s.getLong(1))
      case v => v
    }.toArray)
  private def map(r: Row, c: String): ArrayBasedMapData = {
    val m = r.getAs[Map[String, Long]](c).toSeq
    new ArrayBasedMapData(new GenericArrayData(m.map(kv => UTF8String.fromString(kv._1)).toArray),
      new GenericArrayData(m.map(_._2).toArray[Any]))
  }
  private def longs(a: ArrayData): Seq[Long] = a.toLongArray().toSeq

  private val (lshBands, lshBits) = (8, 6)
  private val (bloomK, bloomM) = (3, 640L)
  private val bloomBits: Array[Long] = {
    val bits = new Array[Long]((bloomM / 64).toInt)
    rows.filter(r => r.getInt(0) % 2 == 0 && !r.isNullAt(16)).foreach { r =>
      longs(BloomOps.positions(r.getAs[Long]("h"), bloomK, bloomM))
        .foreach(p => bits((p / 64).toInt) |= 1L << (p % 64))
    }
    bits
  }

  // (entry point, its input columns, the direct kernel call)
  private val cases: Seq[(Column, Seq[String], Row => Any)] = Seq(
    (expr.popcount(col("a")), Seq("a"), r => BitOps.popcount(bin(r, "a"))),
    (expr.dice(col("a"), col("b")), Seq("a", "b"),
      r => BitOps.dice(bin(r, "a"), bin(r, "b"))),
    (expr.dicePre(col("a"), col("b"), col("pcs")), Seq("a", "b", "pcs"),
      r => BitOps.dicePre(bin(r, "a"), bin(r, "b"), r.getAs[Int]("pcs"))),
    (expr.dotProduct(col("v0"), col("v1")), Seq("v0", "v1"),
      r => VecOps.dot(arr(r, "v0"), arr(r, "v1"))),
    (expr.vectorNorm(col("v1")), Seq("v1"), r => VecOps.norm2(arr(r, "v1"))),
    (expr.sortedIntersectCount(col("s0"), col("s1")), Seq("s0", "s1"),
      r => SetOps.intersectCountSortedLong(arr(r, "s0"), arr(r, "s1"))),
    (expr.hashedCharNgrams(col("t0"), 3), Seq("t0"),
      r => longs(SetOps.hashedCharNgrams(utf(r, "t0"), 3))),
    (expr.jaroWinkler(col("t0"), col("t1")), Seq("t0", "t1"),
      r => StringSim.jaroWinkler(utf(r, "t0"), utf(r, "t1"))),
    (expr.softTfidfSum6(col("wl0"), col("wl1"), 850000L), Seq("wl0", "wl1"),
      r => SoftTfidf.sum6(arr(r, "wl0"), arr(r, "wl1"), 850000L)),
    (expr.tfMinSumShared(col("m0"), col("m1")), Seq("m0", "m1"),
      r => SetOps.tfMinSumShared(map(r, "m0"), map(r, "m1"))),
    (expr.levenshteinBand(col("t0"), col("t1"), 2), Seq("t0", "t1"),
      r => StringSim.levenshteinBand(utf(r, "t0"), utf(r, "t1"), 2)),
    (expr.damerauLevenshtein(col("t0"), col("t1")), Seq("t0", "t1"),
      r => StringSim.damerauLevenshtein(utf(r, "t0"), utf(r, "t1"))),
    (expr.morton16(col("x"), col("y")), Seq("x", "y"),
      r => BitOps.morton16(r.getAs[Int]("x"), r.getAs[Int]("y"))),
    (expr.hammingLshKeys(col("words"), lshBands, lshBits), Seq("words"),
      r => longs(BitOps.hammingLshKeys(arr(r, "words"),
        graft.ingest.Blocking.hammingLshPositions(lshBands, lshBits, 1024), lshBits))),
    (expr.bloomPositions(col("h"), bloomK, bloomM), Seq("h"),
      r => longs(BloomOps.positions(r.getAs[Long]("h"), bloomK, bloomM))),
    (expr.bloomMightContain(col("h"), bloomBits, bloomK, bloomM), Seq("h"),
      r => BloomOps.mightContain(r.getAs[Long]("h"), bloomBits, bloomK, bloomM)))

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every entry point gives the kernel's result, interpreted and codegen'd") {
    // a new frame per run (a frame keeps its first physical plan), over an
    // RDD: a local relation would be projected by the optimizer, on the
    // driver, without codegen
    def run(codegen: Boolean): Map[Int, Row] = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .select(col("id") +: cases.zipWithIndex.map { case (c, i) => c._1.as(s"k$i") }: _*)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*(") == codegen, plan)
      df.collect().map(r => r.getInt(0) -> r).toMap
    }
    val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run(codegen = false))
    val generated = run(codegen = true)
    assert(!spark.conf.getOption("spark.sql.codegen.factoryMode").contains("NO_CODEGEN"))
    for ((mode, got) <- Seq("interpreted" -> interpreted, "codegen" -> generated);
         in <- rows; ((_, cols, kernel), i) <- cases.zipWithIndex) {
      val want = if (cols.exists(c => in.isNullAt(in.fieldIndex(c)))) null else kernel(in)
      val out = got(in.getInt(0)).get(i + 1) match {
        case s: Seq[_] => s.toSeq
        case v => v
      }
      assert(out == want, s"$mode: k$i on row ${in.getInt(0)}")
    }
  }

  test("GraftExtensions and registerAll register the same SQL functions") {
    val injected = TestSqlFunctions.injected(new GraftExtensions)
    val registered = TestSqlFunctions.registered(spark)(expr.registerAll)
    assert(injected.keySet == sqlNames && registered.keySet == sqlNames)
    for (name <- sqlNames; (i, j) = (injected(name), registered(name)))
      assert((i.getName, i.getUsage, i.getClassName, i.getSource) ==
        (j.getName, j.getUsage, j.getClassName, j.getSource), name)
  }

  test("a wrong-typed call of any SQL function fails at analysis") {
    import spark.implicits._
    expr.registerAll(spark)
    Seq(("abc", 7L, Array[Byte](1))).toDF("s", "n", "b")
      .createOrReplaceTempView("t_kerneltypes")
    val bad = Map(
      "popcount" -> "popcount(n)", "dice" -> "dice(s, s)",
      "dice_pre" -> "dice_pre(b, b, s)", "dot_product" -> "dot_product(s, s)",
      "vector_norm" -> "vector_norm(n)",
      "sorted_intersect_count" -> "sorted_intersect_count(s, s)",
      "hashed_char_ngrams" -> "hashed_char_ngrams(n, s)",
      "jaro_winkler" -> "jaro_winkler(n, n)",
      "damerau_levenshtein" -> "damerau_levenshtein(s, b)")
    assert(bad.keySet == sqlNames)
    for (call <- bad.values.toSeq :+ "dice(b)" :+ "popcount(b, b)")
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $call FROM t_kerneltypes").collect()
      }
  }
}
