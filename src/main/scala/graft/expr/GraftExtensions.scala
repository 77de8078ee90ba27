package graft.expr

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's Catalyst
  * expressions as SQL functions, so
  * `spark.sql("SELECT dice(a, b) ...")` works on any session built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.expr.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  /** The SQL functions, one (name, usage, builder) row each; `registerAll`
    * registers the same rows on a live session. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    "popcount" -> "popcount(bin) - set bits in a binary column",
    "dice" -> "dice(a, b) - Sorensen-Dice of two bitvectors",
    "dice_pre" -> "dice_pre(a, b, pcsum) - Dice with precomputed popcount sum",
    "dot_product" -> "dot_product(a, b) - dot product of two double arrays",
    "vector_norm" -> "vector_norm(a) - L2 norm of a double array",
    "sorted_intersect_count" ->
      ("sorted_intersect_count(a, b) - merge-scan intersection size of two " +
        "array<bigint> SET signatures; PRECONDITION: both arrays " +
        "ascending-sorted and duplicate-free (as produced by " +
        "hashed_char_ngrams) - undercounts otherwise"),
    "hashed_char_ngrams" ->
      "hashed_char_ngrams(text, n) - sorted distinct xxhash64 of character n-grams",
    "jaro_winkler" ->
      ("jaro_winkler(a, b) - Jaro-Winkler similarity of two strings " +
        "(0.0 on empty input, boost above jaro 0.7, prefix cap 4)"),
    "damerau_levenshtein" ->
      ("damerau_levenshtein(a, b) - true (unrestricted) Damerau-" +
        "Levenshtein distance, adjacent transpositions first-class")
  ).map { case (name, usage) =>
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf"),
      (es: Seq[Expression]) => {
        val arity = KernelCall.kernels(name).inputTypes.length
        if (es.length != arity) throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> s"`$name`", "expectedNum" -> s"$arity",
            "actualNum" -> s"${es.length}", "docroot" -> "https://spark.apache.org/docs/latest"))
        KernelCall(name, es)
      })
  }
}
