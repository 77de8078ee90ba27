package graft

import org.apache.spark.sql.functions.col
import graft.link.Pipeline

/** `Pipeline.thresholdSweep` is the one edge-level P/R/F1 engine: the
  * threshold queries and, through `Pipeline.precisionRecallF1`, the
  * cluster and hardening evaluations compute their metrics its way.
  * Checked here against a driver-side brute force over the collected
  * febrl4 edges and truth, the doubles bit for bit. */
class ThresholdSweepSpec extends SparkSpec {

  test("thresholdSweep == brute force over the febrl4 edges; a threshold no edge clears gets no row") {
    val edges = QueryInputs.febrl4Edges(spark, 0.5).toDF()
      .where(col("dp0") === 0 && col("dp1") === 1)
    val truth = QueryInputs.febrl4Truth(spark)
    val grid = Seq(0.5, 0.65, 0.8, 0.9, 0.95, 1.01)

    val scored = edges.select("sim", "rec0", "rec1").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    val pairs = truth.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length, "truth pairs repeat")
    val truthSet = pairs.toSet
    assert(scored.nonEmpty && scored.forall(_._1 < 1.01))

    val got = Pipeline.thresholdSweep(edges, truth, grid).collect()
    assert(got.head.schema.fieldNames.toSeq == Seq("threshold", "n_pred",
      "n_true", "tp", "precision", "recall", "f1"))
    val byThreshold = got.map(r => r.getDouble(0) -> r).toMap
    assert(byThreshold.size == got.length, "one row per threshold")
    // the grid join is inner: 1.01 is cleared by no edge and gets no row
    assert(byThreshold.keySet == grid.filter(t => scored.exists(_._1 >= t)).toSet)
    assert(!byThreshold.contains(1.01))

    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    for ((t, row) <- byThreshold) {
      val kept = scored.filter(_._1 >= t)
      val nPred = kept.length.toLong
      val tp = kept.count(e => truthSet((e._2, e._3))).toLong
      val nTrue = pairs.length.toLong
      assert((row.getLong(1), row.getLong(2), row.getLong(3)) == ((nPred, nTrue, tp)),
        s"counts at t=$t")
      val p = tp.toDouble / nPred
      val r = tp.toDouble / nTrue
      val f1 = 2 * p * r / (p + r)
      assert(bits(row.getDouble(4)) == bits(p), s"precision at t=$t")
      assert(bits(row.getDouble(5)) == bits(r), s"recall at t=$t")
      assert(bits(row.getDouble(6)) == bits(f1), s"f1 at t=$t")
    }
  }
}
