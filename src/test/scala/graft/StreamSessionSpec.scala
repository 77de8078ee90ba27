package graft

import org.apache.spark.{TestListenerBus, TestListenerCount}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** A driver stream sizes its shuffle partitions on a session of its own,
  * so the caller's session keeps its setting while the stream runs, and
  * every stream run reuses that session. */
class StreamSessionSpec extends SparkSpec {

  test("q_events_stream_windows leaves the caller's shuffle partitions alone") {
    val key = "spark.sql.shuffle.partitions"
    val sc = spark.sparkContext
    val prev = spark.conf.get(key)
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(spark.conf.get(key))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = seen.add(spark.conf.get(key))
    }
    // a value the stream override (min(8, parallelism)) never takes
    spark.conf.set(key, "13")
    sc.addSparkListener(listener)
    try {
      val rows = SparkEntry.queries("q_events_stream_windows")(spark, sfTiny).collect()
      assert(rows.nonEmpty)
      TestListenerBus.drain(sc)
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set(key, prev)
    }
    assert(!seen.isEmpty)
    assert(seen.asScala.forall(_ == "13"), seen.asScala.toSeq.distinct)
  }

  // Spark leaves one listener bus on the context for every stream query
  // it starts, also when all runs share one session; a fresh session per
  // run attaches a second one, so two runs would add four
  test("repeated stream runs share one session's listener bus") {
    val sc = spark.sparkContext
    def run() = SparkEntry.queries("q_events_stream_windows")(spark, sfTiny)
      .collect().toSeq
    val first = run()
    TestListenerBus.drain(sc)
    val listeners = TestListenerCount(sc)
    val again = Seq(run(), run())
    TestListenerBus.drain(sc)
    assert(TestListenerCount(sc) - listeners <= again.size)
    again.foreach(rows => assert(rows == first))
  }
}
