package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task totals of one Spark job, charged to the span open when it started. */
final class JobStats(val span: Int, val startMs: Long) {
  var tasks = 0L
  var tasksFailed = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
}

/** A span around one public call into a layer; times are wall-clock ms
  * on the listener's clock, measured with nanoTime. */
final case class Span(id: Int, layer: String, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** A stage LinkJob ran inside the `jobs` span: its layer, its checkpoint
  * stage name and the `wall_ms` its `_MANIFEST.json` recorded. */
final case class StageChild(layer: String, stage: String, wallMs: Long)

object Tracer {
  val Layers: Seq[String] = Seq("ingest", "link", "cluster", "io", "jobs")
  private val SpanKey = "perfbench.span"
}

/** Spans around the benchmark's calls into each layer, plus a
  * SparkListener that charges every job's task metrics to the span that
  * was open when the job started (the span id rides a local property,
  * which Spark copies into every job the calling thread submits, AQE and
  * broadcast jobs included). With `enabled` false, `span` runs its body
  * and records nothing. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  @volatile var enabled = false
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  private def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, JobStats]()
  // SQL executions: id -> (start ms, physical plan text), and id -> end ms
  private val sqlStart = new ConcurrentHashMap[Long, (Long, String)]()
  private val sqlEnd = new ConcurrentHashMap[Long, Long]()

  def attach(): Unit = { reset(); sc.addSparkListener(this); enabled = true }

  def detach(): Unit = {
    enabled = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
  }

  def reset(): Unit = {
    spans.clear(); jobs.clear(); stageJob.clear(); sqlStart.clear(); sqlEnd.clear()
  }

  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans += Span(id, layer, t0, nowMs)
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val js = new JobStats(span, e.time)
    jobs.put(e.jobId, js)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, js))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val js = stageJob.get(e.stageId)
    if (js != null) js.synchronized {
      js.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) js.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        js.cpuNs += m.executorCpuTime
        js.gcMs += m.jvmGCTime
        js.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        js.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        js.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        js.spillB += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStart.put(s.executionId, (s.time, s.physicalPlanDescription))
    case s: SparkListenerSQLExecutionEnd => sqlEnd.put(s.executionId, s.time)
    case _ =>
  }

  /** Places each LinkJob stage inside the `jobs` span. A stage's manifest
    * `wall_ms` is timed from just before its checkpoint write to the end of
    * the count that follows it; every SQL execution in that stretch reads
    * or writes the stage's attempt directory `_attempts/<stage>-<id>`. So
    * the stage ends where the first unbroken run of such executions ends,
    * and starts `wall_ms` earlier. */
  private def placeChildren(children: Seq[StageChild]): Seq[Span] = {
    val execs = sqlStart.asScala.toSeq.sortBy(_._1)
    children.map { c =>
      val tag = s"_attempts/${c.stage}-"
      val first = execs.indexWhere(_._2._2.contains(tag))
      // not found: keep the stage's time but charge it no Spark jobs
      if (first < 0) Span(-1, c.layer, -c.wallMs.toDouble, 0.0)
      else {
        val run = execs.drop(first).takeWhile(_._2._2.contains(tag))
        val end = run.flatMap(x => Option(sqlEnd.get(x._1))).map(_.toLong)
          .foldLeft(run.last._2._1)(math.max).toDouble
        Span(-1, c.layer, end - c.wallMs, end)
      }
    }
  }

  /** Per-layer times and Spark task totals of the traced run that just
    * ended (`detach` first); rows come from the workload's checks. */
  def layerMetrics(children: Seq[StageChild], nproc: Int): Map[String, Double] = {
    val placed = placeChildren(children)
    val byId = spans.map(s => s.id -> s).toMap
    def layerOf(j: JobStats): Option[String] = byId.get(j.span).map { s =>
      placed.find(c => s.layer == "jobs" && j.startMs >= c.startMs && j.startMs <= c.endMs)
        .map(_.layer).getOrElse(s.layer)
    }
    val js = jobs.values.asScala.toSeq
    Layers.flatMap { l =>
      val own = spans.filter(_.layer == l)
      val kids = placed.filter(_.layer == l)
      val wall = own.map(_.seconds).sum + kids.map(_.seconds).sum
      // a placed stage is the child of the `jobs` span it sits in
      val childOfOwn = if (l == "jobs") placed.map(_.seconds).sum else 0.0
      val mine = js.filter(j => layerOf(j).contains(l))
      val cpu = mine.map(_.cpuNs).sum / 1e9
      Seq(
        "wall_s" -> wall,
        "self_s" -> (wall - childOfOwn),
        "spark_jobs" -> mine.size.toDouble,
        "tasks" -> mine.map(_.tasks).sum.toDouble,
        "tasks_failed" -> mine.map(_.tasksFailed).sum.toDouble,
        "cpu_s" -> cpu,
        "busy_frac" -> (if (wall > 0) cpu / (wall * nproc) else 0.0),
        "gc_s" -> mine.map(_.gcMs).sum / 1e3,
        "fetch_wait_s" -> mine.map(_.fetchWaitMs).sum / 1e3,
        "shuffle_write_mb" -> mine.map(_.shuffleWriteB).sum / 1e6,
        "shuffle_read_mb" -> mine.map(_.shuffleReadB).sum / 1e6,
        "spill_mb" -> mine.map(_.spillB).sum / 1e6
      ).map { case (k, v) => s"$l.$k" -> v }
    }.toMap
  }
}
