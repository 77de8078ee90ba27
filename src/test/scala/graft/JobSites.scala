package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Attributes the Spark jobs of a block of code to the code that submitted
  * them: [[JobSites.record]] runs the block under a fresh job group and
  * returns one [[JobSites.Job]] per job the group submitted.
  *
  * A job's site is the innermost `graft.` frame of its call site, e.g.
  * `graft.io.Checkpoint$.doCompute(Checkpoint.scala:152)`, and its `api`
  * is the Spark method that frame called (`count`, `collect`, `parquet`,
  * ...). A job inside a SQL execution takes the execution's call site
  * (`SparkListenerSQLExecutionStart.details`): AQE and broadcast jobs are
  * submitted from Spark's own threads, whose stacks hold no graft frame.
  */
object JobSites {

  final case class Job(id: Int, site: String, api: String) {
    /** True iff the site is a frame of the given source file. */
    def in(file: String): Boolean = site.contains(s"($file:")
  }

  private val Marker = "graft.jobsites.marker"

  private class Listener(group: String) extends SparkListener {
    val execSites = new ConcurrentHashMap[Long, String]()
    val jobs = new ConcurrentLinkedQueue[Job]()
    val markerSeen = new CountDownLatch(1)

    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart => execSites.put(e.executionId, e.details)
      case _ => ()
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      if (prop("spark.jobGroup.id").contains(group)) {
        if (prop(Marker).isDefined) markerSeen.countDown()
        else {
          val stageSite = // the result stage is created last
            if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).details
          val callSite = prop("spark.sql.execution.id")
            .flatMap(id => Option(execSites.get(id.toLong))).getOrElse(stageSite)
          val frames = callSite.split("\n").map(_.trim)
          val api = frames.headOption.map(_.takeWhile(_ != '(').split('.').last).getOrElse("")
          jobs.add(Job(js.jobId, frames.find(_.startsWith("graft.")).getOrElse(""), api))
        }
      }
    }
  }

  /** Runs `body` under a fresh job group and returns its result with the
    * jobs the group submitted, in submission order. */
  def record[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val group = s"jobsites-${java.util.UUID.randomUUID()}"
    val listener = new Listener(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "JobSites.record")
      val result = body
      // a listener receives events in posting order: once the marker job's
      // start has arrived, so has every earlier job's
      sc.setLocalProperty(Marker, "1")
      sc.parallelize(Seq(1), 1).count()
      require(listener.markerSeen.await(60, TimeUnit.SECONDS),
        "JobSites: listener events did not arrive")
      (result, listener.jobs.asScala.toSeq)
    } finally {
      sc.setLocalProperty(Marker, null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
