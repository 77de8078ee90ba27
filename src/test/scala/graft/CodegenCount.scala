package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.TaskContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** Counts the Janino compilations of a block of code: each one is a
  * generated class that missed Spark's codegen cache (100 entries unless
  * `spark.sql.codegen.cache.maxEntries` is set when the JVM first
  * compiles), at roughly 15–25 ms of driver time.
  *
  * [[CodegenCount.record]] returns the delta of
  * `CodegenMetrics.METRIC_COMPILATION_TIME`'s count over the block and,
  * per compilation, the SQL execution it ran under and the innermost
  * `graft.` frame of the compiling thread. It attributes a compilation
  * through the cache loader's "Code generated in" log line, which runs on
  * the compiling thread: that thread's (or its task's) SQL execution id
  * names the execution, and the execution's call site names the code
  * that started it. The JVM-wide count also sees compilations of other
  * threads, so run nothing else while recording.
  */
object CodegenCount {

  /** One compilation: its SQL execution (-1 outside one), the innermost
    * `graft.` frame on the compiling thread ("" when it has none), and what
    * generated the code: the outermost `Generate*` generator or
    * `WholeStageCodegenExec`, then the innermost physical operator
    * (`*Exec`) on the stack, e.g. "GenerateOrdering SortExec". */
  final case class Compile(execution: Long, frame: String, generator: String)

  /** @param total the metric's count delta over the block
    * @param compiles the attributed compilations, in compile order
    * @param sites each SQL execution's innermost `graft.` call-site frame */
  final case class Report(total: Long, compiles: Seq[Compile], sites: Map[Long, String]) {
    /** (execution id, its call site, compilations), by execution id; -1
      * collects the compilations outside any execution. */
    def perExecution: Seq[(Long, String, Int)] =
      compiles.groupBy(_.execution).toSeq.sortBy(_._1).map { case (id, cs) =>
        (id, sites.getOrElse(id, cs.head.frame), cs.size)
      }

    def table: String = perExecution.map { case (id, site, n) =>
      val what = compiles.filter(_.execution == id).groupBy(_.generator).toSeq.sortBy(_._1)
        .map { case (g, cs) => s"${cs.size}x $g" }
      f"$id%6d $n%4d  $site\n" + what.map("         " + _).mkString("\n")
    }.mkString(s"total $total\n", "\n", "")
  }

  private val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val ExecutionId = "spark.sql.execution.id"

  private def graftFrame(frames: Iterable[String]): String =
    frames.map(_.trim).find(_.startsWith("graft.")).getOrElse("")

  private def simpleName(f: StackTraceElement) =
    f.getClassName.split('.').last.stripSuffix("$")

  private def generator(stack: Array[StackTraceElement]): String = {
    val gen = stack.reverse.map(simpleName)
      .find(c => c.startsWith("Generate") || c == "WholeStageCodegenExec").getOrElse("?")
    val op = stack.map(simpleName).find(c => c.endsWith("Exec") && c != "WholeStageCodegenExec")
    (gen +: op.toSeq).mkString(" ")
  }

  /** Runs `body` and returns its result with the compilations it caused. */
  def record[A](spark: SparkSession)(body: => A): (A, Report) = {
    val sc = spark.sparkContext
    val compiles = new ConcurrentLinkedQueue[Compile]()
    val sites = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart =>
          sites.put(e.executionId, graftFrame(e.details.split("\n")))
        case _ => ()
      }
    }
    val appender = new AbstractAppender("graft-codegen-count", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Code generated in")) {
          val id = Option(TaskContext.get()).map(_.getLocalProperty(ExecutionId))
            .orElse(Option(sc.getLocalProperty(ExecutionId)))
          val stack = Thread.currentThread.getStackTrace
          compiles.add(Compile(id.map(_.toLong).getOrElse(-1L),
            graftFrame(stack.map(_.toString)), generator(stack)))
        }
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val loggerConf = new LoggerConfig(CodegenLogger, Level.INFO, false)
    appender.start()
    loggerConf.addAppender(appender, Level.INFO, null)
    conf.addLogger(CodegenLogger, loggerConf)
    ctx.updateLoggers()
    sc.addSparkListener(listener)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val result = body
      val total = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      org.apache.spark.TestListenerBus.drain(sc)
      (result, Report(total, compiles.asScala.toSeq, sites.asScala.toMap))
    } finally {
      sc.removeSparkListener(listener)
      conf.removeLogger(CodegenLogger)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
