package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{LinkConfig, RunScope}
import graft.ingest.{Ingest, PagesSynth}
import graft.jobs.LinkJob
import graft.link.{FellegiSunter, Linker}
import graft.cluster.{LabelProp, Solver, Star}
import graft.dedup.Dedup
import java.nio.file.Files

/** RunScope is the one owner of cached intermediate frames: a run
  * releases everything it persisted, concurrent runs keep their own
  * tables, and an equal-plan frame keeps its own cache entry. */
class RunScopeSpec extends SparkSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persisted RDDs that `body` leaves behind which were not there
    * before it (ids, so unrelated GC of older RDDs cannot mask a leak). */
  private def leftBehind(body: => Unit): Set[Int] = {
    val before = persistedIds
    body
    persistedIds -- before
  }

  private def blocked(n: Int) =
    Ingest.encodeAndBlock(PagesSynth.pages(spark, Seq(n, n), overlap = 0.6))

  private def solved(t: Double): Set[(Long, Int, Long)] =
    Solver.solve(Linker.scoreCandidates(blocked(150), LinkConfig(threshold = t)),
      LinkConfig(threshold = t))
      .collect().map(m => (m.clusterId, m.dp, m.entityId)).toSet

  test("a run releases every frame its stages persisted") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L), (6L, 7L))
      .toDF("src", "dst")
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z"), (4L, "x y z w"))
      .toDF("id", "text")
    val records = Seq("p", "p", "q", "r").toDF("v")
    val gammas = Seq.tabulate(40)(i => (i % 2, i % 3 % 2, if (i % 3 % 2 == 1) "p" else null))
      .toDF("gx", "gy", "v")
    val before = persistedIds
    RunScope.run {
      assert(solved(0.8).nonEmpty)
      assert(Dedup.jaccardPairsBy(docs, "id", split(col("text"), " "),
        lit("b"), 0.5).collect().length == 2)
      assert(FellegiSunter.tfAdjustedPosteriors(gammas, Seq("gx", "gy"), "gy",
        "v", records, "v").collect().nonEmpty)
      assert(Star.assign(edges).collect().length == 7)
      assert(LabelProp.run(edges).collect().length == 7)
      assert((persistedIds -- before).nonEmpty, "the stages cached nothing")
    }
    val leaked = persistedIds -- before
    assert(leaked.isEmpty, s"run left ${leaked.size} persisted RDDs")
  }

  test("two concurrent runs keep their results and release their frames") {
    val serial = Seq(0.8, 0.9).map(t => RunScope.run(solved(t)))
    val leaked = leftBehind {
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futures = Seq(0.8, 0.9).map { t =>
          pool.submit(new java.util.concurrent.Callable[Set[(Long, Int, Long)]] {
            def call() = { start.await(); RunScope.run(solved(t)) }
          })
        }
        start.countDown()
        futures.map(_.get()).zip(serial).foreach { case (got, want) =>
          assert(got == want)
        }
      } finally pool.shutdown()
    }
    assert(leaked.isEmpty, s"concurrent runs left ${leaked.size} persisted RDDs")
  }

  test("an equal-plan frame persisted into the same slot stays cached") {
    def frame() = spark.range(0, 1000).withColumn("sq", col("id") * col("id"))
    RunScope.run {
      val first = RunScope.persist("spec_slot", frame())
      first.count()
      val second = RunScope.persist("spec_slot", frame())
      second.count()
      assert(second.storageLevel != StorageLevel.NONE,
        "the second frame lost its cache to the first one's release")
    }
    assert(frame().storageLevel == StorageLevel.NONE, "the run did not release its slot")
  }

  test("LinkJob.run leaves no persisted RDD, also when its guardrail throws") {
    val pages = PagesSynth.pages(spark, Seq(150, 150), overlap = 0.75)
    val ok = leftBehind {
      val root = Files.createTempDirectory("graft-scope").toString
      assert(LinkJob.run(spark, pages, LinkConfig(threshold = 0.8), root).count() > 0)
    }
    assert(ok.isEmpty, s"LinkJob left ${ok.size} persisted RDDs")
    val failed = leftBehind {
      val root = Files.createTempDirectory("graft-scope-guard").toString
      val e = intercept[IllegalArgumentException] {
        LinkJob.run(spark, pages, LinkConfig(threshold = 0.5, maxScoredPairs = 10L), root)
      }
      assert(e.getMessage.contains("exceeds cap"))
    }
    assert(failed.isEmpty, s"aborted LinkJob left ${failed.size} persisted RDDs")
  }

  test("no process-global cache outside RunScope in main sources") {
    val srcRoot = new java.io.File("src/main/scala")
    assert(srcRoot.isDirectory, s"${srcRoot.getAbsolutePath} not found")
    // SparkEntry's session memos: a query and its oracle dump must share
    // one materialization, which a run-scoped table cannot give
    val exempt = Set("febrl4ClustersCache", "ivfSigCache", "pqCache")
    val files = Files.walk(srcRoot.toPath).iterator()
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".scala") && !f.endsWith("core/RunScope.scala")) {
        val code = new String(Files.readAllBytes(f), "UTF-8").split("\n")
          .map(l => if (l.trim.startsWith("//") || l.trim.startsWith("*")) "" else l)
        code.zipWithIndex.foreach { case (l, i) =>
          if (l.contains("@volatile")) offenders += s"$f:${i + 1}: @volatile"
        }
        val text = code.mkString("\n")
        "ConcurrentHashMap\\[".r.findAllMatchIn(text).foreach { m =>
          val value = mapValueType(text, m.end)
          val name = "(?:val|var)\\s+(\\w+)".r
            .findAllMatchIn(text.substring(0, m.start)).toSeq.lastOption.map(_.group(1))
          if ("DataFrame|Dataset\\[".r.findFirstIn(value).isDefined &&
              !name.exists(exempt)) {
            val line = text.substring(0, m.start).count(_ == '\n') + 1
            offenders += s"$f:$line: ConcurrentHashMap of $value (${name.getOrElse("?")})"
          }
        }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** The value type of a `ConcurrentHashMap[K, V]` whose type arguments
    * start at `from`: the text after the first top-level comma, up to the
    * closing bracket. */
  private def mapValueType(text: String, from: Int): String = {
    var depth = 0
    var comma = -1
    var i = from
    while (i < text.length && depth >= 0) {
      text(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case ',' if depth == 0 && comma < 0 => comma = i
        case _ =>
      }
      i += 1
    }
    if (comma < 0) "" else text.substring(comma + 1, i - 1).trim
  }
}
