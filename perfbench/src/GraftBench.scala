package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Try
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ingest.{Page, PagesSynth}
import graft.link.Linker

/** One linkage run of the measured loop. */
final case class Sample(runS: Double, ok: Boolean, why: String, traced: Boolean,
    leftoverRdds: Int, layers: Map[String, Double])

/** graft's benchmark: one workload, closed loop (one client thread, the
  * next linkage run starts when the previous one ends) on local[nproc].
  *
  *   GraftBench --workload W --seed N --seconds S --trace 0|1 --smoke 0|1
  *              --setups K --work DIR --out FILE
  *
  * Set-up is repeated K times (session start + page synthesis + one
  * warm-up run each) and reported as a median; a set-up that throws counts
  * as a failure. Each measured run gets freshly synthesized, cached pages
  * (untimed), then the timed linkage run, then (untimed) its output checks,
  * a count of the RDDs the program left persisted, and a cache clear. With
  * --trace 1 untraced and traced runs alternate (untraced first), the
  * per-layer metrics come from the traced ones, and the layout, comparison
  * and 1-vs-nproc scaling counts are taken after the loop. Writes one JSON
  * object to FILE.
  */
object GraftBench {

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // plan text names the full checkpoint paths (see Tracer.placeChildren)
      .config("spark.sql.maxMetadataStringLength", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  def synth(spark: SparkSession, wl: Workload, seed: Long): Dataset[Page] = {
    val p = PagesSynth.pages(spark, wl.sizes, overlap = wl.overlap, noise = 0.05, seed = seed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Single-thread L1-resident popcount loop, ops/s: a co-tenant check. */
  def cpuOps(): Double = {
    val n = 100000000
    var acc = 0L; var x = 0x123456789abcdefL; var i = 0
    val t0 = System.nanoTime()
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      acc += java.lang.Long.bitCount(x); i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) println("") // keeps the loop live
    n / dt
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** One linkage run: synthesis, timed run, checks (measured runs only),
    * isolation. */
  def iterate(spark: SparkSession, wl: Workload, seed: Long, dir: String,
      tr: Tracer, traced: Boolean, measured: Boolean, nproc: Int): (Sample, Double) = {
    val ts = System.nanoTime()
    val pages = synth(spark, wl, seed)
    val synthS = (System.nanoTime() - ts) / 1e9
    if (traced) tr.attach()
    val t0 = System.nanoTime()
    val outcome = Try(wl.run(spark, pages, dir, tr))
    val runS = (System.nanoTime() - t0) / 1e9
    if (traced) tr.detach()
    val tc = System.nanoTime()
    val checked = outcome.fold(
      e => Checked(ok = false, s"run threw: $e", Map.empty),
      o =>
        if (!measured) Checked(ok = true, "", Map.empty)
        else Try(o.check()).fold(e => Checked(ok = false, s"check threw: $e", Map.empty), c => c))
    val tn = System.nanoTime()
    val layers =
      if (traced && checked.ok) {
        val m = tr.layerMetrics(checked.children, nproc) ++ checked.obs
        m + ("jobs.unstaged_s" -> m("jobs.self_s")) +
          ("trace.self_sum_frac" -> Tracer.Layers.map(l => m(s"$l.self_s")).sum / runS)
      } else checked.obs
    outcome.foreach(o => Try(o.release()))
    pages.unpersist(true)
    // what the program itself left cached, then isolate the next run
    val sc = spark.sparkContext
    val leftover = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    deleteTree(dir)
    System.err.println(f"perfbench: $dir synth=$synthS%.2fs run=$runS%.2fs " +
      f"check=${(tn - tc) / 1e9}%.2fs total=${(System.nanoTime() - ts) / 1e9}%.2fs ok=${checked.ok}")
    (Sample(runS, checked.ok, checked.why, traced, leftover, layers), synthS)
  }

  /** Layout, comparison and scaling counts of the workload (untimed). */
  def layerExtras(spark: SparkSession, wl: Workload, seed: Long, work: String,
      nproc: Int): (Map[String, Double], SparkSession) = {
    val pages = synth(spark, wl, seed)
    val (blk, rows) = Workloads.materialize(wl.blocked(pages))
    val stats = blk.groupBy("block_key")
      .agg(count(lit(1)).as("n"), (min("dp") =!= max("dp")).as("cross")).persist()
    val r = stats.agg(count(lit(1)), sum(when(col("cross"), 0L).otherwise(1L)),
      max("n")).head()
    val blocks = r.getLong(0)
    val comparisons = Linker.totalComparisons(blk)
    val distinct =
      if (blocks == 1) wl.pairSpace
      else {
        val m = blk.select("block_key", "dp", "entity_id")
        m.toDF("block_key", "dp0", "rec0").join(m.toDF("block_key", "dp1", "rec1"), "block_key")
          .where(col("dp0") < col("dp1")).select("dp0", "rec0", "dp1", "rec1")
          .distinct().count().toDouble
      }
    // each timing gets a freshly cached layout and an emptied cache, so no
    // chunk frame of an earlier call can serve the next one
    def timeLink(s: SparkSession): Double = {
      val b = Workloads.materialize(wl.blocked(synth(s, wl, seed)))._1
      val t0 = System.nanoTime()
      Workloads.materialize(Linker.scoreCandidates(b, wl.cfg))
      val dt = (System.nanoTime() - t0) / 1e9
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      dt
    }
    val tN = median(Seq(timeLink(spark), timeLink(spark)))
    stop(spark)
    val one = session(1, work)
    val t1 = timeLink(one)
    val cmp = comparisons.toDouble
    (Map(
      "ingest.block_rows" -> rows.toDouble,
      "ingest.blocks" -> blocks.toDouble,
      "ingest.single_dp_block_frac" -> r.getLong(1).toDouble / math.max(blocks, 1L),
      "ingest.max_block" -> r.getLong(2).toDouble,
      "link.comparisons" -> cmp,
      "link.distinct_pairs" -> distinct,
      "link.redundancy" -> (if (distinct > 0) cmp / distinct else 0.0),
      "link.scaling_eff_1_to_n" -> t1 / (nproc * tN),
      "link.scaling_t1_s" -> t1,
      "link.scaling_tn_s" -> tN), one)
  }

  def json(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val wl = Workloads(opt("workload"), opt.getOrElse("smoke", "0") == "1")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val setups = opt.getOrElse("setups", "3").toInt
    val work = new File(opt("work")).getAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val cpuBefore = cpuOps()

    val failures = mutable.ArrayBuffer[String]()

    var spark: SparkSession = null
    val setupS = (1 to setups).flatMap { i =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(nproc, work)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val (s, synthS) = iterate(spark, wl, seed, s"$work/setup$i",
        new Tracer(spark.sparkContext), traced = false, measured = false, nproc)
      if (!s.ok) failures += s"set-up ${s.why}"
      Option.when(s.ok)(sessionS + synthS + s.runS)
    }

    val tr = new Tracer(spark.sparkContext)
    val samples = mutable.ArrayBuffer[Sample]()
    val loop0 = System.nanoTime()
    while (samples.size < (if (trace) 2 else 1) || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val traced = trace && samples.size % 2 == 1
      val (s, _) = iterate(spark, wl, seed, s"$work/run${samples.size}", tr, traced,
        measured = true, nproc)
      samples += s
      if (!s.ok) failures += s.why
    }
    val good = samples.filter(_.ok)
    val untraced = good.filterNot(_.traced).map(_.runS)
    val runS = median(untraced.toSeq)

    val out = mutable.Map[String, Any](
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace,
      "shape" -> wl.sizes, "threshold" -> wl.cfg.threshold,
      "attempted" -> samples.size, "failed" -> failures.size, "failures" -> failures.toSeq,
      "run_s_samples" -> untraced.toSeq, "setup_s_samples" -> setupS,
      "pairwise_f1" -> (if (wl.reportsF1) median(good.flatMap(_.layers.get("pairwise_f1")).toSeq)
        else Double.NaN))

    if (trace) {
      val traced = good.filter(_.traced)
      val keys = traced.flatMap(_.layers.keys).distinct.filterNot(_ == "pairwise_f1")
      // counts a workload's layers never produce read 0 (e.g. no LinkJob stages)
      val absent = Seq("io.bytes_written", "cluster.components", "cluster.max_component") ++
        graft.jobs.LinkJob.Stages.map(st => s"jobs.stage_${st}_s") ++
        Tracer.Layers.flatMap(l => Seq(s"$l.rows_in", s"$l.rows_out"))
      val layers = absent.map(_ -> 0.0).toMap ++
        keys.map(k => k -> median(traced.map(_.layers.getOrElse(k, 0.0)).toSeq))
      val tracedRun = median(traced.map(_.runS).toSeq)
      val (extras, last) = layerExtras(spark, wl, seed, work, nproc)
      spark = last
      out("per_layer") = layers ++ extras ++ Map(
        "link.edge_yield" -> layers.getOrElse("link.edges_out", 0.0) /
          math.max(extras("link.comparisons"), 1.0),
        "run.leftover_persisted_rdds" -> samples.map(_.leftoverRdds).max.toDouble,
        "trace.run_s" -> tracedRun,
        "trace.overhead_frac" -> (if (runS > 0) tracedRun / runS - 1 else 0.0))
    }
    out("e2e") = Map(
      "run_s" -> runS,
      "pairs_per_s" -> (if (runS > 0) wl.pairSpace / runS else 0.0),
      "setup_s" -> median(setupS),
      "peak_rss_mb" -> peakRssMb(),
      "failed_frac" -> failures.size.toDouble / samples.size)
    out("host") = Map(
      "nproc" -> nproc, "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "cpu_ops_before" -> cpuBefore, "cpu_ops_after" -> cpuOps())
    stop(spark)
    Files.write(Paths.get(opt("out")), json(out.toMap).getBytes(StandardCharsets.UTF_8))
  }
}
