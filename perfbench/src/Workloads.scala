package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{BitOps, ClusterMember, Edge, LinkConfig, NodeId}
import graft.ingest.{Ingest, Page}
import graft.link.{Linker, Pipeline}
import graft.cluster.{Permutation, Solver}
import graft.io.{Checkpoint, Export}
import graft.jobs.LinkJob

/** What the output checks found: pass/fail, why, and the counts the run
  * produced, rows per layer included (merged into the traced run's
  * per-layer metrics), plus the LinkJob stages to place in its trace. */
final case class Checked(ok: Boolean, why: String, obs: Map[String, Double],
    children: Seq[StageChild] = Nil)

/** A finished linkage run: its output check and the release of the frames
  * it persisted, both called after the timed region. */
final case class Outcome(check: () => Checked, release: () => Unit)

/** One linkage workload: the page shape it synthesizes and the flagship
  * path it drives through the public calls of each layer. */
abstract class Workload(val name: String, val sizes: Seq[Int], val overlap: Double,
    val threshold: Double) {
  val cfg: LinkConfig = LinkConfig(threshold)
  def pairSpace: Double = sizes(0).toDouble * sizes(1)
  def reportsF1: Boolean
  /** The layout the `link` call consumes, built the way the run builds it. */
  def blocked(pages: Dataset[Page]): DataFrame
  /** The timed linkage run; `dir` is a fresh directory for its outputs. */
  def run(spark: SparkSession, pages: Dataset[Page], dir: String, tr: Tracer): Outcome
}

object Workloads {

  def apply(name: String, smoke: Boolean): Workload = name match {
    case "allpairs_perm" => new AllPairsPerm(if (smoke) 400 else 6000)
    case "scores_dense" => new ScoresDense(if (smoke) 200 else 1000)
    case "linkjob_blocked" =>
      if (smoke) new LinkJobBlocked(200, 2000) else new LinkJobBlocked(1000, 10000)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Persist and count: the action that materializes a layer's output. */
  def materialize[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** No blocking: every record in the reference's default block "1". */
  def singleBlock(pages: Dataset[Page]): DataFrame =
    Ingest.encodePages(pages).select("dp", "entity_id", "clk", "popcount")
      .withColumn("block_key", lit("1"))

  /** True (rec0, rec1) pairs between providers 0 and 1. */
  def truth(pages: Dataset[Page]): DataFrame = {
    val p = pages.toDF()
    p.where(col("dp") === 0).select(col("truth_entity"), col("entity_id").as("rec0"))
      .join(p.where(col("dp") === 1)
        .select(col("truth_entity"), col("entity_id").as("rec1")), "truth_entity")
      .select("rec0", "rec1")
  }

  /** Connected components of an edge list: (count, largest size). */
  def components(edges: Seq[(Long, Long)]): (Long, Long) = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var y = x
      while (y != r) { val n = parent.get(y); parent.put(y, r); y = n }
      r
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (!parent.containsKey(ru)) parent.put(ru, ru)
      if (!parent.containsKey(rv)) parent.put(rv, rv)
      if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
    }
    val sizes = parent.keySet.asScala.toSeq.groupBy(find).values.map(_.size.toLong)
    (sizes.size.toLong, if (sizes.isEmpty) 0L else sizes.max)
  }

  def edgeNodes(edges: Dataset[Edge]): Seq[(Long, Long)] =
    edges.collect().toSeq.map(e => (NodeId(e.dp0, e.rec0), NodeId(e.dp1, e.rec1)))

  def bytesUnder(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum.toDouble
      finally s.close()
    }
  }

  /** The `part-*` text files of a Spark text write, in partition order. */
  def textLines(dir: String): Iterator[String] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .iterator.flatMap(f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala)

  def rows(layer: String, in: Long, out: Long): Map[String, Double] =
    Map(s"$layer.rows_in" -> in.toDouble, s"$layer.rows_out" -> out.toDouble)

  def f1Check(f1: Double): Option[String] =
    if (f1 >= 0.99) None else Some(f"pairwise F1 $f1%.4f < 0.99")

  def verdict(fails: Seq[Option[String]], obs: Map[String, Double],
      children: Seq[StageChild] = Nil): Checked = {
    val why = fails.flatten
    Checked(why.isEmpty, why.mkString("; "), obs, children)
  }
}

import Workloads._

/** All pairs in one block at a high threshold, 2-party permutations out. */
final class AllPairsPerm(n: Int) extends Workload("allpairs_perm", Seq(n, n), 0.5, 0.95) {
  val reportsF1 = true
  def blocked(pages: Dataset[Page]): DataFrame = singleBlock(pages)

  def run(spark: SparkSession, pages: Dataset[Page], dir: String, tr: Tracer): Outcome = {
    import spark.implicits._
    val Seq(n0, n1) = sizes
    val (blk, nb) = tr.span("ingest")(materialize(singleBlock(pages)))
    val (edges, ne) = tr.span("link")(materialize(Linker.scoreCandidates(blk, cfg)))
    val (clusters, p0, p1, mask) = tr.span("cluster") {
      val (cl, _) = materialize(Solver.solve(edges, cfg))
      val (perm, maskDf) = Permutation.permuteAndMask(cl, n0, n1)
      val p0 = Permutation.toDenseList(perm, 0)
      val p1 = Permutation.toDenseList(perm, 1)
      val m = maskDf.orderBy("slot").select($"bit").collect().map(_.getInt(0))
      (cl, p0, p1, m)
    }
    Outcome(
      check = () => {
        val f1 = Pipeline.pairwiseF1(clusters, truth(pages))
        // 2-party groups: one cross pair per group with a member on each side
        val matched = clusters.collect().groupBy(_.clusterId).values
          .map(g => g.count(_.dp == 0).toLong * g.count(_.dp == 1)).sum
        def bijection(p: Array[Long], size: Int) =
          p.length == size && p.distinct.length == size && p.forall(s => s >= 0 && s < size)
        val (comps, maxComp) = components(edgeNodes(edges))
        verdict(Seq(
          f1Check(f1),
          Option.unless(bijection(p0, n0))("side 0 permutation is not a bijection"),
          Option.unless(bijection(p1, n1))("side 1 permutation is not a bijection"),
          Option.unless(mask.length == math.min(n0, n1) && mask.sum == matched)(
            s"mask sum ${mask.sum} != matched pairs $matched")),
          rows("ingest", n0 + n1, nb) ++ rows("link", nb, ne) ++
            rows("cluster", ne, p0.length + p1.length) ++
          Map("pairwise_f1" -> f1, "link.edges_out" -> ne.toDouble,
            "cluster.matched_pairs" -> matched.toDouble,
            "cluster.components" -> comps.toDouble, "cluster.max_component" -> maxComp.toDouble))
      },
      release = () => Seq(blk, edges, clusters).foreach(_.unpersist(true)))
  }
}

/** All pairs in one block at t=0.5: every pair is an edge, scores to CSV. */
final class ScoresDense(n: Int) extends Workload("scores_dense", Seq(n, n), 0.5, 0.5) {
  val reportsF1 = false
  def blocked(pages: Dataset[Page]): DataFrame = singleBlock(pages)

  def run(spark: SparkSession, pages: Dataset[Page], dir: String, tr: Tracer): Outcome = {
    val Seq(n0, n1) = sizes
    val out = s"$dir/scores"
    val (blk, nb) = tr.span("ingest")(materialize(singleBlock(pages)))
    val (edges, ne) = tr.span("link")(materialize(Linker.scoreCandidates(blk, cfg)))
    tr.span("io")(Export.writeScoresCsv(edges, out))
    Outcome(
      check = () => {
        val recs = blk.select("dp", "clk").collect()
        val a = recs.filter(_.getInt(0) == 0).map(_.getAs[Array[Byte]](1))
        val b = recs.filter(_.getInt(0) == 1).map(_.getAs[Array[Byte]](1))
        var brute = 0L
        a.foreach(x => b.foreach(y => if (BitOps.dice(x, y) >= threshold) brute += 1))
        var lines = 0L
        var prev = Double.PositiveInfinity
        var sorted = true
        textLines(out).foreach { l =>
          val sim = l.substring(l.lastIndexOf(',') + 1).toDouble
          if (sim > prev) sorted = false
          prev = sim; lines += 1
        }
        verdict(Seq(
          Option.unless(ne == brute)(s"edges $ne != brute force $brute"),
          Option.unless(lines == brute)(s"CSV lines $lines != brute force $brute"),
          Option.unless(sorted)("CSV sim increases down the file")),
          rows("ingest", n0 + n1, nb) ++ rows("link", nb, ne) ++ rows("io", ne, lines) ++
          Map("link.edges_out" -> ne.toDouble, "io.bytes_written" -> bytesUnder(out)))
      },
      release = () => Seq(blk, edges).foreach(_.unpersist(true)))
  }
}

/** The resumable LinkJob over LSH-blocked pages, groups to JSON lines. */
final class LinkJobBlocked(nA: Int, nB: Int)
    extends Workload("linkjob_blocked", Seq(nA, nB), 0.2, 0.8) {
  val reportsF1 = true
  def blocked(pages: Dataset[Page]): DataFrame = Ingest.encodeAndBlock(pages)

  def run(spark: SparkSession, pages: Dataset[Page], dir: String, tr: Tracer): Outcome = {
    val root = s"$dir/ckpt"
    val out = s"$dir/groups"
    val (clusters, nc) = tr.span("jobs") {
      val df = LinkJob.run(spark, pages, cfg, root)
      (df, df.count())
    }
    val members = clusters.as[ClusterMember](
      org.apache.spark.sql.Encoders.product[ClusterMember])
    tr.span("io")(Export.writeGroupsJson(members, out))
    Outcome(
      check = () => {
        val ManifestField = """"(rows|wall_ms)":(\d+)""".r
        def manifest(stage: String): Map[String, Long] =
          Checkpoint.readManifest(spark, root, stage).toSeq
            .flatMap(ManifestField.findAllMatchIn(_)).map(m => m.group(1) -> m.group(2).toLong).toMap
        val Seq(mb, me, mc) = LinkJob.Stages.map(manifest)
        val f1 = Pipeline.pairwiseF1(members, truth(pages))
        val groupLines = textLines(out).size.toLong
        val groups = members.select("clusterId").distinct().count()
        val edgeNodesSeq = spark.read.parquet(s"$root/edges")
          .select("dp0", "rec0", "dp1", "rec1").collect().toSeq
          .map(r => (NodeId(r.getInt(0), r.getLong(1)), NodeId(r.getInt(2), r.getLong(3))))
        val (comps, maxComp) = components(edgeNodesSeq)
        val (rb, re, rc) = (mb("rows"), me("rows"), mc("rows"))
        verdict(Seq(
          f1Check(f1),
          Option.unless(mc("rows") == nc)(s"clusters manifest rows ${mc("rows")} != returned $nc"),
          Option.unless(groupLines == groups)(s"group lines $groupLines != clusters $groups")),
          rows("jobs", nA + nB, nc) ++ rows("ingest", nA + nB, rb) ++ rows("link", rb, re) ++
            rows("cluster", re, rc) ++ rows("io", rc, groupLines) ++
          Map("pairwise_f1" -> f1, "link.edges_out" -> re.toDouble,
            "io.bytes_written" -> (bytesUnder(out) + bytesUnder(root)),
            "jobs.stage_blocked_s" -> mb("wall_ms") / 1e3,
            "jobs.stage_edges_s" -> me("wall_ms") / 1e3,
            "jobs.stage_clusters_s" -> mc("wall_ms") / 1e3,
            "cluster.components" -> comps.toDouble, "cluster.max_component" -> maxComp.toDouble),
          Seq(StageChild("ingest", "blocked", mb("wall_ms")),
            StageChild("link", "edges", me("wall_ms")),
            StageChild("cluster", "clusters", mc("wall_ms"))))
      },
      release = () => ())
  }
}
