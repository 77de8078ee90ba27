package graft

import graft.core.{ClusterMember, Edge, LinkConfig, RunScope}
import graft.ingest.ClkIO
import graft.link.Pipeline
import graft.cluster.Solver
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.util.Random

/** The solver's two paths, the driver-side solve of a small graph and the
  * distributed CC + per-component solve (forced with a limit of 0 edges),
  * each against a driver brute force of G1: one pass over the edges in
  * (sim DESC, dp0, rec0, dp1, rec1) order, merging two groups only when
  * every cross pair between them is a candidate. */
class SolverLocalSpec extends SparkSpec {

  private type Node = (Int, Long)

  private def bruteForce(edges: Seq[Edge]): Set[Set[Node]] = {
    val cand = edges.map(e => Set((e.dp0, e.rec0), (e.dp1, e.rec1))).toSet
    val group = mutable.Map[Node, Set[Node]]()
    edges.sortBy(e => (-e.sim, e.dp0, e.rec0, e.dp1, e.rec1)).foreach { e =>
      val (a, b) = ((e.dp0, e.rec0), (e.dp1, e.rec1))
      val (ga, gb) = (group.getOrElse(a, Set(a)), group.getOrElse(b, Set(b)))
      if (ga != gb && ga.forall(x => gb.forall(y => cand(Set(x, y))))) {
        val merged = ga ++ gb
        merged.foreach(group(_) = merged)
      }
    }
    group.values.toSet
  }

  /** Groups as node sets, checking each cluster id is its least member. */
  private def groups(members: Seq[ClusterMember]): Set[Set[Node]] =
    members.groupBy(_.clusterId).values.map { ms =>
      assert(ms.map(m => graft.core.NodeId(m.dp, m.entityId)).min == ms.head.clusterId)
      ms.map(m => (m.dp, m.entityId)).toSet
    }.toSet

  private def solvedBothWays(edges: Seq[Edge]): (Set[Set[Node]], Set[Set[Node]]) = {
    import spark.implicits._
    val ds = edges.toDS()
    val cfg = LinkConfig(threshold = 0.8)
    RunScope.run {
      (groups(Solver.solve(ds, cfg).collect().toSeq),
        groups(Solver.solve(ds, cfg, localSolveMaxEdges = 0).collect().toSeq))
    }
  }

  test("60 random 3-party graphs: driver solve == distributed solve == brute force") {
    // disjoint graphs over 3 providers, sims from a 5-value grid (ties)
    val edges = (0 until 60).flatMap { seed =>
      val rnd = new Random(1000 + seed)
      val recs = 3 + rnd.nextInt(6)
      Seq.fill(recs * (1 + rnd.nextInt(4))) {
        val dp0 = rnd.nextInt(2)
        val dp1 = dp0 + 1 + rnd.nextInt(2 - dp0)
        ((dp0, seed * 1000L + rnd.nextInt(recs)), (dp1, seed * 1000L + rnd.nextInt(recs)))
      }.distinct.map { case ((d0, r0), (d1, r1)) =>
        Edge(0.8 + 0.05 * rnd.nextInt(5), d0, r0, d1, r1)
      }
    }
    val want = bruteForce(edges)
    assert(want.exists(_.size >= 3), "no multi-party group: the merge rule is untested")
    val (local, distributed) = solvedBothWays(edges)
    assert(local == want)
    assert(distributed == want)
  }

  test("febrl4 @ t=0.8: driver solve == distributed solve == brute force") {
    val edges = RunScope.run(febrl4Edges().collect().toSeq)
    assert(edges.nonEmpty)
    val (local, distributed) = solvedBothWays(edges)
    val want = bruteForce(edges)
    assert(local == want)
    assert(distributed == want)
  }

  test("an empty graph solves to no clusters on both paths") {
    assert(solvedBothWays(Nil) == ((Set.empty, Set.empty)))
  }

  test("driver solve of a persisted febrl4 edge frame: at most 2 jobs, nothing left persisted") {
    val edges = febrl4Edges().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      assert(edges.count() > 0)
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val (clusters, jobs) = JobSites.record(spark) {
        Solver.solve(edges, LinkConfig(threshold = 0.8)).collect()
      }
      assert(clusters.nonEmpty)
      assert(jobs.size <= 2, jobs.mkString("\n"))
      assert(sc.getPersistentRDDs.keySet == before)
    } finally edges.unpersist(true)
  }

  private def febrl4Edges() = {
    val a = ClkIO.readBinary(spark, s"$fixturesDir/febrl4_a.bin", 0, 128)
    val b = ClkIO.readBinary(spark, s"$fixturesDir/febrl4_b.bin", 1, 128)
    Pipeline.edges(Pipeline.defaultBlock(a.union(b)), LinkConfig(threshold = 0.8))
  }
}
