package graft

import graft.core.{Edge, LinkConfig, RunScope}
import graft.ingest.ClkIO
import graft.link.Pipeline
import graft.cluster.Solver
import scala.collection.mutable
import scala.util.Random

/** The greedy solver against an independent driver-side brute force of
  * its G1 semantics (SURVEY.md §2): one global pass over the candidate
  * edges in (sim DESC, dp0, rec0, dp1, rec1) order, merging two groups
  * only when every cross pair between them is a candidate. No component
  * split, no node-id packing: nothing shared with the engine. */
class SolverOracleSpec extends SparkSpec {

  private def oracle(edges: Seq[Edge]): Set[Set[(Int, Long)]] = {
    val cand = edges.map(e => Set((e.dp0, e.rec0), (e.dp1, e.rec1))).toSet
    val group = mutable.Map[(Int, Long), Set[(Int, Long)]]()
    edges.sortBy(e => (-e.sim, e.dp0, e.rec0, e.dp1, e.rec1)).foreach { e =>
      val a = (e.dp0, e.rec0)
      val b = (e.dp1, e.rec1)
      val ga = group.getOrElse(a, Set(a))
      val gb = group.getOrElse(b, Set(b))
      if (ga != gb && ga.forall(x => gb.forall(y => cand(Set(x, y))))) {
        val merged = ga ++ gb
        merged.foreach(n => group(n) = merged)
      }
    }
    group.values.toSet
  }

  private def solved(edges: Seq[Edge]): Set[Set[(Int, Long)]] = {
    import spark.implicits._
    RunScope.run(Solver.solve(edges.toDS(), LinkConfig(threshold = 0.8)).collect())
      .groupBy(_.clusterId).values.map(_.map(m => (m.dp, m.entityId)).toSet).toSet
  }

  /** A random 3-party candidate graph: distinct cross-provider pairs over
    * `recs` records per provider, sims from a 5-value grid so ties are
    * common, records offset by `base` so graphs never touch. */
  private def randomEdges(rnd: Random, recs: Int, n: Int, base: Long): Seq[Edge] =
    Seq.fill(n) {
      val dp0 = rnd.nextInt(2)
      val dp1 = dp0 + 1 + rnd.nextInt(2 - dp0)
      ((dp0, base + rnd.nextInt(recs)), (dp1, base + rnd.nextInt(recs)))
    }.distinct.map { case ((d0, r0), (d1, r1)) =>
      Edge(0.8 + 0.05 * rnd.nextInt(5), d0, r0, d1, r1)
    }

  test("seeded random 3-party graphs with sim ties: Solver.solve == brute force") {
    // one solve over 60 disjoint graphs; sparse ones split into many
    // components, dense ones exercise the all-cross-pairs merge rule
    val edges = (0 until 60).flatMap { seed =>
      val rnd = new Random(seed)
      val recs = 3 + rnd.nextInt(6)
      randomEdges(rnd, recs, recs * (1 + rnd.nextInt(4)), seed * 1000L)
    }
    val want = oracle(edges)
    assert(want.exists(_.size >= 3), "no multi-party group: the merge rule is untested")
    assert(solved(edges) == want)
  }

  test("febrl4 @ t=0.8: Solver.solve == brute force over the engine's edges") {
    import spark.implicits._
    val a = ClkIO.readBinary(spark, s"$fixturesDir/febrl4_a.bin", 0, 128)
    val b = ClkIO.readBinary(spark, s"$fixturesDir/febrl4_b.bin", 1, 128)
    val edges = RunScope.run(
      Pipeline.edges(Pipeline.defaultBlock(a.union(b)), LinkConfig(threshold = 0.8))
        .collect().toSeq)
    assert(edges.nonEmpty)
    assert(solved(edges) == oracle(edges))
  }
}
