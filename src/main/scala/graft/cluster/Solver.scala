package graft.cluster

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ClusterMember, Edge, LinkConfig, NodeId, RunScope}
import scala.collection.mutable

/** Greedy entity-group solver — Spark-native equivalent of anonlink's
  * `greedy_solve` as used by the reference at
  * `backend/entityservice/tasks/solver.py:36-37`.
  *
  * Semantics (SURVEY.md §2 G1): consume candidate pairs in descending
  * similarity; merge the two endpoint groups only when EVERY cross-record
  * pair between them is itself a candidate pair. In the 2-party case this
  * degenerates to greedy matching (a pair is accepted iff both endpoints
  * are unmatched), because a cross pair within one provider can never be a
  * candidate.
  *
  * Parallel strategy: greedy consumption is inherently sequential, but
  * candidate edges never cross connected components — so the global greedy
  * result equals running the exact sequential algorithm independently
  * per component. We compute components distributed (large-star/small-star)
  * and solve each component locally inside `flatMapGroups`. Components are
  * small at sane thresholds; the reference caps total solver input at 1e8
  * pairs anyway (`settings.py:111`).
  *
  * Determinism: edges are processed in (sim DESC, dp0, rec0, dp1, rec1)
  * order; cluster ids are the minimum member node id.
  */
object Solver {

  /** Solve scored candidate edges into entity clusters. */
  def solve(edges: Dataset[Edge], cfg: LinkConfig): Dataset[ClusterMember] = {
    val spark = edges.sparkSession
    import spark.implicits._

    // A4 solver-stage guardrail (settings.py:111, solver.py:29-34) is
    // the caller's: LinkJob enforces it on the committed edge count.

    // nodeEdges feeds BOTH the CC run and the component-tagging join; the
    // upstream is the whole scoring kernel, and AQE compiles the two
    // consumers as separate stages with no exchange reuse — without a
    // persist the kernel chain runs once per consumer (measured round 6:
    // 2x the kernel on every clusters pipeline). CC's own count()
    // materializes the cache; the caller's run releases it.
    val nodeEdges = RunScope.persist("solver_edges",
      edges.map(e =>
        (NodeId(e.dp0, e.rec0), NodeId(e.dp1, e.rec1), e.sim))
        .toDF("u", "v", "sim"))

    val cc = ConnectedComponents.run(
      nodeEdges.select($"u", $"v").as[(Long, Long)])

    // Tag each edge with its component (u's component == v's component).
    val tagged = nodeEdges
      .join(cc.withColumnRenamed("node", "u"), "u")
      .select($"component", $"sim", $"u", $"v")
      .as[(Long, Double, Long, Long)]

    tagged
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Double, Long, Long)]) =>
        solveComponent(it)
      }
  }

  /** Exact sequential greedy within one component. */
  private[cluster] def solveComponent(
      it: Iterator[(Long, Double, Long, Long)]): Iterator[ClusterMember] = {
    // Materialize and order: sim DESC, then node ids ASC (deterministic
    // tie-break; reference stream is sorted desc-sim, ties by indices).
    val es = it.map { case (_, sim, u, v) =>
      if (u <= v) (sim, u, v) else (sim, v, u)
    }.toArray
    java.util.Arrays.sort(es, new java.util.Comparator[(Double, Long, Long)] {
      def compare(a: (Double, Long, Long), b: (Double, Long, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c
        else {
          val c2 = java.lang.Long.compare(a._2, b._2)
          if (c2 != 0) c2 else java.lang.Long.compare(a._3, b._3)
        }
      }
    })

    val candSet = new java.util.HashSet[(Long, Long)](es.length * 2)
    es.foreach { case (_, u, v) => candSet.add((u, v)) }

    val groupOf = new java.util.HashMap[Long, mutable.ArrayBuffer[Long]]()
    es.foreach { case (_, u, v) =>
      val gu = groupOf.get(u)
      val gv = groupOf.get(v)
      if ((gu eq null) && (gv eq null)) {
        val g = mutable.ArrayBuffer(u, v)
        groupOf.put(u, g); groupOf.put(v, g)
      } else if (gu eq null) {
        if (gv.forall(y => candSet.contains(ord(u, y)))) {
          gv += u; groupOf.put(u, gv)
        }
      } else if (gv eq null) {
        if (gu.forall(x => candSet.contains(ord(x, v)))) {
          gu += v; groupOf.put(v, gu)
        }
      } else if (gu ne gv) {
        val ok = gu.forall(x => gv.forall(y => candSet.contains(ord(x, y))))
        if (ok) {
          val (big, small) = if (gu.size >= gv.size) (gu, gv) else (gv, gu)
          big ++= small
          small.foreach(n => groupOf.put(n, big))
        }
      }
      // same group -> nothing to do
    }

    // Distinct groups; singletons never created. clusterId = min node.
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[mutable.ArrayBuffer[Long], java.lang.Boolean]())
    val out = mutable.ArrayBuffer[ClusterMember]()
    val itv = groupOf.values().iterator()
    while (itv.hasNext) {
      val g = itv.next()
      if (seen.add(g) && g.size >= 2) {
        val cid = g.min
        g.foreach(n => out += ClusterMember(cid, NodeId.dp(n), NodeId.entity(n)))
      }
    }
    out.iterator
  }

  @inline private def ord(a: Long, b: Long): (Long, Long) =
    if (a <= b) (a, b) else (b, a)

  /** Mutual-best (symmetric best-match) 1:1 assignment — the cheap
    * alternative solver to greedy: keep a scored pair iff each endpoint
    * is the other's highest-similarity candidate (ties broken by
    * smallest partner id). Strictly more conservative than greedy
    * matching (mutual-best ⊆ greedy's accepted set on two parties) and
    * fully order-free, so it needs NO sequential consumption at all:
    * two argmax aggregations + two key joins, each hash-partitioned on a
    * record key — no component solve, no windows, no collects. The
    * classic use: a high-precision auto-accept tier in front of the
    * greedy solver's clerical band.
    *
    * Input/output schema = the Edge frame (sim, dp0, rec0, dp1, rec1),
    * best-match computed per ORDERED provider pair (dp0, dp1). */
  def mutualBest(edges: DataFrame): DataFrame = {
    // collapse any duplicate 4-key rows to their best sim FIRST: the
    // final join is on the 4 id keys only, so a lower-sim duplicate of
    // a mutual-best pair would otherwise ride through and break the
    // reciprocal-top-1 contract (latent today — callers emit unique
    // pairs — but cheap to make unconditional)
    // consumed three times (two argmax aggs + the final join); the
    // upstream is the scoring kernel — persist so it runs once
    val e = RunScope.persist("mutual_best_edges",
      edges.groupBy("dp0", "rec0", "dp1", "rec1")
        .agg(max(col("sim")).as("sim")))
    // deterministic argmax: min of (-sim, partner) == (sim DESC, id ASC)
    val best1 = e.groupBy("dp0", "rec0", "dp1")
      .agg(min(struct((-col("sim")).as("ns"), col("rec1").as("r"))).as("t"))
      .select(col("dp0"), col("rec0"), col("dp1"), col("t.r").as("rec1"))
    val best0 = e.groupBy("dp1", "rec1", "dp0")
      .agg(min(struct((-col("sim")).as("ns"), col("rec0").as("r"))).as("t"))
      .select(col("dp0"), col("t.r").as("rec0"), col("dp1"), col("rec1"))
    e.join(best1, Seq("dp0", "rec0", "dp1", "rec1"))
      .join(best0, Seq("dp0", "rec0", "dp1", "rec1"))
      .select(col("sim"), col("dp0"), col("rec0"), col("dp1"), col("rec1"))
  }

  /** G2: expand clusters into implied cross-provider record pairs
    * (anonlink `pairs_from_groups`, used by the reference's e2e oracle at
    * `e2etests/tests/test_results_correctness.py:81`). */
  def pairsFromClusters(clusters: Dataset[ClusterMember]): DataFrame = {
    val spark = clusters.sparkSession
    import spark.implicits._
    val a = clusters.toDF("cluster_id", "dp0", "rec0")
    val b = clusters.toDF("cluster_id", "dp1", "rec1")
    a.join(b, "cluster_id")
      .where($"dp0" < $"dp1" || ($"dp0" === $"dp1" && $"rec0" < $"rec1"))
      .select($"dp0", $"rec0", $"dp1", $"rec1")
  }
}
