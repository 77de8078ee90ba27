package graft.cluster

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ClusterMember, Edge, LinkConfig, NodeId, RunScope}
import java.util.Arrays

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
  * Strategy: greedy consumption is inherently sequential, but a merge
  * never crosses a connected component, so one pass over ALL edges in
  * the global order gives the same groups as one pass per component.
  * Graphs of at most `localSolveMaxEdges` edges (the candidate graph
  * after thresholding is small; the reference solves the whole graph on
  * one `highmemory` worker, `backend/entityservice/tasks/solver.py`) are
  * collected once as primitive `(sim, u, v)` arrays, in at most two
  * Spark jobs on a materialized input, and solved on the driver; the
  * result is a local Dataset. Larger graphs compute components distributed
  * (large-star/small-star, [[ConnectedComponents]]) and solve each
  * component inside `flatMapGroups`; the reference caps total solver
  * input at 1e8 pairs anyway (`settings.py:111`).
  *
  * Determinism: edges are processed in (sim DESC, dp0, rec0, dp1, rec1)
  * order; cluster ids are the minimum member node id.
  */
object Solver {

  /** Solve scored candidate edges into entity clusters: on the driver
    * when the graph has at most `localSolveMaxEdges` edges, else through
    * distributed connected components (which also takes the limit, so a
    * spec can force every distributed round with 0). */
  def solve(edges: Dataset[Edge], cfg: LinkConfig,
      localSolveMaxEdges: Long = ConnectedComponents.LocalSolveMaxEdges): Dataset[ClusterMember] = {
    val spark = edges.sparkSession
    import spark.implicits._

    // A4 solver-stage guardrail (settings.py:111, solver.py:29-34) is
    // the caller's: LinkJob enforces it on the committed edge count.
    collectAtMost(edges, localSolveMaxEdges) match {
      case Some((sim, u, v)) => spark.createDataset(greedy(sim, u, v).toSeq)
      case None => solveDistributed(edges, localSolveMaxEdges)
    }
  }

  /** The graph as primitive (sim, u, v) arrays when it has at most `limit`
    * edges. One plan: a limit of `limit + 1` rows gathered into a single
    * partition and packed there, so the driver receives three arrays and
    * never more than `limit + 1` edges. On a materialized input that is
    * two Spark jobs (the gathering shuffle, then the collect), or one when
    * Spark already knows the input's row count is within the limit. */
  private def collectAtMost(edges: Dataset[Edge],
      limit: Long): Option[(Array[Double], Array[Long], Array[Long])] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parts = edges.limit(math.min(limit, Int.MaxValue - 1L).toInt + 1)
      .mapPartitions { it =>
        val (s, u, v) = (Array.newBuilder[Double], Array.newBuilder[Long], Array.newBuilder[Long])
        it.foreach { e => s += e.sim; u += NodeId(e.dp0, e.rec0); v += NodeId(e.dp1, e.rec1) }
        Iterator((s.result(), u.result(), v.result()))
      }.collect()
    val sim = parts.flatMap(_._1)
    Option.when(sim.length <= limit)((sim, parts.flatMap(_._2), parts.flatMap(_._3)))
  }

  /** Components through distributed CC, then the greedy per component. */
  private def solveDistributed(edges: Dataset[Edge],
      localSolveMaxEdges: Long): Dataset[ClusterMember] = {
    val spark = edges.sparkSession
    import spark.implicits._

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
      nodeEdges.select($"u", $"v").as[(Long, Long)],
      localSolveMaxEdges = localSolveMaxEdges)

    // Tag each edge with its component (u's component == v's component).
    val tagged = nodeEdges
      .join(cc.withColumnRenamed("node", "u"), "u")
      .select($"component", $"sim", $"u", $"v")
      .as[(Long, Double, Long, Long)]

    tagged
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Double, Long, Long)]) =>
        val es = it.toArray
        greedy(es.map(_._2), es.map(_._3), es.map(_._4)).iterator
      }
  }

  /** Exact sequential greedy (G1) over edge i = (sim(i), u(i), v(i)),
    * node ids as [[NodeId]] packs them: any set of whole components, all
    * of them at once. Every node starts as its own group; in (sim DESC,
    * min id, max id) order, an edge merges its endpoints' groups when
    * every cross pair between them is an edge. Groups of two or more come
    * out, each member tagged with the group's minimum node id.
    *
    * Primitive state only, about 100 bytes per edge at the peak
    * (2M random edges: see [[ConnectedComponents.LocalSolveMaxEdges]]):
    * nodes are ranked in id order (so index order is id order), a pair
    * is the long `lo << 32 | hi` of its two ranks, the candidate set is
    * the sorted array of those longs, and the solve order is one sort of
    * `simRank << 32 | pairRank` longs. */
  private[cluster] def greedy(sim: Array[Double], u: Array[Long],
      v: Array[Long]): Array[ClusterMember] = {
    val m = sim.length
    val nodes = Arrays.copyOf(u, 2 * m)
    System.arraycopy(v, 0, nodes, m, m)
    Arrays.sort(nodes)
    var n = 0
    nodes.indices.foreach { i =>
      if (n == 0 || nodes(i) != nodes(n - 1)) { nodes(n) = nodes(i); n += 1 }
    }
    def rank(id: Long): Long = Arrays.binarySearch(nodes, 0, n, id).toLong
    def pair(x: Long, y: Long): Long = if (x <= y) (x << 32) | y else (y << 32) | x
    val pairs = Array.tabulate(m)(i => pair(rank(u(i)), rank(v(i))))
    val cand = pairs.clone()
    Arrays.sort(cand)
    def isCand(x: Int, y: Int): Boolean = Arrays.binarySearch(cand, pair(x, y)) >= 0

    // solve order: sim DESC (Double.compare order), then pair rank, which
    // is (min id, max id) order because ranks follow ids
    val sims = sim.clone()
    Arrays.sort(sims)
    val order = Array.tabulate(m) { i =>
      (((m - 1 - Arrays.binarySearch(sims, sim(i))).toLong) << 32) |
        Arrays.binarySearch(cand, pairs(i))
    }
    Arrays.sort(order)

    // group(x): x's group, named by one member; each group is a linked list
    // of its members (head/next/tail), with its size and minimum rank
    val group, head, tail, minRank = Array.range(0, n)
    val next = Array.fill(n)(-1)
    val size = Array.fill(n)(1)
    order.foreach { k =>
      val p = cand((k & 0xFFFFFFFFL).toInt)
      val (gu, gv) = (group((p >>> 32).toInt), group(p.toInt))
      if (gu != gv && allCross(head, next, gu, gv, isCand)) {
        val (big, small) = if (size(gu) >= size(gv)) (gu, gv) else (gv, gu)
        var x = head(small)
        while (x >= 0) { group(x) = big; x = next(x) }
        next(tail(big)) = head(small)
        tail(big) = tail(small)
        size(big) += size(small)
        minRank(big) = math.min(minRank(big), minRank(small))
      }
    }
    (0 until n).iterator.filter(x => size(group(x)) >= 2).map { x =>
      ClusterMember(nodes(minRank(group(x))), NodeId.dp(nodes(x)), NodeId.entity(nodes(x)))
    }.toArray
  }

  /** True iff every (x in group a, y in group b) pair is a candidate. */
  private def allCross(head: Array[Int], next: Array[Int], a: Int, b: Int,
      isCand: (Int, Int) => Boolean): Boolean = {
    var x = head(a)
    while (x >= 0) {
      var y = head(b)
      while (y >= 0) {
        if (!isCand(x, y)) return false
        y = next(y)
      }
      x = next(x)
    }
    true
  }

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
