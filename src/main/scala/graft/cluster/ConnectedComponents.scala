package graft.cluster

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over the candidate-edge graph via the
  * alternating large-star / small-star algorithm (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * scale-out replacement for the reference's single-process solver stage
  * (`highmemory` queue, `backend/entityservice/tasks/solver.py`).
  *
  * Join-based formulation (no collect_set — a high-degree node never has
  * to fit its neighbor list in memory): per-node minima are computed with
  * a groupBy/min and joined back, so both steps are plain shuffles that
  * AQE can size. Converges in O(log n) rounds.
  *
  * Constant factor: each iteration is ONE Spark job — the round's output
  * is lazily localCheckpoint'ed (truncating lineage) and materialized by
  * the same action that computes the fixpoint signature. Below
  * `localSolveMaxEdges` the graph drops to a single driver-side
  * union-find (path compression + union-by-min, so the root IS the
  * component minimum): candidate graphs after thresholding are tiny
  * relative to the input — the reference solves the whole graph on one
  * `highmemory` worker for the same reason — and at cluster scale the
  * star rounds shrink any big graph under the threshold within a few
  * iterations, so the tail of tiny-job rounds is replaced by one collect.
  */
object ConnectedComponents {

  /** Default driver-side threshold, here and for [[Solver.solve]]'s
    * driver solve: 2M edges are 32 MB of (u, v) longs for the union-find
    * and 48 MB of collected (sim, u, v) for the solve. Measured: the
    * greedy over 2M random 2-party edges (2.5M nodes) under -Xmx2g peaks
    * at 322 MB of heap in use, 73 MB of it the input arrays, and holds
    * 72 MB after GC once its result is dropped; the boxed greedy it
    * replaced peaked at 875 MB. */
  val LocalSolveMaxEdges: Long = 2000000L

  /** @param edges distinct undirected edges as (u, v) node-id pairs,
    *              self-loops allowed (ignored).
    * @return (node, component) — component = min node id reachable; every
    *         node appearing in the input is assigned (including isolated
    *         representatives mapping to themselves).
    */
  def run(edges: Dataset[(Long, Long)], maxIterations: Int = 50,
      localSolveMaxEdges: Long = LocalSolveMaxEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    var cur = edges.toDF("u", "v")
      .where($"u" =!= $"v")
      .select(least($"u", $"v").as("v"), greatest($"u", $"v").as("u"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // isolated nodes (possible once filters drop edges) handled by caller

    val n0 = cur.count()
    if (n0 <= localSolveMaxEdges) {
      val arr = cur.as[(Long, Long)].collect()
      cur.unpersist()
      return localRun(spark, arr)
    }

    var converged = false
    var iter = 0
    var prevSig: (Long, String) = (-1L, "")
    while (!converged && iter < maxIterations) {
      // lazy local checkpoint: materialized by the signature action below
      // (one job per round), truncating lineage growth across iterations
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      // signature = (|E|, sum of row hashes): cheap fixpoint detection
      // decimal sum: overflow-free under ANSI mode
      val sigRow = next.agg(
        count(lit(1)).cast("long"),
        coalesce(sum(xxhash64($"u", $"v").cast("decimal(28,0)")), lit(0))
          .cast("string")).as[(Long, String)].head()
      converged = sigRow == prevSig
      prevSig = sigRow
      cur.unpersist()
      cur = next
      iter += 1
      // the star rounds contract the graph fast — finish small tails on
      // the driver instead of burning further shuffle rounds
      if (!converged && sigRow._1 <= localSolveMaxEdges) {
        val arr = cur.as[(Long, Long)].collect()
        cur.unpersist()
        return localRun(spark, arr)
      }
    }
    require(converged, s"connected components did not converge in $maxIterations iterations")

    // At fixpoint every edge is (member, componentMin); add the roots.
    val assign = cur.select($"u".as("node"), $"v".as("component"))
      .union(cur.select($"v".as("node"), $"v".as("component")))
      .distinct()
    assign
  }

  /** INCREMENTAL update: fold a delta edge set into an existing
    * (node, component) assignment without re-solving the old graph —
    * the shape an always-on crawl pipeline needs (a new snapshot adds
    * edges; re-clustering 10^12 documents from scratch per batch is the
    * thing this exists to avoid).
    *
    * Precondition: `prev` labels are component MINIMA, which is what
    * [[run]] emits. Delta endpoints are mapped through their old labels
    * (unseen nodes label themselves), CC runs on that COLLAPSED graph —
    * its size is O(|delta|), independent of the old graph — and the
    * merged labels propagate back through `prev` with one key join.
    * Because an old label is the min of its members, the merged min over
    * (labels ∪ new ids) equals the global min node id, so the output is
    * bit-identical to [[run]] over the union graph.
    *
    * Cost: two joins over the delta, one CC on the collapsed graph, one
    * join over `prev` — the old EDGE set is never touched. */
  def incrementalRun(prev: DataFrame, deltaEdges: Dataset[(Long, Long)],
      maxIterations: Int = 50,
      localSolveMaxEdges: Long = LocalSolveMaxEdges): DataFrame = {
    val spark = prev.sparkSession
    import spark.implicits._
    val p = prev.select(col("node"), col("component"))
    val collapsed = deltaEdges.toDF("du", "dv")
      .join(p.select(col("node").as("du"), col("component").as("cu")),
        Seq("du"), "left")
      .join(p.select(col("node").as("dv"), col("component").as("cv")),
        Seq("dv"), "left")
      .select(coalesce(col("cu"), col("du")).as("_1"),
        coalesce(col("cv"), col("dv")).as("_2"))
      .as[(Long, Long)]
    val merged = run(collapsed, maxIterations, localSolveMaxEdges)
    // relabel old components touched by the delta (old labels are prev
    // NODES too, so the label domain and the new-node domain are
    // disjoint); untouched components keep their labels
    val relabeled = p
      .join(merged.select(col("node").as("component"),
        col("component").as("newc")), Seq("component"), "left")
      .select(col("node"), coalesce(col("newc"), col("component"))
        .as("component"))
    // nodes introduced by the delta
    val fresh = merged.join(p.select("node"), Seq("node"), "left_anti")
    relabeled.unionByName(fresh)
  }

  /** Driver-side union-find (path compression, union by min id — the
    * root of a set is always its minimum node id). */
  private[cluster] def localRun(spark: SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) {
      val n = it.next()
      out(i) = (n, find(n))
      i += 1
    }
    spark.createDataset(out.toSeq).toDF("node", "component")
  }

  /** large-star: connect every strictly-larger neighbor of u to the
    * minimum of u's neighborhood (incl. u). */
  private def largeStar(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val sym = e.select($"u", $"v").union(e.select($"v".as("u"), $"u".as("v")))
    val mins = sym.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
    sym.join(mins, "u")
      .where($"v" > $"u")
      .select($"v".as("u"), $"m".as("v"))
      .where($"u" =!= $"v")
      .distinct()
  }

  /** small-star: for each node u (edges oriented u > v), connect all of
    * u's smaller neighbors and u itself to the minimum neighbor. */
  private def smallStar(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val o = e.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      .where($"u" =!= $"v")
    val mins = o.groupBy($"u").agg(min($"v").as("m"))
    val withM = o.join(mins, "u")
    val nbrEdges = withM.where($"v" =!= $"m").select($"v".as("u"), $"m".as("v"))
    // selfEdges duplicates collapse in the final distinct below
    val selfEdges = withM.select($"u", $"m".as("v"))
    nbrEdges.union(selfEdges)
      .select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      .distinct()
  }
}
