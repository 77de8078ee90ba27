package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.RunScope

/** Fixed-iteration SYNCHRONOUS label propagation (Raghavan et al. 2007)
  * for community detection over co-occurrence / near-dup graphs — the
  * soft companion to [[ConnectedComponents]]: CC merges everything
  * reachable, LPA splits a connected blob into densely-linked
  * communities (the right granularity when a near-dup threshold was too
  * permissive and one giant component hides several true groups).
  *
  * Classic async LPA is run-order-dependent; this is the DETERMINISTIC
  * variant: all nodes update simultaneously each round, the new label is
  * the most frequent neighbor label with ties broken by SMALLEST label —
  * exact integer counts, so the result is bit-identical at any
  * parallelism and each round replays in SQL (count + top-1 by
  * (cnt DESC, label ASC)). Fixed round count rather than convergence:
  * synchronous LPA can 2-cycle on bipartite structures, so a fixed-`iters`
  * snapshot is the honest deterministic contract.
  *
  * Scale shape per round: one shuffle join (symmetric edges × labels,
  * hash-partitioned on the node key) + one partial-aggregated count +
  * one min(struct) argmax agg — never a window over the whole node set.
  * Each round's labels are persisted in their own RunScope slot, so a
  * round reads the previous one from cache and the caller's run
  * releases them all.
  */
object LabelProp {

  /** @param edges undirected (src, dst); dups/self-loops dropped.
    * @return (node, label) after `iters` synchronous rounds; labels are
    *         node ids (init: own id). */
  def run(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1)
    val und = edges.select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
    val sym = RunScope.persist("labelprop_sym",
      und.select(col("u").as("node"), col("v").as("nbr"))
        .union(und.select(col("v").as("node"), col("u").as("nbr"))))
    var labels = sym.select(col("node")).distinct()
      .withColumn("label", col("node"))
    for (i <- 1 to iters) {
      labels = sym
        .join(labels.withColumnRenamed("node", "nbr"), "nbr")
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        // argmax by (cnt desc, label asc) == min of (-cnt, label)
        .groupBy("node")
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("top"))
        .select(col("node"), col("top.l").as("label"))
      if (i < iters) labels = RunScope.persist(s"labelprop_round$i", labels)
    }
    labels
  }
}
