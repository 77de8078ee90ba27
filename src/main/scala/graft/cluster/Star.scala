package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.RunScope

/** Single-round star clustering — the cheap alternative to connected
  * components when transitive closure over-merges (one spurious edge
  * chains two entities; a star never spans more than one hop from its
  * center). The sequential star cover (Aslam, Pelekhov & Rus 2004)
  * repeatedly promotes the highest-degree unassigned vertex and claims
  * its neighbors; this is the deterministic one-round distributed
  * variant:
  *
  *  - a vertex is a CENTER iff its (degree, id) beats every neighbor's
  *    under the strict lexicographic order — a total order, so two
  *    adjacent centers are impossible by construction;
  *  - every other vertex attaches to its (degree, id)-best CENTER
  *    neighbor as a SATELLITE;
  *  - a vertex with no center neighbor is an ORPHAN (its own star) —
  *    exactly the vertices a later sequential round would promote; a
  *    caller wanting the full cover re-runs on the orphan-induced
  *    subgraph.
  *
  * Scale shape: one degree hash-agg, two id-keyed equi-joins, one
  * struct-max argmax agg — all on bare longs, no iteration, no collect.
  * Degree-skew is benign: the hot vertex's adjacency rides ONE shuffle
  * key only in the argmax agg, which partial-aggregates map-side.
  */
object Star {

  /** @param edges (src, dst) in any orientation; self-loops/duplicates
    *              dropped/merged.
    * @return (id, role, star) — role in {center, satellite, orphan},
    *         star = the center's id (itself for center/orphan). */
  def assign(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
    val adj = RunScope.persist("star_adj",
      und.select(col("u").as("id"), col("v").as("nb"))
        .union(und.select(col("v").as("id"), col("u").as("nb"))))
    val deg = adj.groupBy("id").agg(count(lit(1)).as("deg"))
    val nbd = adj
      .join(deg, "id")
      .join(deg.select(col("id").as("nb"), col("deg").as("nb_deg")), "nb")
    val flagged = RunScope.persist("star_flagged", nbd.groupBy("id").agg(
        min(col("deg")).as("deg"),
        max(struct(col("nb_deg"), col("nb"))).as("best_nb"))
      .select(col("id"), col("deg"),
        (struct(col("deg"), col("id")) > col("best_nb")).as("is_center")))
    val centers = flagged.where(col("is_center"))
      .select(col("id").as("nb"), col("deg").as("c_deg"))
    val attach = adj.join(centers, "nb")
      .groupBy("id")
      .agg(max(struct(col("c_deg"), col("nb"))).as("best_c"))
      .select(col("id"), col("best_c.nb").as("star_c"))
    flagged.join(attach, Seq("id"), "left")
      .select(col("id"),
        when(col("is_center"), lit("center"))
          .when(col("star_c").isNotNull, lit("satellite"))
          .otherwise(lit("orphan")).as("role"),
        when(col("is_center") || col("star_c").isNull, col("id"))
          .otherwise(col("star_c")).as("star"))
  }
}
