package graft.io

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.{ClusterMember, Edge}

/** S6: result sinks in the reference's wire shapes
  * (`views/run/results.py:41-112`, groups schema
  * `api_def/openapi.yaml:737-754`):
  *  - groups: one JSON row per cluster, `{"group": [[dsIdx, rowIdx], ...]}`
  *    with members ordered, singletons omitted (never produced anyway);
  *  - similarity scores: the scored-pair stream, globally ordered by
  *    descending similarity (the reference keeps its merged file sorted);
  *  - permutations/mask: dense arrays per provider (Permutation.toDenseList).
  *
  * Exports are Spark writes — distributed until the final file sink; the
  * scores export keeps a global sort only because the reference's wire
  * format demands one.
  */
object Export {

  /** Clusters -> groups rows: (cluster_id, group: array<array<bigint>>). */
  def groupsFrame(clusters: Dataset[ClusterMember]): DataFrame = {
    val spark = clusters.sparkSession
    import spark.implicits._
    clusters.toDF("cluster_id", "dp", "entity_id")
      .groupBy($"cluster_id")
      .agg(sort_array(collect_list(array($"dp".cast("long"), $"entity_id"))).as("group"))
  }

  /** Write groups as JSON lines ({"group": [[dp, rec], ...]}). */
  def writeGroupsJson(clusters: Dataset[ClusterMember], path: String): Unit =
    groupsFrame(clusters).select(to_json(struct(col("group"))).as("value"))
      .write.mode("overwrite").text(path)

  /** Scores in wire order: sim desc, then indices (reference merge order). */
  def scoresFrame(edges: Dataset[Edge]): DataFrame =
    edges.toDF().orderBy(desc("sim"), col("dp0"), col("rec0"), col("dp1"), col("rec1"))

  /** 2-party similarity-scores CSV wire format: `rec0,rec1,sim` lines,
    * dataset indices implied (0,1) — the exact shape
    * `similarity_matrix_from_csv_bytes` parses
    * (`backend/entityservice/utils.py:162-178`). Wire order: sim desc. */
  def writeScoresCsv(edges: Dataset[Edge], path: String): Unit =
    scoresFrame(edges)
      .select(concat_ws(",", col("rec0"), col("rec1"), col("sim")).as("value"))
      .write.mode("overwrite").text(path)

  /** Source for the CSV scores wire format (round-trip of writeScoresCsv;
    * dataset indices restored as (0, 1)). */
  def readScoresCsv(spark: org.apache.spark.sql.SparkSession,
      path: String): Dataset[Edge] = {
    import spark.implicits._
    spark.read.text(path)
      .select(split(col("value"), ",").as("f"))
      .select(
        element_at(col("f"), 3).cast("double").as("sim"),
        lit(0).as("dp0"),
        element_at(col("f"), 1).cast("long").as("rec0"),
        lit(1).as("dp1"),
        element_at(col("f"), 2).cast("long").as("rec1"))
      .as[Edge]
  }
}
