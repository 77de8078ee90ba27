package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract (SURVEY.md §7).
  *
  * An index over the query families: each [[Query]] is declared once, in
  * the family object of the engine package it calls, with its engine
  * body next to the DuckDB SQL that replays it over the same parquet
  * tables (column names + types aligned on both sides). Queries whose
  * semantics are not SQL-expressible (custom hashing, the CLK pipeline)
  * replay from frozen fixtures or from the family's aux dumps; their
  * first-principles gates live in ScalaTest (exact brute-force oracles +
  * reference fixtures).
  */
object SparkEntry {
  /** Every family, in-boundary (record linkage) first. */
  val families: Seq[QueryFamily] = Seq(
    graft.link.LinkageQueries,
    graft.ingest.ClkQueries,
    graft.ingest.BlockingQueries,
    graft.link.ComparisonQueries,
    graft.cluster.ClusterQueries,
    graft.streaming.StreamQueries,
    graft.dedup.DedupQueries,
    graft.textops.TextQueries,
    graft.ingest.CrawlQueries,
    graft.cluster.GraphQueries,
    graft.ann.AnnQueries,
    graft.rel.OlapQueries,
    graft.multimodal.MultimodalQueries)

  /** See [[QueryInputs.OracleAuxDir]]. */
  val OracleAuxDir = QueryInputs.OracleAuxDir

  /** Auxiliary dumps written by Verify before the driver's oracle runs. */
  def oracleAux: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.oracleAux).toMap

  /** Flagship: the full record-linkage run (encode fixtures → block →
    * dice-score → threshold → dedup → CC → greedy solve → clusters).
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.link.LinkageQueries.febrl4Clusters(spark)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.run).toMap

  /** For each key in queries, the ANSI SQL DuckDB replays it with. */
  def oracleSql: Map[String, String] =
    declared.map(q => q.name -> q.oracle).toMap

  private def declared: Seq[Query] = families.flatMap(_.queries)
}
