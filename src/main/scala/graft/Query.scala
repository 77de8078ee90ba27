package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its engine body (`run(session, sfDir)`) and the
  * ANSI SQL that DuckDB runs over the same parquet tables to replay it.
  * Non-SQL-expressible state (custom hashes, signatures) reaches the
  * oracle through its family's `oracleAux` dumps. */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

/** The queries over one area of the engine, declared in the package of
  * the engine code they call, with the aux dumps their oracles read
  * (`$OracleAuxDir/<name>/`, written by Verify before the replay). */
trait QueryFamily {
  def queries: Seq[Query]
  def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map.empty
}
