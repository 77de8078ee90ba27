package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query write
  * and each aux dump is one RunScope run, so its cached frames are
  * released before the next one starts. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name filter for fast single-query iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
    def keep(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try graft.core.RunScope.run(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // auxiliary signature dumps the oracle SQL replays pairing
    // semantics from (fixed absolute path — oracle SQL is static text).
    // SPARK_GRAFT_SKIP_AUX=1 skips them for single-query iteration where
    // the query under test reads no aux table (the full driver run
    // never sets it). Under SPARK_GRAFT_ONLY only the dumps the selected
    // queries' oracle SQL reads are written.
    val skipAux = sys.env.get("SPARK_GRAFT_SKIP_AUX").contains("1")
    val selectedSql = SparkEntry.oracleSql.filter(kv => keep(kv._1)).values
    def keepAux(name: String) = only.isEmpty ||
      selectedSql.exists(_.contains(s"${SparkEntry.OracleAuxDir}/$name/"))
    if (!skipAux) SparkEntry.oracleAux.filter(kv => keepAux(kv._1)).foreach { case (name, fn) =>
      try graft.core.RunScope.run(fn(spark, sfDir).write.mode("overwrite")
        .parquet(s"${SparkEntry.OracleAuxDir}/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
