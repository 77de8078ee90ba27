package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Edge, LinkConfig}
import graft.ingest.ClkIO
import graft.link.Pipeline

/** The inputs more than one query family reads: the reference fixtures,
  * the sf tables, and the deterministic corpora and graphs built from
  * them. */
object QueryInputs {
  val FixturesDir = "/root/repo/fixtures"

  /** Where Verify dumps the oracle-replay auxiliary tables (deterministic
    * per-document signature state — MinHash shingles/band keys, SimHash
    * longs, sign-LSH bucket keys). The DuckDB oracle SQL reads these by
    * absolute path and independently replays the PAIRING semantics
    * (bucket join + confirm + threshold + top-k); the signature
    * computations themselves are gated by ScalaTest brute-force oracles.
    * Same pattern as the committed `fixtures/febrl4_clks.parquet` dump
    * that lets DuckDB replay the CLK Dice kernel bit-for-bit. */
  val OracleAuxDir = "/tmp/graft_oracle_aux"

  def febrl4Blocked(spark: SparkSession): DataFrame = {
    val a = ClkIO.readBinary(spark, s"$FixturesDir/febrl4_a.bin", 0, 128)
    val b = ClkIO.readBinary(spark, s"$FixturesDir/febrl4_b.bin", 1, 128)
    Pipeline.defaultBlock(a.union(b))
  }

  /** The febrl4 fixture's scored edges at threshold `t`. */
  def febrl4Edges(s: SparkSession, t: Double): Dataset[Edge] =
    Pipeline.edges(febrl4Blocked(s), LinkConfig(threshold = t))

  /** Labeled febrl4 truth pairs as (rec0, rec1). */
  def febrl4Truth(s: SparkSession): DataFrame =
    s.read.option("header", "true")
      .schema("row_a LONG, row_b LONG")
      .csv(s"$FixturesDir/febrl4_truth.csv")
      .select(col("row_a").as("rec0"), col("row_b").as("rec1"))

  /** The febrl4 fixture CLKs as (dp, entity_id, pc, words): 16 bigint
    * words and the popcount per record (`graft.tools.MakeOracleFixtures`). */
  def febrl4Clks(s: SparkSession): DataFrame =
    s.read.parquet(s"$FixturesDir/febrl4_clks.parquet")

  private val goldenFiles = Map(
    0.8 -> s"$FixturesDir/febrl4_golden_clusters.parquet",
    0.75 -> s"$FixturesDir/febrl4_golden_clusters_t075.parquet")
  private def goldenFile(t: Double): String = {
    require(goldenFiles.contains(t), s"no golden febrl4 clustering at t=$t")
    goldenFiles(t)
  }

  /** The frozen golden clustering of the febrl4 fixture at `t` (0.8 or
    * 0.75) as (clusterId, dp, entityId, id), with the dp-packed record id
    * dp * 10000 + entityId. */
  def febrl4Golden(s: SparkSession, t: Double = 0.8): DataFrame =
    s.read.parquet(goldenFile(t))
      .withColumn("id", col("dp").cast("long") * 10000 + col("entityId"))

  /** Full 2x2000 febrl4 record universe labeled with the golden
    * clustering (pred) and the truth pairing (truth); records outside
    * either get unique singleton labels — B-cubed/Rand need singletons
    * present. */
  def febrl4Assignment(s: SparkSession): DataFrame = {
    val golden = febrl4Golden(s).select(col("id"), col("clusterId").as("pred"))
    val tp = febrl4Truth(s)
    val truth = tp.select(col("rec0").as("id"), col("rec0").as("t"))
      .union(tp.select((col("rec1") + 10000).as("id"), col("rec0").as("t")))
    val universe = s.range(2000).select(col("id"))
      .union(s.range(2000).select((col("id") + 10000).as("id")))
    universe.join(golden, Seq("id"), "left")
      .join(truth, Seq("id"), "left")
      .select(
        coalesce(col("pred"), -col("id") - 1).as("pred"),
        coalesce(col("t"), -col("id") - 1).as("truth"))
  }

  /** The oracle side of [[febrl4Edges]]: CTEs `c` (the fixture CLKs as
    * 16 bigint words + popcount) and `p` (every cross-provider pair with
    * its Dice score `sim`, unthresholded), which DuckDB computes
    * bit-for-bit like the kernel. */
  val febrl4DicePairsSql: String =
    s"""c AS (SELECT dp, entity_id, pc, words
                    FROM '$FixturesDir/febrl4_clks.parquet'),
         p AS (
           SELECT 2.0 * list_sum(list_transform(range(1, 17),
                    i -> bit_count(a.words[i] & b.words[i]))) / (a.pc + b.pc) AS sim,
                  a.dp AS dp0, a.entity_id AS rec0, b.dp AS dp1, b.entity_id AS rec1
           FROM c a JOIN c b ON a.dp < b.dp)"""

  /** [[febrl4DicePairsSql]] plus CTE `e`: the pairs kept at threshold `t`. */
  def febrl4EdgesSql(t: Double): String =
    s"""$febrl4DicePairsSql,
         e AS (SELECT * FROM p WHERE sim >= $t)"""

  /** The oracle side of [[febrl4Truth]]: CTE `truth` (rec0, rec1,
    * is_true = 1). */
  val febrl4TruthSql: String =
    s"""truth AS (SELECT CAST(row_a AS BIGINT) AS rec0,
                          CAST(row_b AS BIGINT) AS rec1, 1 AS is_true
                   FROM read_csv('$FixturesDir/febrl4_truth.csv',
                     header = true))"""

  /** [[febrl4EdgesSql]] at `t` and [[febrl4TruthSql]], plus CTE `l`:
    * each kept edge (rec0, rec1, sim) with is_true 1 for a truth pair,
    * else 0. */
  def febrl4LabeledEdgesSql(t: Double): String =
    s"""${febrl4EdgesSql(t)},
         $febrl4TruthSql,
         l AS (SELECT e.rec0, e.rec1, e.sim, COALESCE(t.is_true, 0) AS is_true
               FROM e LEFT JOIN truth t ON e.rec0 = t.rec0 AND e.rec1 = t.rec1)"""

  /** The golden clustering file at `t` as a DuckDB table reference. */
  def febrl4GoldenSql(t: Double = 0.8): String = s"'${goldenFile(t)}'"

  /** The oracle side of [[febrl4Assignment]]: [[febrl4TruthSql]] and the
    * CTEs up to `a`, one row per record with its pred label `c` and its
    * truth label `e`. */
  val febrl4AssignmentSql: String =
    s"""$febrl4TruthSql,
         uni AS (SELECT i AS id FROM range(0, 2000) t(i)
                 UNION ALL SELECT i + 10000 FROM range(0, 2000) t(i)),
         g AS (SELECT dp * 10000 + entityId AS id, clusterId AS pred
               FROM ${febrl4GoldenSql()}),
         tp AS (SELECT rec0 AS id, rec0 AS t FROM truth
                UNION ALL SELECT rec1 + 10000, rec0 FROM truth),
         a AS (SELECT coalesce(g.pred, -uni.id - 1) AS c,
                      coalesce(tp.t, -uni.id - 1) AS e
               FROM uni LEFT JOIN g ON uni.id = g.id
                        LEFT JOIN tp ON uni.id = tp.id)"""

  /** The oracle side of [[Pipeline.precisionRecallF1]]: precision,
    * recall and f1 from columns tp, n_pred and n_true, in the same double
    * expression order (DuckDB's BIGINT / BIGINT is a double division). */
  val precisionRecallF1Sql: String =
    """tp / n_pred AS precision, tp / n_true AS recall,
                2 * (tp / n_pred) * (tp / n_true)
                  / ((tp / n_pred) + (tp / n_true)) AS f1"""

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")

  /** Deterministic 300-page link corpus: every page links to its "next"
    * page ((id*7+1) mod n), every third page adds a nofollow "see also"
    * link ((id*3+5) mod n) — enough structure for extraction order,
    * attribute tolerance, and in-degree skew to all be exercised. */
  def linkPages(s: SparkSession): DataFrame = {
    val n = 300
    val next = ((col("id") * 7 + 1) % n).cast("string")
    val ref = ((col("id") * 3 + 5) % n).cast("string")
    s.range(n).select(col("id").as("doc"),
      concat(lit("<html><body><p>Page "), col("id").cast("string"),
        lit(".</p><a href=\"https://site.example/p/"), next,
        lit("\">next page "), next, lit("</a>"),
        when(col("id") % 3 === 0,
          concat(lit("<a href=\"https://site.example/p/"), ref,
            lit("\" rel=\"nofollow\">see also</a>"))).otherwise(lit("")),
        lit("</body></html>")).as("html"))
  }

  /** documents modeled as a 2-provider corpus: dp = doc_id % 2, block key
    * = first token (a cheap SQL-replayable blocking for the oracle; the
    * production path uses MinHash-LSH bands, er_pages_* queries). */
  def docsBlocked(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      (col("doc_id") % 2).cast("int").as("dp"),
      col("doc_id").as("entity_id"),
      element_at(split(col("text"), " "), 1).as("block_key"),
      col("text"))

  /** Thinned co-purchase graph (l_orderkey%4=0, l_partkey%2=0) shared by
    * q_triangles / q_link_predict / q_label_prop — their oracles replay
    * this same filter + self-join edge formula, so the three queries
    * must stay in lockstep by construction. */
  def coPurchaseEdgesThinned(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_orderkey") % 4 === 0 && col("l_partkey") % 2 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
  }
}
