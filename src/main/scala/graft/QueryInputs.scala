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
