package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-layout optimization: Z-order (Morton) clustering for multi-
  * dimensional file skipping — the table-maintenance operation an
  * Iceberg-style 100-TB corpus needs so that min/max file stats prune
  * scans on BOTH of two frequently-filtered columns at once (a sort on
  * one column gives perfect pruning on it and none on the other;
  * Z-order trades a little of each for locality on both).
  *
  * Pipeline: global min/max per dimension (one tiny agg, broadcast) →
  * quantize each value to 8 bits with exact integer arithmetic
  * ((v-min)·256 DIV (max-min+1)) → 16-bit Morton code (codegen'd
  * [[graft.expr.morton16]]) → bucket = top `bucketBits` bits.
  * Because the bucket is a PREFIX of the interleaved code, every bucket
  * covers an axis-aligned rectangle of side 2^(8-bucketBits/2) in
  * quantized space — that rectangle IS the min/max stats envelope a
  * scan planner would prune with.
  *
  * At scale the bucket column feeds `repartitionByRange`/bucketed writes
  * (no global sort needed — the bucket is computed row-local after one
  * broadcast); [[zorderStats]] returns the per-bucket envelope as the
  * driver-visible readout.
  */
object Layout {

  /** Row-level Z-order assignment: (x, y, qx, qy, z, bucket). */
  def zorderAssign(df: DataFrame, xCol: String, yCol: String,
      bucketBits: Int = 8): DataFrame = {
    require(bucketBits >= 2 && bucketBits <= 16 && bucketBits % 2 == 0,
      s"bucketBits must be even in [2,16]: $bucketBits")
    val stats = df.agg(
      min(col(xCol)).cast("long").as("minx"),
      max(col(xCol)).cast("long").as("maxx"),
      min(col(yCol)).cast("long").as("miny"),
      max(col(yCol)).cast("long").as("maxy"))
    df.select(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .crossJoin(broadcast(stats))
      .withColumn("qx",
        expr("CAST(((x - minx) * 256) DIV (maxx - minx + 1) AS INT)"))
      .withColumn("qy",
        expr("CAST(((y - miny) * 256) DIV (maxy - miny + 1) AS INT)"))
      .withColumn("z", graft.expr.morton16(col("qx"), col("qy")))
      .withColumn("bucket", shiftright(col("z"), 16 - bucketBits))
      .select("x", "y", "qx", "qy", "z", "bucket")
  }

  /** Small-file compaction plan (Iceberg `rewrite_data_files` planning):
    * assign each input file to an output group by the running byte
    * offset — group = floor(offset_before_this_file / targetBytes), so
    * consecutive files pack into ~target-sized rewrites and no group
    * (except where one FILE alone exceeds the target) is more than one
    * file past it. Deterministic in the file-id order, replayable as a
    * window cumsum.
    *
    * The inventory is METADATA-scale (one row per file — ~10^5-10^6 rows
    * for a 100-TB table), so the single global-order window is a
    * planning step, not a data-path shuffle.
    * Output: (file_id, size, start_off, out_group). */
  def compactionPlan(files: DataFrame, idCol: String, sizeCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes: $targetBytes")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("file_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    files.select(col(idCol).as("file_id"), col(sizeCol).cast("long").as("size"))
      .withColumn("start_off", coalesce(sum(col("size")).over(w), lit(0L)))
      .withColumn("out_group",
        expr(s"CAST(start_off DIV ${targetBytes}L AS BIGINT)"))
  }

  /** Per-bucket file-skipping envelope: (bucket, n, min/max of each
    * quantized dimension). */
  def zorderStats(df: DataFrame, xCol: String, yCol: String,
      bucketBits: Int = 8): DataFrame =
    zorderAssign(df, xCol, yCol, bucketBits)
      .groupBy("bucket").agg(count(lit(1)).as("n"),
        min("qx").as("min_qx"), max("qx").as("max_qx"),
        min("qy").as("min_qy"), max("qy").as("max_qy"))

  /** Hilbert-curve layout clustering — the locality upgrade over
    * [[zorderAssign]]: the Hilbert walk visits every cell of the 256×256
    * quantized grid through ADJACENT cells only (Morton order takes long
    * diagonal jumps at every power-of-two boundary), so consecutive
    * index ranges cover more compact rectangles and the per-bucket
    * min/max envelopes — exactly what zone-map file skipping prunes
    * with — are tighter for range predicates on either dimension.
    *
    * Same 8-bit-per-dimension quantization as zorder; the index is the
    * textbook iterative xy→d transform (one quadrant classification +
    * frame rotation per bit level, 8 rounds), all integer CASE/mask
    * arithmetic — no UDF, one codegen projection, and replayable as
    * chained SQL rounds. Row-local after one broadcast min/max agg.
    *
    * @return (x, y, qx, qy, h, bucket) with h the 16-bit Hilbert index
    *         and bucket its top `bucketBits` bits. */
  def hilbertAssign(df: DataFrame, xCol: String, yCol: String,
      bucketBits: Int = 8): DataFrame = {
    require(bucketBits >= 2 && bucketBits <= 16,
      s"bucketBits in [2,16]: $bucketBits")
    val stats = df.agg(
      min(col(xCol)).cast("long").as("minx"),
      max(col(xCol)).cast("long").as("maxx"),
      min(col(yCol)).cast("long").as("miny"),
      max(col(yCol)).cast("long").as("maxy"))
    val base = df
      .select(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .crossJoin(broadcast(stats))
      .withColumn("qx",
        expr("CAST(((x - minx) * 256) DIV (maxx - minx + 1) AS INT)"))
      .withColumn("qy",
        expr("CAST(((y - miny) * 256) DIV (maxy - miny + 1) AS INT)"))
      .withColumn("hx", col("qx"))
      .withColumn("hy", col("qy"))
      .withColumn("h", lit(0L))
    val walked = Seq(128, 64, 32, 16, 8, 4, 2, 1).foldLeft(base) {
      (cur, s) =>
        val rx = when(col("hx").bitwiseAND(lit(s)) > 0, 1).otherwise(0)
        val ry = when(col("hy").bitwiseAND(lit(s)) > 0, 1).otherwise(0)
        // quadrant order under the current frame: (3*rx) xor ry, spelled
        // as a CASE so both engines share one formulation
        val quad = when(rx === 1 && ry === 1, 2).when(rx === 1, 3)
          .when(ry === 1, 1).otherwise(0)
        cur
          .withColumn("_rx", rx).withColumn("_ry", ry)
          .withColumn("h", col("h") + lit(s.toLong * s) * quad)
          // rotate the frame for the next level: ry=0 flips (when rx=1)
          // then swaps the axes; ry=1 leaves them
          .withColumn("_nhx",
            when(col("_ry") === 0,
              when(col("_rx") === 1, lit(s - 1) - col("hy"))
                .otherwise(col("hy"))).otherwise(col("hx")))
          .withColumn("hy",
            when(col("_ry") === 0,
              when(col("_rx") === 1, lit(s - 1) - col("hx"))
                .otherwise(col("hx"))).otherwise(col("hy")))
          .withColumn("hx", col("_nhx"))
          .drop("_rx", "_ry", "_nhx")
    }
    walked.withColumn("bucket", shiftright(col("h"), 16 - bucketBits))
      .select("x", "y", "qx", "qy", "h", "bucket")
  }

  /** Per-bucket file-skipping envelope of the Hilbert layout — same
    * readout as [[zorderStats]], directly comparable bucket for bucket. */
  def hilbertStats(df: DataFrame, xCol: String, yCol: String,
      bucketBits: Int = 8): DataFrame =
    hilbertAssign(df, xCol, yCol, bucketBits)
      .groupBy("bucket").agg(count(lit(1)).as("n"),
        min("qx").as("min_qx"), max("qx").as("max_qx"),
        min("qy").as("min_qy"), max("qy").as("max_qy"))

  /** Zone-map file-skipping plan — the min/max metadata pruning an
    * Iceberg/parquet reader runs BEFORE touching data: a file must be
    * read iff its [min, max] envelope for the predicate column overlaps
    * the query range; every other file is skipped on metadata alone.
    * This surfaces that decision as a plan: per file, its row count,
    * envelope, and the must-read verdict — the readout that quantifies
    * what a clustering layout ([[zorderAssign]] / [[hilbertAssign]])
    * actually buys, since clustering exists precisely to shrink the
    * must-read set for range predicates.
    *
    * Scale shape: ONE hash-agg to metadata scale (a row per file —
    * ~10^5-10^6 for a 100-TB table) + a row-local overlap test. */
  def zonemapPrunePlan(df: DataFrame, fileCol: String, valueCol: String,
      lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"empty predicate range [$lo, $hi]")
    df.groupBy(col(fileCol).cast("long").as("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(valueCol)).cast("long").as("zmin"),
        max(col(valueCol)).cast("long").as("zmax"))
      .withColumn("must_read",
        col("zmin") <= hi && col("zmax") >= lo)
  }

  /** Rendezvous (highest-random-weight) shard routing — the consistent
    * assignment a growing corpus store needs: key k goes to the shard s
    * maximising md5(k || '#' || s), so adding a shard steals ~1/(n+1) of
    * every old shard's keys and moves NOTHING else (Thaler & Ravishankar
    * 1998; contrast mod-N routing, which reshuffles almost everything).
    * md5 keeps the weight SQL-replayable; ties are impossible in
    * practice (128-bit) and would break deterministically to the larger
    * hex anyway.
    *
    * Row-local: the shard list is tiny and static, so assignment is one
    * codegen projection (greatest over n struct comparisons) — no
    * shuffle, no lookup table.
    *
    * @return df plus `shard` = the winning shard id in [0, nShards). */
  def rendezvousAssign(df: DataFrame, keyCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"need at least one shard: $nShards")
    val weights = (0 until nShards).map { s =>
      struct(md5(concat(col(keyCol).cast("string"), lit("#"),
        lit(s.toString)).cast("binary")).as("w"), lit(s).as("s"))
    }
    df.withColumn("shard", greatest(weights: _*).getField("s"))
  }

  /** Reshard movement audit: route keys at n and n+k shards, count the
    * (from, to) flows. Rendezvous guarantees every moved key lands on a
    * NEW shard — off-diagonal flow into old shards is zero by
    * construction, which is exactly what this readout proves. */
  def reshardMovement(df: DataFrame, keyCol: String, nBefore: Int,
      nAfter: Int): DataFrame = {
    val a = rendezvousAssign(df, keyCol, nBefore)
      .withColumnRenamed("shard", "shard_before")
    val b = rendezvousAssign(a, keyCol, nAfter)
      .withColumnRenamed("shard", "shard_after")
    b.groupBy("shard_before", "shard_after")
      .agg(count(lit(1)).as("n_keys"))
  }
}
