package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal relational operators Spark lacks as built-ins, expressed as
  * declarative DataFrame plans (Catalyst keeps pushdown / pruning /
  * whole-stage codegen on every stage).
  *
  * The reference's analytics layer leans on Postgres for time-ordered
  * lookups over run/metrics tables (e.g. latest-state-before-timestamp
  * queries in `backend/entityservice/database/selections.py`); these are
  * the distributed equivalents a web-scale event log needs.
  *
  * Scale shapes:
  *  - [[asofJoin]]: ONE shuffle on the key for both inputs, then a single
  *    per-key merge sort — no join blow-up, no per-row probe. Cost is
  *    O((|L|+|R|) log) per key; a key's whole timeline lands in one task.
  *  - [[asofJoinBucketed]]: the skew-proof variant — partitions by
  *    (key, time-bucket) so one hot key's multi-year timeline spreads
  *    across tasks; a tiny per-bucket summary carries state between
  *    buckets (two narrow shuffles + one small window).
  *  - [[rangeJoin]]: banded interval join — each left interval explodes
  *    to the O(1) time buckets it covers (bucket width = interval span,
  *    so ≤ 2), each right row to exactly one bucket, equi-join on
  *    (key, bucket) + exact residual filter. Each qualifying pair joins
  *    exactly once (right rows live in one bucket), so no dedup pass.
  */
object Relational {

  private def payloadCols(right: DataFrame, rightKey: String): Seq[String] =
    right.columns.filterNot(_ == rightKey).toSeq

  /** As-of join: attach to every left row the payload (all right columns
    * except the key) of the LATEST right row with the same key and
    * `rightTime <= leftTime`. With `inner = true` (default) unmatched left
    * rows are dropped, matching SQL `ASOF JOIN`; `false` keeps them with
    * null payload (`ASOF LEFT JOIN`).
    *
    * Right side should be unique per (key, time); equal-time right ties
    * break deterministically on xxhash64 of the payload struct. Left and
    * right column names (minus the right key) must be disjoint.
    */
  def asofJoin(left: DataFrame, leftKey: String, leftTime: String,
               right: DataFrame, rightKey: String, rightTime: String,
               inner: Boolean = true): DataFrame = {
    val payload = payloadCols(right, rightKey)
    val r2 = right.select(
      col(rightKey).as("_ao_k"), col(rightTime).as("_ao_t"),
      lit(0).as("_ao_side"),
      struct(payload.map(col): _*).as("_ao_v"))
    val l2 = left
      .withColumn("_ao_k", col(leftKey))
      .withColumn("_ao_t", col(leftTime))
      .withColumn("_ao_side", lit(1))
    // one shuffle on the key; right rows sort before left rows at equal
    // time so a right row AT the left timestamp is visible (<= semantics)
    val u = l2.unionByName(r2, allowMissingColumns = true)
    val w = Window.partitionBy("_ao_k")
      .orderBy(col("_ao_t"), col("_ao_side"), xxhash64(col("_ao_v")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u
      .withColumn("_ao_m", last(col("_ao_v"), ignoreNulls = true).over(w))
      .where(col("_ao_side") === 1)
    val kept = if (inner) matched.where(col("_ao_m").isNotNull) else matched
    val out = left.columns.map(col).toSeq ++
      payload.map(p => col("_ao_m").getField(p).as(p))
    kept.select(out: _*)
  }

  /** Skew-proof as-of join: same result as [[asofJoin]] (spec-gated
    * equivalence), but partitioned by (key, time-bucket) so a single hot
    * key's timeline splits across `bucketSeconds`-wide tasks. A per-bucket
    * summary (one row per (key, bucket) that HAS right rows) is computed
    * first; a small window over it derives each left bucket's carry-in
    * (the latest right payload from STRICTLY earlier buckets), and the
    * final window only sorts within one (key, bucket).
    */
  def asofJoinBucketed(left: DataFrame, leftKey: String, leftTime: String,
                       right: DataFrame, rightKey: String, rightTime: String,
                       bucketSeconds: Long, inner: Boolean = true): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val bUs = bucketSeconds * 1000000L
    def bkt(t: Column): Column =
      floor(unix_micros(t.cast("timestamp")) / bUs).cast("long")
    val payload = payloadCols(right, rightKey)
    val r2 = right.select(
      col(rightKey).as("_ao_k"), col(rightTime).as("_ao_t"),
      bkt(col(rightTime)).as("_ao_b"),
      struct(payload.map(col): _*).as("_ao_v"))
    // last right payload per (key, bucket) — same (time, hash) tiebreak
    // as the unbucketed plan so both variants pick identical winners
    val perBucket = r2.groupBy("_ao_k", "_ao_b")
      .agg(max_by(col("_ao_v"),
        struct(col("_ao_t"), xxhash64(col("_ao_v")))).as("_ao_v"))
      .withColumn("_ao_side", lit(1))
    val leftBuckets = left
      .select(col(leftKey).as("_ao_k"), bkt(col(leftTime)).as("_ao_b"))
      .distinct()
      .withColumn("_ao_side", lit(0))
      .withColumn("_ao_v", lit(null).cast(perBucket.schema("_ao_v").dataType))
    // carry-in: at a left-bucket row (side 0, sorted before the same
    // bucket's right summary) the running last covers buckets < b only
    val wc = Window.partitionBy("_ao_k")
      .orderBy(col("_ao_b"), col("_ao_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = perBucket.unionByName(leftBuckets)
      .withColumn("_ao_seed", last(col("_ao_v"), ignoreNulls = true).over(wc))
      .where(col("_ao_side") === 0)
      .select(col("_ao_k"), col("_ao_b"), col("_ao_seed"))
    // local resolve within each (key, bucket): right rows of the bucket
    // (side 0, before left at equal time) beat the seed iff one exists
    val l2 = left
      .withColumn("_ao_k", col(leftKey))
      .withColumn("_ao_t", col(leftTime))
      .withColumn("_ao_b", bkt(col(leftTime)))
      .withColumn("_ao_side", lit(1))
      .join(carry, Seq("_ao_k", "_ao_b"), "left")
    val u = l2.unionByName(r2.withColumn("_ao_side", lit(0)),
      allowMissingColumns = true)
    val wl = Window.partitionBy("_ao_k", "_ao_b")
      .orderBy(col("_ao_t"), col("_ao_side"), xxhash64(col("_ao_v")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u
      .withColumn("_ao_m",
        coalesce(last(col("_ao_v"), ignoreNulls = true).over(wl), col("_ao_seed")))
      .where(col("_ao_side") === 1)
    val kept = if (inner) matched.where(col("_ao_m").isNotNull) else matched
    val out = left.columns.map(col).toSeq ++
      payload.map(p => col("_ao_m").getField(p).as(p))
    kept.select(out: _*)
  }

  /** Banded interval join: every pair (l, r) with `l.key == r.key` and
    * `r.time ∈ [l.time + lowerSec, l.time + upperSec)`. Bucket width =
    * the interval span, so each left row explodes to at most 2 buckets
    * and each right row lives in exactly 1 — a qualifying pair meets in
    * exactly one (key, bucket) cell, so the equi-join emits it once.
    * Left and right column names (minus the right key) must be disjoint.
    */
  def rangeJoin(left: DataFrame, leftKey: String, leftTime: String,
                right: DataFrame, rightKey: String, rightTime: String,
                lowerSec: Long, upperSec: Long): DataFrame = {
    require(upperSec > lowerSec, "empty interval")
    val w = (upperSec - lowerSec) * 1000000L
    val lo = lowerSec * 1000000L
    val hi = upperSec * 1000000L
    val payload = payloadCols(right, rightKey)
    val r2 = right.select(
      col(rightKey).as("_rj_k"),
      floor(unix_micros(col(rightTime).cast("timestamp")) / w)
        .cast("long").as("_rj_b"),
      unix_micros(col(rightTime).cast("timestamp")).as("_rj_t"),
      struct(payload.map(col): _*).as("_rj_v"))
    val l2 = left
      .withColumn("_rj_k", col(leftKey))
      .withColumn("_rj_lo", unix_micros(col(leftTime).cast("timestamp")) + lo)
      .withColumn("_rj_hi", unix_micros(col(leftTime).cast("timestamp")) + hi)
      .withColumn("_rj_b",
        explode(sequence(floor(col("_rj_lo") / w).cast("long"),
          floor((col("_rj_hi") - 1) / w).cast("long"))))
    val joined = l2.join(r2, Seq("_rj_k", "_rj_b"))
      .where(col("_rj_t") >= col("_rj_lo") && col("_rj_t") < col("_rj_hi"))
    val out = left.columns.map(col).toSeq ++
      payload.map(p => col("_rj_v").getField(p).as(p))
    joined.select(out: _*)
  }

  /** Crawl-to-crawl snapshot diff: classify every key of two corpus
    * snapshots as added / removed / changed / unchanged by comparing a
    * content fingerprint (the incremental-recrawl primitive — at
    * 10^12-document scale the next crawl is processed as `changed` +
    * `added` only, the 100-TB analogue of [[graft.link.Pipeline.edgesDelta]]
    * for the ingest side). One full-outer shuffle join on the key; with
    * both snapshots bucketed by key on storage even that shuffle
    * disappears. Fingerprints should be cheap and deterministic
    * (md5/xxhash64 of the content — [[graft.textops.TextOps]] patterns).
    *
    * Output: (key, status, fp_old, fp_new) with fp_* null on the absent
    * side.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, key: String,
      fp: String): DataFrame = {
    val o = oldSnap.select(col(key).as("key"), col(fp).as("fp_old"))
    val n = newSnap.select(col(key).as("key"), col(fp).as("fp_new"))
    o.join(n, Seq("key"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select("key", "status", "fp_old", "fp_new")
  }

  /** CDC merge (Iceberg/Delta `MERGE INTO` semantics, latest-change-wins):
    * apply a changelog to a keyed snapshot and return the new snapshot.
    *
    * `changes` carries (`key`, `seqCol`, `opCol`, payload...) where payload
    * is exactly `snapshot`'s non-key columns; `opCol` is `"D"` for a delete
    * and anything else (I/U) for an upsert. Per key the change with the
    * highest `seqCol` wins (callers must make `seqCol` unique per key —
    * e.g. a monotonically increasing change id).
    *
    * Scale shape: ONE map-side-combining hash aggregate over the changelog
    * (`max_by` of a payload struct — no window sort, no per-key list) and
    * one full-outer equi-join on the key. The changelog side after the agg
    * is at most one row per touched key, so AQE broadcast-joins it against
    * a large snapshot whenever the touched-key set is small — the common
    * incremental-ingest case at 100 TB.
    */
  def applyChanges(snapshot: DataFrame, changes: DataFrame, key: String,
      seqCol: String, opCol: String): DataFrame = {
    val payload = snapshot.columns.filterNot(_ == key).toSeq
    val latest = changes.groupBy(col(key)).agg(
      max_by(struct((opCol +: payload).map(col): _*), col(seqCol))
        .as("_cdc"))
    snapshot.join(latest, Seq(key), "full_outer")
      // a key whose latest change is a delete leaves the snapshot; a key
      // with no change keeps its snapshot row; otherwise the change wins
      // (explicit isNull dispatch, NOT coalesce: a change may legitimately
      // set a payload column to null)
      .where(col("_cdc").isNull || col(s"_cdc.$opCol") =!= lit("D"))
      .select(col(key) +: payload.map(c =>
        when(col("_cdc").isNull, col(c))
          .otherwise(col(s"_cdc.$c")).as(c)): _*)
  }

  /** DISTRIBUTED prefix sum over a global order — the primitive behind
    * token-budget sequence packing, quota assignment, and offset-based
    * file layout. A plain `Window.orderBy(k)` computes this on ONE
    * partition (the classic accidental serialization); this is the
    * two-phase form that doesn't: range-partition + sort by the key,
    * take each partition's total, cumulate the (numPartitions-sized)
    * totals on the driver, and add each partition's exclusive offset
    * back in a single mapPartitions pass. Cost: one range shuffle + one
    * tiny collect — prefix sums at any scale.
    *
    * Output: (k, v, before) — `before` = sum of v over all rows with a
    * strictly smaller position in the (k, then input order within equal
    * k is partition-local) global order. Keys should be unique (the
    * usual case: a row id); equal keys get an arbitrary but stable
    * relative order. */
  /** Regular-grid resample with last-observation-carried-forward: for
    * every key, emit one row per `stepSec` grid point between the key's
    * first and last observation (grid anchored at epoch 0; the first
    * grid point is the first multiple of `stepSec` >= min(t), so every
    * emitted point has an observation at or before it — no null fills),
    * carrying the value of the latest observation with t <= grid point.
    * Multiple observations in one second reduce to max(value) first, so
    * the result is deterministic at any parallelism.
    *
    * The irregular-events-to-uniform-timeline primitive (rate panels,
    * state-at-time-T training features). Plan: one hash agg on (key, t),
    * a tiny per-key bounds agg, `sequence`+explode for the grid, and ONE
    * window over the key — observations and grid points are unioned and
    * sorted together (obs sort before a same-second grid point), so the
    * fill is a single `last(ignoreNulls)` running frame, not a per-grid-
    * point probe join. A key's timeline lands in one task — the same
    * single-key caveat as [[asofJoin]]; use coarser steps or key-splits
    * for multi-year hot keys.
    *
    * Output: (key, grid_t, value) with the input value column's name. */
  def resampleLocf(df: DataFrame, key: String, timeCol: String,
      value: String, stepSec: Long): DataFrame = {
    require(stepSec >= 1, s"stepSec=$stepSec")
    val obs = df.groupBy(col(key).as("k"), col(timeCol).cast("long").as("t"))
      .agg(max(col(value)).as("v"))
    val vType = obs.schema("v").dataType.sql
    val grid = obs.groupBy("k")
      .agg(min(col("t")).as("tmin"), max(col("t")).as("tmax"))
      .select(col("k"),
        expr(s"CAST((tmin + ${stepSec - 1}) DIV $stepSec AS BIGINT) * $stepSec")
          .as("gs"),
        expr(s"CAST(tmax DIV $stepSec AS BIGINT) * $stepSec").as("ge"))
      .where(col("gs") <= col("ge"))
      .select(col("k"),
        explode(sequence(col("gs"), col("ge"), lit(stepSec))).as("t"))
    val tagged = obs.select(col("k"), col("t"), col("v"), lit(0).as("kind"))
      .unionAll(grid.select(col("k"), col("t"),
        lit(null).cast(vType).as("v"), lit(1).as("kind")))
    val w = Window.partitionBy("k").orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.withColumn("fv", last(col("v"), ignoreNulls = true).over(w))
      .where(col("kind") === 1)
      .select(col("k").as(key), col("t").as("grid_t"), col("fv").as(value))
  }

  def prefixSum(df: DataFrame, orderCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranged = graft.core.RunScope.persist("prefix_sum",
      df.select(col(orderCol).cast("long").as("k"),
          col(valueCol).cast("long").as("v"))
        .repartitionByRange(col("k"))
        .sortWithinPartitions("k"))
    val partTotals = ranged
      .select(org.apache.spark.sql.functions.spark_partition_id().as("pid"),
        col("v"))
      .groupBy("pid").agg(sum("v").as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = if (partTotals.isEmpty) 0 else partTotals.keys.max + 1
    val offsets = new Array[Long](nParts + 1)
    (0 until nParts).foreach { p =>
      offsets(p + 1) = offsets(p) + partTotals.getOrElse(p, 0L)
    }
    val bc = spark.sparkContext.broadcast(offsets)
    ranged.as[(Long, Long)].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = bc.value(pid)
      it.map { case (k, v) =>
        val before = acc
        acc += v
        (k, v, before)
      }
    }.toDF("k", "v", "before")
  }

  /** 2-D Pareto skyline (Börzsönyi/Kossmann/Stocker, ICDE 2001 "The
    * Skyline Operator"): the rows not dominated under (maximize
    * `maxCol`, minimize `minCol`) — b dominates a iff b.x ≥ a.x,
    * b.y ≤ a.y, and at least one is strict.
    *
    * In 2-D the skyline needs NO quadratic dominance join: collapse to
    * one (x, min y) row per distinct x, order descending by x, and keep
    * a group iff its y is strictly below the running min over all
    * strictly-larger x. The running min uses the same two-phase shape as
    * [[prefixSum]] (range shuffle + per-partition mins + a
    * numPartitions-sized driver prefix + one mapPartitions pass), so no
    * single-partition window — skylines at any scale. Input rows join
    * back on (x, y == surviving group min): exact ties on BOTH
    * objectives all survive (no strict part in the dominance).
    *
    * Objectives are compared as longs (exact; callers pre-scale
    * fixed-point doubles). Cost: one hash agg + one range shuffle + a
    * P-sized collect + one join against the (small) skyline frame. */
  def skyline2d(df: DataFrame, maxCol: String, minCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = df.groupBy(col(maxCol).cast("long").as("_sky_x"))
      .agg(min(col(minCol).cast("long")).as("_sky_y"))
    val ranged = graft.core.RunScope.persist("skyline2d",
      g.repartitionByRange(col("_sky_x").desc)
        .sortWithinPartitions(col("_sky_x").desc))
    val partMins = ranged
      .select(spark_partition_id().as("pid"), col("_sky_y"))
      .groupBy("pid").agg(min("_sky_y").as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = if (partMins.isEmpty) 0 else partMins.keys.max + 1
    val pre = new Array[Long](nParts + 1)
    pre(0) = Long.MaxValue
    (0 until nParts).foreach(p =>
      pre(p + 1) = math.min(pre(p), partMins.getOrElse(p, Long.MaxValue)))
    val bc = spark.sparkContext.broadcast(pre)
    val sky = ranged.as[(Long, Long)].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = bc.value(pid) // min y over all strictly-larger-x groups
      it.flatMap { case (x, y) =>
        if (y < acc) { acc = y; Iterator.single((x, y)) }
        else Iterator.empty
      }
    }.toDF("_sky_x", "_sky_y")
    df.join(sky, col(maxCol).cast("long") === col("_sky_x") &&
        col(minCol).cast("long") === col("_sky_y"))
      .drop("_sky_x", "_sky_y")
  }

  /** Semi join with a Bloom runtime prefilter — the 100-TB shape for
    * "keep the fact rows whose key appears in a (much smaller) key set"
    * when the key set is too big for a broadcast HASH join but its BLOOM
    * image still fits on the driver (10 bits/key ≈ 120 MB at 100M keys vs
    * tens of GB for the exact set).
    *
    * Build: one pass over `small` computing each key's k probe positions
    * ([[graft.expr.bloomPositions]]), bit_or-aggregated into 64-bit filter
    * words (map-side combine; at most m/64 rows collected — the dense
    * bitset, never the keys). Probe: the words ride a codegen'd
    * [[graft.expr.BloomMightContain]] predicate applied during the big
    * side's SCAN stage, so definite non-members never enter the semi-join
    * shuffle. The exact semi join still runs on the survivors — Bloom
    * false positives are pruned there, so the OUTPUT is exactly the plain
    * semi join and the filter only cuts shuffle volume (expected pass-
    * through ≈ sel + (1-sel)·fpp, fpp ≈ 0.8%^k at 10 bits/key).
    *
    * This is what Spark's AQE `InjectRuntimeFilter` does for equi-joins it
    * can see through; expressing it as an operator keeps the plumbing
    * available when the probe key is a derived expression or the join is
    * assembled across checkpointed stages where AQE can't reach. */
  def bloomSemiJoin(big: DataFrame, bigKey: String, small: DataFrame,
      smallKey: String, bitsPerKey: Int = 10): DataFrame = {
    val keys = small.select(col(smallKey).as("_bf_k"))
      .where(col("_bf_k").isNotNull)
    val n = keys.count()
    if (n == 0) return big.where(lit(false))
    val mBits = math.max(64L, ((n * bitsPerKey + 63) / 64) * 64)
    val k = math.max(1, math.round(bitsPerKey * math.log(2)).toInt)
    val words = keys
      .select(explode(graft.expr.bloomPositions(
        xxhash64(col("_bf_k")), k, mBits)).as("p"))
      .select(shiftright(col("p"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("mask"))
      .collect()
    val bits = new Array[Long]((mBits / 64).toInt)
    words.foreach(r => bits(r.getLong(0).toInt) = r.getLong(1))
    val pre = big.where(graft.expr.bloomMightContain(
      xxhash64(col(bigKey)), bits, k, mBits))
    val dk = keys.distinct()
    pre.join(dk, pre.col(bigKey) === dk.col("_bf_k"), "left_semi")
  }

  /** Slowly-changing-dimension type-2 history from an append-only
    * changelog: every non-delete change becomes a validity interval
    * `[eff_from, eff_to)` in `seqCol` order; a delete closes the previous
    * interval without opening a new one; the last open interval per key
    * has `eff_to` null and `is_current` true.
    *
    * One shuffle (the per-key window); each key's history sorts within a
    * single task, so the operator is bounded by the largest single key's
    * change count — the natural SCD2 limit on any engine.
    */
  def scd2(changes: DataFrame, key: String, seqCol: String,
      opCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(seqCol))
    changes
      .withColumn("eff_to", lead(col(seqCol), 1).over(w))
      .where(col(opCol) =!= lit("D"))
      .drop(opCol)
      .withColumnRenamed(seqCol, "eff_from")
      .withColumn("is_current", col("eff_to").isNull)
  }
}
