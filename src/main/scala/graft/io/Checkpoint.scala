package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets

/** Stage checkpointing with manifest-commit semantics + per-partition
  * lineage rows and counters (north rule: "Every stage checkpoints ... with
  * per-partition lineage rows and counters ... making the pipeline
  * resumable mid-run").
  *
  * Table format: Parquet data + a `_MANIFEST.json` written LAST — manifest
  * presence is the commit record (same commit protocol shape as Iceberg's
  * metadata pointer; the sandbox ships no Iceberg runtime jar, see
  * SURVEY.md §7.1). A stage directory without a manifest is an aborted
  * write and is recomputed+overwritten on the next run; a stage with a
  * manifest is skipped and served from Parquet (resume).
  *
  * Concurrency: stage compute is guarded by an atomic writer lock
  * (`FileSystem.create(overwrite=false)` of `<root>/_locks/<stage>.lock`
  * — atomic on local FS and HDFS; on S3-like stores swap for a
  * conditional-put). A second writer waits for the holder's manifest and
  * resumes from it, or fails after `lockWaitMs` — the same race-safe run
  * start as the reference (`database/selections.py:137-148`
  * `FOR UPDATE NOWAIT`). Locks older than `staleLockMs` are presumed
  * crashed and stolen — and because stage computes can legitimately run
  * longer than that, the holder (a) HEARTBEATS the lock's mtime from a
  * daemon thread every `heartbeatMs` (<< staleLockMs, so a live holder is
  * never presumed crashed), and (b) carries a unique attempt id in the
  * lock body and RE-VERIFIES ownership immediately before publishing,
  * aborting if the lock changed hands. Each attempt also computes into an
  * ATTEMPT-PRIVATE directory (`<root>/_attempts/<stage>-<attemptId>`) and
  * publishes via a single directory rename, so files enter the stage
  * directory only as one attempt's complete tree — even a stolen lock
  * whose victim's write tasks are still running cannot mix two attempts'
  * files under one manifest (the victim writes into its own _attempts
  * dir, which is discarded). The narrow residue: a steal landing in the
  * instants between the ownership check and the rename can delete the
  * victim's just-renamed tree before its manifest write, leaving a
  * manifest-only directory the thief then fails against — both writers
  * error, nothing mixed is blessed.
  *
  * Lineage: one row per output partition (partition_id, rows_out),
  * written to `<root>/_lineage/stage=<name>` — the Spark analogue of the
  * reference's per-task Redis progress counters (`cache/progress.py:34-58`).
  * The per-stage partition directory is OVERWRITTEN on recompute (and
  * deleted on invalidate), so a crash-retry or invalidated recompute never
  * double-counts lineage rows.
  *
  * Counting: the staged table is counted once, by the lineage aggregate.
  * The stage's `rows` is the sum of its `rows_out`, and the `counters`
  * callback receives that count, not the table, so stage-level counters
  * (e.g. pairs_generated / edges_kept) add no Spark job. `rows`, `wall_ms`
  * and the counters go into `_MANIFEST.json`; a resumed stage reports the
  * manifest's `rows`.
  */
object Checkpoint {

  case class StageResult(df: DataFrame, rows: Long, resumed: Boolean)

  /** How long a second writer waits for the lock holder's commit. */
  val LockWaitMs: Long = 60000L
  /** Locks older than this are presumed crashed and stolen. */
  val StaleLockMs: Long = 600000L
  /** Lock-mtime refresh period for the live holder (sized well below
    * StaleLockMs so a slow-but-alive compute is never stolen from). */
  val HeartbeatMs: Long = 60000L

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def isCommitted(spark: SparkSession, root: String, name: String): Boolean = {
    val mf = new Path(s"$root/$name/_MANIFEST.json")
    fs(spark, mf).exists(mf)
  }

  /** Run (or resume) a checkpointed stage. `compute` is only invoked when
    * the stage is not yet committed and this writer holds the stage lock.
    * `counters` are stage-level metrics evaluated after the write; they
    * receive the stage's row count (the sum of its lineage rows), so a
    * counter that needs it costs no Spark job. */
  def stage(spark: SparkSession, root: String, name: String,
      counters: Long => Map[String, Long] = _ => Map.empty,
      lockWaitMs: Long = LockWaitMs, heartbeatMs: Long = HeartbeatMs)
      (compute: => DataFrame): StageResult = {
    val dir = s"$root/$name"
    val mfPath = new Path(s"$dir/_MANIFEST.json")
    val filesystem = fs(spark, mfPath)

    if (filesystem.exists(mfPath)) return resumed(spark, root, name)

    val attemptId = java.util.UUID.randomUUID().toString
    if (!acquireLock(spark, root, name, lockWaitMs, attemptId)) {
      // another writer committed while we waited -> serve its result
      if (filesystem.exists(mfPath)) return resumed(spark, root, name)
      throw new IllegalStateException(
        s"stage $name: writer lock held by another run and no commit " +
          s"appeared within ${lockWaitMs}ms")
    }
    try {
      // the lock holder re-checks: the previous holder may have committed
      // between our manifest probe and lock acquisition
      if (filesystem.exists(mfPath)) return resumed(spark, root, name)
      doCompute(spark, root, name, counters, compute, attemptId, heartbeatMs)
    } finally releaseLock(spark, root, name, attemptId)
  }

  /** A committed stage, served from Parquet with the manifest's row count. */
  private def resumed(spark: SparkSession, root: String, name: String): StageResult = {
    val rows = """"rows":(\d+)""".r.findFirstMatchIn(readManifest(spark, root, name).get).get
    StageResult(spark.read.parquet(s"$root/$name"), rows.group(1).toLong, resumed = true)
  }

  private def doCompute(spark: SparkSession, root: String, name: String,
      counters: Long => Map[String, Long],
      compute: => DataFrame, attemptId: String, heartbeatMs: Long): StageResult = {
    val dir = s"$root/$name"
    val dataPath = new Path(dir)
    val mfPath = new Path(s"$dir/_MANIFEST.json")
    val filesystem = fs(spark, mfPath)
    val lp = lockPath(root, name)

    // mtime heartbeat: a compute running past StaleLockMs must not look
    // crashed to a waiting writer (whose stale-steal would otherwise
    // delete this attempt's in-progress output)
    val hb = new Thread(() => {
      try {
        while (!Thread.interrupted()) {
          Thread.sleep(heartbeatMs)
          try filesystem.setTimes(lp, System.currentTimeMillis(), -1)
          catch { case _: java.io.IOException => () } // stolen: commit check catches it
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat-$name")
    hb.setDaemon(true)
    hb.start()

    // attempt-private staging dir: this attempt's write tasks can NEVER
    // land files in the published stage directory — publication is one
    // directory rename below, after the ownership re-verify
    val tmpDir = s"$root/_attempts/$name-$attemptId"
    val tmpPath = new Path(tmpDir)

    val t0 = System.nanoTime()
    try {
      val df = compute
      df.write.mode("overwrite").parquet(tmpDir)
      // both reads of the stage take the written frame's schema:
      // inferring it back from the Parquet footers costs a job per read
      val written = spark.read.schema(df.schema).parquet(tmpDir)

      // per-partition lineage (one row per read partition ~= parquet file
      // split) — materialized from the staged tree BEFORE the rename (the
      // lazy plan is bound to tmpDir's files); per-stage lineage dir is
      // overwritten, so a recompute replaces (never duplicates) rows. The
      // stage's row count is their sum: the table is counted once.
      val lineageRows = written
        .groupBy(spark_partition_id().as("partition_id"))
        .agg(count(lit(1)).as("rows_out"))
        .select("partition_id", "rows_out")
        .collect()

      val rows = lineageRows.map(_.getLong(1)).sum
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val metrics = counters(rows)
      val metricsJson = metrics.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val manifest =
        s"""{"stage":"$name","rows":$rows,"wall_ms":$wallMs,"metrics":{$metricsJson}}"""

      // ownership re-verify IMMEDIATELY before publication: if the lock
      // was stolen (holder paused past StaleLockMs despite the heartbeat —
      // GC pause, FS hiccup), a competing writer owns the stage now; our
      // staged tree is simply discarded. The rename is the only way files
      // enter the stage directory, so a manifest can only ever cover one
      // attempt's complete tree.
      if (!holdsLock(filesystem, lp, attemptId))
        throw new IllegalStateException(
          s"stage $name: writer lock lost during compute (attempt " +
            s"$attemptId); aborting commit — a competing writer owns the stage")
      if (filesystem.exists(dataPath)) filesystem.delete(dataPath, true)
      if (!filesystem.rename(tmpPath, dataPath))
        throw new IllegalStateException(
          s"stage $name: publish rename failed (attempt $attemptId) — " +
            "a competing writer repopulated the stage directory")
      val lineageSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("partition_id",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("rows_out",
          org.apache.spark.sql.types.LongType, nullable = false)))
      spark.createDataFrame(java.util.Arrays.asList(lineageRows: _*), lineageSchema)
        .write.mode("overwrite").parquet(s"$root/_lineage/stage=$name")
      val out = filesystem.create(mfPath, true)
      out.write(manifest.getBytes(StandardCharsets.UTF_8))
      out.close()
      StageResult(spark.read.schema(df.schema).parquet(dir), rows, resumed = false)
    } finally {
      hb.interrupt()
      try filesystem.delete(tmpPath, true)
      catch { case _: java.io.IOException => () }
    }
  }

  /** True iff the lock file exists and carries this attempt's id. */
  private def holdsLock(filesystem: FileSystem, lp: Path, attemptId: String): Boolean =
    try {
      val in = filesystem.open(lp)
      val bytes = new Array[Byte](filesystem.getFileStatus(lp).getLen.toInt)
      in.readFully(bytes); in.close()
      new String(bytes, StandardCharsets.UTF_8).contains(attemptId)
    } catch { case _: java.io.IOException => false }

  private def lockPath(root: String, name: String) =
    new Path(s"$root/_locks/$name.lock")

  /** Atomic acquire; waits up to `waitMs` for a competing holder to either
    * release or commit. Returns false when the wait expired (caller checks
    * for the competing commit). */
  private def acquireLock(spark: SparkSession, root: String, name: String,
      waitMs: Long, attemptId: String): Boolean = {
    val lp = lockPath(root, name)
    val filesystem = fs(spark, lp)
    val mfPath = new Path(s"$root/$name/_MANIFEST.json")
    val deadline = System.currentTimeMillis() + waitMs
    while (true) {
      try {
        val out = filesystem.create(lp, false) // atomic create-if-absent
        out.write((s"""{"pid":${ProcessHandle.current().pid()},""" +
          s""""attempt":"$attemptId","ts":${System.currentTimeMillis()}}""")
          .getBytes(StandardCharsets.UTF_8))
        out.close()
        return true
      } catch {
        case _: java.io.IOException =>
          // held by someone: committed already? stale? else wait
          if (filesystem.exists(mfPath)) return false
          try {
            val st = filesystem.getFileStatus(lp)
            if (System.currentTimeMillis() - st.getModificationTime > StaleLockMs)
              filesystem.delete(lp, false) // steal a crashed writer's lock
          } catch { case _: java.io.FileNotFoundException => () } // released: retry
          if (System.currentTimeMillis() >= deadline) return false
          Thread.sleep(200)
      }
    }
    false
  }

  /** Ownership-checked release: a stolen lock belongs to the thief now —
    * deleting it blindly would unlock the stage under the thief's feet. */
  private def releaseLock(spark: SparkSession, root: String, name: String,
      attemptId: String): Unit = {
    val lp = lockPath(root, name)
    try {
      val filesystem = fs(spark, lp)
      if (holdsLock(filesystem, lp, attemptId)) filesystem.delete(lp, false)
    } catch { case _: Throwable => () }
  }

  def readManifest(spark: SparkSession, root: String, name: String): Option[String] = {
    val mf = new Path(s"$root/$name/_MANIFEST.json")
    val filesystem = fs(spark, mf)
    if (!filesystem.exists(mf)) None
    else {
      val in = filesystem.open(mf)
      val bytes = new Array[Byte](filesystem.getFileStatus(mf).getLen.toInt)
      in.readFully(bytes); in.close()
      Some(new String(bytes, StandardCharsets.UTF_8))
    }
  }

  /** Invalidate a stage (forces recompute on the next run); also removes
    * the stage's lineage rows so counters never mix attempts. */
  def invalidate(spark: SparkSession, root: String, name: String): Unit = {
    val dir = new Path(s"$root/$name")
    val filesystem = fs(spark, dir)
    if (filesystem.exists(dir)) filesystem.delete(dir, true)
    val lin = new Path(s"$root/_lineage/stage=$name")
    if (filesystem.exists(lin)) filesystem.delete(lin, true)
  }

  def lineage(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/_lineage")
}
