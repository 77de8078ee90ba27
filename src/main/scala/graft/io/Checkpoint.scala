package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Lineage: one row per output partition (partition_id, rows_out): the
  * write task's partition (the `part-NNNNN` of its files) and the rows
  * its files hold; a task that wrote no rows gets no row. It is written
  * to `<root>/_lineage/stage=<name>` as one Parquet file, on the driver
  * with parquet-hadoop (no Spark job), in the schema Spark itself writes
  * (optional int32 / int64), so lineage a Spark job wrote reads as one
  * table with it — the Spark analogue of the reference's per-task Redis
  * progress counters (`cache/progress.py:34-58`). The per-stage partition
  * directory is OVERWRITTEN on recompute (and deleted on invalidate), so
  * a crash-retry or invalidated recompute never double-counts lineage
  * rows.
  *
  * Counting: no Spark job reads the staged table back. After the write,
  * the driver reads the record count from each staged file's Parquet
  * footer: what the committed files hold, exact under task retries. The
  * stage's `rows` is the sum of its lineage rows, and the `counters`
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
    * receive the stage's row count (the sum of its lineage rows, read
    * from the Parquet footers), so a counter that needs it costs no Spark
    * job. */
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
      // lineage from the staged files' footers, read BEFORE the rename
      // (no Spark job); the stage's row count is their sum
      val lineageRows = partitionCounts(filesystem, tmpPath)
      val rows = lineageRows.map(_._2).sum
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
      writeLineage(filesystem, new Path(s"$root/_lineage/stage=$name"), lineageRows)
      val out = filesystem.create(mfPath, true)
      out.write(manifest.getBytes(StandardCharsets.UTF_8))
      out.close()
      // read back with the written frame's schema: inferring it from the
      // Parquet footers would cost a Spark job
      StageResult(spark.read.schema(df.schema).parquet(dir), rows, resumed = false)
    } finally {
      hb.interrupt()
      try filesystem.delete(tmpPath, true)
      catch { case _: java.io.IOException => () }
    }
  }

  /** `(partition_id, rows_out)` per write task that wrote rows, summed
    * over the task's `part-NNNNN-*` files (NNNNN is the task's partition;
    * `maxRecordsPerFile` splits one task into several files). Each count
    * is the file's Parquet footer record count, read on the driver: what
    * the committed files hold, exact under task retries. */
  private def partitionCounts(filesystem: FileSystem, dir: Path): Seq[(Int, Long)] = {
    val conf = filesystem.getConf
    filesystem.listStatus(dir).toSeq.map(_.getPath).filter(_.getName.startsWith("part-"))
      .map { p =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        val n = try reader.getRecordCount finally reader.close()
        p.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt -> n
      }
      .groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.filter(_._2 > 0).sorted
  }

  /** Spark's own schema for the lineage rows: it writes every column
    * optional, so lineage written by a Spark job reads as one table with
    * this. */
  private val LineageSchema = MessageTypeParser.parseMessageType(
    "message spark_schema { optional int32 partition_id; optional int64 rows_out; }")

  /** Replaces the stage's lineage directory with one Parquet file written
    * on the driver (no Spark job); no rows still leaves a readable file. */
  private def writeLineage(filesystem: FileSystem, dir: Path, rows: Seq[(Int, Long)]): Unit = {
    if (filesystem.exists(dir)) filesystem.delete(dir, true)
    val groups = new SimpleGroupFactory(LineageSchema)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(dir, "part-00000.parquet"), filesystem.getConf))
      .withType(LineageSchema)
      .withConf(filesystem.getConf)
      .build()
    try rows.foreach { case (pid, n) =>
      writer.write(groups.newGroup().append("partition_id", pid).append("rows_out", n))
    } finally writer.close()
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
