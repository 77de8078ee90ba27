package graft.streaming

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Query, QueryFamily}
import graft.QueryInputs._
import graft.ingest.ClkIO
import graft.link.Pipeline

/** Queries run through the Structured Streaming engine, each checked
  * against its batch form: windowed rates, first-seen and TTL dedup,
  * session windows, stream-stream joins and streaming linkage.
  *
  * Inside the record-linkage boundary. */
object StreamQueries extends QueryFamily {
  /** The session (same SparkContext, cache and extensions; its own conf
    * and temp views) every streaming query of one SparkContext runs on:
    * its source, its `writeStream` and its memory-sink read.
    * `spark.sql.shuffle.partitions` is sized there for the query's state
    * stores instead of the batch default: stateful operators create one
    * state store PER shuffle partition PER micro-batch, and these driver
    * streams replay a few thousand rows through up to ~30 micro-batches,
    * so 32 state partitions pay ~1000 store instantiations/commits for
    * kilobytes of state (q_stream_ttl spent 22 s on store overhead, not
    * data). The default is min(8, parallelism);
    * SPARK_GRAFT_STREAM_PARTITIONS overrides it for production (~state
    * keys / target keys per task). The caller's session, and any batch
    * query it compiles meanwhile, keeps its own setting. Stream results
    * are partitioning-independent (keyed state, deterministic outputs,
    * and every stream query here orders its sink table on read).
    *
    * One per SparkContext, not one per run: each session's stream
    * manager attaches a listener to the context's listener bus that
    * Spark never detaches. Sessions of stopped contexts are dropped. */
  private val streamSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkContext, SparkSession]()
  private def streamSession(s: SparkSession): SparkSession = {
    streamSessions.keySet().removeIf(_.isStopped)
    streamSessions.computeIfAbsent(s.sparkContext, sc => {
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", sys.env.getOrElse(
        "SPARK_GRAFT_STREAM_PARTITIONS",
        math.min(8, math.max(1, sc.defaultParallelism)).toString))
      ss
    })
  }

  /** A memory-sink name unique to this run: runs share the stream
    * session, where two active queries may not share a name. */
  private val streamQueryIds = new java.util.concurrent.atomic.AtomicInteger(0)
  private def sinkName(base: String): String =
    s"${base}_q${streamQueryIds.incrementAndGet()}"

  val queries: Seq[Query] = Seq(
    // the SAME windowed aggregation executed through Structured Streaming
    // (file-stream source, maxFilesPerTrigger-forced incremental batches,
    // watermark, memory sink) — the one driver query that runs the actual
    // streaming engine; the oracle is the batch form, so stream == batch
    // is checked by the driver itself (not just StreamingSpec)
    Query("q_events_stream_windows", (s, dir) => {
      val ss = streamSession(s)
      val qn = sinkName("events_stream")
      val q = graft.streaming.EventStream.streamFromParquet(
        ss, s"$dir/events.parquet", qn)
      try q.awaitTermination() finally if (q.isActive) q.stop()
      ss.table(qn).orderBy(col("window_start"), col("event_type"))
    },
      // Spark's window('1 day') buckets are epoch-aligned in the session tz
      // (UTC here), so the streaming result's window_start equals the batch
      // day-truncation epoch — the driver itself verifies stream == batch
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_start,
                event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2"""),
    // stateful streaming first-seen dedup driven through the REAL engine
    // (file stream -> flatMapGroupsWithState -> memory sink): each dup_key
    // is emitted exactly once across all micro-batches, so the result is
    // the distinct key set — which is what the SQL oracle checks
    Query("q_stream_first_seen", (s, dir) => {
      val ss = streamSession(s)
      val qn = sinkName("stream_firstseen")
      val src = graft.streaming.EventStream
        .parquetStream(ss, s"$dir/documents.parquet")
        .select(concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("k"))
      val q = graft.streaming.EventStream.firstSeenKeys(src, "k")
        .toDF("dup_key")
        .writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      ss.table(qn).orderBy(col("dup_key"))
    },
      // exactly-once emission across micro-batches == the distinct key set
      """SELECT DISTINCT array_to_string(str_split(text, ' ')[1:3], ' ') AS dup_key
         FROM documents"""),
    // session windows through the REAL streaming engine (append mode):
    // only watermark-finalized sessions emit — sessions whose end is
    // still inside the gap horizon at end-of-stream are withheld, and
    // the oracle replays exactly that finalization rule
    Query("q_stream_sessions", (s, dir) => {
      val ss = streamSession(s)
      val qn = sinkName("stream_sessions")
      val src = graft.streaming.EventStream
        .parquetStream(ss, s"$dir/events.parquet")
      val q = graft.streaming.EventStream
        .sessionWindows(src, gap = "30 minutes")
        .writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      ss.table(qn).orderBy(col("user_id"), col("start_us"))
    },
      // gap-merge sessions via lag-flag-cumsum (new session when the gap
      // is >= 30 min — session_window treats an event AT the window end as
      // outside it), finalization = end (last+gap) <= global max event time
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
         mx AS (SELECT max(t) AS mt FROM e),
         f AS (SELECT user_id, t,
                 CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                        >= 1800000000 OR
                      lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                      THEN 1 ELSE 0 END AS new_s
               FROM e),
         s AS (SELECT user_id, t,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                   ROWS UNBOUNDED PRECEDING) AS seq
               FROM f),
         g AS (SELECT user_id, seq, min(t) AS start_us,
                      max(t) + 1800000000 AS end_us, count(*) AS n_events
               FROM s GROUP BY 1, 2)
         SELECT user_id, start_us, end_us, n_events
         FROM g, mx WHERE end_us <= mt"""),
    // STREAM-STREAM watermarked interval join through the real engine:
    // events staged as a 4-file dir (4 micro-batches per side), views and
    // clicks streamed as two independent sources, joined on user with
    // click in [view_ts, view_ts+4h]. The watermark is wider than the
    // replayed span so the join is exact and the batch-form SQL oracle
    // must match bit-for-bit — the driver itself proves stream == batch
    Query("q_stream_join", (s, dir) => {
      val ss = streamSession(s)
      val qn = sinkName("stream_join")
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_join").toString
      events(s, dir).repartition(4).write.mode("overwrite").parquet(tmp)
      def side(t: String) = graft.streaming.EventStream
        .parquetStream(ss, tmp).where(col("event_type") === t)
      val j = graft.streaming.EventStream.intervalJoinStream(
        side("view"), side("click"), "user_id", "ts", "event_id",
        windowSeconds = 14400, watermark = "60 days")
      val q = j.writeStream.outputMode("append").format("memory")
        .queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      ss.table(qn).orderBy(col("key"), col("left_id"), col("right_id"))
    },
      // batch form of the streaming interval join (wide watermark => exact)
      """SELECT v.user_id AS key, v.event_id AS left_id,
                c.event_id AS right_id,
                epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
         FROM events v JOIN events c ON v.user_id = c.user_id
         WHERE v.event_type = 'view' AND c.event_type = 'click'
           AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 14400 SECOND"""),
    // engine-native dropDuplicatesWithinWatermark through 5 real
    // micro-batches (keys deliberately SPREAD across batches by
    // event_id%5, so dedup happens in the state store, not in-batch);
    // delay 3650d >> the data span = no-eviction regime, so the exact
    // oracle is DISTINCT keys — the eviction/re-emit regime is
    // StreamingSpec's staged-timeline case
    Query("q_stream_dropdup_wm", (s, dir) => {
      val ss = streamSession(s)
      val qn = sinkName("stream_ddw")
      ss.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      val root = java.nio.file.Files.createTempDirectory("graft_stream_ddw")
      val in = root.resolve("stream")
      java.nio.file.Files.createDirectories(in)
      events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id").cast("string").as("k"),
          col("ts").cast("timestamp").as("ts"),
          (col("event_id") % 5).cast("int").as("d"))
        .repartition(1)
        .write.partitionBy("d").mode("overwrite").parquet(s"$root/staged")
      val parts = new java.io.File(s"$root/staged").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("d="))
        .sortBy(_.getName)
      parts.zipWithIndex.foreach { case (dd, i) =>
        val f = dd.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = in.resolve(f"batch$i%02d.parquet")
        java.nio.file.Files.move(f.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      val schema = s.read.parquet(in.toString).schema
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      val keys = graft.streaming.EventStream
        .dedupKeysWithinWatermark(stream, "k", "ts", "3650 days")
      val q = keys.writeStream.outputMode("append").format("memory")
        .queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      ss.table(qn).select(col("k").cast("long").as("user_id"))
        .orderBy(col("user_id"))
    },
      // no-eviction regime (delay >> data span) makes the engine's
      // dropDuplicatesWithinWatermark emission set exactly DISTINCT keys,
      // whatever the batch interleave — the cheap exact oracle
      """SELECT DISTINCT user_id FROM events
         WHERE event_type = 'purchase'"""),
    // TTL-bounded streaming dedup through the REAL engine: purchase
    // events staged as one file per day (explicit ascending mtimes ->
    // deterministic batch order), streamed with maxFilesPerTrigger=1 so
    // batch N's watermark = max event time through batch N-1. With a
    // 48h TTL and daily batches the refresh branch is always taken at a
    // sighting batch (bmax_B + 48h > end of day B-1), so the operator's
    // emission rule collapses to a pure window formula the oracle
    // replays: emit at sighting day B iff no prior sighting, or the
    // previous sighting's deadline passed the watermark in force at some
    // intermediate batch — max event time through batch B-2 (timers fire
    // only in batches where the key is absent, against the PREVIOUS
    // batch's watermark). Output: per-key emission counts, re-emissions
    // included (28 of 43 emissions at sf0.001 are TTL re-emissions).
    Query("q_stream_ttl", (s, dir) => {
      val ss = streamSession(s)
      val qn = sinkName("stream_ttl")
      ss.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      val root = java.nio.file.Files.createTempDirectory("graft_stream_ttl")
      val in = root.resolve("stream")
      java.nio.file.Files.createDirectories(in)
      events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id").cast("string").as("k"),
          col("ts").cast("timestamp").as("ts"),
          date_format(col("ts"), "yyyyMMdd").as("d"))
        .repartition(1)
        .write.partitionBy("d").mode("overwrite").parquet(s"$root/staged")
      val dayDirs = new java.io.File(s"$root/staged").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("d="))
        .sortBy(_.getName)
      dayDirs.zipWithIndex.foreach { case (dd, i) =>
        val f = dd.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = in.resolve(f"batch$i%02d.parquet")
        java.nio.file.Files.move(f.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      val schema = s.read.parquet(in.toString).schema
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      val keys = graft.streaming.EventStream.firstSeenKeysTtl(
        stream, "k", "ts", ttlMs = 172800000L)
      val q = keys.writeStream.outputMode("append").format("memory")
        .queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      ss.table(qn).groupBy(col("value").cast("long").as("user_id"))
        .agg(count(lit(1)).as("n_emissions"))
        .orderBy(col("user_id"))
    },
      // batch-mode replay of the TTL state machine under the query's
      // deterministic daily batching: per sighting day B of a key, emit
      // iff no prior sighting day P, or bmax(P) + 48h <= the max event
      // time through batch B-2 (the watermark in force at the last
      // intermediate batch — where the expiry timer could fire). epoch_ms
      // floors microseconds exactly like java.sql.Timestamp.getTime.
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS t,
                           CAST(date_trunc('day', ts) AS DATE) AS d
                    FROM events WHERE event_type = 'purchase'),
         dm AS (SELECT d, max(t) AS dmax FROM e GROUP BY 1),
         wm AS (SELECT d, COALESCE(max(dmax) OVER (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING), 0)
                  AS wm2 FROM dm),
         kb AS (SELECT user_id, d, max(t) AS bmax FROM e GROUP BY 1, 2),
         r AS (SELECT kb.user_id, kb.bmax, wm.wm2,
                      lag(kb.bmax) OVER (PARTITION BY kb.user_id
                        ORDER BY kb.d) AS prev
               FROM kb JOIN wm USING (d))
         SELECT user_id,
                CAST(count(*) FILTER (WHERE prev IS NULL
                  OR prev + 172800000 <= wm2) AS BIGINT) AS n_emissions
         FROM r GROUP BY user_id"""),
    // STREAMING linkage through the real engine: the dp=1 provider is
    // staged as a 4-file parquet dir and streamed (maxFilesPerTrigger=1,
    // so 4 micro-batches) against the static dp=0 side; stream-static
    // join + codegen dice + stateful exact-once edge dedup. The oracle
    // is the SAME bit-for-bit DuckDB kernel replay as er_febrl4_edges —
    // the driver itself proves stream == batch == oracle.
    Query("q_stream_linkage", (s, _) => {
      val ss = streamSession(s)
      val qn = sinkName("stream_link")
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_link").toString
      Pipeline.defaultBlock(
          ClkIO.readBinary(s, s"$FixturesDir/febrl4_b.bin", 1, 128))
        .repartition(4).write.mode("overwrite").parquet(dir)
      val statics = Pipeline.defaultBlock(
        ClkIO.readBinary(ss, s"$FixturesDir/febrl4_a.bin", 0, 128))
      val q = graft.streaming.EventStream.streamingLinkage(
          graft.streaming.EventStream.parquetStream(ss, dir), statics, 0.8)
        .writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      ss.table(qn).orderBy(desc("sim"), col("rec0"), col("rec1"))
    },
      // the streaming run must produce the exact batch edge set
      s"""WITH $febrl4DicePairsSql
         SELECT sim, dp0, rec0, dp1, rec1 FROM p WHERE sim >= 0.8"""),
    // tumbling-window aggregation over the event stream table
    Query("q_events_windows", (s, dir) =>
      events(s, dir)
        .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("day_epoch"), col("event_type")),
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
                event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2"""),
  )
}
