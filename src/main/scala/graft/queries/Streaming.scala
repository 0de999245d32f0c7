package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.Tables

/** Structured Streaming suite (SURVEY.md §2-B B46–B49): tumbling,
  * sliding and session windows plus watermarked dedup, all driven
  * through a file source with Trigger.AvailableNow into a memory sink,
  * returned as a batch DataFrame so the common Verify/Bench contract
  * applies.
  *
  * Watermark-flush technique: in append mode a stateful operator only
  * emits a window after the watermark passes its end, and the watermark
  * only advances between micro-batches — so the windows near the end of
  * a finite replay would be withheld forever. Each replay dir therefore
  * ends with two far-future sentinel files (user_id < 0, +2d/+3d past
  * the real data): all files ride in ONE trigger, the end-of-batch
  * watermark then covers every real event, and the trailing no-data
  * micro-batch (`spark.sql.streaming.noDataMicroBatches.enabled`,
  * default on, honored by AvailableNow) evicts and emits all state —
  * two batches total instead of one per file. Sentinel rows/windows are
  * filtered from the returned frame. Replay dirs are staged once per
  * (sfDir, shape) and cached across queries/runs in the JVM. At
  * production scale the same plans run unmodified on a live source —
  * the sentinels are purely a finite-replay harness device.
  *
  * State-size notes (100 TB design): every stateful operator here keys
  * its state by (window × group) or event_id with a watermark bound, so
  * state is O(active windows / inflight ids), not O(stream); the
  * tumbling/sliding aggregations shuffle partial aggregates only.
  */
object Streaming {

  private val ctr = new AtomicInteger(0)

  /** Raw events schema (ts is TIMESTAMP_NTZ micros — see
    * [[Tables.events]] for the physical-type history). */
  private[graft] def rawSchema(s: SparkSession, d: String): StructType =
    s.read.parquet(s"$d/events.parquet").schema

  /** Max event ts in nanos — bound for sentinel placement + filters.
    * The nanos unit is the suite-wide convention from the INT64-nanos
    * generator era; it is derived here from the µs file (UTC sessions,
    * so the NTZ→TZ cast is value-preserving) and every consumer keeps
    * doing its arithmetic in ns.
    */
  private[graft] def maxTsNanos(s: SparkSession, d: String): Long =
    Scratch.once("events_max_ts", d) {
      s.read.parquet(s"$d/events.parquet")
        .agg(max(unix_micros(col("ts").cast("timestamp")))).head().getLong(0) * 1000L
    }

  /** Naive wall-time (TIMESTAMP_NTZ value) for an epoch-nanos instant —
    * what a Row for the events schema needs in its ts slot. */
  private[graft] def ntzFromNanos(ns: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      ns / 1000000000L, ((ns % 1000000000L) / 1000L * 1000L).toInt,
      java.time.ZoneOffset.UTC)

  /** Stage a streaming replay dir: `copies`× the real events file, plus
    * (optionally) two far-future sentinel one-row files, with strictly
    * increasing mtimes so the file source processes them in order when
    * a maxFilesPerTrigger cap is applied. Cached per (sfDir, shape) —
    * pass `cached = false` for a private dir the caller will mutate.
    */
  private[graft] def stageDir(s: SparkSession, d: String, copies: Int, sentinels: Boolean,
      cached: Boolean = true): String =
    if (cached) Scratch.once(s"stream_stage|$copies|$sentinels", d)(
      buildStageDir(s, d, copies, sentinels))
    else buildStageDir(s, d, copies, sentinels)

  private def buildStageDir(s: SparkSession, d: String, copies: Int, sentinels: Boolean): String = {
    val dir = Paths.get(Scratch.dir("graft_stream_"))
    val src = Paths.get(s"$d/events.parquet")
    val t0 = System.currentTimeMillis() - 120000
    var seq = 0
    def stamp(p: Path): Unit = { Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + seq * 1000)); seq += 1 }
    (0 until copies).foreach { i =>
      val dst = dir.resolve(f"data-$i%03d.parquet")
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      stamp(dst)
    }
    if (sentinels) {
      val maxNs = maxTsNanos(s, d)
      val sch = rawSchema(s, d)
      Seq((-1L, maxNs + 2L * 86400 * 1000000000L), (-2L, maxNs + 3L * 86400 * 1000000000L))
        .zipWithIndex.foreach { case ((uid, ns), i) =>
          val row = Row(-1000L - i, ntzFromNanos(ns), uid, "sentinel", 0.0, "{}")
          val one = s.createDataFrame(java.util.List.of(row), sch).coalesce(1)
          val tmp = Scratch.dir("graft_sent_")
          one.write.mode("overwrite").parquet(tmp)
          val ls = Files.list(Paths.get(tmp))
          val part = try ls.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
            finally ls.close()
          val dst = dir.resolve(f"sentinel-$i.parquet")
          Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
          Scratch.delete(tmp)
          stamp(dst)
        }
    }
    dir.toString
  }

  /** File-source stream of events with event-time `ets` (TIMESTAMP, µs,
    * value-identical to ts under the suite's UTC sessions). By default
    * all files ride in one trigger (see watermark-flush note above);
    * pass `maxFilesPerTrigger` to force batch-per-file replay, e.g. for
    * late-data scenarios that need the watermark to advance mid-replay.
    */
  private[graft] def eventStream(s: SparkSession, dir: String, sch: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = s.readStream.schema(sch)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(dir)
      .withColumn("ets", col("ts").cast("timestamp"))
  }

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Runs `body` on `n` fresh scratch checkpoint dirs and deletes them
    * when it returns or throws. Callers await their queries inside
    * `body`; a memory sink's table outlives its checkpoint.
    */
  private[graft] def withScratchCheckpoints[A](n: Int)(body: Seq[String] => A): A = {
    val dirs = Seq.fill(n)(Scratch.dir("graft_ckpt_"))
    try body(dirs) finally dirs.foreach(Scratch.delete)
  }

  private[graft] def withScratchCheckpoint[A](body: String => A): A =
    withScratchCheckpoints(1)(dirs => body(dirs.head))

  /** Runs `w` to termination on a scratch checkpoint (see [[start]])
    * and returns the terminated query. */
  private[graft] def runToEnd[T](s: SparkSession, w: DataStreamWriter[T]): StreamingQuery =
    withScratchCheckpoint { ckpt =>
      val q = start(s, w, ckpt)
      q.awaitTermination()
      q
    }

  /** The one place the engine starts a stream: `w` on checkpoint
    * `ckpt`, with two session confs latched for the duration of
    * `.start()` only. `StreamExecution` clones the session at start, so
    * the query keeps them for its offset and commit logs and its state
    * stores, while later plans see the restored conf:
    *
    * - [[graft.sources.LocalCheckpointFileManager]], which starts no
    *   processes, as the checkpoint file manager (why: [[runToBatch]]);
    * - `statePartitions`, when given, as `spark.sql.shuffle.partitions`,
    *   which streaming latches at query start as its state partition
    *   count.
    */
  private[graft] def start[T](s: SparkSession, w: DataStreamWriter[T], ckpt: String,
      statePartitions: Option[Int] = None): StreamingQuery = {
    val confs = statePartitions.map("spark.sql.shuffle.partitions" -> _.toString).toSeq :+
      (CheckpointManagerKey -> classOf[graft.sources.LocalCheckpointFileManager].getName)
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      w.option("checkpointLocation", ckpt).start()
    } finally prev.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** Run a streaming frame to completion (AvailableNow) into a memory
    * sink and return the sink contents as a batch DataFrame.
    *
    * Streaming state partitioning is latched from
    * `spark.sql.shuffle.partitions` at query START and never changes
    * for the query's lifetime — so the session's batch-oriented 32
    * would allocate 32 state-store instances per stateful operator
    * (×2–4 for a stream-stream join) for replays whose total state is
    * a few thousand rows; the per-store checkpoint/maintenance churn
    * dominates wall-clock. [[start]] latches a small count for the
    * duration of `.start()`. On a real cluster the same query would
    * simply start under a shuffle-partition conf sized to its expected
    * state, set once at deployment.
    *
    * What the churn cost was measured, on a host without the native
    * Hadoop library: Spark's default checkpoint file manager forks a
    * `readlink` for every `FileContext` rename and a `chmod` for every
    * file or dir `RawLocalFileSystem` creates. A JFR
    * `jdk.ProcessStart` recording of one `batch` benchmark run counted
    * 1035 forks, about 252 per `stream_tumbling_count` call. Under
    * [[start]]'s fork-free manager the same run forks 28 times, and a
    * traced run's `stream.state_commit_ms` falls from 727 to 68 ms and
    * `stream.wal_commit_ms` from 69 to 5.
    */
  private[graft] def runToBatch(s: SparkSession, df: DataFrame, mode: String,
      statePartitions: Int = 4): DataFrame =
    runToBatchAll(s, Seq(df -> mode), statePartitions).head

  /** r14: start SEVERAL independent AvailableNow queries and await them
    * together (guide §2.6 — overlap independent jobs). The sequential
    * shape paid each stream's full micro-batch chain back to back; the
    * concurrent shape is also the truer multi-sink deployment: one
    * source fanned out to sinks that each keep their own checkpoint.
    * Results are identical — each query is the same isolated
    * AvailableNow replay into its own memory sink. A failure stops the
    * queries already started before their checkpoints are deleted.
    */
  private[graft] def runToBatchAll(s: SparkSession, dfs: Seq[(DataFrame, String)],
      statePartitions: Int = 4): Seq[DataFrame] =
    withScratchCheckpoints(dfs.size) { ckpts =>
      val started = scala.collection.mutable.ArrayBuffer.empty[(String, StreamingQuery)]
      try {
        dfs.zip(ckpts).foreach { case ((df, mode), ckpt) =>
          val name = s"graft_mem_${ctr.incrementAndGet()}"
          started += name -> start(s,
            df.writeStream.format("memory").queryName(name).outputMode(mode)
              .trigger(Trigger.AvailableNow()),
            ckpt, Some(statePartitions))
        }
        started.foreach(_._2.awaitTermination())
      } finally started.foreach(_._2.stop())
      started.map { case (name, _) => s.table(name) }.toSeq
    }

  /** B46 stream_tumbling_count — 1h tumbling windows over the event
    * stream, watermark + append mode (the production shape: state is
    * evicted as the watermark passes, emitted exactly once).
    */
  def streamTumblingCount(s: SparkSession, d: String): DataFrame = {
    val sch = rawSchema(s, d)
    val maxNs = maxTsNanos(s, d)
    val dir = stageDir(s, d, copies = 1, sentinels = true)
    val agg = eventStream(s, dir, sch)
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"))
      .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("sum_value"))
    runToBatch(s, agg, "append")
      .filter(col("window.start") < timestamp_micros(lit(maxNs / 1000 + 86400L * 1000000)))
      .select(
        col("window.start").cast(TimestampNTZType).as("hour_start"),
        col("n"), col("sum_value"))
      .orderBy("hour_start")
  }
  val streamTumblingCountSql: String =
    s"""SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n,
       |  ${Tables.dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1 ORDER BY hour_start""".stripMargin

  /** B47 stream_sliding_sum — 1h windows sliding every 30min (each
    * event lands in two windows), complete-mode variant for contrast
    * with B46's append mode.
    */
  def streamSlidingSum(s: SparkSession, d: String): DataFrame = {
    val sch = rawSchema(s, d)
    val dir = stageDir(s, d, copies = 1, sentinels = false)
    val agg = eventStream(s, dir, sch)
      .groupBy(window(col("ets"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("sum_value"))
    runToBatch(s, agg, "complete")
      .select(
        col("window.start").cast(TimestampNTZType).as("win_start"),
        col("n"), col("sum_value"))
      .orderBy("win_start")
  }
  val streamSlidingSumSql: String =
    s"""SELECT wstart AS win_start, count(*) AS n, ${Tables.dsumSql("value")} AS sum_value
       |FROM (
       |  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
       |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS wstart,
       |         value
       |  FROM events)
       |GROUP BY wstart ORDER BY win_start""".stripMargin

  /** B48 stream_session_window — per-user sessions with a 10-minute
    * gap. Session windows only support append/update in streaming, so
    * this relies fully on the sentinel watermark flush. Oracle is the
    * batch gaps-and-islands formulation (new session when the gap is
    * >= 10min, session end = last event + gap).
    */
  def streamSessionWindow(s: SparkSession, d: String): DataFrame = {
    val sch = rawSchema(s, d)
    val dir = stageDir(s, d, copies = 1, sentinels = true)
    val agg = eventStream(s, dir, sch)
      .withWatermark("ets", "10 minutes")
      .groupBy(session_window(col("ets"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Tables.dsum(col("value")).as("sum_value"))
    runToBatch(s, agg, "append")
      .filter(col("user_id") >= 0)
      .select(
        col("user_id"),
        col("session_window.start").cast(TimestampNTZType).as("sess_start"),
        col("session_window.end").cast(TimestampNTZType).as("sess_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "sess_start")
  }
  val streamSessionWindowSql: String =
    s"""WITH x AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
       |         THEN 1 ELSE 0 END AS brk
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       |), y AS (
       |  SELECT user_id, ts, value,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
       |  FROM x)
       |SELECT user_id, min(ts) AS sess_start,
       |  max(ts) + INTERVAL 10 MINUTE AS sess_end,
       |  count(*) AS n_events, ${Tables.dsumSql("value")} AS sum_value
       |FROM y GROUP BY user_id, sess
       |ORDER BY user_id, sess_start""".stripMargin

  /** B49 stream_dedup_watermark — the event stream replayed twice,
    * deduplicated on event_id under a watermark (state holds only ids
    * within the watermark horizon), then aggregated per type. The
    * result must equal the single-copy batch aggregate — which is also
    * its DuckDB oracle.
    */
  def streamDedupWatermark(s: SparkSession, d: String): DataFrame = {
    val sch = rawSchema(s, d)
    val dir = stageDir(s, d, copies = 2, sentinels = false)
    val deduped = eventStream(s, dir, sch)
      .withWatermark("ets", "1 hour")
      .dropDuplicates("event_id")
      .select(col("event_id"), col("event_type"), col("value"))
    runToBatch(s, deduped, "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }
  val streamDedupWatermarkSql: String =
    s"""SELECT event_type, count(*) AS n, ${Tables.dsumSql("value")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** stream_custom_state — arbitrary per-key state via
    * `flatMapGroupsWithState` (the KeyValueGroupedDataset custom-state
    * API): per-user running event count + value total, emitted in
    * update mode. State arithmetic is exact integer cents, so the
    * nondeterministic order of the per-group value iterator cannot
    * perturb the double output (cents/100.0 ≡ the oracle's decimal
    * pattern). At scale, state is one small struct per active user,
    * partitioned by the group key.
    */
  def streamCustomState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sch = rawSchema(s, d)
    val dir = stageDir(s, d, copies = 1, sentinels = false)
    val typed = s.readStream.schema(sch).parquet(dir)
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
    val updated = typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Long, Long)]) =>
          val (n0, cents0) = state.getOption.getOrElse((0L, 0L))
          var n = n0
          var cents = cents0
          rows.foreach { case (_, v) => n += 1; cents += math.round(v * 100) }
          state.update((n, cents))
          Iterator((user, n, cents / 100.0))
      }
      .toDF("user_id", "n_events", "sum_value")
    runToBatch(s, updated, "update")
      .orderBy("user_id")
  }
  val streamCustomStateSql: String =
    s"""SELECT user_id, count(*) AS n_events, ${Tables.dsumSql("value")} AS sum_value
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** stream_stream_join — windowed stream-stream inner join: each
    * purchase joined to the same user's views in the preceding hour.
    * Both sides carry watermarks and the join condition carries the
    * time bound, so each side's state is purged as the watermark
    * passes (bounded state — the requirement for an unbounded run).
    * Oracle: the equivalent batch range self-join.
    */
  def streamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val sch = rawSchema(s, d)
    val dir = stageDir(s, d, copies = 1, sentinels = false)
    def side(tpe: String, prefix: String): DataFrame =
      s.readStream.schema(sch).parquet(dir)
        .withColumn("ets", col("ts").cast("timestamp"))
        .filter(col("event_type") === tpe)
        .select(
          col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          col("ets").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "2 hours")
    val joined = side("purchase", "p").join(
      side("view", "v"),
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
    runToBatch(s, joined, "append")
      .select(col("p_id"), col("v_id"), col("p_user"),
        col("p_ts").cast(TimestampNTZType).as("p_ts"),
        col("v_ts").cast(TimestampNTZType).as("v_ts"))
      .orderBy("p_id", "v_id")
  }
  val streamStreamJoinSql: String =
    """SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id AS p_user,
      |  p.ts AS p_ts, v.ts AS v_ts
      |FROM events p JOIN events v
      |  ON p.user_id = v.user_id
      | AND p.event_type = 'purchase' AND v.event_type = 'view'
      | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
      |ORDER BY p_id, v_id""".stripMargin

  /** stream_foreachbatch_upsert — the streaming→store integration: the
    * event stream (replayed 2×, one file per micro-batch) drives a
    * foreachBatch MERGE into the keyed [[graft.sources.DatasetStore]].
    * Each micro-batch pre-aggregates per user (count + exact integer
    * cents + latest event by (ts, event_id)), then merges additively
    * with the store's current per-user row and commits one new
    * snapshot — the incremental-materialized-view pattern: state lives
    * in the store, each batch touches O(batch users) rows, and a crash
    * between batches leaves the last committed snapshot readable.
    * Merge math is associative (sums of counts/cents, max_by on a total
    * order), so the result is independent of batch slicing — the oracle
    * recomputes it from the doubled batch equivalent.
    */
  def streamForeachbatchUpsert(s: SparkSession, d: String): DataFrame = {
    val sch = rawSchema(s, d)
    val dir = stageDir(s, d, copies = 2, sentinels = false)
    val store = new graft.sources.DatasetStore(
      s, Scratch.dir("graft_fbu_") + "/users", "user_id")
    def mergeBatch(batch: DataFrame, cur: Option[DataFrame]): DataFrame = {
      val agg = batch
        .withColumn("ets", col("ts").cast("timestamp"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          // exact integer cents via the decimal image (value*100 in
          // double truncates wrong: 12.30*100 = 1229.999…)
          sum((col("value").cast(Tables.M) * 100).cast("long")).as("cents"),
          max_by(struct(col("ets").as("ts"), col("event_id").as("id"),
            col("value").as("v")), struct(col("ets"), col("event_id"))).as("last"))
      cur match {
        case None => agg
        case Some(c) => c.unionByName(agg)
          .groupBy("user_id")
          .agg(
            sum(col("n_events")).as("n_events"),
            sum(col("cents")).as("cents"),
            max_by(col("last"), struct(col("last.ts"), col("last.id"))).as("last"))
      }
    }
    val w = s.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val merged = mergeBatch(batch,
          if (store.isInitialized) Some(store.read()) else None)
        store.init(merged)
      }
      .trigger(Trigger.AvailableNow())
    runToEnd(s, w)
    store.read()
      .select(col("user_id"), col("n_events"),
        (col("cents").cast("double") / 100.0).as("sum_value"),
        col("last.ts").cast(TimestampNTZType).as("last_ts"),
        col("last.v").as("last_value"))
      .orderBy("user_id")
  }
  val streamForeachbatchUpsertSql: String =
    """WITH r AS (
      |  SELECT user_id, ts, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |a AS (
      |  SELECT user_id, 2 * count(*) AS n_events,
      |    CAST(2 * sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY user_id)
      |SELECT a.user_id, a.n_events, a.sum_value,
      |  r.ts AS last_ts, r.value AS last_value
      |FROM a JOIN r ON a.user_id = r.user_id AND r.rn = 1
      |ORDER BY a.user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_stream_join" -> (streamStreamJoin _),
    "stream_tumbling_count" -> (streamTumblingCount _),
    "stream_sliding_sum" -> (streamSlidingSum _),
    "stream_session_window" -> (streamSessionWindow _),
    "stream_dedup_watermark" -> (streamDedupWatermark _),
    "stream_custom_state" -> (streamCustomState _),
    "stream_foreachbatch_upsert" -> (streamForeachbatchUpsert _),
  )

  val oracle: Map[String, String] = Map(
    "stream_stream_join" -> streamStreamJoinSql,
    "stream_tumbling_count" -> streamTumblingCountSql,
    "stream_sliding_sum" -> streamSlidingSumSql,
    "stream_session_window" -> streamSessionWindowSql,
    "stream_dedup_watermark" -> streamDedupWatermarkSql,
    "stream_custom_state" -> streamCustomStateSql,
    "stream_foreachbatch_upsert" -> streamForeachbatchUpsertSql,
  )
}
