package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import graft.Tables._

/** Forty-fifth wave: mtime-filtered scans, multi-source stream union,
  * cascading event-time windows, charset decoding, and rebalance
  * hints.
  */
object Extras45 {

  /** scan_modified_after — the file source's `modifiedAfter` /
    * `modifiedBefore` options: incremental batch pickup by FILE MTIME
    * (the poor engineer's streaming checkpoint — a nightly job reads
    * only files that landed since the last run). The staged dir
    * carries controlled mtimes a day apart; the cutoff selects
    * exactly the newer file, proven by the census. At scale mtime
    * filters prune at LISTING time — no file opens for excluded
    * files.
    */
  def scanModifiedAfter(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_mtime_")
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    base.filter(col("o_orderkey") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/old")
    base.filter(col("o_orderkey") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/new")
    val flat = Scratch.dir("graft_mtime_flat_")
    def move(sub: String, name: String, mtime: Long): Unit = {
      val part = Files.list(Paths.get(dir, sub)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet")).head
      val dst = Paths.get(flat, name)
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = 1700000000000L // fixed epoch anchor: mtimes must be reproducible
    move("old", "old.parquet", t0)
    move("new", "new.parquet", t0 + 86400000L)
    s.read.option("modifiedAfter", "2023-11-15T00:00:00") // between the two mtimes
      .parquet(flat)
      .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("revenue"))
  }
  val scanModifiedAfterSql: String =
    s"""SELECT count(*) AS n_rows, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin

  /** stream_union_two_sources — TWO file sources unioned into ONE
    * streaming query (C244 was the opposite: one source, two
    * queries): each source tracks its own offsets inside the single
    * checkpoint, the union is micro-batch-aligned, and downstream
    * state (the tumbling count) sees one logical stream. The staged
    * dirs split the events by parity rule, so the union must
    * reconstruct the full stream exactly.
    */
  def streamUnionTwoSources(s: SparkSession, d: String): DataFrame = {
    val sch = Streaming.rawSchema(s, d)
    val maxNs = Streaming.maxTsNanos(s, d)
    val dir = Streaming.stageDir(s, d, copies = 1, sentinels = true)
    def side(mod: Int): DataFrame =
      Streaming.eventStream(s, dir, sch)
        .filter(col("user_id") < 0 || col("event_id") % 2 === mod)
    // both sides read the same staged dir; the parity filters make the
    // union a disjoint reconstruction. COMPLETE output mode: with TWO
    // sources, AvailableNow's trailing no-data batch is not guaranteed
    // after both sources drain (observed: the final day stayed in
    // state under append), and complete mode emits every window
    // without depending on that final watermark flush.
    val unioned = side(0).unionByName(side(1))
      .withWatermark("ets", "1 hour")
      .filter(col("user_id") >= 0)
      .groupBy(window(col("ets"), "1 day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    Streaming.runToBatch(s, unioned, "complete")
      .filter(col("window.start") < timestamp_micros(lit(maxNs / 1000 + 86400L * 1000000)))
      .select(col("window.start").cast(TimestampNTZType).as("day_start"),
        col("n"), col("sum_value"))
      .orderBy("day_start")
  }
  val streamUnionTwoSourcesSql: String =
    s"""SELECT date_trunc('day', ts) AS day_start, count(*) AS n,
       |  ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** stream_window_time_chain — CASCADING event-time windows via
    * `window_time()` (Spark 3.4+): hourly aggregates roll up into
    * daily ones INSIDE the same streaming query — window_time()
    * extracts an event-time column (window end − 1 µs) from the first
    * aggregation so the second windowing has a time axis to bucket.
    * The two-level shape is the production telemetry pyramid (raw →
    * hour → day) in one pass with two bounded state stores.
    */
  def streamWindowTimeChain(s: SparkSession, d: String): DataFrame = {
    val sch = Streaming.rawSchema(s, d)
    val maxNs = Streaming.maxTsNanos(s, d)
    val dir = Streaming.stageDir(s, d, copies = 1, sentinels = true)
    val hourly = Streaming.eventStream(s, dir, sch)
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_hour"))
    val daily = hourly
      .groupBy(window(window_time(col("window")), "1 day"))
      .agg(sum(col("n_hour")).as("n_events"),
        count(lit(1)).as("n_hour_user_cells"))
    Streaming.runToBatch(s, daily, "append")
      .filter(col("window.start") < timestamp_micros(lit(maxNs / 1000 + 86400L * 1000000)))
      .select(col("window.start").cast(TimestampNTZType).as("day_start"),
        col("n_events"), col("n_hour_user_cells"))
      .orderBy("day_start")
  }
  val streamWindowTimeChainSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS h, user_id, count(*) AS n_hour
      |  FROM events WHERE user_id >= 0 GROUP BY 1, 2)
      |SELECT date_trunc('day', h) AS day_start,
      |  CAST(sum(n_hour) AS BIGINT) AS n_events,
      |  count(*) AS n_hour_user_cells
      |FROM hourly GROUP BY 1 ORDER BY 1""".stripMargin

  /** scan_csv_encoding — charset-aware CSV ingest: the staged file is
    * ISO-8859-1 (Latin-1) with planted accented bytes that are NOT
    * valid UTF-8; `encoding=ISO-8859-1` decodes them correctly where
    * a default read would mangle the bytes. Census checks the decoded
    * code points exactly — the oracle carries the expected strings as
    * literals (an independent engine cannot read the Latin-1 file,
    * which is the point of the exhibit).
    */
  def scanCsvEncoding(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_enc_")
    val rows = Seq("1;café", "2;naïve", "3;über")
    Files.write(Paths.get(dir, "latin1.csv"),
      ("id;word\n" + rows.mkString("\n")).getBytes("ISO-8859-1"))
    s.read
      .option("sep", ";").option("header", "true").option("encoding", "ISO-8859-1")
      .schema("id BIGINT, word STRING")
      .csv(dir)
      .select(col("id"), col("word"), length(col("word")).cast("bigint").as("n_chars"))
      .orderBy("id")
  }
  val scanCsvEncodingSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'café', CAST(4 AS BIGINT)),
      |  (2, 'naïve', 5),
      |  (3, 'über', 4)) t(id, word, n_chars)
      |ORDER BY id""".stripMargin

  /** Rebalance-hinted frame exposed for PlanSpec's plan assert. */
  private[graft] def rebalanceFrame(s: SparkSession, d: String): DataFrame =
    orders(s, d).hint("rebalance")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))

  /** exec_rebalance_hint — the REBALANCE hint: asks AQE to re-split
    * output partitions to target size (splitting skewed ones,
    * coalescing tiny ones) — the declarative fix for the small-files
    * problem on write paths, unlike `repartition(n)` whose n is a
    * guess that rots as data grows. The plan carries the
    * RebalancePartitions marker (PlanSpec-asserted); results are
    * partitioning-invariant.
    */
  def execRebalanceHint(s: SparkSession, d: String): DataFrame =
    rebalanceFrame(s, d).orderBy("o_orderstatus")
  val execRebalanceHintSql: String =
    s"""SELECT o_orderstatus, count(*) AS n, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_modified_after" -> (scanModifiedAfter _),
    "stream_union_two_sources" -> (streamUnionTwoSources _),
    "stream_window_time_chain" -> (streamWindowTimeChain _),
    "scan_csv_encoding" -> (scanCsvEncoding _),
    "exec_rebalance_hint" -> (execRebalanceHint _))

  val oracle: Map[String, String] = Map(
    "scan_modified_after" -> scanModifiedAfterSql,
    "stream_union_two_sources" -> streamUnionTwoSourcesSql,
    "stream_window_time_chain" -> streamWindowTimeChainSql,
    "scan_csv_encoding" -> scanCsvEncodingSql,
    "exec_rebalance_hint" -> execRebalanceHintSql)
}
