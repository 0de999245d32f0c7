package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Fifth wave of coverage operators: native batch session windows,
  * deterministic arg-min/max, value-discovery pivot, exact fixed-point
  * embedding centroids, ordered sequence-pattern matching, a
  * late-data watermark-discard streaming exhibit, and XML parsing —
  * each with a DuckDB oracle.
  */
object Extras5 {

  /** win_session_native — the NATIVE batch `session_window` function
    * (Spark's dynamic-gap session operator, same machinery the
    * streaming B48 uses) beside C41's hand-rolled gaps-and-islands
    * twin: 30-minute-gap sessions per user in one group-by — no
    * window-function pass, no island arithmetic. The shuffle is keyed
    * (user, session) with session merging done by the aggregation
    * itself; at scale this is one exchange, same as any keyed agg.
    * Session end in Spark is last-event + gap; the oracle reproduces
    * both bounds from the islands formulation.
    */
  def winSessionNative(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").cast(TimestampNTZType).as("sess_start"),
        col("session_window.end").cast(TimestampNTZType).as("sess_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "sess_start")
  val winSessionNativeSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
       |  FROM events),
       |islands AS (
       |  SELECT user_id, ts, value,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, brk
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
       |  FROM marked)
       |SELECT user_id, min(ts) AS sess_start,
       |  max(ts) + INTERVAL 30 MINUTE AS sess_end,
       |  count(*) AS n_events, ${dsumSql("value")} AS sum_value
       |FROM islands GROUP BY user_id, sess
       |ORDER BY user_id, sess_start""".stripMargin

  /** agg_minby_maxby — deterministic arg-min/arg-max: which event
    * carries each type's smallest/largest value. Raw `min_by(id,
    * value)` is engine-defined under value ties (2-dp values over 10k+
    * rows collide), so the ordering key is made UNIQUE by construction:
    * cents·10⁹ + event_id — primary order by value, total order by id.
    * Exact integer arithmetic end-to-end; single partial-aggregable
    * pass (min_by/max_by state is one (key, value) pair).
    */
  def aggMinbyMaxby(s: SparkSession, d: String): DataFrame = {
    // value is an exact 2-dp double ≤ ~1000 → cents fit well under 2^17;
    // event_id < 10^9 in any testdata SF, so the composite never collides
    val vkey = (round(col("value") * 100).cast("long") * lit(1000000000L) +
      col("event_id")).as("vkey")
    events(s, d).select(col("event_type"), col("event_id"), col("value"), vkey)
      .groupBy("event_type")
      .agg(
        expr("min_by(event_id, vkey)").as("min_value_event"),
        expr("max_by(event_id, vkey)").as("max_value_event"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")
  }
  val aggMinbyMaxbySql: String =
    """WITH k AS (
      |  SELECT event_type, event_id, value,
      |    CAST(round(value * 100) AS BIGINT) * 1000000000 + event_id AS vkey
      |  FROM events)
      |SELECT event_type,
      |  arg_min(event_id, vkey) AS min_value_event,
      |  arg_max(event_id, vkey) AS max_value_event,
      |  min(value) AS min_value, max(value) AS max_value
      |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin

  /** pivot_dynamic — pivot WITHOUT an explicit value list: Spark runs a
    * distinct-discovery job on the pivot column first (capped by
    * `spark.sql.pivotMaxValues`), then plans the same static pivot —
    * the schema-on-read convenience form of C26. Discovered values are
    * sorted, so the column order is deterministic; null cells (type
    * absent in a month) are zero-filled to match the oracle's
    * count-semantics. At scale the discovery pass is one cheap
    * distinct on the 5-value column; the pivot itself stays a single
    * partial-aggregable shuffle on the month key.
    */
  def pivotDynamic(s: SparkSession, d: String): DataFrame = {
    val monthly = events(s, d)
      .select(date_trunc("month", col("ts")).as("month"), col("event_type"))
      .groupBy("month")
      .pivot("event_type") // no value list — discovery pass
      .agg(count(lit(1)))
    monthly.na.fill(0L, monthly.columns.filterNot(_ == "month"))
      .orderBy("month")
  }
  val pivotDynamicSql: String =
    """SELECT date_trunc('month', ts) AS month,
      |  CAST(count_if(event_type = 'click') AS BIGINT) AS click,
      |  CAST(count_if(event_type = 'error') AS BIGINT) AS error,
      |  CAST(count_if(event_type = 'purchase') AS BIGINT) AS purchase,
      |  CAST(count_if(event_type = 'signup') AS BIGINT) AS signup,
      |  CAST(count_if(event_type = 'view') AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY month""".stripMargin

  /** embed_centroid_exact — per-label centroids of the embedding's
    * leading 4 dimensions in EXACT fixed-point: each float is scaled to
    * an integer micro-unit (⌊x·10⁶ + 0.5⌋ — float→double is exact, one
    * identically-rounded multiply/floor per value), integer sums are
    * shuffle-order free, and the centroid is one final IEEE division.
    * This is the determinism-hardened form of the k-means/IVF training
    * step (C8's coarse quantizer): naive float averaging diverges
    * across partitionings, fixed-point never does. One explode +
    * partial-aggregable shuffle on (label, dim).
    */
  def embedCentroidExact(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), posexplode(slice(col("embedding"), 1, 4)))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        floor(col("col").cast("double") * 1000000d + 0.5d).as("fx"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        (sum(col("fx")).cast("double") / (lit(1000000d) * count(lit(1))))
          .as("centroid"))
      .orderBy("label", "dim")
  val embedCentroidExactSql: String =
    """WITH fx AS (
      |  SELECT label, dim,
      |    CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS fx
      |  FROM embeddings, (SELECT unnest(generate_series(1, 4)) AS dim))
      |SELECT CAST(label AS INT) AS label, CAST(dim AS BIGINT) AS dim,
      |  count(*) AS n,
      |  CAST(sum(fx) AS DOUBLE) / (1000000.0 * count(*)) AS centroid
      |FROM fx GROUP BY label, dim ORDER BY label, dim""".stripMargin

  /** win_pattern_match — ordered sequence-pattern detection (the
    * MATCH_RECOGNIZE shape): find runs of THREE CONSECUTIVE events
    * view→view→purchase inside each user's time-ordered stream, via a
    * lag-chain predicate — no self-joins, one window shuffle on
    * user_id, and the per-user census reuses the same partitioning
    * (zero extra exchanges). At 100 TB this is the canonical
    * clickstream-motif scan: state is two lagged rows per stream
    * position, never a materialized pattern automaton.
    */
  def winPatternMatch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("t1"),
        lag(col("event_type"), 2).over(w).as("t2"))
      .filter(col("event_type") === "purchase" &&
        col("t1") === "view" && col("t2") === "view")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_matches"), min(col("ts")).as("first_match_ts"))
      .orderBy("user_id")
  }
  val winPatternMatchSql: String =
    """WITH lagged AS (
      |  SELECT user_id, ts, event_type,
      |    lag(event_type, 1) OVER w AS t1,
      |    lag(event_type, 2) OVER w AS t2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
      |SELECT user_id, count(*) AS n_matches, min(ts) AS first_match_ts
      |FROM lagged
      |WHERE event_type = 'purchase' AND t1 = 'view' AND t2 = 'view'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** stream_late_drop — the watermark's DISCARD contract, exhibited
    * deterministically: the replay delivers all events from Jan 15 on
    * as batch 1, then the first half of the month as batch 2 — by then
    * the watermark (1 h behind batch 1's max) is far past every
    * "late" row, so the stateful daily aggregation drops batch 2
    * wholesale (windows already finalized / below watermark are never
    * reopened — the exactly-once append contract). Two far-future
    * sentinel batches then flush the tail windows. The oracle
    * aggregates ONLY the on-time half — equality proves the late rows
    * were discarded, not double-counted. At scale this is the
    * correctness half of watermarking: state eviction is what bounds
    * memory, and this pins what eviction does to stragglers.
    */
  def streamLateDrop(s: SparkSession, d: String): DataFrame = {
    val sch = Streaming.rawSchema(s, d)
    val maxNs = Streaming.maxTsNanos(s, d)
    val splitNs = java.time.LocalDate.of(2024, 1, 15)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000000L
    val dir = Scratch.once("stream_late_drop", d) {
      val out = Paths.get(Scratch.dir("graft_late_"))
      val raw = s.read.schema(sch).parquet(s"$d/events.parquet")
      val t0 = System.currentTimeMillis() - 120000
      var seq = 0
      def writeOne(df: DataFrame, name: String): Unit = {
        val tmp = Paths.get(Scratch.dir("graft_late_part_"))
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).filter(p => p.toString.endsWith(".parquet"))
          .findFirst().get()
        val dst = out.resolve(name)
        Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + seq * 1000)); seq += 1
      }
      val splitTs = lit(Streaming.ntzFromNanos(splitNs))
      writeOne(raw.filter(col("ts") >= splitTs), "ontime.parquet")
      // far-future sentinels flush the on-time tail windows (B46 note)
      // and pin the watermark far past every late row BEFORE it arrives
      Seq((-1L, maxNs + 2L * 86400 * 1000000000L),
          (-2L, maxNs + 3L * 86400 * 1000000000L)).zipWithIndex.foreach {
        case ((uid, ns), i) =>
          val row = org.apache.spark.sql.Row(
            -1000L - i, Streaming.ntzFromNanos(ns), uid, "sentinel", 0.0, "{}")
          writeOne(s.createDataFrame(java.util.List.of(row), sch), s"sentinel-$i.parquet")
      }
      writeOne(raw.filter(col("ts") < splitTs), "zz-late.parquet")
      out.toString
    }
    val agg = Streaming.eventStream(s, dir, sch, maxFilesPerTrigger = Some(1))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    Streaming.runToBatch(s, agg, "append")
      .filter(col("window.start") < timestamp_micros(lit(maxNs / 1000 + 86400L * 1000000)))
      .select(col("window.start").cast(TimestampNTZType).as("day_start"),
        col("n"), col("sum_value"))
      .orderBy("day_start")
  }
  val streamLateDropSql: String =
    s"""SELECT date_trunc('day', ts) AS day_start, count(*) AS n,
       |  ${dsumSql("value")} AS sum_value
       |FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
       |GROUP BY 1 ORDER BY day_start""".stripMargin

  /** xml_funcs — XML ingest via `from_xml`: documents are rendered as
    * XML (attribute + nested elements) deterministically from base
    * columns, then parsed back with an explicit schema — attribute
    * extraction (`_id`), nested element access, and numeric coercion.
    * The oracle reconstructs each parsed field from the same base
    * columns, so equality proves the build→parse round trip. Row-local
    * codegen'd work; the fourth semi-structured format beside
    * JSON/CSV/text.
    */
  def xmlFuncs(s: SparkSession, d: String): DataFrame = {
    val xml = concat(lit("<doc id=\""), col("doc_id").cast("string"),
      lit("\"><lang>"), col("lang"), lit("</lang><n>"),
      col("n_chars").cast("string"), lit("</n></doc>"))
    val sch = StructType(Seq(
      StructField("_id", LongType),
      StructField("lang", StringType),
      StructField("n", LongType)))
    documents(s, d)
      .select(col("doc_id"), from_xml(xml, sch).as("p"))
      .select(col("doc_id"), col("p._id").as("xml_id"),
        col("p.lang").as("xml_lang"), col("p.n").as("xml_n"))
      .orderBy("doc_id")
  }
  val xmlFuncsSql: String =
    """SELECT doc_id, doc_id AS xml_id, lang AS xml_lang, n_chars AS xml_n
      |FROM documents ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_session_native" -> (winSessionNative _),
    "agg_minby_maxby" -> (aggMinbyMaxby _),
    "pivot_dynamic" -> (pivotDynamic _),
    "embed_centroid_exact" -> (embedCentroidExact _),
    "win_pattern_match" -> (winPatternMatch _),
    "stream_late_drop" -> (streamLateDrop _),
    "xml_funcs" -> (xmlFuncs _),
  )

  val oracle: Map[String, String] = Map(
    "win_session_native" -> winSessionNativeSql,
    "agg_minby_maxby" -> aggMinbyMaxbySql,
    "pivot_dynamic" -> pivotDynamicSql,
    "embed_centroid_exact" -> embedCentroidExactSql,
    "win_pattern_match" -> winPatternMatchSql,
    "stream_late_drop" -> streamLateDropSql,
    "xml_funcs" -> xmlFuncsSql,
  )
}
