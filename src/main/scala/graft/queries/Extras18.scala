package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables._

/** Eighteenth wave of coverage operators: the exactly-once parquet
  * file sink, OHLC bar aggregation, and nested-array higher-order
  * functions — each with a DuckDB oracle.
  */
object Extras18 {

  /** stream_sink_parquet — the PRODUCTION streaming sink (every other
    * streaming exhibit uses the memory sink for harness reasons): a
    * stateless filtered projection streams into a parquet FILE sink,
    * whose `_spark_metadata` transaction log is what makes the sink
    * exactly-once — a batch reader of the directory sees only files
    * recorded by committed batches, never partial task output. The
    * graded result re-reads the sink and aggregates; the oracle runs
    * the same filter+aggregate on the source, so equality proves the
    * sink dropped nothing and duplicated nothing.
    */
  def streamSinkParquet(s: SparkSession, d: String): DataFrame = {
    val out = Scratch.once("stream_sink_parquet", d) {
      val sch = Streaming.rawSchema(s, d)
      val dir = Streaming.stageDir(s, d, copies = 1, sentinels = false)
      val outDir = Scratch.dir("graft_fsink_")
      val w = Streaming.eventStream(s, dir, sch)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .trigger(Trigger.AvailableNow())
      Streaming.runToEnd(s, w)
      outDir
    }
    s.read.parquet(out)
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_distinct"),
        dsum(col("value")).as("sum_value"))
  }
  val streamSinkParquetSql: String =
    s"""SELECT count(*) AS n, count(DISTINCT event_id) AS n_distinct,
       |  ${dsumSql("value")} AS sum_value
       |FROM events WHERE event_type = 'purchase'""".stripMargin

  /** agg_ohlc_bars — OHLC candlesticks (the time-series rollup): per
    * hour, the opening/highest/lowest/closing purchase value. Open and
    * close are arg-min/arg-max over a UNIQUE composite time key
    * (µs-since-epoch-start scaled + event id — same-instant ties break
    * on the total order, so the bars are engine- and shuffle-order
    * independent), high/low/count ride the same single
    * partial-aggregable pass. The key offset keeps the composite
    * inside int64 — documented, not accidental.
    */
  def aggOhlcBars(s: SparkSession, d: String): DataFrame = {
    // (µs since 2024-01-01) ≤ ~2.6e12 for this corpus; ×10⁶ + id < 2⁶³
    val tkey = (expr(
      "unix_micros(cast(ts AS TIMESTAMP)) - unix_micros(TIMESTAMP '2024-01-01 00:00:00')")
      * 1000000L + col("event_id")).as("tkey")
    events(s, d).filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("hour"), col("value"),
        col("event_id"), tkey)
      .groupBy("hour")
      .agg(
        expr("min_by(value, tkey)").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        expr("max_by(value, tkey)").as("close"),
        count(lit(1)).as("n_trades"))
      .orderBy("hour")
  }
  val aggOhlcBarsSql: String =
    """WITH p AS (
      |  SELECT date_trunc('hour', ts) AS hour, value,
      |    (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) * 1000000
      |      + event_id AS tkey
      |  FROM events WHERE event_type = 'purchase')
      |SELECT hour, arg_min(value, tkey) AS open, max(value) AS high,
      |  min(value) AS low, arg_max(value, tkey) AS close,
      |  count(*) AS n_trades
      |FROM p GROUP BY hour ORDER BY hour""".stripMargin

  /** hof_nested_arrays — nested-array higher-order battery: per doc,
    * a list of 3-token windows built by `transform` over generated
    * offsets (an array OF arrays), collapsed with `flatten`, plus
    * `array_repeat` of the head token — the nested-collection shapes
    * (lists of lists) that schema-free pipelines hit constantly, all
    * codegen'd row-local lambdas. The oracle mirrors each nested
    * operation with DuckDB's list primitives.
    */
  def hofNestedArrays(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        expr("cast(size(flatten(transform(sequence(1, 3), i -> slice(toks, i, 3)))) as bigint)")
          .as("n_flat"),
        expr("concat_ws('|', array_repeat(element_at(toks, 1), 3))").as("head_x3"))
      .orderBy("doc_id")
  val hofNestedArraysSql: String =
    """SELECT doc_id,
      |  CAST(len(flatten(list_transform(generate_series(1, 3),
      |    i -> string_split(text, ' ')[i:i+2]))) AS BIGINT) AS n_flat,
      |  array_to_string(list_transform(generate_series(1, 3),
      |    i -> string_split(text, ' ')[1]), '|') AS head_x3
      |FROM documents ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_sink_parquet" -> (streamSinkParquet _),
    "agg_ohlc_bars" -> (aggOhlcBars _),
    "hof_nested_arrays" -> (hofNestedArrays _),
  )

  val oracle: Map[String, String] = Map(
    "stream_sink_parquet" -> streamSinkParquetSql,
    "agg_ohlc_bars" -> aggOhlcBarsSql,
    "hof_nested_arrays" -> hofNestedArraysSql,
  )
}
