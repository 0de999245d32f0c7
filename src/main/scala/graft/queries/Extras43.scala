package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Forty-third wave: multi-sink stream fan-out, the JSON sink, L2
  * quality-flag decoding, JOIN USING, and inline struct explosion.
  */
object Extras43 {

  /** stream_fanout_multi_sink — ONE source, TWO independent streaming
    * queries (per-type counts and per-user sums) with separate
    * checkpoints: the topic-to-N-materialized-views fan-out every
    * event platform runs. Each query tracks its own offsets, so one
    * view's failure or lag never blocks the other — the isolation is
    * the point (a single query writing two sinks would couple their
    * progress). Both replay the same staged dir; the combined census
    * must agree with one batch pass over the source.
    */
  def streamFanoutMultiSink(s: SparkSession, d: String): DataFrame = {
    val sch = Streaming.rawSchema(s, d)
    val dir = Streaming.stageDir(s, d, copies = 1, sentinels = true)
    // r14: the two sinks run CONCURRENTLY (guide §2.6) — the truer
    // fan-out deployment shape, and the wall time of one chain, not two
    val Seq(byType, byUserBand) = Streaming.runToBatchAll(s, Seq(
      (Streaming.eventStream(s, dir, sch)
        .filter(col("user_id") >= 0)
        .withWatermark("ets", "1 hour")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n")), "complete"),
      (Streaming.eventStream(s, dir, sch)
        .filter(col("user_id") >= 0)
        .withWatermark("ets", "1 hour")
        .groupBy((col("user_id") % 10).as("user_band"))
        .agg(dsum(col("value")).as("sum_value")), "complete")))
    byType.agg(sum(col("n")).as("n_events"),
        count(lit(1)).cast("bigint").as("n_types"))
      .crossJoin(byUserBand.agg(
        dsumx(dec(col("sum_value"))).as("total_value"),
        count(lit(1)).cast("bigint").as("n_bands")))
  }
  val streamFanoutMultiSinkSql: String =
    s"""SELECT count(*) AS n_events,
       |  count(DISTINCT event_type) AS n_types,
       |  ${dsumSql("value")} AS total_value,
       |  count(DISTINCT user_id % 10) AS n_bands
       |FROM events""".stripMargin

  /** sink_json_roundtrip — the JSON-lines SINK: a frame writes as
    * newline-delimited JSON and reads back schema'd, surviving the
    * trip bit-for-bit for longs/strings (doubles ride as JSON numbers
    * — exact for these 2-decimal values). JSON-lines is splittable on
    * read (unlike C224's multiline form) — the interchange format that
    * stays parallel.
    */
  def sinkJsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_jsink_")
    orders(s, d).filter(col("o_orderkey") % 8 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").json(dir)
    s.read.schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .json(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderstatus")
  }
  val sinkJsonRoundtripSql: String =
    s"""SELECT o_orderstatus, count(*) AS n, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders WHERE o_orderkey % 8 = 0
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** ref_l2_flags_decode — the reference domain's L2 QUALITY FLAGS: an
    * ocean-color pixel carries a 32-bit mask (CLOUD, GLINT, LAND,
    * HIGH_SOLAR_ZENITH …) and every downstream product filters on bit
    * combinations. The mask derives from the event rule; decoding is
    * pure bit arithmetic (& and shifts — exact in every engine), and
    * the census counts pixels per decoded combination plus the
    * standard "good pixel" predicate (no cloud, no glint, no land).
    */
  def refL2FlagsDecode(s: SparkSession, d: String): DataFrame = {
    val flagged = events(s, d).select(col("event_id"),
      ((col("event_id") * 2654435761L) % 64).cast("bigint").as("l2_flags"))
    flagged.select(col("event_id"),
        (col("l2_flags").bitwiseAND(1) =!= 0).as("f_cloud"),
        (col("l2_flags").bitwiseAND(2) =!= 0).as("f_glint"),
        (col("l2_flags").bitwiseAND(4) =!= 0).as("f_land"),
        (col("l2_flags").bitwiseAND(7) === 0).as("good_pixel"))
      .groupBy("f_cloud", "f_glint", "f_land", "good_pixel")
      .agg(count(lit(1)).as("n_pixels"))
      .orderBy("f_cloud", "f_glint", "f_land")
  }
  val refL2FlagsDecodeSql: String =
    """WITH flagged AS (
      |  SELECT event_id, (event_id * 2654435761) % 64 AS l2_flags FROM events)
      |SELECT (l2_flags & 1) <> 0 AS f_cloud,
      |  (l2_flags & 2) <> 0 AS f_glint,
      |  (l2_flags & 4) <> 0 AS f_land,
      |  (l2_flags & 7) = 0 AS good_pixel,
      |  count(*) AS n_pixels
      |FROM flagged
      |GROUP BY 1, 2, 3, 4 ORDER BY f_cloud, f_glint, f_land""".stripMargin

  /** sql_join_using — JOIN … USING: the join key appears ONCE in the
    * output (coalesced across sides on outer joins — the subtle part:
    * with FULL USING, the key column is coalesce(left.k, right.k),
    * never null while either side matched). Proven on a FULL join of
    * two disjoint-ish order slices where both null sides occur.
    */
  def sqlJoinUsing(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_ju_orders")
    s.sql(
      """SELECT o_custkey, n_open, n_finished
        |FROM (
        |  SELECT o_custkey, count(*) AS n_open
        |  FROM g_ju_orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) a
        |FULL JOIN (
        |  SELECT o_custkey, count(*) AS n_finished
        |  FROM g_ju_orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) b
        |USING (o_custkey)
        |ORDER BY o_custkey""".stripMargin)
  }
  val sqlJoinUsingSql: String =
    """SELECT o_custkey, n_open, n_finished
      |FROM (
      |  SELECT o_custkey, count(*) AS n_open
      |  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) a
      |FULL JOIN (
      |  SELECT o_custkey, count(*) AS n_finished
      |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) b
      |USING (o_custkey)
      |ORDER BY o_custkey""".stripMargin

  /** explode_inline_structs — `inline()`: explodes an array of structs
    * into ROWS × COLUMNS in one step (explode would yield a struct
    * column still needing field extraction). Each order synthesizes a
    * small line-fee schedule (rule-derived structs); inline flattens
    * it to typed columns. The generator runs inside codegen like
    * explode (B37).
    */
  def explodeInlineStructs(s: SparkSession, d: String): DataFrame =
    orders(s, d).filter(col("o_orderkey") % 40 === 0)
      .select(col("o_orderkey"), expr(
        """inline(array(
          |  named_struct('fee_kind', 'base',
          |    'fee', CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 0.01 AS DECIMAL(18,4))),
          |  named_struct('fee_kind', 'rush',
          |    'fee', CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 0.02 AS DECIMAL(18,4))),
          |  named_struct('fee_kind', 'handling',
          |    'fee', CAST(2.50 AS DECIMAL(18,4)))))""".stripMargin))
      .select(col("o_orderkey"), col("fee_kind"), col("fee").cast("double").as("fee"))
      .orderBy("o_orderkey", "fee_kind")
  val explodeInlineStructsSql: String =
    """SELECT o_orderkey, fee_kind, fee FROM (
      |  SELECT o_orderkey, 'base' AS fee_kind,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 0.01 AS DOUBLE) AS fee
      |  FROM orders WHERE o_orderkey % 40 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'rush',
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 0.02 AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 40 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'handling', 2.50
      |  FROM orders WHERE o_orderkey % 40 = 0)
      |ORDER BY o_orderkey, fee_kind""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_fanout_multi_sink" -> (streamFanoutMultiSink _),
    "sink_json_roundtrip" -> (sinkJsonRoundtrip _),
    "ref_l2_flags_decode" -> (refL2FlagsDecode _),
    "sql_join_using" -> (sqlJoinUsing _),
    "explode_inline_structs" -> (explodeInlineStructs _))

  val oracle: Map[String, String] = Map(
    "stream_fanout_multi_sink" -> streamFanoutMultiSinkSql,
    "sink_json_roundtrip" -> sinkJsonRoundtripSql,
    "ref_l2_flags_decode" -> refL2FlagsDecodeSql,
    "sql_join_using" -> sqlJoinUsingSql,
    "explode_inline_structs" -> explodeInlineStructsSql)
}
