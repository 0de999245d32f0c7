package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import graft.Tables._

/** Thirty-seventh wave: full-outer stream-stream join, the approximate
  * top-k sketch, partition-value type inference, bag-semantics set
  * ops, and codec-roundtrip audio decimation.
  */
object Extras37 {

  /** stream_stream_full_outer — completing the stream-stream join
    * family (C22 inner, C126 left outer): FULL outer emits unmatched
    * rows from BOTH state stores as the watermark retires them —
    * purchases with no view in the preceding hour AND views that never
    * led to a purchase. State is bounded by the same two-sided time
    * condition; the only new semantics is double-sided eviction-emit.
    * Sentinels ride both sides to advance the watermark and are
    * filtered from whichever side survived the outer join.
    */
  def streamStreamFullOuter(s: SparkSession, d: String): DataFrame = {
    val sch = Streaming.rawSchema(s, d)
    val dir = Streaming.stageDir(s, d, copies = 1, sentinels = true)
    def side(tpe: String, prefix: String): DataFrame =
      s.readStream.schema(sch).parquet(dir)
        .withColumn("ets", col("ts").cast("timestamp"))
        .filter(col("event_type") === tpe || col("event_type") === "sentinel")
        .select(
          col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          col("ets").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("purchase", "p").join(
      side("view", "v"),
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"),
      "fullOuter")
    Streaming.runToBatch(s, joined, "append")
      .filter((col("p_user").isNull || col("p_user") >= 0) &&
        (col("v_user").isNull || col("v_user") >= 0))
      .select(col("p_id"), col("v_id"),
        coalesce(col("p_user"), col("v_user")).as("user_id"),
        col("p_ts").cast(TimestampNTZType).as("p_ts"),
        col("v_ts").cast(TimestampNTZType).as("v_ts"))
      .orderBy(col("p_id").asc_nulls_first, col("v_id").asc_nulls_first)
  }
  val streamStreamFullOuterSql: String =
    """SELECT p.event_id AS p_id, v.event_id AS v_id,
      |  coalesce(p.user_id, v.user_id) AS user_id, p.ts AS p_ts, v.ts AS v_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id
      | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
      |ORDER BY p_id ASC NULLS FIRST, v_id ASC NULLS FIRST""".stripMargin

  /** agg_approx_topk — the `approx_top_k` sketch (Spark 4): heavy
    * hitters in one pass with bounded memory, the streaming-friendly
    * sibling of an exact count-rank. At this cardinality (5 event
    * types ≪ the sketch's capacity) the estimate is provably exact, so
    * the row gets a REAL count oracle — the same
    * exact-at-fixture / approximate-at-scale contract as C131's
    * count-min sketch.
    */
  def aggApproxTopk(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(expr("approx_top_k(event_type, 3)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("event_type"), col("e.count").as("n"))
      .orderBy(desc("n"), col("event_type"))
  val aggApproxTopkSql: String =
    """SELECT event_type, count(*) AS n FROM events
      |GROUP BY event_type ORDER BY n DESC, event_type LIMIT 3""".stripMargin

  /** scan_partition_type_inference — hive-layout partition DISCOVERY
    * with value typing: the copy writes `o_year=1995/o_month=3/...`
    * directories and the reader infers INTEGER partition columns from
    * the path strings (`spark.sql.sources.partitionColumnTypeInference`,
    * on by default) — so partition predicates compare as numbers, not
    * strings ("o_year > 1995" would be lexicographic-wrong on
    * strings). Partition values never cost a file read; the pruned
    * census matches the base table's date arithmetic.
    */
  def scanPartitionTypeInference(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_ptype_")
    orders(s, d)
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("o_month", month(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year", "o_month").parquet(dir)
    s.read.parquet(dir)
      .filter(col("o_year") > 1996) // numeric comparison on the INFERRED int
      .groupBy(col("o_year").cast("bigint").as("o_year"),
        col("o_month").cast("bigint").as("o_month"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_year", "o_month")
  }
  val scanPartitionTypeInferenceSql: String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
       |  count(*) AS n, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders WHERE year(o_orderdate) > 1996
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** set_ops_all — BAG-semantics set operators (`intersectAll` /
    * `exceptAll`): unlike the distinct variants (B29/B30) these
    * preserve DUPLICATE MULTIPLICITY (min of the two counts for
    * intersect, truncated difference for except) — the SQL:2003
    * ALL forms, planned as aggregation on (row, side-count), not a
    * join. Fixture: per-priority status rows where multiplicities
    * genuinely differ between 'O' and 'F' orders.
    */
  def setOpsAll(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).filter(col("o_orderstatus") === "O")
      .select(col("o_orderpriority"), (col("o_orderkey") % 100).as("bucket"))
    val f = orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderpriority"), (col("o_orderkey") % 100).as("bucket"))
    val inter = o.intersectAll(f)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_intersect_all"))
    val exc = o.exceptAll(f)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_except_all"))
    inter.join(exc, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"),
        coalesce(col("n_except_all"), lit(0L)).as("n_except_all"))
      .orderBy("o_orderpriority")
  }
  val setOpsAllSql: String =
    """WITH o AS (SELECT o_orderpriority, o_orderkey % 100 AS bucket
      |           FROM orders WHERE o_orderstatus = 'O'),
      |f AS (SELECT o_orderpriority, o_orderkey % 100 AS bucket
      |      FROM orders WHERE o_orderstatus = 'F'),
      |i AS (SELECT o_orderpriority, count(*) AS n_intersect_all FROM (
      |        SELECT * FROM o INTERSECT ALL SELECT * FROM f) GROUP BY 1),
      |e AS (SELECT o_orderpriority, count(*) AS n_except_all FROM (
      |        SELECT * FROM o EXCEPT ALL SELECT * FROM f) GROUP BY 1)
      |SELECT coalesce(i.o_orderpriority, e.o_orderpriority) AS o_orderpriority,
      |  coalesce(n_intersect_all, 0) AS n_intersect_all,
      |  coalesce(n_except_all, 0) AS n_except_all
      |FROM i FULL JOIN e ON i.o_orderpriority = e.o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** multimodal_audio_downsample — a real DSP stage through the codec
    * BOTH directions: text packs into a genuine WAV container, the
    * data subchunk decodes back out, every 2nd 8-bit sample survives
    * (integer decimation — the resample step a training pipeline runs
    * before feature extraction), and the decimated stream re-encodes
    * into a fresh WAV whose parsed features prove the roundtrip
    * (half-length payload, exact byte checksum). The oracle re-derives
    * both from the odd-position characters of the measured-ASCII
    * text — byte semantics checked by an independent engine.
    */
  def multimodalAudioDownsample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val wav = graft.sources.MediaCodec.encodeWav(payload)
          val samples = graft.sources.MediaCodec.decodePayload(id, wav)
          val half = samples.indices.collect { case i if i % 2 == 0 => samples(i) }.toArray
          val re = graft.sources.MediaCodec.encodeWav(half)
          val feat = graft.sources.MediaCodec.decode(id, re)
          (id, feat.n_payload, feat.payload_sum)
        }
      }
      .toDF("doc_id", "n_samples", "sample_sum")
      .orderBy("doc_id")
  }
  val multimodalAudioDownsampleSql: String =
    """SELECT doc_id,
      |  CAST((strlen(text) + 1) // 2 AS BIGINT) AS n_samples,
      |  CAST(coalesce(list_aggregate(list_transform(
      |    generate_series(1, strlen(text), 2), p -> ascii(text[p])), 'sum'), 0)
      |    AS BIGINT) AS sample_sum
      |FROM documents ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_stream_full_outer" -> (streamStreamFullOuter _),
    "agg_approx_topk" -> (aggApproxTopk _),
    "scan_partition_type_inference" -> (scanPartitionTypeInference _),
    "set_ops_all" -> (setOpsAll _),
    "multimodal_audio_downsample" -> (multimodalAudioDownsample _))

  val oracle: Map[String, String] = Map(
    "stream_stream_full_outer" -> streamStreamFullOuterSql,
    "agg_approx_topk" -> aggApproxTopkSql,
    "scan_partition_type_inference" -> scanPartitionTypeInferenceSql,
    "set_ops_all" -> setOpsAllSql,
    "multimodal_audio_downsample" -> multimodalAudioDownsampleSql)
}
