package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import graft.Tables._

/** Thirteenth wave of coverage operators: outer stream-stream joins,
  * typed joinWith, RAG-style document chunking, token-budget sharding,
  * and the SQL null-semantics battery — each with a DuckDB oracle.
  */
object Extras13 {

  /** stream_stream_left_outer — watermarked LEFT OUTER stream-stream
    * join (C22's outer sibling): purchases with no view in the prior
    * hour must still emit — but only once the watermark proves no
    * match can ever arrive, so the null-padded rows flush on watermark
    * passage, not at end-of-batch. Both sides carry watermarks and the
    * join condition carries the time bound (bounded state); the
    * replay's far-future sentinels ride INSIDE each side's stream (the
    * type filter keeps them) purely to advance the watermark past all
    * real data so every unmatched purchase flushes deterministically.
    */
  def streamStreamLeftOuter(s: SparkSession, d: String): DataFrame = {
    val sch = Streaming.rawSchema(s, d)
    val dir = Streaming.stageDir(s, d, copies = 1, sentinels = true)
    def side(tpe: String, prefix: String): DataFrame =
      s.readStream.schema(sch).parquet(dir)
        .withColumn("ets", col("ts").cast("timestamp"))
        // sentinels survive the filter so the watermark passes all data
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
      "leftOuter")
    Streaming.runToBatch(s, joined, "append")
      .filter(col("p_user") >= 0) // drop the sentinel left rows
      .select(col("p_id"), col("v_id"), col("p_user"),
        col("p_ts").cast(TimestampNTZType).as("p_ts"),
        col("v_ts").cast(TimestampNTZType).as("v_ts"))
      .orderBy("p_id", "v_id")
  }
  val streamStreamLeftOuterSql: String =
    """SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id AS p_user,
      |  p.ts AS p_ts, v.ts AS v_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id
      | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
      |ORDER BY p_id, v_id""".stripMargin

  /** typed_joinWith — `Dataset.joinWith`: the typed join that yields
    * PAIRS of whole objects instead of a flattened row — downstream
    * code keeps both sides' types intact (no column-name collisions,
    * no lossy projection). Physically it is the same broadcast hash
    * join as the untyped form — the tuple wrapping is a struct
    * projection, not a different algorithm. Flattened here for the
    * comparator; the oracle is the plain join.
    */
  def typedJoinWith(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .as[(Long, Long, Double)]
    val c = customer(s, d)
      .select(col("c_custkey"), col("c_name"))
      .as[(Long, String)]
    o.joinWith(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(col("_1.o_orderkey").as("o_orderkey"), col("_2.c_name").as("c_name"),
        col("_1.o_totalprice").as("o_totalprice"))
      .orderBy("o_orderkey")
  }
  val typedJoinWithSql: String =
    """SELECT o_orderkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** text_chunk_overlap — overlapping token-window chunking (the
    * RAG/pretraining chunker): 50-token chunks on a 40-token stride
    * (10-token overlap), chunk starts generated per document with
    * `sequence` and exploded — pure row-local array work riding the
    * scan, the shape that chunks a 100 TB corpus in one pass with no
    * shuffle. Chunk identity, boundaries and the exact overlap are all
    * pinned by the oracle's list-slicing mirror.
    */
  def textChunkOverlap(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1, greatest(size(toks), 1), 40)")).as("start"))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        expr("size(slice(toks, start, 50))").cast("long").as("n_tokens"),
        expr("concat_ws(' ', slice(toks, start, 50))").as("chunk_text"))
      .orderBy("doc_id", "start")
  val textChunkOverlapSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |st AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(1, greatest(len(toks), 1), 40)) AS start
      |  FROM t)
      |SELECT doc_id, CAST(start AS BIGINT) AS start,
      |  CAST(len(toks[start:least(start + 49, len(toks))]) AS BIGINT) AS n_tokens,
      |  array_to_string(toks[start:least(start + 49, len(toks))], ' ') AS chunk_text
      |FROM st ORDER BY doc_id, start""".stripMargin

  /** pipeline_token_shards — token-budget sharding (sequence-packing's
    * scalable contiguous form): documents in deterministic doc_id
    * order are assigned to shards by ⌊running-token-count / 4096⌋ —
    * integer arithmetic, and every engine/worker agrees on the layout.
    * (True no-straddle greedy packing is a running reset — inherently
    * sequential; the contiguous form is what distributed writers
    * actually use, with the straddle handled by the consumer.) The
    * running count is [[graft.plans.GlobalRank.withExclusivePrefixSum]]
    * — a two-pass range-partitioned prefix-scan, NOT a global
    * `Window.orderBy` (which would funnel the whole corpus through one
    * task); bit-identical on the long token counts. Output is the
    * per-shard manifest.
    */
  def pipelineTokenShards(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    graft.plans.GlobalRank
      .withExclusivePrefixSum(base, "cum_before", col("n_tok"), Seq(col("doc_id").asc))
      .select(col("doc_id"), col("n_tok"),
        (col("cum_before") / 4096).cast("long").as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("shard")
  }
  val pipelineTokenShardsSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tok,
      |    COALESCE(sum(n_tok) OVER (ORDER BY doc_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      CAST(0 AS BIGINT)) AS cum_before
      |  FROM t)
      |SELECT CAST(cum_before // 4096 AS BIGINT) AS shard,
      |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY 1 ORDER BY shard""".stripMargin

  /** agg_null_semantics — the SQL null-contract battery over a
    * deterministically sparsified column: count(*) vs count(col),
    * null-skipping sum/min/max (and sum's all-null → NULL, never 0),
    * explicit null census. These contracts are what every engine must
    * agree on before any aggregate result is comparable at all — and
    * the exact-decimal sum keeps the values bit-stable too.
    */
  def aggNullSemantics(s: SparkSession, d: String): DataFrame = {
    val v = when(col("event_id") % 4 =!= 0, col("value"))
    events(s, d)
      .select(col("event_type"), v.as("v"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("v")).as("n_nonnull"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        dsum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .orderBy("event_type")
  }
  val aggNullSemanticsSql: String =
    """WITH t AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 4 <> 0 THEN value END AS v
      |  FROM events)
      |SELECT event_type, count(*) AS n_rows, count(v) AS n_nonnull,
      |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  CAST(sum(CAST(v AS DECIMAL(14,2))) AS DOUBLE) AS sum_v,
      |  min(v) AS min_v, max(v) AS max_v
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_stream_left_outer" -> (streamStreamLeftOuter _),
    "typed_joinwith" -> (typedJoinWith _),
    "text_chunk_overlap" -> (textChunkOverlap _),
    "pipeline_token_shards" -> (pipelineTokenShards _),
    "agg_null_semantics" -> (aggNullSemantics _),
  )

  val oracle: Map[String, String] = Map(
    "stream_stream_left_outer" -> streamStreamLeftOuterSql,
    "typed_joinwith" -> typedJoinWithSql,
    "text_chunk_overlap" -> textChunkOverlapSql,
    "pipeline_token_shards" -> pipelineTokenShardsSql,
    "agg_null_semantics" -> aggNullSemanticsSql,
  )
}
