package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Forty-ninth wave: built-in PII masking, scalar bit arithmetic,
  * shard integrity manifests, multi-resolution time rollups, and the
  * quoted-CSV roundtrip.
  */
object Extras49 {

  /** str_mask_pii — the built-in `mask()` function (Spark 3.4):
    * structure-preserving PII masking (upper→X, lower→x, digit→n,
    * punctuation kept) — the display-safe form that keeps format
    * validators working, complementing C40's regex redaction (which
    * REMOVES the match entirely). Custom replacement chars exercise
    * the full signature; the oracle rebuilds the mask from three
    * character-class replacements.
    */
  def strMaskPii(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(col("c_custkey"),
        expr("mask(c_name)").as("masked_default"),
        expr("mask(c_name, '#', '*', '0')").as("masked_custom"))
      .orderBy("c_custkey")
  val strMaskPiiSql: String =
    """SELECT c_custkey,
      |  regexp_replace(regexp_replace(regexp_replace(c_name,
      |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
      |    AS masked_default,
      |  regexp_replace(regexp_replace(regexp_replace(c_name,
      |    '[A-Z]', '#', 'g'), '[a-z]', '*', 'g'), '[0-9]', '0', 'g')
      |    AS masked_custom
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** bit_scalar_funcs — scalar BIT arithmetic (shifts, and/or/xor,
    * bit_count, getbit): the row-local toolkit behind flag packing
    * (C246 decoded with it), bitmap indices and hash mixing — exact
    * integer ops in every engine, fully codegen'd.
    */
  def bitScalarFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d).filter(col("o_orderkey") % 16 === 0)
      .select(col("o_orderkey"),
        expr("shiftleft(o_orderkey, 3)").as("shl3"),
        expr("shiftright(o_orderkey, 2)").as("shr2"),
        expr("o_orderkey & 255").as("low_byte"),
        expr("o_orderkey | 1").as("set_lsb"),
        expr("o_orderkey ^ (o_orderkey >> 1)").as("gray_code"),
        expr("bit_count(o_orderkey)").cast("bigint").as("popcount"),
        expr("CAST(getbit(o_orderkey, 4) AS BIGINT)").as("bit4"))
      .orderBy("o_orderkey")
  val bitScalarFuncsSql: String =
    """SELECT o_orderkey,
      |  o_orderkey << 3 AS shl3,
      |  o_orderkey >> 2 AS shr2,
      |  o_orderkey & 255 AS low_byte,
      |  o_orderkey | 1 AS set_lsb,
      |  xor(o_orderkey, o_orderkey >> 1) AS gray_code,
      |  CAST(bit_count(o_orderkey) AS BIGINT) AS popcount,
      |  CAST((o_orderkey >> 4) & 1 AS BIGINT) AS bit4
      |FROM orders WHERE o_orderkey % 16 = 0 ORDER BY o_orderkey""".stripMargin

  /** pipeline_shard_manifest — the INTEGRITY MANIFEST a dataset
    * release ships beside its shards: documents hash-assign to 8
    * shards (C129's budget shards are the size-driven sibling), and
    * each shard row carries doc count, byte total and a
    * CONTENT CHECKSUM — sha256 over the shard's doc hashes
    * concatenated in deterministic doc_id order — so a consumer can
    * verify any shard independently after transfer. One shuffle
    * (by shard), checksums via ordered string aggregation.
    */
  def pipelineShardManifest(s: SparkSession, d: String): DataFrame = {
    val sharded = documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        (expr("ascii(substr(md5(CAST(doc_id AS STRING)), 1, 1))") % 8).as("shard"),
        md5(col("text").cast("binary")).as("doc_hash"))
    sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        sha2(concat_ws(",",
          array_sort(collect_list(concat_ws(":",
            col("doc_id").cast("string"), col("doc_hash"))))), 256)
          .as("shard_checksum"))
      .orderBy("shard")
  }
  val pipelineShardManifestSql: String =
    """WITH sharded AS (
      |  SELECT doc_id, n_chars,
      |    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 8 AS shard,
      |    md5(text) AS doc_hash
      |  FROM documents)
      |SELECT shard, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
      |  sha256(string_agg(CAST(doc_id AS VARCHAR) || ':' || doc_hash, ','
      |    ORDER BY CAST(doc_id AS VARCHAR) || ':' || doc_hash))
      |    AS shard_checksum
      |FROM sharded GROUP BY shard ORDER BY shard""".stripMargin

  /** time_rollup_multires — MULTI-RESOLUTION time rollup: day and
    * (day, hour) aggregates in ONE grouping-sets pass over time
    * dimensions derived from a single timestamp — the telemetry
    * pyramid C256 built in streaming, here as the batch backfill
    * (one scan feeds every resolution; separate queries would scan
    * per level). grouping() disambiguates the day-total rows from
    * hour rows.
    */
  def timeRollupMultires(s: SparkSession, d: String): DataFrame = {
    events(s, d).createOrReplaceTempView("g_tr_events")
    s.sql(
      """SELECT date_trunc('DAY', ts) AS day_start,
        |  CAST(hour(ts) AS BIGINT) AS hr,
        |  CAST(grouping(hour(ts)) AS INT) AS is_day_total,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
        |FROM g_tr_events
        |GROUP BY GROUPING SETS ((date_trunc('DAY', ts)),
        |                        (date_trunc('DAY', ts), hour(ts)))
        |ORDER BY day_start, is_day_total, hr""".stripMargin)
  }
  val timeRollupMultiresSql: String =
    s"""SELECT date_trunc('day', ts) AS day_start,
       |  CAST(hour(ts) AS BIGINT) AS hr,
       |  CAST(CASE WHEN hour(ts) IS NULL THEN 1 ELSE 0 END AS INT)
       |    AS is_day_total,
       |  count(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events
       |GROUP BY GROUPING SETS ((date_trunc('day', ts)),
       |                        (date_trunc('day', ts), hour(ts)))
       |ORDER BY day_start, is_day_total, hr""".stripMargin

  /** sink_csv_quoted_roundtrip — the NASTY CSV roundtrip: synthesized
    * fields embed the delimiter, double quotes and literal newlines;
    * the writer must quote/escape them (RFC 4180) and the reader
    * (multiLine on, since records span physical lines) must
    * reassemble the exact strings. C22's quoted-read proved parsing
    * someone else's quoting; this proves the engine's OWN writer and
    * reader agree — the roundtrip every export/import pair depends
    * on.
    */
  def sinkCsvQuotedRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_csvq_")
    val nasty = orders(s, d).filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"),
        concat(lit("v,\""), col("o_orderstatus"), lit("\"\nline2-"),
          col("o_orderpriority")).as("nasty"))
    nasty.write.mode("overwrite").option("header", "true").csv(dir)
    val back = s.read.option("header", "true").option("multiLine", "true")
      .schema("o_orderkey BIGINT, nasty STRING").csv(dir)
    back.agg(count(lit(1)).as("n_rows"),
      sum(length(col("nasty"))).cast("bigint").as("total_chars"),
      count(when(col("nasty").contains("\n") &&
        col("nasty").contains("\"") && col("nasty").contains(","), 1))
        .as("n_fully_nasty"))
  }
  val sinkCsvQuotedRoundtripSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(strlen('v,"' || o_orderstatus || '"' || chr(10) || 'line2-'
      |    || o_orderpriority)) AS BIGINT) AS total_chars,
      |  count(*) AS n_fully_nasty
      |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "str_mask_pii" -> (strMaskPii _),
    "bit_scalar_funcs" -> (bitScalarFuncs _),
    "pipeline_shard_manifest" -> (pipelineShardManifest _),
    "time_rollup_multires" -> (timeRollupMultires _),
    "sink_csv_quoted_roundtrip" -> (sinkCsvQuotedRoundtrip _))

  val oracle: Map[String, String] = Map(
    "str_mask_pii" -> strMaskPiiSql,
    "bit_scalar_funcs" -> bitScalarFuncsSql,
    "pipeline_shard_manifest" -> pipelineShardManifestSql,
    "time_rollup_multires" -> timeRollupMultiresSql,
    "sink_csv_quoted_roundtrip" -> sinkCsvQuotedRoundtripSql)
}
