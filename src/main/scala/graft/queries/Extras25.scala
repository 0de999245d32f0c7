package graft.queries

import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Twenty-fifth wave: the remaining SOURCE formats (binaryFile over
  * real media containers, the Spark-4 built-in XML reader, corrupt-
  * record JSON modes), an array-predicate HOF battery, and the TPC-H
  * Q4 EXISTS shape — each with a DuckDB oracle.
  */
object Extras25 {

  /** scan_binaryfile_media — the `binaryFile` data source over a
    * directory of REAL media files (every 10th document packed into a
    * genuine PNG or WAV by [[graft.sources.MediaCodec]], doc id in the
    * file name): reads (path, modificationTime, length, content), then
    * the typed decode stage parses each container. This is the ingest
    * shape for a media lake — at 100 TB the source lists millions of
    * objects and the decode runs where each file's bytes are read, one
    * narrow stage, features only past it. Fixture staging is bounded
    * (one file per sampled doc).
    */
  def scanBinaryfileMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.once("scan_binaryfile_media", d) {
      val out = Scratch.dir("graft_media_")
      // staged DISTRIBUTED: each task encodes and writes its own docs'
      // media files into the shared temp dir — the refZipExport
      // local-FS staging pattern, no driver collect
      documents(s, d).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
          it.foreach { case (id, payload) =>
            val (name, bytes) =
              if (id % 2 == 0) (f"media_$id%06d.png", graft.sources.MediaCodec.encodePng(payload))
              else (f"media_$id%06d.wav", graft.sources.MediaCodec.encodeWav(payload))
            Files.write(java.nio.file.Paths.get(out, name), bytes)
          }
        }
      out
    }
    s.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "media_(\\d+)\\.", 1).cast("long").as("doc_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, blob) =>
        graft.sources.MediaCodec.decode(id, blob)
      })
      .toDF()
      .orderBy("doc_id")
  }
  val scanBinaryfileMediaSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS kind,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_payload,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |    THEN 16 + octet_length(encode(text)) % 64 ELSE 0 END AS BIGINT) AS width,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |    THEN 16 + (octet_length(encode(text)) // 64) % 64 ELSE 0 END AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |    THEN 3 ELSE 1 + octet_length(encode(text)) % 2 END AS BIGINT) AS channels,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |    THEN 0 ELSE 8000 + octet_length(encode(text)) % 8000 END AS BIGINT) AS sample_rate,
      |  CAST(coalesce(list_aggregate(list_transform(generate_series(1, strlen(text)),
      |    p -> ascii(text[p])), 'sum'), 0) AS BIGINT) AS payload_sum
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin

  /** scan_xml_source — the Spark-4 BUILT-IN XML data source (the
    * spark-xml package folded into core): every 100th order serialized
    * under a `<order>` row tag, read back with an explicit schema (no
    * inference variance) and aggregated per status. Money travels as
    * text and is cast to the exact decimal image on read — the same
    * R2 discipline every other money path uses.
    */
  def scanXmlSource(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.once("scan_xml_source", d) {
      val out = Paths.get(Scratch.dir("graft_xml_"))
      val rows = orders(s, d).filter(col("o_orderkey") % 100 === 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .collect().sortBy(_.getLong(0))
      val sb = new StringBuilder
      sb ++= "<orders>\n"
      rows.foreach { r =>
        val price = String.format(Locale.ROOT, "%.2f", Double.box(r.getDouble(2)))
        sb ++= s"  <order><orderkey>${r.getLong(0)}</orderkey>" +
          s"<status>${r.getString(1)}</status>" +
          s"<totalprice>$price</totalprice></order>\n"
      }
      sb ++= "</orders>\n"
      Files.writeString(out.resolve("orders.xml"), sb.toString)
      out.toString
    }
    val sch = StructType(Seq(
      StructField("orderkey", LongType),
      StructField("status", StringType),
      StructField("totalprice", StringType)))
    s.read.format("xml").option("rowTag", "order").schema(sch)
      .load(s"$dir/orders.xml")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        sum(col("totalprice").cast(M)).cast("double").as("revenue"))
      .orderBy("status")
  }
  val scanXmlSourceSql: String =
    s"""SELECT o_orderstatus AS status, count(*) AS n,
       |  ${dsumSql("o_totalprice")} AS revenue
       |FROM orders WHERE o_orderkey % 100 = 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** scan_json_modes — corrupt-record handling on the JSON source:
    * a staged JSONL corpus where every 50th document's line is
    * truncated mid-object. PERMISSIVE mode lands bad lines in
    * `_corrupt_record` and nulls the data columns (the quarantine
    * column an ingest pipeline routes to a dead-letter sink);
    * DROPMALFORMED silently keeps only parseable rows. The graded row
    * carries both modes' censuses plus the good-row aggregate, so the
    * oracle proves neither mode dropped or duplicated a single good
    * record. At 100 TB malformed records are a statistical certainty —
    * the mode contract is the operator.
    */
  def scanJsonModes(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.once("scan_json_modes", d) {
      val out = Paths.get(Scratch.dir("graft_jsonm_"))
      val rows = documents(s, d).select("doc_id", "n_chars")
        .collect().sortBy(_.getLong(0))
      val sb = new StringBuilder
      rows.foreach { r =>
        val (id, nc) = (r.getLong(0), r.getLong(1))
        if (id % 50 == 0) sb ++= s"""{"doc_id": $id, "n_chars": \n"""
        else sb ++= s"""{"doc_id": $id, "n_chars": $nc}\n"""
      }
      Files.writeString(out.resolve("docs.jsonl"), sb.toString)
      out.toString
    }
    val sch = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    val permissive = s.read.schema(sch)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/docs.jsonl")
      // corrupt-record access requires a materialized referenceable
      // column set (Spark refuses filtering a lazily-parsed corrupt
      // column on the raw scan) — cache() is the documented contract
      .cache()
    val dropped = s.read
      .schema(StructType(sch.dropRight(1)))
      .option("mode", "DROPMALFORMED")
      .json(s"$dir/docs.jsonl")
    val g = permissive.agg(
      count(lit(1)).as("n_lines"),
      count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
      count(col("_corrupt_record")).as("n_corrupt"),
      sum(when(col("_corrupt_record").isNull, col("n_chars"))).as("sum_chars_good"))
    val dc = dropped.agg(count(lit(1)).as("n_dropmalformed"))
    val out = g.crossJoin(dc)
      .select(col("n_lines"), col("n_good"), col("n_corrupt"),
        col("n_dropmalformed"), col("sum_chars_good"))
    permissive.unpersist()
    out
  }
  val scanJsonModesSql: String =
    """SELECT count(*) AS n_lines,
      |  count(*) FILTER (WHERE doc_id % 50 <> 0) AS n_good,
      |  count(*) FILTER (WHERE doc_id % 50 = 0) AS n_corrupt,
      |  count(*) FILTER (WHERE doc_id % 50 <> 0) AS n_dropmalformed,
      |  CAST(sum(n_chars) FILTER (WHERE doc_id % 50 <> 0) AS BIGINT) AS sum_chars_good
      |FROM documents""".stripMargin

  /** hof_exists_forall — the array-PREDICATE higher-order functions
    * (C66 covered the fold): per order, the sorted quantity array is
    * probed with exists / forall / filter-count / element extrema —
    * all codegen'd row-local lambdas once the one groupBy builds the
    * array. The oracle mirrors each predicate with list_filter
    * lengths.
    */
  def hofExistsForall(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("qs"))
      .select(
        col("l_orderkey"),
        size(col("qs")).cast("long").as("n_items"),
        exists(col("qs"), q => q >= 45L).as("has_big"),
        forall(col("qs"), q => q > 2L).as("all_over_2"),
        size(filter(col("qs"), q => q > 25L)).cast("long").as("n_over_25"),
        array_max(col("qs")).as("max_q"),
        array_min(col("qs")).as("min_q"))
      .orderBy("l_orderkey")
  }
  val hofExistsForallSql: String =
    """SELECT l_orderkey,
      |  CAST(len(qs) AS BIGINT) AS n_items,
      |  len(list_filter(qs, q -> q >= 45)) > 0 AS has_big,
      |  len(list_filter(qs, q -> NOT q > 2)) = 0 AS all_over_2,
      |  CAST(len(list_filter(qs, q -> q > 25)) AS BIGINT) AS n_over_25,
      |  list_max(qs) AS max_q,
      |  list_min(qs) AS min_q
      |FROM (
      |  SELECT l_orderkey,
      |    list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
      |  FROM lineitem GROUP BY 1)
      |ORDER BY l_orderkey""".stripMargin

  /** analytics_q4_shape — the TPC-H Q4 plan shape: a correlated EXISTS
    * turned into a LEFT SEMI join by the optimizer, then a small
    * group-by on the outer. Discount stands in for the commit/receipt
    * predicate (this schema carries no commit dates); the EXISTS
    * decorrelation → semi-join → partial-agg pipeline is the graded
    * structure and is scale-free (the semi join shuffles on orderkey,
    * the aggregate is 5 groups).
    */
  def analyticsQ4Shape(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val l = lineitem(s, d)
    o.filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1996-01-01"))
      .join(l.filter(col("l_discount") > 0.05)
        .select(col("l_orderkey")), col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }
  val analyticsQ4ShapeSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_binaryfile_media" -> (scanBinaryfileMedia _),
    "scan_xml_source" -> (scanXmlSource _),
    "scan_json_modes" -> (scanJsonModes _),
    "hof_exists_forall" -> (hofExistsForall _),
    "analytics_q4_shape" -> (analyticsQ4Shape _))

  val oracle: Map[String, String] = Map(
    "scan_binaryfile_media" -> scanBinaryfileMediaSql,
    "scan_xml_source" -> scanXmlSourceSql,
    "scan_json_modes" -> scanJsonModesSql,
    "hof_exists_forall" -> hofExistsForallSql,
    "analytics_q4_shape" -> analyticsQ4ShapeSql)
}
