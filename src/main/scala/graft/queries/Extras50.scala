package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Fiftieth wave: epoch shuffling, LATERAL VIEW, the SeaBASS
  * write-back roundtrip, indexed HOF lambdas, and the string-keyed
  * native ASOF join.
  */
object Extras50 {

  /** pipeline_epoch_shuffle — PER-EPOCH deterministic reshuffle: each
    * training epoch orders the corpus by md5(seed‖doc_id) with the
    * epoch number as seed — different permutation every epoch, every
    * permutation a pure function of (epoch, data), replayable on any
    * cluster and resumable mid-epoch (C212's interleave is the
    * mixing-by-source sibling; this is the within-mix shuffle). Two
    * epochs' leading schedules side by side prove the permutations
    * differ while covering the same corpus.
    */
  def pipelineEpochShuffle(s: SparkSession, d: String): DataFrame = {
    def epoch(n: Int): DataFrame =
      documents(s, d).select(lit(n.toLong).as("epoch"), col("doc_id"),
          md5(concat(lit(s"epoch$n:"), col("doc_id").cast("string")).cast("binary"))
            .as("h"))
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("epoch").orderBy(col("h"), col("doc_id"))).cast("bigint"))
        .filter(col("pos") <= 10)
        .select("epoch", "pos", "doc_id")
    epoch(1).unionByName(epoch(2)).orderBy("epoch", "pos")
  }
  val pipelineEpochShuffleSql: String =
    """WITH e AS (
      |  SELECT 1 AS epoch, doc_id,
      |    md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS h FROM documents
      |  UNION ALL
      |  SELECT 2, doc_id, md5('epoch2:' || CAST(doc_id AS VARCHAR)) FROM documents),
      |r AS (
      |  SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
      |    CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS BIGINT)
      |      AS pos
      |  FROM e)
      |SELECT epoch, pos, doc_id FROM r WHERE pos <= 10
      |ORDER BY epoch, pos""".stripMargin

  /** sql_lateral_view — HiveQL `LATERAL VIEW explode` (+ OUTER): the
    * SQL-text generator syntax a warehouse migration brings along
    * (B37 proved the DataFrame generators; this is the dialect
    * surface). OUTER keeps rows whose array is empty — planted: every
    * 7th order contributes no fee rows but must survive with NULL.
    */
  def sqlLateralView(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_lv_orders")
    s.sql(
      """SELECT o_orderkey, fee_code
        |FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN array()
        |         ELSE array(concat('F', o_orderstatus), 'STD') END AS fees
        |  FROM g_lv_orders WHERE o_orderkey % 50 = 0)
        |LATERAL VIEW OUTER explode(fees) t AS fee_code
        |ORDER BY o_orderkey, fee_code""".stripMargin)
  }
  val sqlLateralViewSql: String =
    """WITH base AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN []
      |         ELSE ['F' || o_orderstatus, 'STD'] END AS fees
      |  FROM orders WHERE o_orderkey % 50 = 0)
      |SELECT o_orderkey,
      |  CASE WHEN len(fees) = 0 THEN NULL ELSE unnested.f END AS fee_code
      |FROM base LEFT JOIN LATERAL (SELECT unnest(fees) AS f) unnested ON true
      |ORDER BY o_orderkey, fee_code NULLS FIRST""".stripMargin

  /** ref_seabass_roundtrip — the EXPORT bookend of the A1 ingest
    * surface: rule-derived measurements format into genuine SeaBASS
    * text (header block with /fields=/units=/end_header + whitespace
    * data lines), [[graft.sources.SbReader]] ingests the written
    * files, and the census must equal the rule — proving writer and
    * parser agree on the format the reference serves. Two stations,
    * heterogeneous row counts.
    */
  def refSeabassRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir("graft_sbrt_")
    // staged DISTRIBUTED: station membership is a KEY rule ((key div
    // 500) % 2 — keys here are the multiples of 500, so both parities
    // occur), each task assembles and writes the stations that hashed
    // to it — the stageSbDir executor-write pattern, no driver collect
    orders(s, d).filter(col("o_orderkey") % 500 === 0)
      .select(
        when((col("o_orderkey") / 500) % 2 === 0, "station_a")
          .otherwise("station_b").as("station"),
        col("o_orderkey"), col("o_totalprice"))
      .as[(String, Long, Double)]
      .repartition(col("station"))
      .mapPartitions { it =>
        val byStation = it.toArray.groupBy(_._1)
        byStation.foreach { case (station, rs) =>
          val header = Seq(
            "/begin_header",
            s"/cruise=$station",
            "/fields=key,price_depth",
            "/units=none,m",
            "/delimiter=space",
            "/end_header")
          val body = (header ++ rs.sortBy(_._2).map { case (_, k, p) => s"$k $p" })
            .mkString("\n")
          Files.write(Paths.get(dir, s"$station.sb"), body.getBytes("UTF-8"))
        }
        Iterator(byStation.size)
      }.collect() // sink commit: stations-per-task counts, not data
    graft.sources.SbReader.readLong(s, s"$dir/*.sb")
      .filter(col("field") === "price_depth")
      .agg(count(lit(1)).as("n_values"),
        dsum(col("value_num")).as("sum_depth"),
        countDistinct(col("path")).cast("bigint").as("n_stations"))
  }
  val refSeabassRoundtripSql: String =
    s"""SELECT count(*) AS n_values, ${dsumSql("o_totalprice")} AS sum_depth,
       |  CAST(2 AS BIGINT) AS n_stations
       |FROM orders WHERE o_orderkey % 500 = 0""".stripMargin

  /** hof_filter_index — two-argument HOF lambdas with the ELEMENT
    * INDEX: filter keeps even positions (stride sampling inside a
    * row), transform tags each element with its position — the
    * index-aware forms behind windowed token ops. NB the index BASE
    * differs across engines (Spark 0-based, DuckDB 1-based) — the
    * oracle shifts accordingly, which is itself the porting lesson.
    */
  def hofFilterIndex(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"),
        concat_ws(" ", expr("filter(tok, (x, i) -> i % 3 = 0)")).as("every_third"),
        concat_ws(",", expr("slice(transform(tok, (x, i) -> concat(CAST(i AS STRING), '=', x)), 1, 5)"))
          .as("indexed_head"))
      .orderBy("doc_id")
  val hofFilterIndexSql: String =
    """SELECT doc_id,
      |  array_to_string(list_filter(string_split(text, ' '),
      |    (x, i) -> (i - 1) % 3 = 0), ' ') AS every_third,
      |  array_to_string(list_transform(string_split(text, ' '),
      |    (x, i) -> CAST(i - 1 AS VARCHAR) || '=' || x)[1:5], ',') AS indexed_head
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin

  /** join_asof_native_strkey — the native ASOF operator keyed by a
    * STRING: exercises the non-primitive match-key path (the r3 audit
    * found string keys aliased the sort iterator's reused buffer —
    * fixed by copying via the bound key expression; the regression
    * spec forces a spill, this row keeps the path in the graded
    * surface). Semantics identical to C44 with the user key mapped
    * into a string cohort.
    */
  def joinAsofNativeStrkey(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("cohort",
      concat(lit("u"), lpad((col("user_id") % 10).cast("string"), 2, "0")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("cohort"), col("ts").as("pts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("cohort").as("v_cohort"),
        col("ts").as("vts"))
    graft.plans.AsofJoin.df(p, v,
      p("cohort"), v("v_cohort"), p("pts"), v("vts"), v("vid"))
      .select(col("pid"), col("cohort"), col("pts"),
        col("vid").as("asof_view_id"))
      .orderBy("pid")
  }
  val joinAsofNativeStrkeySql: String =
    """SELECT pid, cohort, pts, asof_view_id FROM (
      |  SELECT p.event_id AS pid,
      |    'u' || lpad(CAST(p.user_id % 10 AS VARCHAR), 2, '0') AS cohort,
      |    p.ts AS pts, v.event_id AS asof_view_id,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |    ON p.user_id % 10 = v.user_id % 10 AND v.ts <= p.ts) t
      |WHERE rn = 1 ORDER BY pid""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_epoch_shuffle" -> (pipelineEpochShuffle _),
    "sql_lateral_view" -> (sqlLateralView _),
    "ref_seabass_roundtrip" -> (refSeabassRoundtrip _),
    "hof_filter_index" -> (hofFilterIndex _),
    "join_asof_native_strkey" -> (joinAsofNativeStrkey _))

  val oracle: Map[String, String] = Map(
    "pipeline_epoch_shuffle" -> pipelineEpochShuffleSql,
    "sql_lateral_view" -> sqlLateralViewSql,
    "ref_seabass_roundtrip" -> refSeabassRoundtripSql,
    "hof_filter_index" -> hofFilterIndexSql,
    "join_asof_native_strkey" -> joinAsofNativeStrkeySql)
}
