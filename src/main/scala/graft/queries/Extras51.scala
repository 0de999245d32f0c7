package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Fifty-first wave: name-filtered scans, the correlation matrix,
  * character n-grams, EXISTS as a column, and temporal coverage
  * reporting.
  */
object Extras51 {

  /** scan_path_glob_filter — `pathGlobFilter`: name-level file
    * selection inside a mixed directory (data lakes accumulate
    * _SUCCESS markers, manifests, sidecar files next to data) —
    * excluded files are dropped at LISTING, never opened (C235's
    * ignoreCorruptFiles is the content-level cousin that must still
    * open and fail). Staged: two parquet parts plus planted junk.
    */
  def scanPathGlobFilter(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_glob_")
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    base.filter(col("o_orderkey") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    base.filter(col("o_orderkey") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    val flat = Scratch.dir("graft_glob_flat_")
    Seq("a", "b").zipWithIndex.foreach { case (sub, i) =>
      val part = Files.list(Paths.get(dir, sub)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet")).head
      Files.copy(part, Paths.get(flat, s"part-$i.parquet"))
    }
    Files.write(Paths.get(flat, "_MANIFEST.json"), "{}".getBytes("UTF-8"))
    Files.write(Paths.get(flat, "notes.txt"), "sidecar".getBytes("UTF-8"))
    s.read.option("pathGlobFilter", "*.parquet").parquet(flat)
      .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("revenue"))
  }
  val scanPathGlobFilterSql: String =
    s"""SELECT count(*) AS n_rows, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders""".stripMargin

  /** stat_corr_matrix — the pairwise CORRELATION MATRIX over three
    * measures in ONE aggregation pass: every moment (Σx, Σx², Σxy for
    * all pairs) accumulates as exact decimals (C30's trick widened to
    * a matrix), each converts to double once, and the correlations
    * evaluate in a fixed IEEE sequence — bit-identical on any cluster
    * and in the oracle. One scan regardless of matrix size; the
    * round(,6) guards the last-ulp FMA divergence.
    */
  def statCorrMatrix(s: SparkSession, d: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    val z = dec(col("l_discount"))
    def corrOf(sx: String, sy: String, sxy: String, sxx: String, syy: String) =
      round(((col("n") * col(sxy) - col(sx) * col(sy)) /
        (sqrt(col("n") * col(sxx) - col(sx) * col(sx)) *
         sqrt(col("n") * col(syy) - col(sy) * col(sy)))), 6)
    lineitem(s, d)
      .agg(count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"), sum(x * x).cast("double").as("sxx"),
        sum(y).cast("double").as("sy"), sum(y * y).cast("double").as("syy"),
        sum(z).cast("double").as("sz"), sum(z * z).cast("double").as("szz"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * z).cast("double").as("sxz"),
        sum(y * z).cast("double").as("syz"))
      .select(col("n").cast("long").as("n"),
        corrOf("sx", "sy", "sxy", "sxx", "syy").as("corr_qty_price"),
        corrOf("sx", "sz", "sxz", "sxx", "szz").as("corr_qty_disc"),
        corrOf("sy", "sz", "syz", "syy", "szz").as("corr_price_disc"))
  }
  val statCorrMatrixSql: String = {
    def d2(e: String) = s"CAST(sum(CAST($e AS DECIMAL(14,2))) AS DOUBLE)"
    def dp(a: String, b: String) =
      s"CAST(sum(CAST($a AS DECIMAL(14,2)) * CAST($b AS DECIMAL(14,2))) AS DOUBLE)"
    def corrOf(sx: String, sy: String, sxy: String, sxx: String, syy: String) =
      s"""round((n * $sxy - $sx * $sy) /
         |    (sqrt(n * $sxx - $sx * $sx) * sqrt(n * $syy - $sy * $sy)), 6)""".stripMargin
    s"""WITH m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    ${d2("l_quantity")} AS sx, ${dp("l_quantity", "l_quantity")} AS sxx,
       |    ${d2("l_extendedprice")} AS sy, ${dp("l_extendedprice", "l_extendedprice")} AS syy,
       |    ${d2("l_discount")} AS sz, ${dp("l_discount", "l_discount")} AS szz,
       |    ${dp("l_quantity", "l_extendedprice")} AS sxy,
       |    ${dp("l_quantity", "l_discount")} AS sxz,
       |    ${dp("l_extendedprice", "l_discount")} AS syz
       |  FROM lineitem)
       |SELECT CAST(n AS BIGINT) AS n,
       |  ${corrOf("sx", "sy", "sxy", "sxx", "syy")} AS corr_qty_price,
       |  ${corrOf("sx", "sz", "sxz", "sxx", "szz")} AS corr_qty_disc,
       |  ${corrOf("sy", "sz", "syz", "syy", "szz")} AS corr_price_disc
       |FROM m""".stripMargin
  }

  /** text_char_ngrams — CHARACTER trigram profiles, the langid
    * feature (C4's heuristic consumes these): per language, the top-5
    * char 3-grams by frequency across the corpus — position-indexed
    * substring explosion (relational in both engines), counts exact,
    * rank tie-broken on the gram text.
    */
  def textCharNgrams(s: SparkSession, d: String): DataFrame = {
    val grams = documents(s, d)
      .select(col("lang"), col("text"),
        explode(expr(
          "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"))
          .as("gram"))
      .filter(length(col("gram")) === 3)
      .groupBy("lang", "gram").agg(count(lit(1)).as("n"))
    grams.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("n").desc, col("gram"))).cast("bigint"))
      .filter(col("rk") <= 5)
      .select("lang", "rk", "gram", "n")
      .orderBy("lang", "rk")
  }
  val textCharNgramsSql: String =
    """WITH g AS (
      |  SELECT lang, substr(text, gs, 3) AS gram FROM (
      |    SELECT lang, text,
      |      unnest(generate_series(1, greatest(strlen(text) - 2, 1))) AS gs
      |    FROM documents) q
      |  WHERE strlen(substr(text, gs, 3)) = 3),
      |c AS (SELECT lang, gram, count(*) AS n FROM g GROUP BY lang, gram),
      |r AS (
      |  SELECT lang, gram, n,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS BIGINT)
      |      AS rk
      |  FROM c)
      |SELECT lang, rk, gram, n FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  /** subquery_exists_column — EXISTS in the SELECT LIST: the existence
    * test as a boolean COLUMN rather than a filter (C189 filtered) —
    * planned as an existence join that must preserve EVERY outer row
    * with a flag, not drop the non-matching ones. The report shape
    * every "has the customer ever …" dashboard column uses.
    */
  def subqueryExistsColumn(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("g_exc2_customer")
    orders(s, d).createOrReplaceTempView("g_exc2_orders")
    s.sql(
      """SELECT c_mktsegment,
        |  count(*) AS n_customers,
        |  count(*) FILTER (WHERE has_urgent) AS n_with_urgent
        |FROM (
        |  SELECT c_custkey, c_mktsegment,
        |    EXISTS(SELECT 1 FROM g_exc2_orders o
        |           WHERE o.o_custkey = c.c_custkey
        |             AND o.o_orderpriority = '1-URGENT') AS has_urgent
        |  FROM g_exc2_customer c)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }
  val subqueryExistsColumnSql: String =
    """SELECT c_mktsegment,
      |  count(*) AS n_customers,
      |  count(*) FILTER (WHERE has_urgent) AS n_with_urgent
      |FROM (
      |  SELECT c_custkey, c_mktsegment,
      |    EXISTS(SELECT 1 FROM orders o
      |           WHERE o.o_custkey = c.c_custkey
      |             AND o.o_orderpriority = '1-URGENT') AS has_urgent
      |  FROM customer c)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** ref_time_coverage_report — the reference's DATA-AVAILABILITY
    * listing: per station, first/last observation, span days,
    * observation count and the number of coverage GAPS (> 2 days
    * between consecutive observations — the metric a matchup planner
    * reads before requesting a window). One lag window per station —
    * the per-dataset temporal summary every archive front page shows.
    */
  def refTimeCoverageReport(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d).filter(col("event_type") === "purchase")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .groupBy(col("user_id").as("station_id"))
      .agg(min(col("ts")).as("first_obs"), max(col("ts")).as("last_obs"),
        count(lit(1)).as("n_obs"),
        count(when(expr("unix_micros(CAST(ts AS TIMESTAMP))") -
          expr("unix_micros(CAST(prev_ts AS TIMESTAMP))") >
          2L * 86400 * 1000000, 1)).as("n_gaps_gt2d"))
      .orderBy("station_id")
  }
  val refTimeCoverageReportSql: String =
    """WITH p AS (
      |  SELECT user_id, ts, event_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id AS station_id, min(ts) AS first_obs, max(ts) AS last_obs,
      |  count(*) AS n_obs,
      |  count(*) FILTER (WHERE epoch(ts) - epoch(prev_ts) > 2 * 86400)
      |    AS n_gaps_gt2d
      |FROM p GROUP BY user_id ORDER BY station_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_path_glob_filter" -> (scanPathGlobFilter _),
    "stat_corr_matrix" -> (statCorrMatrix _),
    "text_char_ngrams" -> (textCharNgrams _),
    "subquery_exists_column" -> (subqueryExistsColumn _),
    "ref_time_coverage_report" -> (refTimeCoverageReport _))

  val oracle: Map[String, String] = Map(
    "scan_path_glob_filter" -> scanPathGlobFilterSql,
    "stat_corr_matrix" -> statCorrMatrixSql,
    "text_char_ngrams" -> textCharNgramsSql,
    "subquery_exists_column" -> subqueryExistsColumnSql,
    "ref_time_coverage_report" -> refTimeCoverageReportSql)
}
