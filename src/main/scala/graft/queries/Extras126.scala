package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.functions.FloatVecDot.dot

/** Wave 26 (C509–C513): effect sizes, kNN-graph hub auditing,
  * multi-character CSV delimiters, the Pettitt changepoint test, and
  * lead-time percentile profiles.
  */
object Extras126 {

  /** C509 stat_cohens_d — standardized effect size (Cohen's d with the
    * pooled SD, plus the small-sample Hedges' g correction) between
    * click and purchase values: where C*_welch reports a t statistic,
    * d reports HOW BIG the difference is in SD units — the number a
    * power analysis consumes. Means and the pooled variance are one
    * IEEE formula over exact cent sums (n·SS − S² in DECIMAL(38,0));
    * g = d·(1 − 3/(4N−9)).
    */
  def statCohensD(s: SparkSession, d: String): DataFrame = {
    val g = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("c")).cast("decimal(38,0)").as("s1"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).cast("decimal(38,0)").as("s2"))
    val a = g.filter(col("event_type") === "click")
      .select(col("n").as("n1"), col("s1").as("a1"), col("s2").as("a2"))
    val b = g.filter(col("event_type") === "purchase")
      .select(col("n").as("n2"), col("s1").as("b1"), col("s2").as("b2"))
    a.crossJoin(broadcast(b))
      .selectExpr("n1", "n2",
        """round((CAST(a1 AS DOUBLE) / n1 - CAST(b1 AS DOUBLE) / n2) / 100
          |  / sqrt(((CAST(n1 * a2 - a1 * a1 AS DOUBLE) / n1)
          |          + (CAST(n2 * b2 - b1 * b1 AS DOUBLE) / n2))
          |         / (n1 + n2 - 2)) * 100, 6) AS cohens_d""".stripMargin)
      .selectExpr("n1", "n2", "cohens_d",
        "round(cohens_d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9)), 6) AS hedges_g")
  }
  val statCohensDSql: String =
    """WITH g AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS DECIMAL(38,0)) AS s1,
      |    CAST(sum(CAST(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)
      |      AS DECIMAL(38,0)) * CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS DECIMAL(38,0)) AS s2
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY event_type),
      |ab AS (
      |  SELECT
      |    (SELECT n FROM g WHERE event_type = 'click') AS n1,
      |    (SELECT s1 FROM g WHERE event_type = 'click') AS a1,
      |    (SELECT s2 FROM g WHERE event_type = 'click') AS a2,
      |    (SELECT n FROM g WHERE event_type = 'purchase') AS n2,
      |    (SELECT s1 FROM g WHERE event_type = 'purchase') AS b1,
      |    (SELECT s2 FROM g WHERE event_type = 'purchase') AS b2),
      |dd AS (
      |  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |    round((CAST(a1 AS DOUBLE) / n1 - CAST(b1 AS DOUBLE) / n2) / 100
      |      / sqrt(((CAST(n1 * a2 - a1 * a1 AS DOUBLE) / n1)
      |              + (CAST(n2 * b2 - b1 * b1 AS DOUBLE) / n2))
      |             / (n1 + n2 - 2)) * 100, 6) AS cohens_d
      |  FROM ab)
      |SELECT n1, n2, cohens_d,
      |  round(cohens_d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9)), 6) AS hedges_g
      |FROM dd""".stripMargin

  /** C510 embed_knn_graph_degree — hub audit of the k-NN graph (the
    * structure every graph-based ANN index navigates): build the
    * exact k=5 neighbor graph over the FIXED 500-vector probe sample,
    * then report the IN-degree histogram — a heavy hub (one vector in
    * everyone's top-5) predicts degraded ANN recall. Ranks order on
    * (sim DESC, id) over bit-exact `FloatVecDot` sims; the self-join
    * is the whitelisted bounded-probe shape.
    */
  def embedKnnGraphDegree(s: SparkSession, d: String): DataFrame = {
    val sample = embeddings(s, d).filter(col("vec_id") < 500)
    val a = sample.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = sample.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val edges = a.join(b, col("va") =!= col("vb"))
      .withColumn("sim", dot("ea", "eb"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("va").orderBy(col("sim").desc, col("vb"))))
      .filter(col("rn") <= 5)
    edges.groupBy("vb").agg(count(lit(1)).as("indeg"))
      .groupBy("indeg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("indeg")
  }
  val embedKnnGraphDegreeSql: String =
    """WITH sample AS (SELECT * FROM embeddings WHERE vec_id < 500),
      |pairs AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |    list_reduce(list_transform(generate_series(1, 64),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS sim
      |  FROM sample a JOIN sample b ON a.vec_id <> b.vec_id),
      |edges AS (
      |  SELECT va, vb,
      |    row_number() OVER (PARTITION BY va ORDER BY sim DESC, vb) AS rn
      |  FROM pairs),
      |indeg AS (
      |  SELECT vb, count(*) AS indeg FROM edges WHERE rn <= 5 GROUP BY vb)
      |SELECT indeg, count(*) AS n_nodes
      |FROM indeg GROUP BY indeg ORDER BY indeg""".stripMargin

  /** C511 scan_csv_multichar_delim — multi-character CSV delimiters
    * ("||", the de-facto pipe-pipe convention of mainframe exports):
    * Spark's CSV reader accepts a multi-char `sep` since 3.0; the
    * stage writes the file with embedded single pipes INSIDE values to
    * prove the reader doesn't split on them. Oracle reads the
    * equivalent rows relationally from the source table.
    */
  def scanCsvMulticharDelim(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.once("scan_csv_multichar_delim", d) {
      val out = Scratch.dir("graft_mcsv_")
      val rows = documents(s, d).filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"), substring(col("text"), 1, 10).as("frag"))
        .collect().sortBy(_.getLong(0))
      val sb = new StringBuilder
      sb ++= "doc_id||lang||frag\n"
      rows.foreach { r =>
        // single pipes inside the value must NOT split
        sb ++= s"${r.getLong(0)}||${r.getString(1)}|x||${r.getString(2)}\n"
      }
      Files.writeString(Paths.get(out, "multi.csv"), sb.toString)
      out
    }
    s.read
      .option("header", "true")
      .option("sep", "||")
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("frag", StringType))))
      .csv(s"$dir/multi.csv")
      .orderBy("doc_id")
  }
  val scanCsvMulticharDelimSql: String =
    """SELECT doc_id, lang || '|x' AS lang, substr(text, 1, 10) AS frag
      |FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin

  /** C512 stat_pettitt_changepoint — the nonparametric (rank-based)
    * changepoint test, pairing with C485's parametric mean-shift
    * search: K = max_t |U_t| with U_t = 2·Σ_{i≤t}R_i − t·(n+1), using
    * integer 2R midranks (2·rank_min + cnt − 1) so every U_t is an
    * EXACT BIGINT — the argmax needs no float compare at all; the
    * approximate p-value 2·exp(−6K²/(n³+n²)) is one IEEE expression.
    * Everything runs over the O(days) daily aggregate.
    */
  def statPettittChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    val wv = Window.orderBy("c")
    val wd = Window.orderBy("day")
    daily
      .withColumn("rmin", rank().over(wv))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("c")))
      .withColumn("r2", (lit(2) * col("rmin") + col("cnt") - 1).cast("long"))
      .withColumn("t", row_number().over(wd).cast("long"))
      .withColumn("s2", sum(col("r2")).over(
        wd.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("u", col("s2") - col("t") * (col("n") + 1))
      .filter(col("t") < col("n"))
      .withColumn("rn", row_number().over(
        Window.orderBy(abs(col("u")).desc, col("day"))))
      .filter(col("rn") === 1)
      .selectExpr("day AS split_day", "CAST(abs(u) AS BIGINT) AS k_stat", "n",
        """round(2.0 * exp(-6.0 * CAST(abs(u) AS DOUBLE) * abs(u)
          |  / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)), 9)
          |  AS p_approx""".stripMargin)
      .selectExpr("split_day", "k_stat", "n", "p_approx",
        "p_approx < 0.05 AS reject_no_change")
  }
  val statPettittChangepointSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |rk AS (
      |  SELECT day, c,
      |    rank() OVER (ORDER BY c) AS rmin,
      |    count(*) OVER (PARTITION BY c) AS cnt
      |  FROM daily),
      |st AS (
      |  SELECT day,
      |    CAST(2 * rmin + cnt - 1 AS BIGINT) AS r2,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |    CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM rk),
      |u AS (
      |  SELECT day, t, n,
      |    CAST(sum(r2) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      - t * (n + 1) AS u
      |  FROM st),
      |mx AS (
      |  SELECT day, u, n,
      |    row_number() OVER (ORDER BY abs(u) DESC, day) AS rn
      |  FROM u WHERE t < n)
      |SELECT day AS split_day, CAST(abs(u) AS BIGINT) AS k_stat, n,
      |  round(2.0 * exp(-6.0 * CAST(abs(u) AS DOUBLE) * abs(u)
      |    / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)), 9) AS p_approx,
      |  round(2.0 * exp(-6.0 * CAST(abs(u) AS DOUBLE) * abs(u)
      |    / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)), 9) < 0.05
      |    AS reject_no_change
      |FROM mx WHERE rn = 1""".stripMargin

  /** C513 analytics_lead_time_distribution — order-to-ship lead time
    * percentiles per order priority (the fulfillment SLA panel):
    * exact datediff days, percentile_disc-style selection by EXACT
    * rank position (value at ceil(p·n) of the (lt, key)-ordered
    * partition — no interpolating float quantile, no engine quantile
    * dialect), via conditional max over the ranked frame. The rank
    * window and the rollup share the priority partitioning.
    */
  def analyticsLeadTimeDistribution(s: SparkSession, d: String): DataFrame = {
    val lt = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("lt"),
        (col("l_orderkey") * 100 + col("l_linenumber")).as("key"))
    val wp = Window.partitionBy("priority").orderBy("lt", "key")
    lt
      .withColumn("rk", row_number().over(wp).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("priority")))
      .groupBy("priority")
      .agg(
        max(col("n")).as("n"),
        min(col("lt")).as("min_days"),
        max(when(col("rk") === expr("CAST(ceil(n * 0.25) AS BIGINT)"), col("lt")))
          .as("p25_days"),
        max(when(col("rk") === expr("CAST(ceil(n * 0.50) AS BIGINT)"), col("lt")))
          .as("p50_days"),
        max(when(col("rk") === expr("CAST(ceil(n * 0.75) AS BIGINT)"), col("lt")))
          .as("p75_days"),
        max(when(col("rk") === expr("CAST(ceil(n * 0.95) AS BIGINT)"), col("lt")))
          .as("p95_days"),
        max(col("lt")).as("max_days"))
      .orderBy("priority")
  }
  val analyticsLeadTimeDistributionSql: String =
    """WITH lt AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lt,
      |    l_orderkey * 100 + l_linenumber AS key
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |rk AS (
      |  SELECT priority, lt,
      |    CAST(row_number() OVER (PARTITION BY priority ORDER BY lt, key)
      |      AS BIGINT) AS rk,
      |    count(*) OVER (PARTITION BY priority) AS n
      |  FROM lt)
      |SELECT priority, CAST(max(n) AS BIGINT) AS n,
      |  min(lt) AS min_days,
      |  max(CASE WHEN rk = CAST(ceil(n * 0.25) AS BIGINT) THEN lt END) AS p25_days,
      |  max(CASE WHEN rk = CAST(ceil(n * 0.50) AS BIGINT) THEN lt END) AS p50_days,
      |  max(CASE WHEN rk = CAST(ceil(n * 0.75) AS BIGINT) THEN lt END) AS p75_days,
      |  max(CASE WHEN rk = CAST(ceil(n * 0.95) AS BIGINT) THEN lt END) AS p95_days,
      |  max(lt) AS max_days
      |FROM rk GROUP BY priority ORDER BY priority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_cohens_d" -> (statCohensD _),
    "embed_knn_graph_degree" -> (embedKnnGraphDegree _),
    "scan_csv_multichar_delim" -> (scanCsvMulticharDelim _),
    "stat_pettitt_changepoint" -> (statPettittChangepoint _),
    "analytics_lead_time_distribution" -> (analyticsLeadTimeDistribution _),
  )

  val oracle: Map[String, String] = Map(
    "stat_cohens_d" -> statCohensDSql,
    "embed_knn_graph_degree" -> embedKnnGraphDegreeSql,
    "scan_csv_multichar_delim" -> scanCsvMulticharDelimSql,
    "stat_pettitt_changepoint" -> statPettittChangepointSql,
    "analytics_lead_time_distribution" -> analyticsLeadTimeDistributionSql,
  )
}
