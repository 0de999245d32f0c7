package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 46 (C588–C591): Burrows' Delta stylometry, the sign test,
  * nested-struct filter pushdown, interrupted time series.
  */
object Extras146 {

  /** C588 text_burrows_delta — stylometric distance between sources
    * (Burrows' Delta, the authorship-attribution staple): top-10
    * function words by corpus count, per-source relative frequencies
    * as EXACT ppm integers, per-word z-scores in the closed form
    * (f·k−Σf)/√(kΣf²−(Σf)²) QUANTIZED to micro fixed point (sums of
    * |z₁−z₂| are then exact longs over the bounded 20×10 grid), and
    * Δ = mean abs z-difference per source pair. Reports the 10 most
    * similar pairs. Everything beyond the one token-count pass runs on
    * bounded frames.
    */
  def textBurrowsDelta(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(10).select("tok")
    val srcTot = toks.groupBy("source").agg(count(lit(1)).cast("long").as("tot"))
    val grid = toks.join(broadcast(top), "tok")
      .groupBy("source", "tok").agg(count(lit(1)).cast("long").as("c"))
      .join(srcTot, "source")
      .selectExpr("source", "tok", "(c * 1000000) div tot AS f")
    val stats = grid.groupBy("tok").agg(
      count(lit(1)).cast("long").as("k"),
      sum(expr("CAST(f AS DECIMAL(38,0))")).as("sf"),
      sum(expr("CAST(f AS DECIMAL(38,0)) * f")).as("sff"))
    val z = grid.join(stats, "tok")
      // a word with identical ppm across all sources has zero variance:
      // drop it (z undefined) — same guard in the oracle
      .filter(expr("CAST(k AS DECIMAL(38,0)) * sff - sf * sf > 0"))
      .selectExpr("source", "tok",
        """CAST(floor(CAST(CAST(f AS DECIMAL(38,0)) * k - sf AS DOUBLE)
          |  / sqrt(CAST(CAST(k AS DECIMAL(38,0)) * sff - sf * sf AS DOUBLE))
          |  * 1e6 + 0.5) AS BIGINT) AS zfx""".stripMargin)
    z.selectExpr("source AS s1", "tok", "zfx AS z1")
      .join(z.selectExpr("source AS s2", "tok", "zfx AS z2"), "tok")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2")
      .agg(sum(expr("abs(z1 - z2)")).cast("long").as("dfx"),
        count(lit(1)).cast("long").as("nw"))
      .selectExpr("s1", "s2", "round(CAST(dfx AS DOUBLE) / nw / 1e6, 6) AS delta")
      .orderBy(col("delta"), col("s1"), col("s2"))
      .limit(10)
  }
  val textBurrowsDeltaSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |top AS (
      |  SELECT tok FROM (
      |    SELECT tok, count(*) AS n FROM toks GROUP BY tok
      |    ORDER BY n DESC, tok LIMIT 10)),
      |srct AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS tot FROM toks GROUP BY source),
      |grid AS (
      |  SELECT g.source, g.tok, (g.c * 1000000) // srct.tot AS f
      |  FROM (
      |    SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      |    FROM toks WHERE tok IN (SELECT tok FROM top)
      |    GROUP BY source, tok) g
      |  JOIN srct ON g.source = srct.source),
      |stats AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS k,
      |    sum(CAST(f AS DECIMAL(38,0))) AS sf,
      |    sum(CAST(f AS DECIMAL(38,0)) * f) AS sff
      |  FROM grid GROUP BY tok),
      |z AS (
      |  SELECT source, grid.tok AS tok,
      |    CAST(floor(CAST(CAST(f AS DECIMAL(38,0)) * k - sf AS DOUBLE)
      |      / sqrt(CAST(CAST(k AS DECIMAL(38,0)) * sff - sf * sf AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) AS zfx
      |  FROM grid JOIN stats ON grid.tok = stats.tok
      |  WHERE CAST(k AS DECIMAL(38,0)) * sff - sf * sf > 0)
      |SELECT a.source AS s1, b.source AS s2,
      |  round(CAST(CAST(sum(abs(a.zfx - b.zfx)) AS BIGINT) AS DOUBLE)
      |    / count(*) / 1e6, 6) AS delta
      |FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY delta, s1, s2 LIMIT 10""".stripMargin

  /** C589 stat_sign_test — the sign test for drift in daily revenue:
    * up-days vs down-days (ties drop), continuity-corrected
    * z = (|n_up − n/2| − 0.5)/√(n/4) from exact integer counts in one
    * chain. The assumption-free companion to C552's parametric DF.
    */
  def statSignTest(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    daily
      .withColumn("p", lag(col("c"), 1).over(Window.orderBy("day")))
      .filter(col("p").isNotNull && col("c") =!= col("p"))
      .agg(
        sum(when(col("c") > col("p"), 1L).otherwise(0L)).cast("long").as("n_up"),
        sum(when(col("c") < col("p"), 1L).otherwise(0L)).cast("long").as("n_down"))
      .selectExpr("n_up", "n_down",
        """round((abs(CAST(n_up AS DOUBLE) - (n_up + n_down) / 2.0) - 0.5)
          |  / sqrt((n_up + n_down) / 4.0), 6) AS z_stat""".stripMargin,
        """CASE WHEN (abs(CAST(n_up AS DOUBLE) - (n_up + n_down) / 2.0) - 0.5)
          |  / sqrt((n_up + n_down) / 4.0) > 1.96
          |  THEN 'drift_5pct' ELSE 'no_drift' END AS verdict""".stripMargin)
  }
  val statSignTestSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |pairs AS (
      |  SELECT c, lag(c, 1) OVER (ORDER BY day) AS p FROM daily),
      |cnts AS (
      |  SELECT
      |    CAST(sum(CASE WHEN c > p THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
      |    CAST(sum(CASE WHEN c < p THEN 1 ELSE 0 END) AS BIGINT) AS n_down
      |  FROM pairs WHERE p IS NOT NULL AND c <> p)
      |SELECT n_up, n_down,
      |  round((abs(CAST(n_up AS DOUBLE) - (n_up + n_down) / 2.0) - 0.5)
      |    / sqrt((n_up + n_down) / 4.0), 6) AS z_stat,
      |  CASE WHEN (abs(CAST(n_up AS DOUBLE) - (n_up + n_down) / 2.0) - 0.5)
      |    / sqrt((n_up + n_down) / 4.0) > 1.96
      |    THEN 'drift_5pct' ELSE 'no_drift' END AS verdict
      |FROM cnts""".stripMargin

  /** C590 scan_nested_filter_pushdown — predicate pushdown INTO a
    * nested struct: orders staged as parquet with a
    * meta(priority, status) struct column, read back and filtered on
    * `meta.priority` — the filter must reach the parquet scan as a
    * nested-field PushedFilter (plan-asserted in the spec; the
    * read-everything-then-filter shape is what this row exists to
    * rule out). Aggregate proves the filtered content.
    */
  def scanNestedFilterPushdown(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.once("scan_nested_filter_pushdown", d) {
      val out = Scratch.dir("graft_nestpq_")
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          struct(col("o_orderpriority").as("priority"),
            col("o_orderstatus").as("status")).as("meta"))
        .write.mode("overwrite").parquet(s"$out/nested.parquet")
      out
    }
    s.read.parquet(s"$dir/nested.parquet")
      .filter(col("meta.priority") === "1-URGENT")
      .groupBy(col("meta.status").as("status"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
          .cast("long").as("cents"))
      .selectExpr("status", "n",
        "round(CAST(cents AS DOUBLE) / 100, 6) AS revenue")
      .orderBy("status")
  }
  val scanNestedFilterPushdownSql: String =
    """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS DOUBLE) / 100, 6) AS revenue
      |FROM orders WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY status""".stripMargin

  /** C591 analytics_interrupted_ts — interrupted-time-series readout
    * at the sample midpoint: pre/post trend fits from the SAME
    * one-pass conditional sums as C566's Chow test, but reporting the
    * EFFECTS — pre/post slope (cents/day), the slope change, and the
    * level change at the break (both segments evaluated at the first
    * post-break day, cleared-denominator rationals → one IEEE chain
    * each). The causal-inference sibling of diff-in-diff for a single
    * series.
    */
  def analyticsInterruptedTs(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
      .withColumn("t", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("seg", expr("CASE WHEN t <= n div 2 THEN 0 ELSE 1 END"))
    def sums(tag: String, cond: String) = Seq(
      s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS n$tag",
      s"sum(CASE WHEN $cond THEN CAST(t AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS st$tag",
      s"sum(CASE WHEN $cond THEN CAST(c AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sc$tag",
      s"sum(CASE WHEN $cond THEN CAST(t AS DECIMAL(38,0)) * t ELSE CAST(0 AS DECIMAL(38,0)) END) AS stt$tag",
      s"sum(CASE WHEN $cond THEN CAST(t AS DECIMAL(38,0)) * c ELSE CAST(0 AS DECIMAL(38,0)) END) AS stc$tag")
    val allSums = sums("a", "seg = 0") ++ sums("b", "seg = 1") :+
      "CAST(max(n) AS BIGINT) AS nn"
    // slope = (nΣtc − ΣtΣc)/(nΣtt − (Σt)²); fitted value at t0 =
    // (Σc·D + num·(n·t0 − Σt)) / (n·D) — all cleared, one division
    def slope(tag: String) =
      s"""CAST(n$tag * stc$tag - st$tag * sc$tag AS DOUBLE)
         |  / CAST(n$tag * stt$tag - st$tag * st$tag AS DOUBLE)""".stripMargin
    def fitAt(tag: String, t0: String) =
      s"""(CAST(sc$tag AS DOUBLE)
         |  + (CAST(n$tag * stc$tag - st$tag * sc$tag AS DOUBLE)
         |     / CAST(n$tag * stt$tag - st$tag * st$tag AS DOUBLE))
         |    * (CAST($t0 AS DOUBLE) * CAST(n$tag AS DOUBLE)
         |       - CAST(st$tag AS DOUBLE)))
         |  / CAST(n$tag AS DOUBLE)""".stripMargin
    val brk = "CAST(nn div 2 + 1 AS DOUBLE)"
    daily.agg(expr(allSums.head), allSums.tail.map(expr): _*)
      .selectExpr("CAST(nn AS BIGINT) AS n_days",
        "CAST(nn div 2 + 1 AS BIGINT) AS break_t",
        s"round((${slope("a")}) / 100, 6) AS pre_slope",
        s"round((${slope("b")}) / 100, 6) AS post_slope",
        s"round(((${slope("b")}) - (${slope("a")})) / 100, 6) AS slope_change",
        s"""round(((${fitAt("b", brk)}) - (${fitAt("a", brk)})) / 100, 6)
           |  AS level_change_at_break""".stripMargin)
  }
  val analyticsInterruptedTsSql: String = {
    def sums(tag: String, cond: String) = Seq(
      s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS n$tag",
      s"sum(CASE WHEN $cond THEN CAST(t AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS st$tag",
      s"sum(CASE WHEN $cond THEN CAST(c AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sc$tag",
      s"sum(CASE WHEN $cond THEN CAST(t AS DECIMAL(38,0)) * t ELSE CAST(0 AS DECIMAL(38,0)) END) AS stt$tag",
      s"sum(CASE WHEN $cond THEN CAST(t AS DECIMAL(38,0)) * c ELSE CAST(0 AS DECIMAL(38,0)) END) AS stc$tag")
    val allSums = (sums("a", "seg = 0") ++ sums("b", "seg = 1") :+
      "CAST(max(nn) AS BIGINT) AS nn").mkString(",\n      |    ")
    def slope(tag: String) =
      s"""CAST(n$tag * stc$tag - st$tag * sc$tag AS DOUBLE)
         |    / CAST(n$tag * stt$tag - st$tag * st$tag AS DOUBLE)""".stripMargin
    def fitAt(tag: String, t0: String) =
      s"""(CAST(sc$tag AS DOUBLE)
         |    + (CAST(n$tag * stc$tag - st$tag * sc$tag AS DOUBLE)
         |       / CAST(n$tag * stt$tag - st$tag * st$tag AS DOUBLE))
         |      * (CAST($t0 AS DOUBLE) * CAST(n$tag AS DOUBLE)
         |         - CAST(st$tag AS DOUBLE)))
         |    / CAST(n$tag AS DOUBLE)""".stripMargin
    val brk = "CAST(nn // 2 + 1 AS DOUBLE)"
    s"""WITH daily AS (
       |  SELECT date_trunc('day', l_shipdate) AS day,
       |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS c
       |  FROM lineitem GROUP BY 1),
       |idx AS (
       |  SELECT c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
       |    CAST(count(*) OVER () AS BIGINT) AS nn
       |  FROM daily),
       |seg AS (
       |  SELECT t, c, nn, CASE WHEN t <= nn // 2 THEN 0 ELSE 1 END AS seg
       |  FROM idx),
       |sums AS (
       |  SELECT $allSums
       |  FROM seg)
       |SELECT CAST(nn AS BIGINT) AS n_days,
       |  CAST(nn // 2 + 1 AS BIGINT) AS break_t,
       |  round((${slope("a")}) / 100, 6) AS pre_slope,
       |  round((${slope("b")}) / 100, 6) AS post_slope,
       |  round(((${slope("b")}) - (${slope("a")})) / 100, 6) AS slope_change,
       |  round(((${fitAt("b", brk)}) - (${fitAt("a", brk)})) / 100, 6)
       |    AS level_change_at_break
       |FROM sums""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_burrows_delta" -> (textBurrowsDelta _),
    "stat_sign_test" -> (statSignTest _),
    "scan_nested_filter_pushdown" -> (scanNestedFilterPushdown _),
    "analytics_interrupted_ts" -> (analyticsInterruptedTs _),
  )

  val oracle: Map[String, String] = Map(
    "text_burrows_delta" -> textBurrowsDeltaSql,
    "stat_sign_test" -> statSignTestSql,
    "scan_nested_filter_pushdown" -> scanNestedFilterPushdownSql,
    "analytics_interrupted_ts" -> analyticsInterruptedTsSql,
  )
}
