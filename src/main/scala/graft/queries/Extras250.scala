package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 150 (C1012–C1019): the technical-analysis quartet (MACD,
  * Keltner channels, CCI, Chaikin money flow), elementary price-index
  * theory (Carli/Dutot/Jevons/harmonic/CSWD), the retail GMROI
  * battery, corpus chrF for text pairs, and a probe-panel RBF-kernel
  * MMD over the embedding corpus.
  *
  * Shared discipline: the EMA/Wilder recursions (MACD, Keltner) carry
  * their state on the 1e-3-cent integer grid between steps — driver
  * walk on the calendar-bounded monthly frame, recursive-CTE oracle
  * (the C968/C978 machinery); crossover/channel/±100 decisions are
  * EXACT integer comparisons (3000·c vs emaq ± 6·atrq, 40·|20tp−S20|
  * vs 3·Σ|d|, 5·ΣMFV vs 1e9·Σvol); price relatives and kernel terms
  * quantize once (·1e9/·1e12) before exact DECIMAL corpus sums; GMROI
  * money stays DECIMAL-exact until one final division per ratio.
  */
object Extras250 {

  // Monthly OHLC bars of order values in exact cents: o/c by the
  // total (orderkey) order, h/l as max/min (the C599 daily-bar
  // convention lifted to the calendar-bounded monthly frame).
  private def monthlyBars(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(date_trunc("month", col("o_orderdate")).as("m"), col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)").as("p"))
      .groupBy("m")
      .agg(min(struct(col("o_orderkey"), col("p"))).as("fo"),
        max(struct(col("o_orderkey"), col("p"))).as("lo"),
        max(col("p")).cast("long").as("h"), min(col("p")).cast("long").as("l"))
      .selectExpr("m", "fo.p AS o", "lo.p AS c", "h", "l")
  private val monthlyBarsSql: String =
    """bars AS (
      |  SELECT m, max(CASE WHEN rn_f = 1 THEN p END) AS o,
      |    max(CASE WHEN rn_l = 1 THEN p END) AS c,
      |    CAST(max(p) AS BIGINT) AS h, CAST(min(p) AS BIGINT) AS l
      |  FROM (
      |    SELECT date_trunc('month', o_orderdate) AS m,
      |      CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS p,
      |      row_number() OVER (PARTITION BY date_trunc('month', o_orderdate)
      |        ORDER BY o_orderkey) AS rn_f,
      |      row_number() OVER (PARTITION BY date_trunc('month', o_orderdate)
      |        ORDER BY o_orderkey DESC) AS rn_l
      |    FROM orders) z
      |  GROUP BY 1)""".stripMargin

  // ---------------------------------------------------------------- C1012
  /** win_macd — MACD(12, 26, 9) on monthly revenue: EMA12 − EMA26 with
    * a 9-period signal EMA, every carried EMA floored onto the
    * 1e-3-cent grid between steps so both engines iterate identical
    * integers; the histogram lives on that SAME grid (e12q − e26q −
    * sgq is an exact integer), so signal-line crossovers are exact
    * integer sign flips — no IEEE in the decision. Driver walk on the
    * calendar-bounded monthly frame; recursive-CTE oracle.
    */
  def winMacd(s: SparkSession, d: String): DataFrame = {
    val vs = orders(s, d)
      .groupBy(expr("date_trunc('month', o_orderdate)").as("m"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("v"))
      .orderBy("m").collect().map(_.getLong(1))
    var e12q = vs(0) * 1000L; var e26q = vs(0) * 1000L; var sgq = 0L
    var ncross = 0L; var maxh = 0L
    for (t <- 2 to vs.length) {
      val v = vs(t - 1)
      val prevH = e12q - e26q - sgq
      e12q = math.floor((2.0 / 13 * v + 11.0 / 13 * (e12q / 1e3)) * 1e3 + 0.5).toLong
      e26q = math.floor((2.0 / 27 * v + 25.0 / 27 * (e26q / 1e3)) * 1e3 + 0.5).toLong
      sgq = math.floor((2.0 / 10 * ((e12q - e26q) / 1e3)
        + 8.0 / 10 * (sgq / 1e3)) * 1e3 + 0.5).toLong
      val newH = e12q - e26q - sgq
      if ((prevH > 0 && newH < 0) || (prevH < 0 && newH > 0)) ncross += 1
      if (math.abs(newH) > maxh) maxh = math.abs(newH)
    }
    import s.implicits._
    Seq((vs.length.toLong, ncross, (e12q - e26q) / 1e3 / 100, sgq / 1e3 / 100,
      (e12q - e26q - sgq) / 1e3 / 100, maxh / 1e3 / 100))
      .toDF("n0", "nc", "md", "sd", "hd", "mh")
      .selectExpr("n0 AS n_months", "nc AS n_crossovers",
        "round(md, 4) AS macd_dollars", "round(sd, 4) AS signal_dollars",
        "round(hd, 4) AS hist_dollars", "round(mh, 4) AS max_hist_dollars")
  }
  val winMacdSql: String = {
    val e12N = "CAST(floor((CAST(2 AS DOUBLE) / 13 * s2.v + CAST(11 AS DOUBLE) / 13 * (it.e12q / 1e3)) * 1e3 + 0.5) AS BIGINT)"
    val e26N = "CAST(floor((CAST(2 AS DOUBLE) / 27 * s2.v + CAST(25 AS DOUBLE) / 27 * (it.e26q / 1e3)) * 1e3 + 0.5) AS BIGINT)"
    val sgN = s"CAST(floor((CAST(2 AS DOUBLE) / 10 * ((($e12N) - ($e26N)) / 1e3) + CAST(8 AS DOUBLE) / 10 * (it.sgq / 1e3)) * 1e3 + 0.5) AS BIGINT)"
    val newH = s"(($e12N) - ($e26N) - ($sgN))"
    val prevH = "(it.e12q - it.e26q - it.sgq)"
    s"""WITH RECURSIVE seq AS (
       |  SELECT CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS t, v FROM (
       |    SELECT date_trunc('month', o_orderdate) AS m,
       |      CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS v
       |    FROM orders GROUP BY 1)),
       |it(t, e12q, e26q, sgq, ncross, maxh) AS (
       |  SELECT CAST(1 AS BIGINT), v * 1000, v * 1000, CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM seq WHERE t = 1
       |  UNION ALL
       |  SELECT s2.t, $e12N, $e26N, $sgN,
       |    it.ncross + CASE WHEN ($prevH > 0 AND $newH < 0)
       |      OR ($prevH < 0 AND $newH > 0) THEN 1 ELSE 0 END,
       |    greatest(it.maxh, abs($newH))
       |  FROM it JOIN seq s2 ON s2.t = it.t + 1),
       |fin AS (SELECT * FROM it ORDER BY t DESC LIMIT 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM seq)
       |SELECT n0 AS n_months, ncross AS n_crossovers,
       |  round((e12q - e26q) / 1e3 / 100, 4) AS macd_dollars,
       |  round(sgq / 1e3 / 100, 4) AS signal_dollars,
       |  round((e12q - e26q - sgq) / 1e3 / 100, 4) AS hist_dollars,
       |  round(maxh / 1e3 / 100, 4) AS max_hist_dollars
       |FROM fin, nn""".stripMargin
  }

  // ---------------------------------------------------------------- C1013
  /** win_keltner_channels — EMA20 of the typical price ± 2·ATR(10,
    * Wilder) on the monthly order-value bars: the typical price rides
    * the EXACT 3× grid (tp3 = h + l + c, no division), true range is
    * exact integer max-of-three against the carried previous close,
    * and both recursions carry 1e-3-grid integers. Channel breaches
    * are the exact integer test 3000·c vs emaq ± 6·atrq. Driver walk
    * on the bounded monthly frame; recursive-CTE oracle.
    */
  def winKeltnerChannels(s: SparkSession, d: String): DataFrame = {
    val bars = monthlyBars(s, d).orderBy("m")
      .selectExpr("c", "h", "l", "h + l + c AS tp3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    var emaq = bars(0)._4 * 1000L
    var atrq = (bars(0)._2 - bars(0)._3) * 1000L
    var pc = bars(0)._1
    var nab = 0L; var nbl = 0L
    for (t <- 2 to bars.length) {
      val (c, h, l, tp3) = bars(t - 1)
      val tr = math.max(h - l, math.max(math.abs(h - pc), math.abs(l - pc)))
      emaq = math.floor((2.0 / 21 * tp3 + 19.0 / 21 * (emaq / 1e3)) * 1e3 + 0.5).toLong
      atrq = math.floor((1.0 / 10 * tr + 9.0 / 10 * (atrq / 1e3)) * 1e3 + 0.5).toLong
      if (3000L * c > emaq + 6L * atrq) nab += 1
      if (3000L * c < emaq - 6L * atrq) nbl += 1
      pc = c
    }
    import s.implicits._
    Seq((bars.length.toLong, nab, nbl, emaq / 1e3 / 3 / 100, atrq / 1e3 / 100))
      .toDF("n0", "na", "nb", "ed", "ad")
      .selectExpr("n0 AS n_months", "na AS n_above", "nb AS n_below",
        "round(ed, 4) AS ema_dollars", "round(ad, 4) AS atr_dollars")
  }
  val winKeltnerChannelsSql: String = {
    val trN = "greatest(s2.h - s2.l, abs(s2.h - it.pc), abs(s2.l - it.pc))"
    val emaN = "CAST(floor((CAST(2 AS DOUBLE) / 21 * s2.tp3 + CAST(19 AS DOUBLE) / 21 * (it.emaq / 1e3)) * 1e3 + 0.5) AS BIGINT)"
    val atrN = s"CAST(floor((CAST(1 AS DOUBLE) / 10 * ($trN) + CAST(9 AS DOUBLE) / 10 * (it.atrq / 1e3)) * 1e3 + 0.5) AS BIGINT)"
    s"""WITH RECURSIVE $monthlyBarsSql,
       |seq AS (
       |  SELECT CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS t,
       |    c, h, l, h + l + c AS tp3
       |  FROM bars),
       |it(t, emaq, atrq, pc, nab, nbl) AS (
       |  SELECT CAST(1 AS BIGINT), tp3 * 1000, (h - l) * 1000, c,
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM seq WHERE t = 1
       |  UNION ALL
       |  SELECT s2.t, $emaN, $atrN, s2.c,
       |    it.nab + CASE WHEN 3000 * s2.c > ($emaN) + 6 * ($atrN)
       |      THEN 1 ELSE 0 END,
       |    it.nbl + CASE WHEN 3000 * s2.c < ($emaN) - 6 * ($atrN)
       |      THEN 1 ELSE 0 END
       |  FROM it JOIN seq s2 ON s2.t = it.t + 1),
       |fin AS (SELECT * FROM it ORDER BY t DESC LIMIT 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM seq)
       |SELECT n0 AS n_months, nab AS n_above, nbl AS n_below,
       |  round(emaq / 1e3 / 3 / 100, 4) AS ema_dollars,
       |  round(atrq / 1e3 / 100, 4) AS atr_dollars
       |FROM fin, nn""".stripMargin
  }

  // ---------------------------------------------------------------- C1014
  /** win_cci — the 20-month Commodity Channel Index on the typical
    * price (exact 3× grid): each month's window of 20 tp3 values rides
    * a collect_list window over the calendar-bounded monthly frame;
    * Σ|20·tp3ᵢ − S20| is an exact HOF integer sum, so the ±100 band
    * test is the EXACT integer comparison 40·|20·tp3 − S20| vs 3·Σ|d|
    * (the 0.015 constant cleared: 100·0.015·20·20 = 600). No self-join
    * and no IEEE in the counts; the last CCI value is one final O(1)
    * division.
    */
  def winCci(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy("m").rowsBetween(-19, 0)
    val m = monthlyBars(s, d)
      .selectExpr("m", "h + l + c AS tp3")
      .withColumn("idx", row_number().over(Window.orderBy("m")).cast("long"))
      .withColumn("arr", collect_list(col("tp3")).over(w))
      .filter(size(col("arr")) === 20)
      .withColumn("s20", expr("aggregate(arr, 0L, (a, x) -> a + x)"))
      .withColumn("sabs", expr(
        "aggregate(transform(arr, x -> abs(20 * x - s20)), 0L, (a, x) -> a + x)"))
    m.agg(count(lit(1)).cast("long").as("n_eval"),
        sum(expr("CASE WHEN 40 * (20 * tp3 - s20) > 3 * sabs THEN 1L ELSE 0L END"))
          .cast("long").as("n_above_100"),
        sum(expr("CASE WHEN 40 * (s20 - 20 * tp3) > 3 * sabs THEN 1L ELSE 0L END"))
          .cast("long").as("n_below_100"),
        max(struct(col("idx"), col("tp3"), col("s20"), col("sabs"))).as("lastw"))
      .selectExpr("n_eval", "n_above_100", "n_below_100",
        """round(CASE WHEN lastw.sabs = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(20 * lastw.tp3 - lastw.s20 AS DOUBLE) * 20
          |  / (CAST(0.015 AS DOUBLE) * lastw.sabs) END, 4) AS last_cci""".stripMargin)
  }
  val winCciSql: String =
    s"""WITH $monthlyBarsSql,
       |tp AS (
       |  SELECT m, h + l + c AS tp3,
       |    CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS idx,
       |    list(h + l + c) OVER (ORDER BY m
       |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS arr
       |  FROM bars),
       |ev AS (
       |  SELECT idx, tp3, s20,
       |    CAST(list_sum(list_transform(arr, x -> abs(20 * x - s20))) AS BIGINT) AS sabs
       |  FROM (SELECT idx, tp3, arr,
       |    CAST(list_sum(arr) AS BIGINT) AS s20 FROM tp WHERE len(arr) = 20) z),
       |lastw AS (SELECT * FROM ev ORDER BY idx DESC LIMIT 1)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM ev) AS n_eval,
       |  (SELECT CAST(sum(CASE WHEN 40 * (20 * tp3 - s20) > 3 * sabs
       |    THEN 1 ELSE 0 END) AS BIGINT) FROM ev) AS n_above_100,
       |  (SELECT CAST(sum(CASE WHEN 40 * (s20 - 20 * tp3) > 3 * sabs
       |    THEN 1 ELSE 0 END) AS BIGINT) FROM ev) AS n_below_100,
       |  round(CASE WHEN lastw.sabs = 0 THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(20 * lastw.tp3 - lastw.s20 AS DOUBLE) * 20
       |      / (CAST(0.015 AS DOUBLE) * lastw.sabs) END, 4) AS last_cci
       |FROM lastw""".stripMargin

  // ---------------------------------------------------------------- C1015
  /** win_chaikin_money_flow — CMF(21) on daily line-price bars with
    * line count as volume: the money-flow multiplier (2c − h − l)/(h−l)
    * quantizes once ·1e9 (h = l days contribute 0), the money-flow
    * volume is the exact integer product mfmq·vol, and the 21-day
    * rolling sums are exact window integer sums on the bounded daily
    * calendar. The |CMF| > 0.2 strength test clears denominators:
    * ±5·ΣMFV vs 1e9·Σvol — exact integers.
    */
  def winChaikinMoneyFlow(s: SparkSession, d: String): DataFrame = {
    val bars = lineitem(s, d)
      .select(date_trunc("day", col("l_shipdate")).as("day"),
        col("l_orderkey"), col("l_linenumber"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)").as("p"))
      .groupBy("day")
      .agg(max(struct(col("l_orderkey"), col("l_linenumber"), col("p"))).as("lo"),
        max(col("p")).cast("long").as("h"), min(col("p")).cast("long").as("l"),
        count(lit(1)).cast("long").as("vol"))
      .selectExpr("day", "lo.p AS c", "h", "l", "vol")
      .withColumn("mfvq", expr(
        """CASE WHEN h = l THEN 0L ELSE
          |CAST(floor(CAST(2 * c - h - l AS DOUBLE) / (h - l) * 1e9 + 0.5) AS BIGINT)
          |END * vol""".stripMargin))
    val w = Window.orderBy("day").rowsBetween(-20, 0)
    val ev = bars
      .withColumn("idx", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("n21", count(lit(1)).over(w).cast("long"))
      .withColumn("smfv", sum(col("mfvq")).over(w).cast("long"))
      .withColumn("svol", sum(col("vol")).over(w).cast("long"))
      .filter(col("n21") === 21)
    ev.agg(count(lit(1)).cast("long").as("n_eval"),
        sum(expr("CASE WHEN 5 * smfv > 1000000000 * svol THEN 1L ELSE 0L END"))
          .cast("long").as("n_strong_pos"),
        sum(expr("CASE WHEN -5 * smfv > 1000000000 * svol THEN 1L ELSE 0L END"))
          .cast("long").as("n_strong_neg"),
        max(struct(col("idx"), col("smfv"), col("svol"))).as("lastw"))
      .selectExpr("n_eval", "n_strong_pos", "n_strong_neg",
        "round(CAST(lastw.smfv AS DOUBLE) / 1e9 / lastw.svol, 6) AS last_cmf")
  }
  val winChaikinMoneyFlowSql: String =
    """WITH bars AS (
      |  SELECT day, max(CASE WHEN rn_l = 1 THEN p END) AS c,
      |    CAST(max(p) AS BIGINT) AS h, CAST(min(p) AS BIGINT) AS l,
      |    CAST(count(*) AS BIGINT) AS vol
      |  FROM (
      |    SELECT date_trunc('day', l_shipdate) AS day,
      |      CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS p,
      |      row_number() OVER (PARTITION BY date_trunc('day', l_shipdate)
      |        ORDER BY l_orderkey DESC, l_linenumber DESC) AS rn_l
      |    FROM lineitem) z
      |  GROUP BY 1),
      |mf AS (
      |  SELECT day,
      |    CASE WHEN h = l THEN 0 ELSE
      |    CAST(floor(CAST(2 * c - h - l AS DOUBLE) / (h - l) * 1e9 + 0.5) AS BIGINT)
      |    END * vol AS mfvq, vol
      |  FROM bars),
      |roll AS (
      |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
      |    CAST(count(*) OVER w AS BIGINT) AS n21,
      |    CAST(sum(mfvq) OVER w AS BIGINT) AS smfv,
      |    CAST(sum(vol) OVER w AS BIGINT) AS svol
      |  FROM mf
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)),
      |ev AS (SELECT * FROM roll WHERE n21 = 21),
      |lastw AS (SELECT * FROM ev ORDER BY idx DESC LIMIT 1)
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM ev) AS n_eval,
      |  (SELECT CAST(sum(CASE WHEN 5 * smfv > 1000000000 * svol
      |    THEN 1 ELSE 0 END) AS BIGINT) FROM ev) AS n_strong_pos,
      |  (SELECT CAST(sum(CASE WHEN -5 * smfv > 1000000000 * svol
      |    THEN 1 ELSE 0 END) AS BIGINT) FROM ev) AS n_strong_neg,
      |  round(CAST(lastw.smfv AS DOUBLE) / 1e9 / lastw.svol, 6) AS last_cmf
      |FROM lastw""".stripMargin

  // ---------------------------------------------------------------- C1016
  /** analytics_price_index_elementary — the elementary price-index
    * menu between the corpus' first and last ship-year over matched
    * parts: Carli (arithmetic mean of relatives), Dutot (ratio of
    * mean prices), Jevons (geometric mean), the harmonic mean, and
    * CSWD = √(Carli·Harmonic). Unit values Σe/Σq per part-period from
    * exact integer sums; each relative/ln/inverse quantizes once
    * (·1e9/·1e12) onto integers summed in DECIMAL — one final O(1)
    * division per index. Scale: one lineitem aggregate keyed by part,
    * a part-keyed self-pivot, then a 1-row reduce.
    */
  def analyticsPriceIndexElementary(s: SparkSession, d: String): DataFrame = {
    val yr = lineitem(s, d).agg(
      min(expr("year(l_shipdate)")).cast("long").as("y0"),
      max(expr("year(l_shipdate)")).cast("long").as("y1"))
    val pp = lineitem(s, d).crossJoin(broadcast(yr))
      .filter(expr("year(l_shipdate) = y0 OR year(l_shipdate) = y1"))
      .groupBy(col("l_partkey"))
      .agg(
        sum(expr("CASE WHEN year(l_shipdate) = y0 THEN CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) ELSE 0L END")).cast("long").as("se0"),
        sum(expr("CASE WHEN year(l_shipdate) = y0 THEN CAST(l_quantity AS BIGINT) ELSE 0L END")).cast("long").as("sq0"),
        sum(expr("CASE WHEN year(l_shipdate) = y1 THEN CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) ELSE 0L END")).cast("long").as("se1"),
        sum(expr("CASE WHEN year(l_shipdate) = y1 THEN CAST(l_quantity AS BIGINT) ELSE 0L END")).cast("long").as("sq1"))
      .filter(col("sq0") > 0 && col("sq1") > 0)
      .selectExpr(
        "CAST(floor((CAST(se1 AS DOUBLE) / sq1) / (CAST(se0 AS DOUBLE) / sq0) * 1e9 + 0.5) AS BIGINT) AS rq",
        "CAST(floor(ln((CAST(se1 AS DOUBLE) / sq1) / (CAST(se0 AS DOUBLE) / sq0)) * 1e12 + 0.5) AS BIGINT) AS lq",
        "CAST(floor(CAST(1 AS DOUBLE) / ((CAST(se1 AS DOUBLE) / sq1) / (CAST(se0 AS DOUBLE) / sq0)) * 1e9 + 0.5) AS BIGINT) AS hq",
        "CAST(floor(CAST(se1 AS DOUBLE) / sq1 * 1e6 + 0.5) AS BIGINT) AS up1q",
        "CAST(floor(CAST(se0 AS DOUBLE) / sq0 * 1e6 + 0.5) AS BIGINT) AS up0q")
    pp.agg(count(lit(1)).cast("long").as("n_matched"),
        sum(expr("CAST(rq AS DECIMAL(38,0))")).as("sr"),
        sum(expr("CAST(lq AS DECIMAL(38,0))")).as("sl"),
        sum(expr("CAST(hq AS DECIMAL(38,0))")).as("sh"),
        sum(expr("CAST(up1q AS DECIMAL(38,0))")).as("s1"),
        sum(expr("CAST(up0q AS DECIMAL(38,0))")).as("s0"))
      .selectExpr("n_matched",
        "CAST(sr AS DOUBLE) / n_matched / 1e9 AS carli",
        "CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE) AS dutot",
        "exp(CAST(sl AS DOUBLE) / n_matched / 1e12) AS jevons",
        "CAST(n_matched AS DOUBLE) / (CAST(sh AS DOUBLE) / 1e9) AS harmonic")
      .selectExpr("n_matched", "round(carli, 6) AS carli",
        "round(dutot, 6) AS dutot", "round(jevons, 6) AS jevons",
        "round(harmonic, 6) AS harmonic",
        "round(sqrt(carli * harmonic), 6) AS cswd")
  }
  val analyticsPriceIndexElementarySql: String =
    """WITH yr AS (
      |  SELECT CAST(min(year(l_shipdate)) AS BIGINT) AS y0,
      |    CAST(max(year(l_shipdate)) AS BIGINT) AS y1
      |  FROM lineitem),
      |pp AS (
      |  SELECT l_partkey,
      |    CAST(sum(CASE WHEN year(l_shipdate) = y0 THEN CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS se0,
      |    CAST(sum(CASE WHEN year(l_shipdate) = y0 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sq0,
      |    CAST(sum(CASE WHEN year(l_shipdate) = y1 THEN CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS se1,
      |    CAST(sum(CASE WHEN year(l_shipdate) = y1 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sq1
      |  FROM lineitem, yr
      |  WHERE year(l_shipdate) = y0 OR year(l_shipdate) = y1
      |  GROUP BY 1
      |  HAVING sum(CASE WHEN year(l_shipdate) = y0 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) > 0
      |    AND sum(CASE WHEN year(l_shipdate) = y1 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) > 0),
      |q AS (
      |  SELECT
      |    CAST(floor((CAST(se1 AS DOUBLE) / sq1) / (CAST(se0 AS DOUBLE) / sq0) * 1e9 + 0.5) AS BIGINT) AS rq,
      |    CAST(floor(ln((CAST(se1 AS DOUBLE) / sq1) / (CAST(se0 AS DOUBLE) / sq0)) * 1e12 + 0.5) AS BIGINT) AS lq,
      |    CAST(floor(CAST(1 AS DOUBLE) / ((CAST(se1 AS DOUBLE) / sq1) / (CAST(se0 AS DOUBLE) / sq0)) * 1e9 + 0.5) AS BIGINT) AS hq,
      |    CAST(floor(CAST(se1 AS DOUBLE) / sq1 * 1e6 + 0.5) AS BIGINT) AS up1q,
      |    CAST(floor(CAST(se0 AS DOUBLE) / sq0 * 1e6 + 0.5) AS BIGINT) AS up0q
      |  FROM pp),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_matched,
      |    CAST(sum(CAST(rq AS HUGEINT)) AS DECIMAL(38,0)) AS sr,
      |    CAST(sum(CAST(lq AS HUGEINT)) AS DECIMAL(38,0)) AS sl,
      |    CAST(sum(CAST(hq AS HUGEINT)) AS DECIMAL(38,0)) AS sh,
      |    CAST(sum(CAST(up1q AS HUGEINT)) AS DECIMAL(38,0)) AS s1,
      |    CAST(sum(CAST(up0q AS HUGEINT)) AS DECIMAL(38,0)) AS s0
      |  FROM q),
      |ix AS (
      |  SELECT n_matched,
      |    CAST(sr AS DOUBLE) / n_matched / 1e9 AS carli,
      |    CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE) AS dutot,
      |    exp(CAST(sl AS DOUBLE) / n_matched / 1e12) AS jevons,
      |    CAST(n_matched AS DOUBLE) / (CAST(sh AS DOUBLE) / 1e9) AS harmonic
      |  FROM a)
      |SELECT n_matched, round(carli, 6) AS carli, round(dutot, 6) AS dutot,
      |  round(jevons, 6) AS jevons, round(harmonic, 6) AS harmonic,
      |  round(sqrt(carli * harmonic), 6) AS cswd
      |FROM ix""".stripMargin

  // ---------------------------------------------------------------- C1017
  /** analytics_gmroi — the per-brand inventory-productivity battery:
    * net revenue Σe·(1−d) and cost basis Σq·retail·0.6 stay DECIMAL-
    * exact (2dp × 2dp products, never a double product cast back);
    * GMROI, margin %, and average selling price are one final division
    * each. The 25-brand dictionary bounds the output. Scale: one
    * lineitem⋈part hash aggregate.
    */
  def analyticsGmroi(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(part(s, d), expr("l_partkey = p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        sum(expr(
          """CAST(l_extendedprice AS DECIMAL(14,2))
            |* (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))""".stripMargin))
          .as("rev"),
        sum(expr(
          """CAST(l_quantity AS DECIMAL(14,2))
            |* CAST(p_retailprice AS DECIMAL(14,2))
            |* CAST(0.6 AS DECIMAL(2,1))""".stripMargin)).as("cost"),
        sum(expr("CAST(l_quantity AS BIGINT)")).cast("long").as("units"))
      .selectExpr("p_brand",
        "units",
        "round((CAST(rev AS DOUBLE) - CAST(cost AS DOUBLE)) / CAST(cost AS DOUBLE), 6) AS gmroi",
        "round((CAST(rev AS DOUBLE) - CAST(cost AS DOUBLE)) / CAST(rev AS DOUBLE) * 100, 4) AS margin_pct",
        "round(CAST(rev AS DOUBLE) / units, 4) AS asp")
      .orderBy("p_brand")
  val analyticsGmroiSql: String =
    """WITH g AS (
      |  SELECT p_brand,
      |    sum(CAST(l_extendedprice AS DECIMAL(14,2))
      |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev,
      |    sum(CAST(l_quantity AS DECIMAL(14,2))
      |      * CAST(p_retailprice AS DECIMAL(14,2))
      |      * CAST(0.6 AS DECIMAL(2,1))) AS cost,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS units
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1)
      |SELECT p_brand, units,
      |  round((CAST(rev AS DOUBLE) - CAST(cost AS DOUBLE)) / CAST(cost AS DOUBLE), 6) AS gmroi,
      |  round((CAST(rev AS DOUBLE) - CAST(cost AS DOUBLE)) / CAST(rev AS DOUBLE) * 100, 4) AS margin_pct,
      |  round(CAST(rev AS DOUBLE) / units, 4) AS asp
      |FROM g ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- C1018
  /** text_chrf — corpus chrF (β = 2) over the C908 successor document
    * pairing: character 1/2/3-grams of the whitespace-stripped
    * lowercase text, corpus-level clipped overlaps (Σ min(c, rc)) and
    * exact precision/recall denominators per order, Fβ per order and
    * the macro average — all counts exact BIGINT, three final O(1)
    * divisions. The character-level cousin of C908's BLEU-2 that
    * tokenization-free pipelines quote.
    */
  def textChrf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), expr("replace(lower(text), ' ', '')").as("t"))
    val pairIds = docs.select(col("doc_id")).join(
      docs.select((col("doc_id") - 1).as("doc_id")), Seq("doc_id")).distinct()
    def grams(n: Int) =
      docs.filter(length(col("t")) >= n)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, length(t) - ${n - 1}), i -> substring(t, i, $n))"))
          .as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).cast("long").as("c"))
    def level(n: Int, tag: String) = {
      val cand = grams(n).join(pairIds, Seq("doc_id"))
      val ref = grams(n).select((col("doc_id") - 1).as("doc_id"),
        col("g"), col("c").as("rc"))
      val both = cand.join(ref, Seq("doc_id", "g"))
        .agg(sum(least(col("c"), col("rc"))).cast("long").as(s"${tag}_clip"))
      // P/R denominators NEED no gram frame: a doc of length L holds
      // exactly max(L − n + 1, 0) n-grams — sum lengths, not explodes
      val ct = docs.join(pairIds, Seq("doc_id"))
        .agg(sum(expr(s"greatest(length(t) - ${n - 1}, 0)")).cast("long")
          .as(s"${tag}_ctot"))
      val rt = docs.select((col("doc_id") - 1).as("doc_id"), col("t"))
        .join(pairIds, Seq("doc_id"))
        .agg(sum(expr(s"greatest(length(t) - ${n - 1}, 0)")).cast("long")
          .as(s"${tag}_rtot"))
      both.crossJoin(broadcast(ct)).crossJoin(broadcast(rt))
    }
    val np = pairIds.agg(count(lit(1)).cast("long").as("n_pairs"))
    def f(tag: String): String =
      s"""CASE WHEN ${tag}_clip = 0 THEN CAST(0 AS DOUBLE) ELSE
         |5 * (CAST(${tag}_clip AS DOUBLE) / ${tag}_ctot)
         |  * (CAST(${tag}_clip AS DOUBLE) / ${tag}_rtot)
         |/ (4 * (CAST(${tag}_clip AS DOUBLE) / ${tag}_ctot)
         |  + (CAST(${tag}_clip AS DOUBLE) / ${tag}_rtot)) END""".stripMargin
    np.crossJoin(broadcast(level(1, "f1"))).crossJoin(broadcast(level(2, "f2")))
      .crossJoin(broadcast(level(3, "f3")))
      .selectExpr("n_pairs", s"${f("f1")} AS chrf1", s"${f("f2")} AS chrf2",
        s"${f("f3")} AS chrf3")
      .selectExpr("n_pairs", "round(chrf1, 6) AS chrf1",
        "round(chrf2, 6) AS chrf2", "round(chrf3, 6) AS chrf3",
        "round((chrf1 + chrf2 + chrf3) / 3, 6) AS chrf_avg")
  }
  val textChrfSql: String = {
    def f(tag: String): String =
      s"""CASE WHEN ${tag}_clip = 0 THEN CAST(0 AS DOUBLE) ELSE
         |5 * (CAST(${tag}_clip AS DOUBLE) / ${tag}_ctot)
         |  * (CAST(${tag}_clip AS DOUBLE) / ${tag}_rtot)
         |/ (4 * (CAST(${tag}_clip AS DOUBLE) / ${tag}_ctot)
         |  + (CAST(${tag}_clip AS DOUBLE) / ${tag}_rtot)) END""".stripMargin
    def cn(n: Int): String =
      s"""c$n AS (
         |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(t) - ${n - 1}), i -> t[i:i+${n - 1}])) AS g
         |    FROM toks WHERE len(t) >= $n) z GROUP BY 1, 2)""".stripMargin
    def ln(n: Int, tag: String): String =
      s"""l$n AS (
         |  SELECT
         |    (SELECT CAST(sum(least(a.c, b.c)) AS BIGINT)
         |     FROM c$n a JOIN pairids p ON a.doc_id = p.doc_id
         |     JOIN (SELECT doc_id - 1 AS doc_id, g, c FROM c$n) b
         |       ON a.doc_id = b.doc_id AND a.g = b.g) AS ${tag}_clip,
         |    (SELECT CAST(sum(greatest(len(a.t) - ${n - 1}, 0)) AS BIGINT)
         |     FROM toks a JOIN pairids p ON a.doc_id = p.doc_id) AS ${tag}_ctot,
         |    (SELECT CAST(sum(greatest(len(b.t) - ${n - 1}, 0)) AS BIGINT)
         |     FROM (SELECT doc_id - 1 AS doc_id, t FROM toks) b
         |     JOIN pairids p ON b.doc_id = p.doc_id) AS ${tag}_rtot)""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, replace(lower(text), ' ', '') AS t FROM documents),
       |pairids AS (
       |  SELECT a.doc_id FROM toks a JOIN toks b ON a.doc_id = b.doc_id - 1),
       |${cn(1)}, ${cn(2)}, ${cn(3)},
       |${ln(1, "f1")}, ${ln(2, "f2")}, ${ln(3, "f3")},
       |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairids),
       |fx AS (
       |  SELECT n_pairs, ${f("f1")} AS chrf1, ${f("f2")} AS chrf2,
       |    ${f("f3")} AS chrf3
       |  FROM np, l1, l2, l3)
       |SELECT n_pairs, round(chrf1, 6) AS chrf1, round(chrf2, 6) AS chrf2,
       |  round(chrf3, 6) AS chrf3,
       |  round((chrf1 + chrf2 + chrf3) / 3, 6) AS chrf_avg
       |FROM fx""".stripMargin
  }

  // ---------------------------------------------------------------- C1019
  /** embed_mmd_rbf — the RBF-kernel MMD² between the label-parity
    * embedding cohorts, probe-panel bounded: each of the three kernel
    * expectations E k(x,x'), E k(y,y'), E k(x,y) is estimated from the
    * FIXED ≤400-probe panel against the FULL cohort (never all-pairs;
    * the CSLS/LOF pattern). Coordinates ride the 1e6 grid so every
    * pairwise distance is an exact BIGINT; the bandwidth 2σ² is the
    * exact-moment mean pairwise distance 2·Σ_d var_d (per-dim terms
    * ·1e12-quantized over the bounded 64-dim frame); kernel values
    * quantize ·1e12 before the exact sums.
    */
  def embedMmdRbf(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select(col("vec_id").as("id"),
      expr("label % 2 = 0").as("ga"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT))").as("qv"))
    val dims = embeddings(s, d)
      .select(explode(expr("sequence(1, 64)")).as("dim"), col("embedding"))
      .select(col("dim"), expr(
        "CAST(floor(CAST(element_at(embedding, CAST(dim AS INT)) AS DOUBLE) * 1e6 + 0.5) AS BIGINT)").as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("q")).cast("decimal(38,0)").as("s1"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).cast("decimal(38,0)").as("s2"))
      .selectExpr(
        """CAST(floor((CAST(s2 AS DOUBLE) / n / 1e12
          |- (CAST(s1 AS DOUBLE) / n / 1e6) * (CAST(s1 AS DOUBLE) / n / 1e6))
          |* 2 * 1e12 + 0.5) AS BIGINT) AS vq""".stripMargin)
      .agg(sum(col("vq")).cast("long").as("v2q"))
      .selectExpr("CAST(v2q AS DOUBLE) / 1e12 AS v2")
    def term(probeGa: Boolean, corpusGa: Boolean, exclude: Boolean, tag: String): DataFrame = {
      val pan = emb.filter(col("ga") === probeGa && col("id") < 400L)
        .select(col("id").as("pid"), col("qv").as("pv"))
      val base = emb.filter(col("ga") === corpusGa)
        .crossJoin(broadcast(pan))
      val pairs = if (exclude) base.filter(col("id") =!= col("pid")) else base
      pairs.crossJoin(broadcast(dims))
        // r14: codegen'd exact integer distance — bit-identical to the
        // interpreted HOF fold it replaces (guide §4)
        .withColumn("d2", expr(s"${graft.functions.QuantSqDist.name}(pv, qv)"))
        .select(expr(
          "CAST(floor(exp(-(CAST(d2 AS DOUBLE) / 1e12) / (2 * v2)) * 1e12 + 0.5) AS BIGINT)").as("kq"))
        .agg(count(lit(1)).cast("long").as(s"${tag}_n"),
          sum(expr("CAST(kq AS DECIMAL(38,0))")).cast("decimal(38,0)").as(s"${tag}_s"))
    }
    val sizes = emb.agg(
      sum(expr("CASE WHEN ga THEN 1L ELSE 0L END")).cast("long").as("n_x"),
      sum(expr("CASE WHEN ga THEN 0L ELSE 1L END")).cast("long").as("n_y"))
    sizes
      .crossJoin(broadcast(term(probeGa = true, corpusGa = true, exclude = true, "xx")))
      .crossJoin(broadcast(term(probeGa = false, corpusGa = false, exclude = true, "yy")))
      .crossJoin(broadcast(term(probeGa = true, corpusGa = false, exclude = false, "xy")))
      .crossJoin(broadcast(dims))
      .selectExpr("n_x", "n_y", "round(v2, 6) AS sigma2",
        """round(CAST(xx_s AS DOUBLE) / 1e12 / xx_n
          |+ CAST(yy_s AS DOUBLE) / 1e12 / yy_n
          |- 2 * (CAST(xy_s AS DOUBLE) / 1e12 / xy_n), 9) AS mmd2_rbf""".stripMargin)
  }
  val embedMmdRbfSql: String =
    """WITH emb AS (
      |  SELECT vec_id AS id, label % 2 = 0 AS ga,
      |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings),
      |dims AS (
      |  SELECT CAST(floor((CAST(s2 AS DOUBLE) / n / 1e12
      |    - (CAST(s1 AS DOUBLE) / n / 1e6) * (CAST(s1 AS DOUBLE) / n / 1e6))
      |    * 2 * 1e12 + 0.5) AS BIGINT) AS vq
      |  FROM (
      |    SELECT i.i AS dim, CAST(count(*) AS BIGINT) AS n,
      |      CAST(sum(CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS DECIMAL(38,0)) AS s1,
      |      CAST(sum(CAST(CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS HUGEINT)
      |        * CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS DECIMAL(38,0)) AS s2
      |    FROM embeddings e, (SELECT unnest(generate_series(1, 64)) AS i) i
      |    GROUP BY 1) g),
      |v2t AS (SELECT CAST(sum(vq) AS DOUBLE) / 1e12 AS v2 FROM dims),
      |xx AS (
      |  SELECT CAST(count(*) AS BIGINT) AS xx_n,
      |    CAST(sum(CAST(floor(exp(-(CAST(list_sum(list_transform(list_zip(p.pv, c.qv),
      |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS DOUBLE) / 1e12) / (2 * v2)) * 1e12 + 0.5) AS HUGEINT)) AS DECIMAL(38,0)) AS xx_s
      |  FROM emb c, (SELECT id AS pid, qv AS pv FROM emb WHERE ga AND id < 400) p, v2t
      |  WHERE c.ga AND c.id <> p.pid),
      |yy AS (
      |  SELECT CAST(count(*) AS BIGINT) AS yy_n,
      |    CAST(sum(CAST(floor(exp(-(CAST(list_sum(list_transform(list_zip(p.pv, c.qv),
      |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS DOUBLE) / 1e12) / (2 * v2)) * 1e12 + 0.5) AS HUGEINT)) AS DECIMAL(38,0)) AS yy_s
      |  FROM emb c, (SELECT id AS pid, qv AS pv FROM emb WHERE NOT ga AND id < 400) p, v2t
      |  WHERE NOT c.ga AND c.id <> p.pid),
      |xy AS (
      |  SELECT CAST(count(*) AS BIGINT) AS xy_n,
      |    CAST(sum(CAST(floor(exp(-(CAST(list_sum(list_transform(list_zip(p.pv, c.qv),
      |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS DOUBLE) / 1e12) / (2 * v2)) * 1e12 + 0.5) AS HUGEINT)) AS DECIMAL(38,0)) AS xy_s
      |  FROM emb c, (SELECT id AS pid, qv AS pv FROM emb WHERE ga AND id < 400) p, v2t
      |  WHERE NOT c.ga),
      |sz AS (
      |  SELECT CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS n_x,
      |    CAST(sum(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS n_y
      |  FROM emb)
      |SELECT n_x, n_y, round(v2, 6) AS sigma2,
      |  round(CAST(xx_s AS DOUBLE) / 1e12 / xx_n
      |  + CAST(yy_s AS DOUBLE) / 1e12 / yy_n
      |  - 2 * (CAST(xy_s AS DOUBLE) / 1e12 / xy_n), 9) AS mmd2_rbf
      |FROM sz, xx, yy, xy, v2t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_macd" -> (winMacd _),
    "win_keltner_channels" -> (winKeltnerChannels _),
    "win_cci" -> (winCci _),
    "win_chaikin_money_flow" -> (winChaikinMoneyFlow _),
    "analytics_price_index_elementary" -> (analyticsPriceIndexElementary _),
    "analytics_gmroi" -> (analyticsGmroi _),
    "text_chrf" -> (textChrf _),
    "embed_mmd_rbf" -> (embedMmdRbf _))

  val oracle: Map[String, String] = Map(
    "win_macd" -> winMacdSql,
    "win_keltner_channels" -> winKeltnerChannelsSql,
    "win_cci" -> winCciSql,
    "win_chaikin_money_flow" -> winChaikinMoneyFlowSql,
    "analytics_price_index_elementary" -> analyticsPriceIndexElementarySql,
    "analytics_gmroi" -> analyticsGmroiSql,
    "text_chrf" -> textChrfSql,
    "embed_mmd_rbf" -> embedMmdRbfSql)
}
