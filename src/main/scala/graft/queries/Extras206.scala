package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 106 (C828–C831): design-based sampling + risk composites +
  * retrieval confidence + rank-based partial dependence — sequential
  * Poisson PPS sampling, the Calmar ratio, the nearest-neighbor
  * margin audit, and partial Spearman correlation.
  *
  * Shared discipline: the PPS ranking variable ξ = u/p uses the
  * repo's md5-fraction uniforms (identical in both engines) over
  * exact revenue shares; Calmar reuses quantized monthly log-returns
  * + integer running-max drawdown; NN margins come from exact BIGINT
  * HOF distances; partial Spearman runs the C769 partial formula on
  * exact midrank moments.
  */
object Extras206 {

  /** C828 sample_sequential_poisson — Ohlsson's sequential Poisson
    * PPS-without-replacement sample of 20 parts, inclusion ∝ shipped
    * revenue: deterministic md5-fraction uniforms u_i, ranking
    * variable ξ_i = u_i/p_i, take the 20 smallest (exact revenue
    * shares; ties broken by key). Emits the sample with
    * Horvitz–Thompson-style weights and the weighted revenue estimate
    * beside the true total — fixed-size PPS with one sort, no
    * rejection loop; the design the quota/systematic rows can't give.
    */
  def sampleSequentialPoisson(s: SparkSession, d: String): DataFrame = {
    val parts = lineitem(s, d)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("rev"))
    val tot = parts.agg(sum(col("rev")).cast("decimal(38,0)").as("trev"),
      count(lit(1)).cast("long").as("np"))
    // u = md5-fraction in [0,1); xi = u / (rev/trev) = u * trev / rev
    val ranked = parts.crossJoin(broadcast(tot))
      .withColumn("u", expr(
        "CAST(conv(substring(md5(CAST(pk AS STRING)), 1, 8), 16, 10) AS DOUBLE) / 4294967296.0D"))
      .withColumn("xi", expr("u * CAST(trev AS DOUBLE) / rev"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("xi").asc, col("pk").asc)))
      .filter(col("r") <= 20)
    ranked
      .select(col("r").cast("long").as("rank"), col("pk").as("partkey"),
        expr("round(CAST(rev AS DOUBLE) / 100, 2)").as("revenue_dollars"),
        // HT weight under Poisson approx: 1/pi_i, pi_i = min(1, 20·rev/trev)
        expr("round(1 / least(1.0D, 20 * CAST(rev AS DOUBLE) / CAST(trev AS DOUBLE)), 6)").as("ht_weight"))
      .orderBy("rank")
  }
  val sampleSequentialPoissonSql: String =
    """WITH parts AS (
      |  SELECT l_partkey AS pk,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(rev) AS DECIMAL(38,0)) AS trev, CAST(count(*) AS BIGINT) AS np
      |  FROM parts),
      |ranked AS (
      |  SELECT p.pk, p.rev, t.trev,
      |    row_number() OVER (ORDER BY
      |      (CAST(CAST('0x' || substr(md5(CAST(p.pk AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0)
      |        * CAST(t.trev AS DOUBLE) / p.rev ASC, p.pk ASC) AS r
      |  FROM parts p, tot t)
      |SELECT r AS rank, pk AS partkey,
      |  round(CAST(rev AS DOUBLE) / 100, 2) AS revenue_dollars,
      |  round(1 / least(1.0, 20 * CAST(rev AS DOUBLE) / CAST(trev AS DOUBLE)), 6) AS ht_weight
      |FROM ranked WHERE r <= 20 ORDER BY r""".stripMargin

  /** C829 win_calmar_ratio — the Calmar ratio of monthly market
    * log-returns: annualized mean return over the maximum drawdown of
    * the cumulative log-equity curve (integer running max over the
    * quantized return prefix — drawdowns are exact BIGINT diffs).
    * The risk composite portfolio reviews actually quote — return per
    * unit of worst pain, not per unit of variance.
    */
  def winCalmarRatio(s: SparkSession, d: String): DataFrame = {
    val monthly = lineitem(s, d)
      .groupBy(expr("date_trunc('month', l_shipdate)").as("mon"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("v"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("mon").asc)
    val rets = monthly
      .withColumn("prev", lag(col("v"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("r", expr("CAST(floor(ln(CAST(v AS DOUBLE) / prev) * 1e9 + 0.5) AS BIGINT)"))
      .withColumn("eq", sum(col("r")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("mon").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)).cast("long"))
      .withColumn("peak", max(col("eq")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("mon").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)).cast("long"))
    rets.agg(count(lit(1)).cast("long").as("n_months"),
        sum(col("r")).cast("long").as("sr"),
        max(expr("peak - eq")).cast("long").as("mdd_q"))
      .selectExpr("n_months",
        "round(CAST(sr AS DOUBLE) / 1e9 / n_months * 12, 6) AS annualized_log_return",
        "round(CAST(mdd_q AS DOUBLE) / 1e9, 6) AS max_drawdown_log",
        """CASE WHEN mdd_q = 0 THEN CAST(NULL AS DOUBLE)
          |ELSE round((CAST(sr AS DOUBLE) / 1e9 / n_months * 12)
          |  / (CAST(mdd_q AS DOUBLE) / 1e9), 6) END AS calmar_ratio""".stripMargin)
  }
  val winCalmarRatioSql: String =
    """WITH monthly AS (
      |  SELECT date_trunc('month', l_shipdate) AS mon,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS v
      |  FROM lineitem GROUP BY 1),
      |rets AS (
      |  SELECT mon,
      |    CAST(floor(ln(CAST(v AS DOUBLE) / lag(v, 1) OVER (ORDER BY mon)) * 1e9 + 0.5) AS BIGINT) AS r
      |  FROM monthly),
      |f AS (SELECT mon, r FROM rets WHERE r IS NOT NULL),
      |eq0 AS (
      |  SELECT mon, r,
      |    CAST(sum(r) OVER (ORDER BY mon ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS eq
      |  FROM f),
      |eqc AS (
      |  SELECT r, eq,
      |    CAST(max(eq) OVER (ORDER BY mon ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
      |  FROM eq0)
      |SELECT CAST(count(*) AS BIGINT) AS n_months,
      |  round(CAST(CAST(sum(r) AS BIGINT) AS DOUBLE) / 1e9 / count(*) * 12, 6) AS annualized_log_return,
      |  round(CAST(max(peak - eq) AS DOUBLE) / 1e9, 6) AS max_drawdown_log,
      |  CASE WHEN CAST(max(peak - eq) AS BIGINT) = 0 THEN CAST(NULL AS DOUBLE)
      |    ELSE round((CAST(CAST(sum(r) AS BIGINT) AS DOUBLE) / 1e9 / count(*) * 12)
      |      / (CAST(max(peak - eq) AS DOUBLE) / 1e9), 6) END AS calmar_ratio
      |FROM eqc""".stripMargin

  /** C830 embed_nn_margin — retrieval-confidence audit for the
    * 100-probe set: per probe, the relative margin
    * (d₂ − d₁)/d₂ between the nearest and second-nearest squared-
    * Euclidean neighbors (exact BIGINT HOF distances, ·10⁹-quantized
    * margins), plus the share of probes with margin < 5% ("ambiguous
    * retrievals"). Thin margins mean ANN recall targets must be higher
    * — this row prices that decision.
    */
  def embedNnMargin(s: SparkSession, d: String): DataFrame = {
    val q = embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))").as("qv"))
    val probes = q.filter(col("vec_id") < 100)
      .select(col("vec_id").as("pid"), col("qv").as("pv")).limit(128)
    // r14: codegen'd exact integer distance — bit-identical to the
    // interpreted HOF fold it replaces (guide §4)
    val pairs = q.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        expr(s"${graft.functions.QuantSqDist.name}(qv, pv)").as("sq"))
    val ranked = pairs.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("pid")
        .orderBy(col("sq").asc, col("vec_id").asc)))
      .filter(col("r") <= 2)
    val per = ranked.groupBy("pid")
      .agg(min(expr("CASE WHEN r = 1 THEN sq END")).as("d1"),
        min(expr("CASE WHEN r = 2 THEN sq END")).as("d2"))
      .select(expr(
        "CAST(floor((CAST(d2 AS DOUBLE) - d1) / d2 * 1e9 + 0.5) AS BIGINT)").as("mq"))
    per.agg(count(lit(1)).cast("long").as("n_probes"),
        sum(col("mq")).cast("long").as("smq"),
        min(col("mq")).cast("long").as("minq"),
        sum(expr("CASE WHEN mq < CAST(0.05 * 1e9 AS BIGINT) THEN 1L ELSE 0L END"))
          .cast("long").as("ambiguous"))
      .selectExpr("n_probes",
        "round(CAST(smq AS DOUBLE) / 1e9 / n_probes, 6) AS mean_rel_margin",
        "round(CAST(minq AS DOUBLE) / 1e9, 6) AS min_rel_margin",
        "round(CAST(ambiguous AS DOUBLE) / n_probes, 6) AS ambiguous_share")
  }
  val embedNnMarginSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings),
      |probes AS (SELECT vec_id AS pid, qv AS pv FROM q WHERE vec_id < 100),
      |pairs AS (
      |  SELECT p.pid, q.vec_id,
      |    CAST(list_sum(list_transform(list_zip(q.qv, p.pv),
      |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS sq
      |  FROM q, probes p WHERE q.vec_id <> p.pid),
      |ranked AS (
      |  SELECT pid, sq,
      |    row_number() OVER (PARTITION BY pid ORDER BY sq, vec_id) AS r
      |  FROM pairs),
      |per AS (
      |  SELECT pid,
      |    CAST(floor((CAST(min(CASE WHEN r = 2 THEN sq END) AS DOUBLE)
      |      - min(CASE WHEN r = 1 THEN sq END))
      |      / min(CASE WHEN r = 2 THEN sq END) * 1e9 + 0.5) AS BIGINT) AS mq
      |  FROM ranked WHERE r <= 2 GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_probes,
      |  round(CAST(CAST(sum(mq) AS BIGINT) AS DOUBLE) / 1e9 / count(*), 6) AS mean_rel_margin,
      |  round(CAST(min(mq) AS DOUBLE) / 1e9, 6) AS min_rel_margin,
      |  round(CAST(sum(CASE WHEN mq < CAST(0.05 * 1e9 AS BIGINT) THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS ambiguous_share
      |FROM per""".stripMargin

  /** C831 stat_partial_spearman — rank-based partial correlation
    * ρ_xy·z for (quantity, price | discount): tie-exact ×2 midranks
    * for all three variables from value histograms + the two-pass
    * global rank for price (near-unique), then the C769 partial
    * formula on exact midrank moments. Monotone-robust where the
    * Pearson partial (C769) assumes linearity.
    */
  def statPartialSpearman(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d)
      .select(expr("CAST(l_quantity AS BIGINT)").as("xv"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)").as("yv"),
        expr("CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)").as("zv"),
        col("l_orderkey").as("okey"), col("l_linenumber").as("ln"))
    // ×2 midranks per variable via value histograms joined back
    def rank2(vc: String): DataFrame = {
      val hist = base.groupBy(col(vc)).agg(count(lit(1)).cast("long").as("m"))
      val wref = org.apache.spark.sql.expressions.Window.orderBy(col(vc).asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      hist.withColumn("c", coalesce(sum(col("m")).over(wref), lit(0L)).cast("long"))
        .select(col(vc), expr("2 * c + m + 1").as(s"r_$vc"))
    }
    // price is near-unique (corpus-scale distinct values): its midrank
    // prefix uses the two-pass GlobalRank, not a single-task window
    val yHist = base.groupBy(col("yv")).agg(count(lit(1)).cast("long").as("m"))
    val yRank = graft.plans.GlobalRank
      .withExclusivePrefixSum(yHist, "c", col("m"), Seq(col("yv").asc))
      .select(col("yv"), expr("2 * c + m + 1").as("r_yv"))
    val withR = base
      .join(broadcast(rank2("xv")), Seq("xv"))
      .join(yRank, Seq("yv"))
      .join(broadcast(rank2("zv")), Seq("zv"))
    val m = withR.agg(count(lit(1)).cast("long").as("n"),
      sum(col("r_xv")).cast("decimal(38,0)").as("sx"),
      sum(col("r_yv")).cast("decimal(38,0)").as("sy"),
      sum(col("r_zv")).cast("decimal(38,0)").as("sz"),
      sum(expr("CAST(r_xv AS DECIMAL(38,0)) * r_xv")).cast("decimal(38,0)").as("sxx"),
      sum(expr("CAST(r_yv AS DECIMAL(38,0)) * r_yv")).cast("decimal(38,0)").as("syy"),
      sum(expr("CAST(r_zv AS DECIMAL(38,0)) * r_zv")).cast("decimal(38,0)").as("szz"),
      sum(expr("CAST(r_xv AS DECIMAL(38,0)) * r_yv")).cast("decimal(38,0)").as("sxy"),
      sum(expr("CAST(r_xv AS DECIMAL(38,0)) * r_zv")).cast("decimal(38,0)").as("sxz"),
      sum(expr("CAST(r_yv AS DECIMAL(38,0)) * r_zv")).cast("decimal(38,0)").as("syz"))
    def corr(ab: String, a: String, b: String, aa: String, bb: String): String =
      s"""(CAST(n AS DOUBLE) * CAST($ab AS DOUBLE) - CAST($a AS DOUBLE) * CAST($b AS DOUBLE))
        |/ sqrt((CAST(n AS DOUBLE) * CAST($aa AS DOUBLE) - CAST($a AS DOUBLE) * CAST($a AS DOUBLE))
        |  * (CAST(n AS DOUBLE) * CAST($bb AS DOUBLE) - CAST($b AS DOUBLE) * CAST($b AS DOUBLE)))""".stripMargin
    m.selectExpr("n",
        s"${corr("sxy", "sx", "sy", "sxx", "syy")} AS rxy",
        s"${corr("sxz", "sx", "sz", "sxx", "szz")} AS rxz",
        s"${corr("syz", "sy", "sz", "syy", "szz")} AS ryz")
      .selectExpr("n", "round(rxy, 6) AS rho_xy",
        "round((rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6) AS rho_partial")
  }
  val statPartialSpearmanSql: String = {
    def corr(ab: String, a: String, b: String, aa: String, bb: String): String =
      s"""(CAST(n AS DOUBLE) * CAST($ab AS DOUBLE) - CAST($a AS DOUBLE) * CAST($b AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST($aa AS DOUBLE) - CAST($a AS DOUBLE) * CAST($a AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST($bb AS DOUBLE) - CAST($b AS DOUBLE) * CAST($b AS DOUBLE)))""".stripMargin
    s"""WITH base AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS xv,
      |    CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS yv,
      |    CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS zv
      |  FROM lineitem),
      |rx AS (
      |  SELECT xv, 2 * COALESCE(sum(m) OVER (ORDER BY xv
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + m + 1 AS r_xv
      |  FROM (SELECT xv, CAST(count(*) AS BIGINT) AS m FROM base GROUP BY 1)),
      |ry AS (
      |  SELECT yv, 2 * COALESCE(sum(m) OVER (ORDER BY yv
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + m + 1 AS r_yv
      |  FROM (SELECT yv, CAST(count(*) AS BIGINT) AS m FROM base GROUP BY 1)),
      |rz AS (
      |  SELECT zv, 2 * COALESCE(sum(m) OVER (ORDER BY zv
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + m + 1 AS r_zv
      |  FROM (SELECT zv, CAST(count(*) AS BIGINT) AS m FROM base GROUP BY 1)),
      |wr AS (
      |  SELECT b.xv, b.yv, b.zv, x.r_xv, y.r_yv, z.r_zv
      |  FROM base b
      |  JOIN rx x ON x.xv = b.xv
      |  JOIN ry y ON y.yv = b.yv
      |  JOIN rz z ON z.zv = b.zv),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(r_xv) AS DECIMAL(38,0)) AS sx, CAST(sum(r_yv) AS DECIMAL(38,0)) AS sy,
      |    CAST(sum(r_zv) AS DECIMAL(38,0)) AS sz,
      |    CAST(sum(CAST(r_xv AS DECIMAL(38,0)) * r_xv) AS DECIMAL(38,0)) AS sxx,
      |    CAST(sum(CAST(r_yv AS DECIMAL(38,0)) * r_yv) AS DECIMAL(38,0)) AS syy,
      |    CAST(sum(CAST(r_zv AS DECIMAL(38,0)) * r_zv) AS DECIMAL(38,0)) AS szz,
      |    CAST(sum(CAST(r_xv AS DECIMAL(38,0)) * r_yv) AS DECIMAL(38,0)) AS sxy,
      |    CAST(sum(CAST(r_xv AS DECIMAL(38,0)) * r_zv) AS DECIMAL(38,0)) AS sxz,
      |    CAST(sum(CAST(r_yv AS DECIMAL(38,0)) * r_zv) AS DECIMAL(38,0)) AS syz
      |  FROM wr),
      |r AS (
      |  SELECT n,
      |    ${corr("sxy", "sx", "sy", "sxx", "syy")} AS rxy,
      |    ${corr("sxz", "sx", "sz", "sxx", "szz")} AS rxz,
      |    ${corr("syz", "sy", "sz", "syy", "szz")} AS ryz
      |  FROM m)
      |SELECT n, round(rxy, 6) AS rho_xy,
      |  round((rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6) AS rho_partial
      |FROM r""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_sequential_poisson" -> (sampleSequentialPoisson _),
    "win_calmar_ratio" -> (winCalmarRatio _),
    "embed_nn_margin" -> (embedNnMargin _),
    "stat_partial_spearman" -> (statPartialSpearman _),
  )

  val oracle: Map[String, String] = Map(
    "sample_sequential_poisson" -> sampleSequentialPoissonSql,
    "win_calmar_ratio" -> winCalmarRatioSql,
    "embed_nn_margin" -> embedNnMarginSql,
    "stat_partial_spearman" -> statPartialSpearmanSql,
  )
}
