package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 102 (C812–C815): metric-choice QA + multi-scale dispersion +
  * benchmark asymmetry — cosine-vs-Euclidean neighbor concordance,
  * the Fano factor curve, the Omega ratio, and the Jobson–Korkie
  * Sharpe-ratio test.
  *
  * Shared discipline: neighbor distances come from ·10⁶-quantized
  * component HOF sums (exact BIGINT dot products / squared
  * distances); Fano window counts are exact integers; Omega and JK
  * quantize monthly log-returns once.
  */
object Extras202 {

  /** C812 embed_cosine_euclid_concordance — does the metric CHOICE
    * change the answer? For a 100-probe limit-bounded set: top-10
    * neighbors under exact-quantized cosine vs squared-Euclidean,
    * per-probe Jaccard of the two sets, mean Jaccard + the count of
    * probes where the top-1 differs. On unnormalized embeddings the
    * two metrics disagree — this row measures by how much before
    * anyone picks an ANN index metric.
    */
  def embedCosineEuclidConcordance(s: SparkSession, d: String): DataFrame = {
    val q = embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))").as("qv"))
      // own-norm hoisted BEFORE the pair fan-out (it is per-vector, not per-pair)
      .withColumn("nq", expr("aggregate(transform(qv, a -> a * a), 0L, (acc, x) -> acc + x)"))
    val probes = q.filter(col("vec_id") < 100)
      .select(col("vec_id").as("pid"), col("qv").as("pv"), col("nq").as("np"))
      .limit(128)
    // r14: ONE codegen'd exact squared distance per pair
    // (graft.functions.QuantSqDist, guide §4) and the dot derived
    // EXACTLY from the hoisted norms: Σab = (Σa² + Σb² − Σ(a−b)²)/2 —
    // all longs (≤ ~9e13), the numerator is even by construction, so
    // the division is exact and dot is bit-identical to the old
    // interpreted zip_with fold
    val pairs = q.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        expr(s"${graft.functions.QuantSqDist.name}(qv, pv)").as("sq"),
        col("nq"), col("np"))
      .withColumn("dot", expr("(nq + np - sq) div 2"))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("pid")
      .orderBy(expr("CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE))").desc, col("vec_id").asc)
    val we = org.apache.spark.sql.expressions.Window.partitionBy("pid")
      .orderBy(col("sq").asc, col("vec_id").asc)
    val ranked = pairs
      .withColumn("rc", row_number().over(wc))
      .withColumn("re", row_number().over(we))
    val per = ranked
      .filter(expr("rc <= 10 OR re <= 10"))
      .groupBy("pid")
      .agg(sum(expr("CASE WHEN rc <= 10 AND re <= 10 THEN 1L ELSE 0L END")).cast("long").as("inter"),
        sum(expr("CASE WHEN rc <= 10 OR re <= 10 THEN 1L ELSE 0L END")).cast("long").as("uni"),
        sum(expr("CASE WHEN rc = 1 AND re = 1 THEN 1L ELSE 0L END")).cast("long").as("top1same"))
    per.agg(count(lit(1)).cast("long").as("n_probes"),
        sum(expr("CAST(floor(CAST(inter AS DOUBLE) / uni * 1e9 + 0.5) AS BIGINT)"))
          .cast("long").as("jq"),
        sum(expr("1L - top1same")).cast("long").as("top1_differs"))
      .selectExpr("n_probes",
        "round(CAST(jq AS DOUBLE) / 1e9 / n_probes, 6) AS mean_jaccard_top10",
        "top1_differs")
  }
  val embedCosineEuclidConcordanceSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS qv,
      |    CAST(list_sum(list_transform(list_transform(embedding, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)), a -> a * a)) AS BIGINT) AS nq
      |  FROM embeddings),
      |probes AS (SELECT vec_id AS pid, qv AS pv FROM q WHERE vec_id < 100),
      |pairs AS (
      |  SELECT p.pid, q.vec_id,
      |    CAST(list_sum(list_transform(list_zip(q.qv, p.pv),
      |      z -> z[1] * z[2])) AS BIGINT) AS dot,
      |    CAST(list_sum(list_transform(list_zip(q.qv, p.pv),
      |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS sq,
      |    q.nq
      |  FROM q, probes p WHERE q.vec_id <> p.pid),
      |ranked AS (
      |  SELECT pid, vec_id,
      |    row_number() OVER (PARTITION BY pid
      |      ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE)) DESC, vec_id) AS rc,
      |    row_number() OVER (PARTITION BY pid ORDER BY sq, vec_id) AS re
      |  FROM pairs),
      |per AS (
      |  SELECT pid,
      |    CAST(sum(CASE WHEN rc <= 10 AND re <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS inter,
      |    CAST(sum(CASE WHEN rc <= 10 OR re <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS uni,
      |    CAST(sum(CASE WHEN rc = 1 AND re = 1 THEN 1 ELSE 0 END) AS BIGINT) AS top1same
      |  FROM ranked WHERE rc <= 10 OR re <= 10
      |  GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_probes,
      |  round(CAST(CAST(sum(CAST(floor(CAST(inter AS DOUBLE) / uni * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |    / 1e9 / count(*), 6) AS mean_jaccard_top10,
      |  CAST(sum(1 - top1same) AS BIGINT) AS top1_differs
      |FROM per""".stripMargin

  /** C813 time_fano_factor — the Fano factor (window-count variance /
    * mean) of the event stream at 1h/6h/24h windows: exact integer
    * counts per aligned window (epoch-µs div), population moments,
    * one division per scale. Poisson ⇒ 1 at every scale; a RISING
    * curve is the multi-scale clumping signature single-scale
    * dispersion tests miss. One row per scale.
    */
  def timeFanoFactor(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d)
      .select(expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
    val scales = Seq(3600000000L, 21600000000L, 86400000000L)
    val counts = base.select(explode(array(scales.map(lit(_)): _*)).as("w"), col("us"))
      .groupBy(col("w"), expr("us div w").as("win"))
      .agg(count(lit(1)).cast("long").as("c"))
    counts.groupBy("w")
      .agg(count(lit(1)).cast("long").as("n_windows"),
        sum(col("c")).cast("decimal(38,0)").as("sc"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).cast("decimal(38,0)").as("qc"))
      .selectExpr("CAST(w div 3600000000 AS BIGINT) AS window_hours", "n_windows",
        """round(((CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n_windows) / n_windows)
          |/ (CAST(sc AS DOUBLE) / n_windows), 6) AS fano_factor""".stripMargin)
      .orderBy("window_hours")
  }
  val timeFanoFactorSql: String =
    """WITH base AS (SELECT epoch_us(ts) AS us FROM events),
      |counts AS (
      |  SELECT w.w AS w, us // w.w AS win, CAST(count(*) AS BIGINT) AS c
      |  FROM base, (SELECT unnest([CAST(3600000000 AS BIGINT),
      |    CAST(21600000000 AS BIGINT), CAST(86400000000 AS BIGINT)]) AS w) w
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS n_windows,
      |    CAST(sum(c) AS DECIMAL(38,0)) AS sc,
      |    CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS qc
      |  FROM counts GROUP BY 1)
      |SELECT CAST(w // 3600000000 AS BIGINT) AS window_hours, n_windows,
      |  round(((CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n_windows) / n_windows)
      |    / (CAST(sc AS DOUBLE) / n_windows), 6) AS fano_factor
      |FROM m ORDER BY window_hours""".stripMargin

  /** C814 win_omega_ratio — Omega(0) of the market's monthly shipped-
    * revenue log-returns: Σ gains / Σ |losses| over the ·10⁹-quantized
    * return series, plus the gain frequency. The whole-distribution
    * risk/reward ratio — uses every moment, unlike Sharpe's first two.
    */
  def winOmegaRatio(s: SparkSession, d: String): DataFrame = {
    val monthly = lineitem(s, d)
      .groupBy(expr("date_trunc('month', l_shipdate)").as("mon"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("v"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("mon").asc)
    monthly
      .withColumn("prev", lag(col("v"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(expr("CAST(floor(ln(CAST(v AS DOUBLE) / prev) * 1e9 + 0.5) AS BIGINT)").as("r"))
      .agg(count(lit(1)).cast("long").as("n_months"),
        sum(expr("CASE WHEN r > 0 THEN r ELSE 0L END")).cast("long").as("g"),
        sum(expr("CASE WHEN r < 0 THEN -r ELSE 0L END")).cast("long").as("l"),
        sum(expr("CASE WHEN r > 0 THEN 1L ELSE 0L END")).cast("long").as("ng"))
      .selectExpr("n_months",
        "CASE WHEN l = 0 THEN CAST(NULL AS DOUBLE) ELSE round(CAST(g AS DOUBLE) / l, 6) END AS omega_0",
        "round(CAST(ng AS DOUBLE) / n_months, 6) AS gain_frequency")
  }
  val winOmegaRatioSql: String =
    """WITH monthly AS (
      |  SELECT date_trunc('month', l_shipdate) AS mon,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS v
      |  FROM lineitem GROUP BY 1),
      |rets AS (
      |  SELECT CAST(floor(ln(CAST(v AS DOUBLE) / lag(v, 1) OVER (ORDER BY mon)) * 1e9 + 0.5) AS BIGINT) AS r
      |  FROM monthly),
      |f AS (SELECT r FROM rets WHERE r IS NOT NULL)
      |SELECT CAST(count(*) AS BIGINT) AS n_months,
      |  CASE WHEN CAST(sum(CASE WHEN r < 0 THEN -r ELSE 0 END) AS BIGINT) = 0 THEN CAST(NULL AS DOUBLE)
      |    ELSE round(CAST(CAST(sum(CASE WHEN r > 0 THEN r ELSE 0 END) AS BIGINT) AS DOUBLE)
      |      / CAST(sum(CASE WHEN r < 0 THEN -r ELSE 0 END) AS BIGINT), 6) END AS omega_0,
      |  round(CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS gain_frequency
      |FROM f""".stripMargin

  /** C815 stat_sharpe_jk_test — the Jobson–Korkie test (Memmel
    * correction) that two segments' Sharpe ratios differ: paired
    * monthly log-returns of the PROMO vs STANDARD part classes
    * (·10⁹-quantized once), exact pair moments →
    * z = (SR₁−SR₂)·√n / √(2(1−ρ) + ½(SR₁²+SR₂²) − SR₁SR₂(1+ρ²)).
    * The statistically honest way to compare two Sharpe numbers —
    * eyeballing them ignores their correlation.
    */
  def statSharpeJkTest(s: SparkSession, d: String): DataFrame = {
    val monthly = lineitem(s, d)
      .join(part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(expr("date_trunc('month', l_shipdate)").as("mon"))
      .agg(sum(expr(
        """CASE WHEN split_part(p_type, ' ', 1) = 'PROMO'
          |THEN CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) ELSE 0L END""".stripMargin))
        .cast("long").as("a"),
        sum(expr(
          """CASE WHEN split_part(p_type, ' ', 1) = 'STANDARD'
            |THEN CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) ELSE 0L END""".stripMargin))
          .cast("long").as("b"))
      .filter(expr("a > 0 AND b > 0"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("mon").asc)
    val rets = monthly
      .withColumn("pa", lag(col("a"), 1).over(w))
      .withColumn("pb", lag(col("b"), 1).over(w))
      .filter(col("pa").isNotNull)
      .select(expr("CAST(floor(ln(CAST(a AS DOUBLE) / pa) * 1e9 + 0.5) AS BIGINT)").as("ra"),
        expr("CAST(floor(ln(CAST(b AS DOUBLE) / pb) * 1e9 + 0.5) AS BIGINT)").as("rb"))
    rets.agg(count(lit(1)).cast("long").as("n"),
        sum(col("ra")).cast("decimal(38,0)").as("sa"),
        sum(col("rb")).cast("decimal(38,0)").as("sb"),
        sum(expr("CAST(ra AS DECIMAL(38,0)) * ra")).cast("decimal(38,0)").as("qa"),
        sum(expr("CAST(rb AS DECIMAL(38,0)) * rb")).cast("decimal(38,0)").as("qb"),
        sum(expr("CAST(ra AS DECIMAL(38,0)) * rb")).cast("decimal(38,0)").as("sab"))
      .selectExpr("n",
        "CAST(sa AS DOUBLE) / n AS ma", "CAST(sb AS DOUBLE) / n AS mb",
        "sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n) / n) AS da",
        "sqrt((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / n) / n) AS db",
        """(CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / n)
          |/ sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n)
          |  * (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / n)) AS rho""".stripMargin)
      .selectExpr("n",
        "round(ma / da, 6) AS sharpe_promo",
        "round(mb / db, 6) AS sharpe_standard",
        """round((ma / da - mb / db) * sqrt(CAST(n AS DOUBLE))
          |/ sqrt(2 * (1 - rho) + 0.5D * ((ma / da) * (ma / da) + (mb / db) * (mb / db))
          |  - (ma / da) * (mb / db) * (1 + rho * rho)), 6) AS z_jk""".stripMargin)
  }
  val statSharpeJkTestSql: String =
    """WITH monthly AS (
      |  SELECT date_trunc('month', l.l_shipdate) AS mon,
      |    CAST(sum(CASE WHEN split_part(p.p_type, ' ', 1) = 'PROMO'
      |      THEN CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN split_part(p.p_type, ' ', 1) = 'STANDARD'
      |      THEN CAST(CAST(l.l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS b
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1),
      |pos AS (SELECT * FROM monthly WHERE a > 0 AND b > 0),
      |rets AS (
      |  SELECT
      |    CAST(floor(ln(CAST(a AS DOUBLE) / lag(a, 1) OVER (ORDER BY mon)) * 1e9 + 0.5) AS BIGINT) AS ra,
      |    CAST(floor(ln(CAST(b AS DOUBLE) / lag(b, 1) OVER (ORDER BY mon)) * 1e9 + 0.5) AS BIGINT) AS rb
      |  FROM pos),
      |f AS (SELECT ra, rb FROM rets WHERE ra IS NOT NULL),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(ra) AS DECIMAL(38,0)) AS sa, CAST(sum(rb) AS DECIMAL(38,0)) AS sb,
      |    CAST(sum(CAST(ra AS DECIMAL(38,0)) * ra) AS DECIMAL(38,0)) AS qa,
      |    CAST(sum(CAST(rb AS DECIMAL(38,0)) * rb) AS DECIMAL(38,0)) AS qb,
      |    CAST(sum(CAST(ra AS DECIMAL(38,0)) * rb) AS DECIMAL(38,0)) AS sab
      |  FROM f),
      |v AS (
      |  SELECT n, CAST(sa AS DOUBLE) / n AS ma, CAST(sb AS DOUBLE) / n AS mb,
      |    sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n) / n) AS da,
      |    sqrt((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / n) / n) AS db,
      |    (CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / n)
      |      / sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n)
      |        * (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / n)) AS rho
      |  FROM m)
      |SELECT n,
      |  round(ma / da, 6) AS sharpe_promo,
      |  round(mb / db, 6) AS sharpe_standard,
      |  round((ma / da - mb / db) * sqrt(CAST(n AS DOUBLE))
      |    / sqrt(2 * (1 - rho) + 0.5 * ((ma / da) * (ma / da) + (mb / db) * (mb / db))
      |      - (ma / da) * (mb / db) * (1 + rho * rho)), 6) AS z_jk
      |FROM v""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_cosine_euclid_concordance" -> (embedCosineEuclidConcordance _),
    "time_fano_factor" -> (timeFanoFactor _),
    "win_omega_ratio" -> (winOmegaRatio _),
    "stat_sharpe_jk_test" -> (statSharpeJkTest _),
  )

  val oracle: Map[String, String] = Map(
    "embed_cosine_euclid_concordance" -> embedCosineEuclidConcordanceSql,
    "time_fano_factor" -> timeFanoFactorSql,
    "win_omega_ratio" -> winOmegaRatioSql,
    "stat_sharpe_jk_test" -> statSharpeJkTestSql,
  )
}
