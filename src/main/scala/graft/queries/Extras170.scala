package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 70 (C684–C687): Kupiec VaR backtest, Hellinger distance,
  * volume profile, local outlier factor.
  */
object Extras170 {

  /** C684 stat_kupiec_pof — Kupiec's proportion-of-failures VaR
    * backtest, properly OUT-OF-SAMPLE: the 5% historical VaR comes
    * from the first half of the daily-return series (exact order
    * statistic via rank over the bounded frame), violations count on
    * the second half, LR_pof = −2[ (n−x)ln(1−p)+x ln p − (n−x)ln(1−x̂)
    * −x ln x̂ ] in final doubles against χ²(1).
    */
  def statKupiecPof(s: SparkSession, d: String): DataFrame = {
    val bars = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    val w = Window.orderBy("day")
    val rets = bars
      .withColumn("pc", lag(col("c"), 1).over(w))
      .filter(col("pc").isNotNull)
      .withColumn("rq", expr(
        "CAST(floor((CAST(c AS DOUBLE) - pc) / pc * 1e6 + 0.5) AS BIGINT)"))
      .withColumn("rn", row_number().over(w).cast("long"))
    val tot = rets.agg(count(lit(1)).cast("long").as("m"))
    val split = rets.crossJoin(broadcast(tot))
      .withColumn("half", expr("CASE WHEN rn * 2 <= m THEN 1 ELSE 2 END"))
    val thr = split.filter(col("half") === 1)
      .withColumn("qr", row_number().over(
        Window.orderBy(col("rq").asc, col("rn").asc)).cast("long"))
      .crossJoin(broadcast(split.filter(col("half") === 1)
        .agg(count(lit(1)).cast("long").as("n1"))))
      .filter(expr("qr * 20 >= n1"))
      .agg(min(col("rq")).as("var_q"))
    split.filter(col("half") === 2)
      .crossJoin(broadcast(thr))
      .agg(count(lit(1)).cast("long").as("n_test"),
        sum(expr("CASE WHEN rq < var_q THEN 1L ELSE 0L END")).cast("long").as("x"),
        max(col("var_q")).as("var_q"))
      .selectExpr("n_test", "x",
        "round(CAST(var_q AS DOUBLE) / 1e6, 6) AS var_5pct",
        """round(-2 * ((n_test - x) * ln(0.95) + x * ln(0.05)
          |  - (CASE WHEN x = n_test THEN 0.0D
          |     ELSE (n_test - x) * ln(1 - CAST(x AS DOUBLE) / n_test) END)
          |  - (CASE WHEN x = 0 THEN 0.0D
          |     ELSE x * ln(CAST(x AS DOUBLE) / n_test) END)), 4)
          |  AS lr_pof""".stripMargin)
      .selectExpr("n_test", "x", "var_5pct", "lr_pof", "lr_pof > 3.841 AS reject_var_model")
  }
  val statKupiecPofSql: String =
    """WITH bars AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |rets0 AS (
      |  SELECT day,
      |    CAST(floor((CAST(c AS DOUBLE) - lag(c, 1) OVER (ORDER BY day))
      |      / lag(c, 1) OVER (ORDER BY day) * 1e6 + 0.5) AS BIGINT) AS rq
      |  FROM bars QUALIFY lag(c, 1) OVER (ORDER BY day) IS NOT NULL),
      |rets AS (
      |  SELECT rq, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      |  FROM rets0),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM rets),
      |split AS (
      |  SELECT rq, rn, CASE WHEN rn * 2 <= m THEN 1 ELSE 2 END AS half
      |  FROM rets, tot),
      |h1 AS (SELECT rq, rn FROM split WHERE half = 1),
      |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM h1),
      |thr AS (
      |  SELECT min(rq) AS var_q FROM (
      |    SELECT rq, CAST(row_number() OVER (ORDER BY rq, rn) AS BIGINT) AS qr
      |    FROM h1), n1
      |  WHERE qr * 20 >= n1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_test,
      |    CAST(sum(CASE WHEN rq < var_q THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    max(var_q) AS var_q
      |  FROM split, thr WHERE half = 2),
      |lr AS (
      |  SELECT n_test, x, var_q,
      |    -2 * ((n_test - x) * ln(0.95) + x * ln(0.05)
      |      - (CASE WHEN x = n_test THEN 0.0
      |         ELSE (n_test - x) * ln(1 - CAST(x AS DOUBLE) / n_test) END)
      |      - (CASE WHEN x = 0 THEN 0.0
      |         ELSE x * ln(CAST(x AS DOUBLE) / n_test) END)) AS lr_pof
      |  FROM m)
      |SELECT n_test, x,
      |  round(CAST(var_q AS DOUBLE) / 1e6, 6) AS var_5pct,
      |  round(lr_pof, 4) AS lr_pof,
      |  round(lr_pof, 4) > 3.841 AS reject_var_model
      |FROM lr""".stripMargin

  /** C685 stat_hellinger_distance — the Hellinger distance between the
    * FIRST-year and LAST-year quantity distributions (dynamic min/max
    * years — the synthetic date range is generator-dependent; the bounded-
    * support drift metric beside KL/PSI/JS): per-value √(c₁c₂) terms
    * micro-quantized over the ≤50-value frame so the Bhattacharyya sum
    * is exact, H = √(1 − BC/√(n₁n₂)).
    */
  def statHellingerDistance(s: SparkSession, d: String): DataFrame = {
    val yrs = lineitem(s, d).agg(min(year(col("l_shipdate"))).as("y1"),
      max(year(col("l_shipdate"))).as("y2"))
    val hist = lineitem(s, d)
      .crossJoin(broadcast(yrs))
      .filter(expr("year(l_shipdate) IN (y1, y2)"))
      .groupBy(expr("CAST(l_quantity AS BIGINT)").as("q"))
      .agg(sum(expr("CASE WHEN year(l_shipdate) = y1 THEN 1L ELSE 0L END"))
        .cast("long").as("c1"),
        sum(expr("CASE WHEN year(l_shipdate) = y2 THEN 1L ELSE 0L END"))
        .cast("long").as("c2"))
    val tot = hist.agg(sum(col("c1")).cast("long").as("n1"),
      sum(col("c2")).cast("long").as("n2"))
    hist.crossJoin(broadcast(tot))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(expr(
          "CAST(floor(sqrt(CAST(c1 AS DOUBLE) * c2) * 1e6 + 0.5) AS BIGINT)"))
          .cast("long").as("bc6"))
      .selectExpr("n1", "n2",
        """round(CAST(bc6 AS DOUBLE) / 1e6
          |  / sqrt(CAST(n1 AS DOUBLE) * n2), 6) AS bhattacharyya""".stripMargin)
      .selectExpr("n1", "n2", "bhattacharyya",
        "round(sqrt(1 - bhattacharyya), 6) AS hellinger")
  }
  val statHellingerDistanceSql: String =
    """WITH yrs AS (
      |  SELECT min(EXTRACT(year FROM l_shipdate)) AS y1,
      |    max(EXTRACT(year FROM l_shipdate)) AS y2
      |  FROM lineitem),
      |hist AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(sum(CASE WHEN EXTRACT(year FROM l_shipdate) = y1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN EXTRACT(year FROM l_shipdate) = y2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM lineitem, yrs WHERE EXTRACT(year FROM l_shipdate) IN (y1, y2)
      |  GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      |  FROM hist),
      |m AS (
      |  SELECT max(n1) AS n1, max(n2) AS n2,
      |    CAST(sum(CAST(floor(sqrt(CAST(c1 AS DOUBLE) * c2) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS bc6
      |  FROM hist, tot),
      |b AS (
      |  SELECT n1, n2,
      |    round(CAST(bc6 AS DOUBLE) / 1e6 / sqrt(CAST(n1 AS DOUBLE) * n2), 6)
      |      AS bhattacharyya
      |  FROM m)
      |SELECT n1, n2, bhattacharyya,
      |  round(sqrt(1 - bhattacharyya), 6) AS hellinger
      |FROM b""".stripMargin

  /** C686 win_volume_profile — the market-profile histogram: volume by
    * $100 price bucket (bounded bucket frame), the point of control
    * (max-volume bucket, low-price tie-break), and the top-bucket
    * value area covering ≥70% of volume (rank over the bounded frame;
    * the greedy-from-POC variant is documented as replaced by top-k —
    * deterministic and exact).
    */
  def winVolumeProfile(s: SparkSession, d: String): DataFrame = {
    val buckets = lineitem(s, d)
      .groupBy(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) div 10000").as("b"))
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).cast("long").as("vol"))
    val tot = buckets.agg(sum(col("vol")).cast("long").as("v"),
      count(lit(1)).cast("long").as("nb"))
    val ranked = buckets
      .withColumn("rk", row_number().over(
        Window.orderBy(col("vol").desc, col("b").asc)).cast("long"))
      .withColumn("cum", sum(col("vol")).over(
        Window.orderBy(col("vol").desc, col("b").asc)
          .rowsBetween(Window.unboundedPreceding, 0)))
    ranked.crossJoin(broadcast(tot))
      .agg(max(col("nb")).as("n_buckets"),
        max(expr("CASE WHEN rk = 1 THEN b END")).as("poc_bucket"),
        max(expr("CASE WHEN rk = 1 THEN vol END")).as("poc_vol"),
        max(col("v")).as("v"),
        // value area = smallest top-k prefix with cum*10 >= v*7
        min(expr("CASE WHEN cum * 10 >= v * 7 THEN rk END")).as("va_buckets"))
      .selectExpr("n_buckets",
        "poc_bucket * 100 AS poc_price_dollars",
        "round(CAST(poc_vol AS DOUBLE) / v, 6) AS poc_share",
        "va_buckets AS value_area_buckets")
  }
  val winVolumeProfileSql: String =
    """WITH buckets AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) // 10000 AS b,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS vol
      |  FROM lineitem GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(vol) AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS nb
      |  FROM buckets),
      |ranked AS (
      |  SELECT b, vol,
      |    CAST(row_number() OVER (ORDER BY vol DESC, b) AS BIGINT) AS rk,
      |    sum(vol) OVER (ORDER BY vol DESC, b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM buckets)
      |SELECT max(nb) AS n_buckets,
      |  max(CASE WHEN rk = 1 THEN b END) * 100 AS poc_price_dollars,
      |  round(CAST(max(CASE WHEN rk = 1 THEN vol END) AS DOUBLE) / max(v), 6)
      |    AS poc_share,
      |  CAST(min(CASE WHEN cum * 10 >= v * 7 THEN rk END) AS BIGINT)
      |    AS value_area_buckets
      |FROM ranked, tot""".stripMargin

  /** C687 embed_lof_probes — the Local Outlier Factor (k=5) census
    * over the FIXED 500-vector probe set (O(1) in the corpus, the
    * whitelisted probe discipline): pairwise distances from one
    * pos-keyed equi-join with exact DECIMAL numerators, k-distances as
    * rank-5 order statistics (partitioned windows), reach-distances,
    * LRD and LOF through equi-joins only; the census (max LOF,
    * outliers above 1.5, nano-quantized mean) is exact-summed.
    */
  def embedLofProbes(s: SparkSession, d: String): DataFrame = {
    val k = 5
    // r10-verdict perf rewrite: the distance matrix used to be built by
    // a 64-way posexplode + pos-keyed self-join (500·500·64 ≈ 16 M
    // intermediate rows shuffled into a groupBy). The 500 quantized
    // probe vectors fit in one broadcast, so the SAME exact squared
    // distances come out of one codegen graft_qsqdist pass (exact
    // integer Σ(fa−fb)², order-independent → bit-identical d; the
    // BIGINT accumulator is exact by the unit-norm bound the spec
    // asserts: Σf² ≈ 1e18 ⇒ Σ(fa−fb)² ≤ 4.0e18 < 2⁶³) with zero
    // shuffle and ~10× less intermediate volume.
    val probe = embeddings(s, d)
      .filter(col("vec_id") < 500)
      .select(col("vec_id").as("a"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1e9 + 0.5) AS BIGINT))")
          .as("fa"))
    val dist = probe
      .join(broadcast(probe.selectExpr("a AS b", "fa AS fb")), expr("a <> b"))
      .selectExpr("a", "b",
        "sqrt(CAST(graft_qsqdist(fa, fb) AS DOUBLE)) / 1e9 AS d")
      // one deliberate 250k-row exchange: the dist subtree is referenced
      // 8× through the kdist/nk/lrd/lof DAG, and without a shuffle there
      // is nothing for ReusedExchange to anchor, so the BNLJ+distance
      // pass would recompute per reference. repartition(a) also IS the
      // window's partitioning, so the k-distance rank adds no shuffle.
      .repartition(col("a"))
    val wk = Window.partitionBy("a").orderBy(col("d").asc, col("b").asc)
    val withRank = dist.withColumn("rk", row_number().over(wk))
    val kdist = withRank.filter(col("rk") === k)
      .selectExpr("a AS p", "d AS kd")
    val nk = withRank
      .join(broadcast(kdist.selectExpr("p AS a", "kd")), Seq("a"))
      .filter(expr("d <= kd"))
    val reach = nk
      .join(broadcast(kdist.selectExpr("p AS b", "kd AS kd_b")), Seq("b"))
      .withColumn("reach", expr("greatest(kd_b, d)"))
    val lrd = reach.groupBy("a")
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(expr("CAST(floor(reach * 1e9 + 0.5) AS BIGINT)")).cast("long").as("rsum"))
      .selectExpr("a", "CAST(cnt AS DOUBLE) / (CAST(rsum AS DOUBLE) / 1e9) AS lrd")
    val lof = nk.selectExpr("a", "b")
      .join(broadcast(lrd.selectExpr("a AS b", "lrd AS lrd_b")), Seq("b"))
      .groupBy("a")
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(expr("CAST(floor(lrd_b * 1e9 + 0.5) AS BIGINT)")).cast("long").as("lsum"))
      .join(broadcast(lrd), Seq("a"))
      .selectExpr("a",
        "(CAST(lsum AS DOUBLE) / 1e9 / cnt) / lrd AS lof")
    lof.agg(count(lit(1)).cast("long").as("n_probes"),
        max(expr("round(lof, 6)")).as("max_lof"),
        sum(expr("CASE WHEN lof > 1.5 THEN 1L ELSE 0L END")).cast("long").as("n_outliers"),
        sum(expr("CAST(floor(lof * 1e9 + 0.5) AS BIGINT)")).cast("long").as("lq"))
      .selectExpr("n_probes", "max_lof", "n_outliers",
        "round(CAST(lq AS DOUBLE) / n_probes / 1e9, 6) AS mean_lof")
  }
  val embedLofProbesSql: String =
    """WITH probe AS (
      |  SELECT e.vec_id, i.i AS pos,
      |    CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS f
      |  FROM embeddings e, (SELECT unnest(generate_series(1, 64)) AS i) i
      |  WHERE e.vec_id < 500),
      |dist AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b,
      |    sqrt(CAST(CAST(sum(CAST(a.f - b.f AS DECIMAL(38,0)) * (a.f - b.f)) AS DECIMAL(38,0)) AS DOUBLE)) / 1e9 AS d
      |  FROM probe a JOIN probe b ON a.pos = b.pos AND a.vec_id <> b.vec_id
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT a, b, d, row_number() OVER (PARTITION BY a ORDER BY d, b) AS rk
      |  FROM dist),
      |kdist AS (SELECT a AS p, d AS kd FROM ranked WHERE rk = 5),
      |nk AS (
      |  SELECT r.a, r.b, r.d FROM ranked r JOIN kdist k ON k.p = r.a
      |  WHERE r.d <= k.kd),
      |reach AS (
      |  SELECT nk.a, nk.b, greatest(kb.kd, nk.d) AS reach
      |  FROM nk JOIN kdist kb ON kb.p = nk.b),
      |lrd AS (
      |  SELECT a, CAST(count(*) AS DOUBLE)
      |    / (CAST(CAST(sum(CAST(floor(reach * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9) AS lrd
      |  FROM reach GROUP BY 1),
      |lof AS (
      |  SELECT nk.a,
      |    (CAST(CAST(sum(CAST(floor(lb.lrd * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9 / count(*)) / max(la.lrd) AS lof
      |  FROM nk JOIN lrd lb ON lb.a = nk.b JOIN lrd la ON la.a = nk.a
      |  GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_probes,
      |  max(round(lof, 6)) AS max_lof,
      |  CAST(sum(CASE WHEN lof > 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(CAST(CAST(sum(CAST(floor(lof * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |    / count(*) / 1e9, 6) AS mean_lof
      |FROM lof""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_kupiec_pof" -> (statKupiecPof _),
    "stat_hellinger_distance" -> (statHellingerDistance _),
    "win_volume_profile" -> (winVolumeProfile _),
    "embed_lof_probes" -> (embedLofProbes _),
  )

  val oracle: Map[String, String] = Map(
    "stat_kupiec_pof" -> statKupiecPofSql,
    "stat_hellinger_distance" -> statHellingerDistanceSql,
    "win_volume_profile" -> winVolumeProfileSql,
    "embed_lof_probes" -> embedLofProbesSql,
  )
}
