package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 54 (C620–C623): sample entropy, ARCH LM test, Hopkins
  * clusterability statistic, Kish design effect.
  */
object Extras154 {

  /** C620 time_sample_entropy — SampEn(m=2, r=0.2σ) of the daily-
    * revenue series: template pairs come from a BUCKET-BANDED self-
    * join (floor(x/r) equi-key, band offsets −1/0/+1 exploded — the
    * |x_i−x_j|≤r candidates without an n² cross join, same discipline
    * as the range-binned join row), exact-count A (length-3 matches)
    * and B (length-2) over the i<j template set, SampEn = −ln(A/B).
    * r derives from the denominator-cleared exact variance; the only
    * floats are r itself and the final log.
    */
  def timeSampleEntropy(s: SparkSession, d: String): DataFrame = {
    val bars = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
    val seq0 = bars
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("x1", lead(col("c"), 1).over(w))
      .withColumn("x2", lead(col("c"), 2).over(w))
      .filter(col("x2").isNotNull)
      .selectExpr("rn", "c AS x0", "x1", "x2")
    val tot = bars.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("c")).cast("decimal(38,0)").as("sc"),
      sum(expr("CAST(c AS DECIMAL(38,0)) * c")).cast("decimal(38,0)").as("qc"))
      .selectExpr(
        "0.2 * sqrt(CAST(n * qc - sc * sc AS DOUBLE) / CAST(n * n AS DOUBLE)) AS r")
    val binned = seq0.crossJoin(broadcast(tot))
      .withColumn("b", expr("CAST(floor(x0 / r) AS BIGINT)"))
    val left = binned.select(col("rn"), col("x0"), col("x1"), col("x2"), col("r"),
      explode(array(lit(-1L), lit(0L), lit(1L))).as("d"))
      .withColumn("bj", expr("CAST(floor(x0 / r) AS BIGINT) + d"))
    val right = binned.selectExpr("rn AS rnj", "x0 AS y0", "x1 AS y1", "x2 AS y2",
      "b AS bj")
    left.join(right, Seq("bj"))
      .filter(expr("rn < rnj AND abs(y0 - x0) <= r AND abs(y1 - x1) <= r"))
      .agg(count(lit(1)).cast("long").as("b_pairs"),
        sum(expr("CASE WHEN abs(y2 - x2) <= r THEN 1L ELSE 0L END"))
          .cast("long").as("a_pairs"))
      .selectExpr("b_pairs", "a_pairs",
        "round(-ln(CAST(a_pairs AS DOUBLE) / b_pairs), 6) AS sampen")
  }
  val timeSampleEntropySql: String =
    """WITH bars AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |seq0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
      |    c AS x0, lead(c, 1) OVER (ORDER BY day) AS x1,
      |    lead(c, 2) OVER (ORDER BY day) AS x2
      |  FROM bars QUALIFY x2 IS NOT NULL),
      |tot AS (
      |  SELECT 0.2 * sqrt(CAST(n * qc - sc * sc AS DOUBLE) / CAST(n * n AS DOUBLE)) AS r
      |  FROM (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
      |    CAST(sum(c) AS DECIMAL(38,0)) AS sc,
      |    CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS qc
      |  FROM bars)),
      |lft AS (
      |  SELECT s.rn, s.x0, s.x1, s.x2, t.r,
      |    CAST(floor(s.x0 / t.r) AS BIGINT) + d.d AS bj
      |  FROM seq0 s, tot t, (SELECT unnest([-1, 0, 1]) AS d) d),
      |rgt AS (
      |  SELECT s.rn AS rnj, s.x0 AS y0, s.x1 AS y1, s.x2 AS y2,
      |    CAST(floor(s.x0 / t.r) AS BIGINT) AS bj
      |  FROM seq0 s, tot t),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS b_pairs,
      |    CAST(sum(CASE WHEN abs(y2 - x2) <= r THEN 1 ELSE 0 END) AS BIGINT)
      |      AS a_pairs
      |  FROM lft JOIN rgt USING (bj)
      |  WHERE rn < rnj AND abs(y0 - x0) <= r AND abs(y1 - x1) <= r)
      |SELECT b_pairs, a_pairs,
      |  round(-ln(CAST(a_pairs AS DOUBLE) / b_pairs), 6) AS sampen
      |FROM m""".stripMargin

  /** C621 stat_arch_lm — Engle's ARCH LM test (lag 1) for volatility
    * clustering in daily revenue: deviations use the INTEGER floor
    * mean (e = c − S div n — exact, identical both engines; the <1
    * unit mean offset is part of the metric's definition here, keeping
    * e² products inside DECIMAL(38)), the e²_t on e²_{t−1} regression
    * R² comes from denominator-cleared exact moments over the bounded
    * daily frame, LM = n·R² and its χ²(1) 5% gate as final doubles.
    */
  def statArchLm(s: SparkSession, d: String): DataFrame = {
    val bars = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    val tot = bars.agg(count(lit(1)).cast("long").as("nd"),
      sum(col("c")).cast("long").as("sc"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
    val e2 = bars.crossJoin(broadcast(tot))
      .withColumn("e", expr("c - sc div nd"))
      // quantize |e| DOWN (1e5) before squaring: raw e² cross-products
      // overflow DECIMAL(38,0) from sf0.1 up (Σu·v ~ 2.4e39) and
      // non-ANSI would return a silent NULL; the common scale cancels
      // in r². abs() keeps Spark's toward-zero div == DuckDB's floor //
      .withColumn("u", expr(
        "CAST(abs(e) div 100000 AS DECIMAL(38,0)) * (abs(e) div 100000)"))
      .withColumn("v", lead(col("u"), 1).over(w))
      .filter(col("v").isNotNull)
    e2.agg(count(lit(1)).cast("decimal(38,0)").as("m"),
        sum(col("u")).cast("decimal(38,0)").as("su"),
        sum(col("v")).cast("decimal(38,0)").as("sv"),
        sum(expr("u * v")).as("suv"),
        sum(expr("u * u")).as("suu"),
        sum(expr("v * v")).as("svv"))
      .selectExpr("CAST(m AS BIGINT) AS n_pairs",
        "CAST(m * suv - su * sv AS DOUBLE) AS cuv",
        "CAST(m * suu - su * su AS DOUBLE) AS cuu",
        "CAST(m * svv - sv * sv AS DOUBLE) AS cvv")
      .selectExpr("n_pairs",
        "round(cuv * cuv / (cuu * cvv), 6) AS r2",
        "round(n_pairs * cuv * cuv / (cuu * cvv), 4) AS lm_stat",
        "n_pairs * cuv * cuv / (cuu * cvv) > 3.841 AS reject_no_arch")
  }
  val statArchLmSql: String =
    """WITH bars AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(c) AS BIGINT) AS sc
      |  FROM bars),
      |e2 AS (
      |  SELECT CAST(abs(c - sc // nd) // 100000 AS DECIMAL(38,0))
      |    * (abs(c - sc // nd) // 100000) AS u, day
      |  FROM bars, tot),
      |uv AS (
      |  SELECT u, lead(u, 1) OVER (ORDER BY day) AS v FROM e2
      |  QUALIFY v IS NOT NULL),
      |m AS (
      |  SELECT CAST(count(*) AS DECIMAL(38,0)) AS m,
      |    CAST(sum(u) AS DECIMAL(38,0)) AS su,
      |    CAST(sum(v) AS DECIMAL(38,0)) AS sv,
      |    sum(u * v) AS suv, sum(u * u) AS suu, sum(v * v) AS svv
      |  FROM uv),
      |c AS (
      |  SELECT CAST(m AS BIGINT) AS n_pairs,
      |    CAST(m * suv - su * sv AS DOUBLE) AS cuv,
      |    CAST(m * suu - su * su AS DOUBLE) AS cuu,
      |    CAST(m * svv - sv * sv AS DOUBLE) AS cvv
      |  FROM m)
      |SELECT n_pairs,
      |  round(cuv * cuv / (cuu * cvv), 6) AS r2,
      |  round(n_pairs * cuv * cuv / (cuu * cvv), 4) AS lm_stat,
      |  n_pairs * cuv * cuv / (cuu * cvv) > 3.841 AS reject_no_arch
      |FROM c""".stripMargin

  /** C622 embed_hopkins_statistic — the Hopkins clusterability test
    * over the labeled embeddings: 50 synthetic probes are md5-seeded
    * pseudo-uniforms per dimension (the repo's cross-engine PRNG
    * idiom), scaled into the per-dim [min,max] box and NANO-QUANTIZED
    * so every distance numerator is an exact DECIMAL sum; 50 real
    * probes are the lowest vec_ids (self excluded). Both NN searches
    * are bounded probe×corpus equi-joins on the dim key — never
    * corpus×corpus. NN distances re-quantize to exact micro ints so
    * Σu and Σw are exact; H = Σu/(Σu+Σw) is the single final division.
    */
  def embedHopkinsStatistic(s: SparkSession, d: String): DataFrame = {
    val m = 50
    val comp = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"),
        expr("CAST(floor(CAST(v AS DOUBLE) * 1e9 + 0.5) AS BIGINT)").as("f"))
    val box = comp.groupBy("pos")
      .agg(min(col("f")).as("lo"), max(col("f")).as("hi"))
    val ss = embeddings(s, d).sparkSession
    val probes = ss.range(m).toDF("p")
    val synth = probes
      .crossJoin(broadcast(box))
      .withColumn("u01", expr(
        "CAST(conv(substring(md5(concat('hp:', p, ':', pos)), 1, 6), 16, 10) AS DOUBLE) / 16777216.0"))
      .withColumn("sf", expr("lo + CAST(floor(u01 * (hi - lo) + 0.5) AS BIGINT)"))
      .select(col("p"), col("pos"), col("sf"))
    val uNN = synth.join(comp.withColumnRenamed("vec_id", "q"), Seq("pos"))
      .groupBy("p", "q")
      .agg(sum(expr("CAST(sf - f AS DECIMAL(38,0)) * (sf - f)"))
        .cast("decimal(38,0)").as("d2"))
      .groupBy("p")
      .agg(min(col("d2")).as("nn2"))
      .selectExpr("'u' AS side", "nn2")
    val realProbes = comp.filter(col("vec_id") < m)
      .selectExpr("vec_id AS p", "pos", "f AS sf")
    val wNN = realProbes.join(comp.withColumnRenamed("vec_id", "q"), Seq("pos"))
      .filter(col("q") =!= col("p"))
      .groupBy("p", "q")
      .agg(sum(expr("CAST(sf - f AS DECIMAL(38,0)) * (sf - f)"))
        .cast("decimal(38,0)").as("d2"))
      .groupBy("p")
      .agg(min(col("d2")).as("nn2"))
      .selectExpr("'w' AS side", "nn2")
    // tagged union + ONE aggregate: no join of the two 1-row frames at all
    uNN.unionAll(wNN)
      .agg(sum(expr("CASE WHEN side = 'u' THEN CAST(floor(sqrt(CAST(nn2 AS DOUBLE)) / 1000 + 0.5) AS BIGINT) ELSE 0L END"))
        .cast("long").as("su"),
        sum(expr("CASE WHEN side = 'w' THEN CAST(floor(sqrt(CAST(nn2 AS DOUBLE)) / 1000 + 0.5) AS BIGINT) ELSE 0L END"))
        .cast("long").as("sw"))
      .selectExpr(s"CAST($m AS BIGINT) AS n_probes", "su", "sw",
        "round(CAST(su AS DOUBLE) / (su + sw), 6) AS hopkins_h")
  }
  val embedHopkinsStatisticSql: String =
    """WITH comp AS (
      |  SELECT e.vec_id, i.i AS pos,
      |    CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS f
      |  FROM embeddings e, (SELECT unnest(generate_series(1, 64)) AS i) i),
      |box AS (
      |  SELECT pos, min(f) AS lo, max(f) AS hi FROM comp GROUP BY 1),
      |probes AS (SELECT unnest(generate_series(0, 49)) AS p),
      |synth AS (
      |  SELECT p.p, b.pos,
      |    b.lo + CAST(floor(
      |      CAST(CAST('0x' || substr(md5('hp:' || p.p || ':' || (b.pos - 1)), 1, 6)
      |        AS BIGINT) AS DOUBLE) / 16777216.0 * (b.hi - b.lo) + 0.5) AS BIGINT)
      |      AS sf
      |  FROM probes p, box b),
      |udist AS (
      |  SELECT s.p, c.vec_id AS q,
      |    CAST(sum(CAST(s.sf - c.f AS DECIMAL(38,0)) * (s.sf - c.f))
      |      AS DECIMAL(38,0)) AS d2
      |  FROM synth s JOIN comp c USING (pos)
      |  GROUP BY 1, 2),
      |su AS (
      |  SELECT CAST(sum(CAST(floor(sqrt(CAST(nn2 AS DOUBLE)) / 1000 + 0.5)
      |    AS BIGINT)) AS BIGINT) AS su
      |  FROM (SELECT p, min(d2) AS nn2 FROM udist GROUP BY 1)),
      |wdist AS (
      |  SELECT r.vec_id AS p, c.vec_id AS q,
      |    CAST(sum(CAST(r.f - c.f AS DECIMAL(38,0)) * (r.f - c.f))
      |      AS DECIMAL(38,0)) AS d2
      |  FROM comp r JOIN comp c USING (pos)
      |  WHERE r.vec_id < 50 AND c.vec_id <> r.vec_id
      |  GROUP BY 1, 2),
      |sw AS (
      |  SELECT CAST(sum(CAST(floor(sqrt(CAST(nn2 AS DOUBLE)) / 1000 + 0.5)
      |    AS BIGINT)) AS BIGINT) AS sw
      |  FROM (SELECT p, min(d2) AS nn2 FROM wdist GROUP BY 1))
      |SELECT CAST(50 AS BIGINT) AS n_probes, su, sw,
      |  round(CAST(su AS DOUBLE) / (su + sw), 6) AS hopkins_h
      |FROM su, sw""".stripMargin

  /** C623 sample_kish_deff — Kish's design effect of size-weighted
    * document sampling (w = n_chars): deff = n·Σw²/(Σw)² and the
    * effective sample size (Σw)²/Σw² — exact integer sums in one
    * pass, one division each, with the per-source breakdown over the
    * bounded source frame.
    */
  def sampleKishDeff(s: SparkSession, d: String): DataFrame = {
    val g = documents(s, d).groupBy("source")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("n_chars")).cast("decimal(38,0)").as("sw"),
        sum(expr("n_chars * n_chars")).cast("decimal(38,0)").as("sw2"))
      .selectExpr("source", "n",
        "round(CAST(n AS DOUBLE) * CAST(sw2 AS DOUBLE) / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)), 6) AS deff",
        "round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 4) AS n_eff")
    g.orderBy("source")
  }
  val sampleKishDeffSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(count(*) AS DOUBLE)
      |    * CAST(CAST(sum(n_chars * n_chars) AS DECIMAL(38,0)) AS DOUBLE)
      |    / (CAST(CAST(sum(n_chars) AS DECIMAL(38,0)) AS DOUBLE)
      |       * CAST(CAST(sum(n_chars) AS DECIMAL(38,0)) AS DOUBLE)), 6) AS deff,
      |  round(CAST(CAST(sum(n_chars) AS DECIMAL(38,0)) AS DOUBLE)
      |    * CAST(CAST(sum(n_chars) AS DECIMAL(38,0)) AS DOUBLE)
      |    / CAST(CAST(sum(n_chars * n_chars) AS DECIMAL(38,0)) AS DOUBLE), 4) AS n_eff
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "time_sample_entropy" -> (timeSampleEntropy _),
    "stat_arch_lm" -> (statArchLm _),
    "embed_hopkins_statistic" -> (embedHopkinsStatistic _),
    "sample_kish_deff" -> (sampleKishDeff _),
  )

  val oracle: Map[String, String] = Map(
    "time_sample_entropy" -> timeSampleEntropySql,
    "stat_arch_lm" -> statArchLmSql,
    "embed_hopkins_statistic" -> embedHopkinsStatisticSql,
    "sample_kish_deff" -> sampleKishDeffSql,
  )
}
