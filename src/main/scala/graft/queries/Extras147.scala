package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 47 (C592–C595): Haar wavelet energy, Bartels rank test,
  * underwater duration, intrinsic dimensionality.
  */
object Extras147 {

  /** C592 time_haar_energy — 3-level UNNORMALIZED Haar decomposition
    * of daily revenue (truncated to a multiple of 8 days): detail
    * coefficients are pairwise differences of pairwise sums — pure
    * integers, so the per-level energies ΣD² are exact DECIMALs and
    * the energy shares + fixed-order entropy close in one chain. The
    * multi-resolution complement of C562's single-scale DFT. Three
    * bounded grouped aggregations, no window at all.
    */
  def timeHaarEnergy(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
      .withColumn("t", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .filter(expr("t <= (n div 8) * 8"))
    def level(in: DataFrame): DataFrame = in
      .groupBy(expr("(t + 1) div 2").as("t"))
      .agg(
        sum(expr("CASE WHEN t % 2 = 1 THEN c ELSE 0L END")).cast("long").as("lo"),
        sum(expr("CASE WHEN t % 2 = 0 THEN c ELSE 0L END")).cast("long").as("hi"))
      .selectExpr("t", "lo + hi AS c", "hi - lo AS dd")
    val l1 = level(daily.select(col("t"), col("c")))
    val l2 = level(l1.select(col("t"), col("c")))
    val l3 = level(l2.select(col("t"), col("c")))
    def energy(df: DataFrame, name: String) =
      df.agg(sum(expr("CAST(dd AS DECIMAL(38,0)) * dd")).as(name))
    energy(l1, "e1").crossJoin(broadcast(energy(l2, "e2")))
      .crossJoin(broadcast(energy(l3, "e3")))
      .selectExpr(
        "CAST(e1 AS DOUBLE) AS d1", "CAST(e2 AS DOUBLE) AS d2",
        "CAST(e3 AS DOUBLE) AS d3")
      .selectExpr("d1 + d2 + d3 AS et", "d1", "d2", "d3")
      .selectExpr(
        "round(d1 / et, 6) AS share_l1",
        "round(d2 / et, 6) AS share_l2",
        "round(d3 / et, 6) AS share_l3",
        """round(-((CASE WHEN d1 > 0 THEN d1 / et * ln(d1 / et) ELSE 0.0 END)
          |  + (CASE WHEN d2 > 0 THEN d2 / et * ln(d2 / et) ELSE 0.0 END)
          |  + (CASE WHEN d3 > 0 THEN d3 / et * ln(d3 / et) ELSE 0.0 END)), 6)
          |  AS scale_entropy""".stripMargin)
  }
  val timeHaarEnergySql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |idx AS (
      |  SELECT c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |    CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM daily),
      |d0 AS (SELECT t, c FROM idx WHERE t <= (n // 8) * 8),
      |l1 AS (
      |  SELECT (t + 1) // 2 AS t,
      |    CAST(sum(CASE WHEN t % 2 = 1 THEN c ELSE 0 END)
      |      + sum(CASE WHEN t % 2 = 0 THEN c ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN t % 2 = 0 THEN c ELSE 0 END)
      |      - sum(CASE WHEN t % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS dd
      |  FROM d0 GROUP BY 1),
      |l2 AS (
      |  SELECT (t + 1) // 2 AS t,
      |    CAST(sum(CASE WHEN t % 2 = 1 THEN c ELSE 0 END)
      |      + sum(CASE WHEN t % 2 = 0 THEN c ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN t % 2 = 0 THEN c ELSE 0 END)
      |      - sum(CASE WHEN t % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS dd
      |  FROM l1 GROUP BY 1),
      |l3 AS (
      |  SELECT (t + 1) // 2 AS t,
      |    CAST(sum(CASE WHEN t % 2 = 0 THEN c ELSE 0 END)
      |      - sum(CASE WHEN t % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS dd
      |  FROM l2 GROUP BY 1),
      |ee AS (
      |  SELECT
      |    CAST((SELECT sum(CAST(dd AS DECIMAL(38,0)) * dd) FROM l1) AS DOUBLE) AS d1,
      |    CAST((SELECT sum(CAST(dd AS DECIMAL(38,0)) * dd) FROM l2) AS DOUBLE) AS d2,
      |    CAST((SELECT sum(CAST(dd AS DECIMAL(38,0)) * dd) FROM l3) AS DOUBLE) AS d3),
      |tt AS (SELECT d1 + d2 + d3 AS et, d1, d2, d3 FROM ee)
      |SELECT round(d1 / et, 6) AS share_l1,
      |  round(d2 / et, 6) AS share_l2,
      |  round(d3 / et, 6) AS share_l3,
      |  round(-((CASE WHEN d1 > 0 THEN d1 / et * ln(d1 / et) ELSE 0.0 END)
      |    + (CASE WHEN d2 > 0 THEN d2 / et * ln(d2 / et) ELSE 0.0 END)
      |    + (CASE WHEN d3 > 0 THEN d3 / et * ln(d3 / et) ELSE 0.0 END)), 6)
      |    AS scale_entropy
      |FROM tt""".stripMargin

  /** C593 stat_bartels_rank — Bartels' rank version of the von
    * Neumann ratio (randomness against trend/autocorrelation): ranks
    * are a PERMUTATION of 1..n (total order (c, day)), so the
    * denominator is the closed form n(n²−1)/12 — exact — and the
    * numerator Σ(rₜ−rₜ₊₁)² is an exact DECIMAL window sum. RVN and
    * the Var≈4/n normal approximation close in one chain.
    */
  def statBartelsRank(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    val ranked = daily
      .withColumn("r", row_number().over(Window.orderBy("c", "day")).cast("long"))
      .withColumn("rn", lead(col("r"), 1).over(Window.orderBy("day")))
    ranked.agg(
        count(lit(1)).cast("long").as("n"),
        sum(expr(
          "CASE WHEN rn IS NOT NULL THEN CAST(r - rn AS DECIMAL(38,0)) * (r - rn) ELSE CAST(0 AS DECIMAL(38,0)) END"))
          .as("nm"))
      .selectExpr("n",
        """CAST(nm AS DOUBLE)
          |  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1) / 12)
          |  AS rvn""".stripMargin)
      .selectExpr("n AS n_days", "round(rvn, 6) AS rvn",
        "round((rvn - 2) / sqrt(4.0 / n), 6) AS z_stat",
        """CASE WHEN abs((rvn - 2) / sqrt(4.0 / n)) > 1.96
          |  THEN 'reject_randomness' ELSE 'random_plausible' END
          |  AS verdict_5pct""".stripMargin)
  }
  val statBartelsRankSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |ranked AS (
      |  SELECT CAST(row_number() OVER (ORDER BY c, day) AS BIGINT) AS r, day
      |  FROM daily),
      |seq AS (
      |  SELECT r, lead(r, 1) OVER (ORDER BY day) AS rn FROM ranked),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CASE WHEN rn IS NOT NULL
      |      THEN CAST(r - rn AS DECIMAL(38,0)) * (r - rn)
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS nm
      |  FROM seq),
      |rv AS (
      |  SELECT n, CAST(nm AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1) / 12) AS rvn
      |  FROM sums)
      |SELECT n AS n_days, round(rvn, 6) AS rvn,
      |  round((rvn - 2) / sqrt(4.0 / n), 6) AS z_stat,
      |  CASE WHEN abs((rvn - 2) / sqrt(4.0 / n)) > 1.96
      |    THEN 'reject_randomness' ELSE 'random_plausible' END AS verdict_5pct
      |FROM rv""".stripMargin

  /** C594 win_underwater_duration — drawdown DURATION analytics (the
    * time dimension C** drawdown magnitude misses): underwater = a
    * day below the strict running max; longest underwater stretch via
    * gaps-and-islands on the bounded daily frame; max depth as the
    * exact integer (runmax − c) argmax. One row.
    */
  def winUnderwaterDuration(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    val w = Window.orderBy("day")
    val uw = daily
      .withColumn("rm", max(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("under", (col("c") < col("rm")).cast("int"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("ru", expr(
        "CASE WHEN under = 1 THEN row_number() OVER (PARTITION BY under ORDER BY day) END"))
    val runs = uw.filter(col("under") === 1)
      .withColumn("grp", col("rn") - col("ru"))
      .groupBy("grp").agg(count(lit(1)).cast("long").as("len"))
      .agg(max(col("len")).cast("long").as("longest_underwater"))
    val stats = uw.agg(
      count(lit(1)).cast("long").as("n_days"),
      sum(col("under")).cast("long").as("n_underwater"),
      max(expr("rm - c")).cast("long").as("max_depth_cents"))
    stats.crossJoin(broadcast(runs))
      .selectExpr("n_days", "n_underwater", "longest_underwater",
        "round(CAST(max_depth_cents AS DOUBLE) / 100, 6) AS max_depth")
  }
  val winUnderwaterDurationSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |uw AS (
      |  SELECT day, c,
      |    max(c) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      |  FROM daily),
      |und AS (
      |  SELECT day, rn, rm - c AS depth,
      |    CASE WHEN c < rm THEN 1 ELSE 0 END AS under
      |  FROM uw),
      |runs AS (
      |  SELECT CAST(max(len) AS BIGINT) AS longest_underwater
      |  FROM (
      |    SELECT grp, CAST(count(*) AS BIGINT) AS len
      |    FROM (
      |      SELECT rn - row_number() OVER (ORDER BY day) AS grp
      |      FROM und WHERE under = 1)
      |    GROUP BY grp)),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(under) AS BIGINT) AS n_underwater,
      |    CAST(max(depth) AS BIGINT) AS max_depth_cents
      |  FROM und)
      |SELECT n_days, n_underwater, longest_underwater,
      |  round(CAST(max_depth_cents AS DOUBLE) / 100, 6) AS max_depth
      |FROM stats, runs""".stripMargin

  /** C595 embed_intrinsic_dim — Levina–Bickel two-NN intrinsic
    * dimensionality over the FIXED 500-vector probe sample: squared
    * L2 on the C125-quantized integers (exact), the two nearest
    * neighbors per probe by (d², vec_id), the log-ratio ln(r2²/r1²)
    * NANO-QUANTIZED so its sum is an exact long, and
    * d̂ = 2·n/Σln(r2²/r1²) in one division (TwoNN estimator —
    * d̂ = 1/mean(ln(r2/r1))). Probes with r1 = 0 (duplicate vectors)
    * drop in both engines.
    */
  def embedIntrinsicDim(s: SparkSession, d: String): DataFrame = {
    val q = embeddings(s, d).filter(col("vec_id") < 500)
      .select(col("vec_id"), expr(
        """transform(embedding,
          |  x -> cast(greatest(least(floor(cast(x as double) * 127 + 0.5), 127), -127)
          |    as bigint))""".stripMargin).as("qv"))
    // r14: codegen'd exact integer distance (graft.functions.QuantSqDist)
    // — bit-identical to the interpreted aggregate(zip_with(...)) fold
    // it replaces (exact long sums are order-independent), and it stays
    // inside the whole-stage-codegen join loop (guide §4)
    val pairs = q.select(col("vec_id").as("a"), col("qv").as("qa"))
      .join(q.select(col("vec_id").as("b"), col("qv").as("qb")),
        col("a") =!= col("b"))
      .selectExpr("a", "b",
        s"${graft.functions.QuantSqDist.name}(qa, qb) AS d2")
    // nearest by (d2, b); second nearest = min over the rest
    val first = pairs.groupBy("a").agg(min(struct(col("d2"), col("b"))).as("m"))
      .select(col("a"), col("m.d2").as("r1"), col("m.b").as("b1"))
    val second = pairs.join(first, "a")
      .filter(col("b") =!= col("b1"))
      .groupBy("a").agg(min(struct(col("d2"), col("b"))).as("m2"))
      .select(col("a"), col("m2.d2").as("r2"))
    first.join(second, "a")
      .filter(col("r1") > 0)
      .selectExpr("a",
        "CAST(floor((ln(CAST(r2 AS DOUBLE)) - ln(CAST(r1 AS DOUBLE))) * 1e9 + 0.5) AS BIGINT) AS lfx")
      .agg(count(lit(1)).cast("long").as("n_probes"),
        sum(col("lfx")).cast("long").as("slfx"))
      .selectExpr("n_probes",
        "round(2.0 * n_probes / (CAST(slfx AS DOUBLE) / 1e9), 6) AS intrinsic_dim")
  }
  val embedIntrinsicDimSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(greatest(least(floor(CAST(x AS DOUBLE) * 127 + 0.5), 127), -127)
      |        AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id < 500),
      |pairs AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b,
      |    CAST(list_aggregate(list_transform(generate_series(1, len(a.qv)),
      |      i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])), 'sum') AS BIGINT) AS d2
      |  FROM q a JOIN q b ON a.vec_id <> b.vec_id),
      |first AS (
      |  SELECT a, d2 AS r1, b AS b1 FROM (
      |    SELECT a, d2, b, row_number() OVER (PARTITION BY a ORDER BY d2, b) AS rn
      |    FROM pairs) WHERE rn = 1),
      |second AS (
      |  SELECT p.a AS a, min(p.d2) AS r2m
      |  FROM pairs p JOIN first f ON p.a = f.a AND p.b <> f.b1
      |  GROUP BY p.a),
      |lr AS (
      |  SELECT f.a AS a,
      |    CAST(floor((ln(CAST(s.r2m AS DOUBLE)) - ln(CAST(f.r1 AS DOUBLE)))
      |      * 1e9 + 0.5) AS BIGINT) AS lfx
      |  FROM first f JOIN second s ON f.a = s.a
      |  WHERE f.r1 > 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_probes,
      |  round(2.0 * count(*) / (CAST(CAST(sum(lfx) AS BIGINT) AS DOUBLE) / 1e9), 6)
      |    AS intrinsic_dim
      |FROM lr""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "time_haar_energy" -> (timeHaarEnergy _),
    "stat_bartels_rank" -> (statBartelsRank _),
    "win_underwater_duration" -> (winUnderwaterDuration _),
    "embed_intrinsic_dim" -> (embedIntrinsicDim _),
  )

  val oracle: Map[String, String] = Map(
    "time_haar_energy" -> timeHaarEnergySql,
    "stat_bartels_rank" -> statBartelsRankSql,
    "win_underwater_duration" -> winUnderwaterDurationSql,
    "embed_intrinsic_dim" -> embedIntrinsicDimSql,
  )
}
