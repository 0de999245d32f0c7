package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.FloatVecDot.{dot, dotSql}

/** Wave 23 (C491–C496): embedding-similarity profiling, trimmed means,
  * window EXCLUDE emulation, Cramér–von Mises testing, rich-club
  * connectivity, and moving-average cross screening.
  */
object Extras123 {

  /** C491 embed_cosine_histogram — the similarity-separability
    * diagnostic for embedding spaces (cosine analogue of the C461
    * hamming profile): pairwise cosine distribution over the FIXED
    * 500-vector probe sample (O(1) in corpus size — 125k dots),
    * bucketed at 0.1. Cosine ≡ dot (C476 audits the norm contract);
    * the dot is the bit-exact `FloatVecDot` left-fold, mirrored in
    * DuckDB by the same-order list_reduce, so floor-bucketing is safe.
    */
  def embedCosineHistogram(s: SparkSession, d: String): DataFrame = {
    val sample = embeddings(s, d).filter(col("vec_id") < 500)
    val a = sample.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = sample.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    a.join(b, col("va") < col("vb"))
      .select(floor(dot("ea", "eb") * 10).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("bucket")
  }
  val embedCosineHistogramSql: String = {
    val dot = dotSql("a.embedding", "b.embedding")
    s"""WITH sample AS (SELECT * FROM embeddings WHERE vec_id < 500)
       |SELECT CAST(floor(($dot) * 10) AS BIGINT) AS bucket, count(*) AS n_pairs
       |FROM sample a JOIN sample b ON a.vec_id < b.vec_id
       |GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** C492 agg_trimmed_mean — 10% two-sided trimmed mean per event type
    * (drops the tails entirely, where C456 winsorize clamps them).
    * Deterministic trim boundary: rank on the TOTAL order (value,
    * event_id) — ties at the cut value resolve identically in both
    * engines; keep floor(n/10) < rank ≤ n − floor(n/10); mean = exact
    * cent sum / count, one IEEE division. The rank window and the
    * aggregate share the event_type partitioning.
    */
  def aggTrimmedMean(s: SparkSession, d: String): DataFrame = {
    val ranked = events(s, d)
      .select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)").as("c"),
        col("event_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy("c", "event_id")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    ranked
      .filter(col("rk") > expr("n div 10") && col("rk") <= col("n") - expr("n div 10"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"),
        round(sum(col("c")).cast("double") / count(lit(1)) / 100, 6)
          .as("trimmed_mean"))
      .orderBy("event_type")
  }
  val aggTrimmedMeanSql: String =
    """WITH ranked AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS c,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT), event_id)
      |      AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, count(*) AS n_kept,
      |  round(CAST(sum(c) AS DOUBLE) / count(*) / 100, 6) AS trimmed_mean
      |FROM ranked
      |WHERE rk > n // 10 AND rk <= n - n // 10
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** C493 sql_window_exclude — the `EXCLUDE CURRENT ROW` frame clause
    * (DuckDB/Postgres syntax Spark lacks) emulated by subtraction:
    * avg-of-neighbors = (frame_sum − current)/(frame_count − 1) over a
    * ±5-day frame on the daily revenue series. The ORACLE runs the
    * NATIVE `EXCLUDE CURRENT ROW`, certifying the rewrite
    * semantics-preserving — the same migration-certificate pattern as
    * C463 QUALIFY. Exact cent sums; one IEEE division; report = last
    * 50 days (leave-one-out neighborhood baseline, the local-anomaly
    * denominator).
    */
  def sqlWindowExclude(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    val wf = Window.orderBy("day").rowsBetween(-5, 5)
    daily
      .withColumn("fsum", sum(col("c")).over(wf).cast("long"))
      .withColumn("fcnt", count(lit(1)).over(wf))
      .withColumn("avg_others",
        round((col("fsum") - col("c")).cast("double")
          / (col("fcnt") - 1) / 100, 6))
      .withColumn("rn", row_number().over(Window.orderBy(col("day").desc)))
      .filter(col("rn") <= 50)
      .select(col("day"), round(col("c").cast("double") / 100, 6).as("revenue"),
        col("avg_others"))
      .orderBy("day")
  }
  val sqlWindowExcludeSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |x AS (
      |  SELECT day, c,
      |    CAST(sum(c) OVER (ORDER BY day
      |      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING EXCLUDE CURRENT ROW)
      |      AS BIGINT) AS osum,
      |    count(*) OVER (ORDER BY day
      |      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING EXCLUDE CURRENT ROW) AS ocnt,
      |    row_number() OVER (ORDER BY day DESC) AS rn
      |  FROM daily)
      |SELECT day, round(CAST(c AS DOUBLE) / 100, 6) AS revenue,
      |  round(CAST(osum AS DOUBLE) / ocnt / 100, 6) AS avg_others
      |FROM x WHERE rn <= 50
      |ORDER BY day""".stripMargin

  /** C494 stat_cramer_von_mises — two-sample Cramér–von Mises test
    * (click vs purchase values): T = U/(n·m·(n+m)) − (4nm−1)/(6(n+m))
    * with U = n·Σ(rᵢ−i)² + m·Σ(sⱼ−j)² over combined ranks (Anderson's
    * rank form — an L² ECDF distance, heavier in the tails than KS).
    * Ranks use the (value, event_id) TOTAL order so 2-decimal ties
    * resolve identically cross-engine; Σ(r−i)² reaches ~N³ so the
    * per-sample sums and U accumulate in DECIMAL(38,0); ONE IEEE
    * formula at the end. Both rank windows share one global sort of
    * the two-type subset.
    */
  def statCramerVonMises(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)").as("c"),
        col("event_id"))
    // combined rank via the two-pass GlobalRank (range-partition +
    // offset join) — a bare global window here would drag the full
    // two-type event subset through ONE task at cluster scale
    val sub = graft.plans.GlobalRank
      .withGlobalRowNumber(base, "r", Seq(col("c"), col("event_id")))
      .withColumn("r", col("r").cast("long"))
      .withColumn("i", row_number().over(
        Window.partitionBy("event_type").orderBy("c", "event_id")).cast("long"))
    sub.groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(expr("CAST((r - i) AS DECIMAL(38,0)) * (r - i)"))
          .cast("decimal(38,0)").as("sq"))
      .agg(
        min(col("cnt")).as("n_a"), max(col("cnt")).as("n_b"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * sq")).cast("decimal(38,0)").as("u"))
      // T = U/(nmN) − (4nm−1)/(6N) restated as ONE exact-integer ratio
      // (6U − nm(4nm−1)) / (6nmN) — a float difference of two ~0.1
      // terms was observed to straddle a round(,6) boundary at sf0.01
      .selectExpr("n_a", "n_b",
        """round(CAST(6 * u - CAST(n_a AS DECIMAL(38,0)) * n_b
          |    * (4 * CAST(n_a AS DECIMAL(38,0)) * n_b - 1) AS DOUBLE)
          |  / CAST(6 * CAST(n_a AS DECIMAL(38,0)) * n_b * (n_a + n_b) AS DOUBLE),
          |  6) AS t_stat""".stripMargin)
      .selectExpr("n_a", "n_b", "t_stat", "t_stat > 0.461 AS reject_same_dist")
  }
  val statCramerVonMisesSql: String =
    """WITH sub AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS c, event_id
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |rk AS (
      |  SELECT event_type,
      |    CAST(row_number() OVER (ORDER BY c, event_id) AS BIGINT) AS r,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY c, event_id)
      |      AS BIGINT) AS i
      |  FROM sub),
      |per AS (
      |  SELECT event_type, count(*) AS cnt,
      |    CAST(sum(CAST((r - i) AS DECIMAL(38,0)) * (r - i)) AS DECIMAL(38,0)) AS sq
      |  FROM rk GROUP BY 1),
      |u AS (
      |  SELECT min(cnt) AS n_a, max(cnt) AS n_b,
      |    CAST(sum(CAST(cnt AS DECIMAL(38,0)) * sq) AS DECIMAL(38,0)) AS u
      |  FROM per)
      |SELECT n_a, n_b,
      |  round(CAST(6 * u - CAST(n_a AS DECIMAL(38,0)) * n_b
      |      * (4 * CAST(n_a AS DECIMAL(38,0)) * n_b - 1) AS DOUBLE)
      |    / CAST(6 * CAST(n_a AS DECIMAL(38,0)) * n_b * (n_a + n_b) AS DOUBLE),
      |    6) AS t_stat,
      |  round(CAST(6 * u - CAST(n_a AS DECIMAL(38,0)) * n_b
      |      * (4 * CAST(n_a AS DECIMAL(38,0)) * n_b - 1) AS DOUBLE)
      |    / CAST(6 * CAST(n_a AS DECIMAL(38,0)) * n_b * (n_a + n_b) AS DOUBLE),
      |    6) > 0.461 AS reject_same_dist
      |FROM u""".stripMargin

  /** C495 graph_rich_club — rich-club coefficient φ(k) = 2·E_k /
    * (N_k·(N_k−1)) for k ∈ {2,4,8,16,32}: do high-degree suppliers
    * preferentially connect to each other in the co-purchase
    * projection? Edges = distinct supplier pairs sharing a customer
    * (hub-capped like every projection row — the quadratic guard);
    * degrees from one aggregate; the 5-point sweep joins against a
    * broadcast k-list and counts edges whose BOTH endpoints clear k.
    * All exact ints; one IEEE φ per k.
    */
  def graphRichClub(s: SparkSession, d: String): DataFrame = {
    // distinct projection pairs come from the shared once-per-corpus
    // CoPurchaseStage (r9) — identical pair set
    val proj = CoPurchaseStage.pairStats(s, d).select("sa", "sb")
    val deg = proj.select(col("sa").as("v")).union(proj.select(col("sb").as("v")))
      .groupBy("v").agg(count(lit(1)).cast("long").as("deg"))
    // the k-sweep EXPLODES a 5-element literal array per row (a bounded
    // generator) instead of cross-joining a broadcast k-list — same
    // row multiplication, no nested-loop join in the plan
    val kArr = array(Seq(2L, 4L, 8L, 16L, 32L).map(lit): _*)
    val nk = deg.withColumn("k", explode(kArr))
      .filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).cast("long").as("n_k"))
    val ek = proj
      .join(deg.select(col("v").as("sa"), col("deg").as("da")), "sa")
      .join(deg.select(col("v").as("sb"), col("deg").as("db")), "sb")
      .withColumn("k", explode(kArr))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy("k").agg(count(lit(1)).cast("long").as("e_k"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_k"), coalesce(col("e_k"), lit(0L)).as("e_k"),
        round(lit(2.0) * coalesce(col("e_k"), lit(0L))
          / (col("n_k") * (col("n_k") - 1)), 6).as("phi"))
      .filter(col("n_k") >= 2)
      .orderBy("k")
  }
  val graphRichClubSql: String =
    s"""WITH e0 AS (
      |  SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ec AS (
      |  SELECT sk, ck FROM (
      |    SELECT sk, ck, count(*) OVER (PARTITION BY ck) AS cdeg FROM e0)
      |  WHERE cdeg <= ${Extras63.GraphHubCap}),
      |proj AS (
      |  SELECT DISTINCT a.sk AS sa, b.sk AS sb
      |  FROM ec a JOIN ec b ON a.ck = b.ck AND a.sk < b.sk),
      |deg AS (
      |  SELECT v, count(*) AS deg FROM (
      |    SELECT sa AS v FROM proj UNION ALL SELECT sb AS v FROM proj)
      |  GROUP BY v),
      |ks AS (SELECT unnest([2, 4, 8, 16, 32]) AS k),
      |nk AS (
      |  SELECT k, count(*) AS n_k FROM deg, ks WHERE deg > k GROUP BY k),
      |ek AS (
      |  SELECT k, count(*) AS e_k
      |  FROM proj
      |  JOIN deg da ON da.v = proj.sa
      |  JOIN deg db ON db.v = proj.sb
      |  CROSS JOIN ks
      |  WHERE da.deg > k AND db.deg > k
      |  GROUP BY k)
      |SELECT CAST(nk.k AS BIGINT) AS k, CAST(n_k AS BIGINT) AS n_k,
      |  CAST(coalesce(e_k, 0) AS BIGINT) AS e_k,
      |  round(2.0 * coalesce(e_k, 0) / (n_k * (n_k - 1)), 6) AS phi
      |FROM nk LEFT JOIN ek ON nk.k = ek.k
      |WHERE n_k >= 2
      |ORDER BY k""".stripMargin

  /** C496 win_sma_cross — golden/death-cross screening with ZERO
    * floating point in the decision path: daily close in exact cents
    * (last fill by the unique orderkey·100+linenumber key), SMA50 vs
    * SMA200 compared by cross-multiplication (4·S50 vs S200 — rolling
    * sums over different lengths never divide), a cross = sign change
    * vs the lagged sign, 200-day warmup guard. The IEEE divisions
    * exist only in the two display columns.
    */
  def winSmaCross(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .select(col("l_shipdate"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)").as("pc"),
        (col("l_orderkey") * 100 + col("l_linenumber")).as("fillkey"))
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(max_by(col("pc"), col("fillkey")).as("close"))
    val wo = Window.orderBy("day")
    daily
      .withColumn("rn", row_number().over(wo))
      .withColumn("s50", sum(col("close")).over(wo.rowsBetween(-49, 0)).cast("long"))
      .withColumn("s200", sum(col("close")).over(wo.rowsBetween(-199, 0)).cast("long"))
      .withColumn("sgn", when(col("rn") < 200, lit(null).cast("int"))
        .otherwise(when(col("s50") * 4 > col("s200"), 1).otherwise(-1)))
      .withColumn("psgn", lag(col("sgn"), 1).over(wo))
      .filter(col("sgn").isNotNull && col("psgn").isNotNull
        && col("sgn") =!= col("psgn"))
      .select(col("day"),
        when(col("sgn") === 1, lit("golden")).otherwise(lit("death")).as("cross"),
        round(col("s50").cast("double") / 50 / 100, 6).as("sma50"),
        round(col("s200").cast("double") / 200 / 100, 6).as("sma200"))
      .orderBy("day")
  }
  val winSmaCrossSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    arg_max(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT),
      |      l_orderkey * 100 + l_linenumber) AS close
      |  FROM lineitem GROUP BY 1),
      |sm AS (
      |  SELECT day,
      |    row_number() OVER (ORDER BY day) AS rn,
      |    CAST(sum(close) OVER (ORDER BY day
      |      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS BIGINT) AS s50,
      |    CAST(sum(close) OVER (ORDER BY day
      |      ROWS BETWEEN 199 PRECEDING AND CURRENT ROW) AS BIGINT) AS s200
      |  FROM daily),
      |sg AS (
      |  SELECT day, s50, s200,
      |    CASE WHEN rn < 200 THEN NULL
      |         WHEN s50 * 4 > s200 THEN 1 ELSE -1 END AS sgn
      |  FROM sm),
      |cr AS (
      |  SELECT day, s50, s200, sgn,
      |    lag(sgn, 1) OVER (ORDER BY day) AS psgn
      |  FROM sg)
      |SELECT day,
      |  CASE WHEN sgn = 1 THEN 'golden' ELSE 'death' END AS cross,
      |  round(CAST(s50 AS DOUBLE) / 50 / 100, 6) AS sma50,
      |  round(CAST(s200 AS DOUBLE) / 200 / 100, 6) AS sma200
      |FROM cr
      |WHERE sgn IS NOT NULL AND psgn IS NOT NULL AND sgn <> psgn
      |ORDER BY day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_cosine_histogram" -> (embedCosineHistogram _),
    "agg_trimmed_mean" -> (aggTrimmedMean _),
    "sql_window_exclude" -> (sqlWindowExclude _),
    "stat_cramer_von_mises" -> (statCramerVonMises _),
    "graph_rich_club" -> (graphRichClub _),
    "win_sma_cross" -> (winSmaCross _),
  )

  val oracle: Map[String, String] = Map(
    "embed_cosine_histogram" -> embedCosineHistogramSql,
    "agg_trimmed_mean" -> aggTrimmedMeanSql,
    "sql_window_exclude" -> sqlWindowExcludeSql,
    "stat_cramer_von_mises" -> statCramerVonMisesSql,
    "graph_rich_club" -> graphRichClubSql,
    "win_sma_cross" -> winSmaCrossSql,
  )
}
