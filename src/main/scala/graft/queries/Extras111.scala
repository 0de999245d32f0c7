package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** 111th wave — recency-decayed engagement scoring in exact
  * power-of-two fixed point, and the SKYLINE (Pareto-front) operator —
  * a classic query family (Börzsönyi et al. 2001) the engine lacked.
  */
object Extras111 {

  /** Fixed-point scale for the decay score (2²⁰) and the half-life cap
    * beyond which a contribution is exactly zero.
    */
  val DecayScale = 1048576L
  val DecayCapDays = 40L

  /** analytics_time_decay_score — per-user engagement score with
    * EXPONENTIAL RECENCY DECAY (half-life 1 day): score =
    * Σ value·2^(−age_days). Floats would make this order-sensitive;
    * instead each term is the exact integer
    * (cents · 2²⁰) div 2^min(age,40) — power-of-two denominators make
    * the division exact binary truncation, terms are longs, and the
    * per-user sum is order-free integer addition (the fixed-point
    * discipline). The reference day is the corpus max date, so the row
    * is deterministic for a given corpus. Top-20 by (score, user) — a
    * total order. One scan + one group-by; O(1) per row.
    */
  def analyticsTimeDecayScore(s: SparkSession, d: String): DataFrame = {
    val maxDay = events(s, d).agg(max(col("ts").cast("date"))).head().getDate(0)
    events(s, d)
      .select(col("user_id"),
        least(datediff(lit(maxDay), col("ts").cast("date")),
          lit(DecayCapDays)).cast("long").as("age"),
        (col("value").cast("decimal(14,2)") * 100).cast("long").as("cents"))
      .select(col("user_id"),
        expr(s"(cents * $DecayScale) div shiftleft(1L, cast(age as int))")
          .as("term"))
      .groupBy("user_id")
      .agg(sum(col("term")).as("score_fp"), count(lit(1)).as("n_events"))
      .orderBy(col("score_fp").desc, col("user_id").asc)
      .limit(20)
  }
  val analyticsTimeDecayScoreSql: String =
    s"""WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d0 FROM events),
       |terms AS (
       |  SELECT user_id,
       |    (CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) * $DecayScale)
       |      // (CAST(1 AS BIGINT) << CAST(least(
       |        datediff('day', CAST(ts AS DATE), mx.d0),
       |        $DecayCapDays) AS INTEGER)) AS term
       |  FROM events CROSS JOIN mx)
       |SELECT user_id, CAST(sum(term) AS BIGINT) AS score_fp,
       |  CAST(count(*) AS BIGINT) AS n_events
       |FROM terms GROUP BY 1
       |ORDER BY score_fp DESC, user_id ASC LIMIT 20""".stripMargin

  /** analytics_skyline_suppliers — the SKYLINE / Pareto front over
    * suppliers in the (total cost ↓ better, total quantity ↑ better)
    * plane: a supplier is ON the front iff no other supplier is at
    * most as expensive AND at least as productive with one strict
    * inequality. Computed with the sort-scan formulation, not the n²
    * anti-join: a point survives iff its qty strictly exceeds the
    * running max qty over all STRICTLY cheaper points (RANGE frame to
    * 1 PRECEDING on exact integer cents — identical frame semantics in
    * both engines) AND it holds the max qty within its own cost tie
    * group. Both dimensions are exact longs (decimal cents path), so
    * every comparison is integer. O(n log n) in suppliers — but
    * suppliers GROW with the corpus (sf×10k), so the running max over
    * strictly-cheaper points runs on GlobalRank's range-partitioned
    * two-pass prefix-max over the per-cost-group frame, never a
    * single-task global RANGE window (r12 plan-gate hardening).
    */
  def analyticsSkylineSuppliers(s: SparkSession, d: String): DataFrame = {
    val sup = lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(14,2)") * 100)
          .cast("long")).as("cost_cents"),
        sum(col("l_quantity").cast("decimal(14,2)").cast("long")).as("qty"))
    // one row per distinct cost (best_tie = max qty in the tie group);
    // exclusive prefix-max over the unique-cost order == max over all
    // STRICTLY cheaper points — the RANGE-to-1-PRECEDING semantics
    val grp = sup.groupBy("cost_cents").agg(max(col("qty")).as("best_tie"))
    val withBest = graft.plans.GlobalRank.withExclusivePrefixMax(
      grp, "best_cheaper", col("best_tie"), Seq(col("cost_cents").asc))
    sup.join(withBest, Seq("cost_cents"))
      .filter(col("qty") > coalesce(col("best_cheaper"), lit(Long.MinValue))
        && col("qty") === col("best_tie"))
      .select(col("l_suppkey"), col("cost_cents"), col("qty"))
      .orderBy("cost_cents", "l_suppkey")
  }
  val analyticsSkylineSuppliersSql: String =
    """WITH sup AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cost_cents,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(14,2)) AS BIGINT))
      |      AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1),
      |w AS (
      |  SELECT l_suppkey, cost_cents, qty,
      |    max(qty) OVER (ORDER BY cost_cents
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS best_cheaper,
      |    max(qty) OVER (PARTITION BY cost_cents) AS best_tie
      |  FROM sup)
      |SELECT l_suppkey, cost_cents, qty FROM w
      |WHERE qty > coalesce(best_cheaper, -9223372036854775808)
      |  AND qty = best_tie
      |ORDER BY cost_cents, l_suppkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "analytics_time_decay_score" -> (analyticsTimeDecayScore _),
    "analytics_skyline_suppliers" -> (analyticsSkylineSuppliers _))

  val oracle: Map[String, String] = Map(
    "analytics_time_decay_score" -> analyticsTimeDecayScoreSql,
    "analytics_skyline_suppliers" -> analyticsSkylineSuppliersSql)
}
