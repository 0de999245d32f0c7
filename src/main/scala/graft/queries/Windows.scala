package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Window-function suite (SURVEY.md §2-B B19–B24) plus the as-of join
  * (B11), which Spark expresses as a window because it has no native
  * ASOF join.
  *
  * Scale notes (100 TB design): every window here partitions on a
  * high-cardinality key (brand/customer/user), so the single shuffle is
  * an even hash exchange and per-partition state is bounded — no global
  * sort. The two deliberately-unpartitioned windows (B22/B23) run on a
  * pre-aggregated daily series whose cardinality is O(days), not
  * O(events); the heavy reduction happens in a partial+final hash
  * aggregate BEFORE the single-partition window sees any data.
  *
  * Determinism (SURVEY R1/R2/N4): rank/dense_rank/percent_rank/cume_dist
  * are tie-stable by definition; row_number and ntile get a unique
  * tie-break key in their ORDER BY. All windowed sums run over exact
  * DECIMAL values (order-independent), cast to double only at the end.
  */
object Windows {

  /** B19 win_rank — rank, dense_rank, row_number of parts by retail
    * price within brand. rank/dense_rank order by price alone (their
    * tie semantics are deterministic); row_number adds p_partkey.
    */
  def winRank(s: SparkSession, d: String): DataFrame = {
    val byPrice   = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc)
    val byPriceUk = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    part(s, d)
      .select(
        col("p_brand"), col("p_partkey"), col("p_retailprice"),
        rank().over(byPrice).cast("long").as("rnk"),
        dense_rank().over(byPrice).cast("long").as("drnk"),
        row_number().over(byPriceUk).cast("long").as("rn"))
      .orderBy("p_brand", "rn")
  }
  val winRankSql: String =
    """SELECT p_brand, p_partkey, p_retailprice,
      |  rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk,
      |  dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS drnk,
      |  row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
      |FROM part
      |ORDER BY p_brand, rn""".stripMargin

  /** B20 win_topk_group — top-3 orders per customer by total price.
    * row_number + filter ≤ 3: Spark turns this into a per-group
    * partial top-k under AQE; state is 3 rows per key, never a global
    * sort — the per-group top-k shape that survives 100 TB.
    */
  def winTopkGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }
  val winTopkGroupSql: String =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** B21 win_running_sum — cumulative spend per customer over order
    * date. The running sum accumulates exact decimals (R2), so the
    * result is independent of partial-aggregation order.
    */
  def winRunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_total"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }
  val winRunningSumSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** Daily event totals as exact decimals — shared pre-aggregation for
    * B22/B23. The groupBy collapses O(events) rows to O(days) before
    * any single-partition window runs.
    */
  private def dailyEvents(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(dec(col("value"))).as("dtot"), count(lit(1)).as("n_events"))

  /** B22 win_sliding_avg — 7-row (≈7-day) moving average of daily event
    * value totals. The frame sums decimals exactly, then one double
    * division — identical in both engines regardless of how each
    * implements sliding frames (running vs segment-tree).
    */
  def winSlidingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day").asc).rowsBetween(-6, Window.currentRow)
    dailyEvents(s, d)
      .select(
        col("day"),
        col("dtot").cast("double").as("day_total"),
        (sum(col("dtot")).over(w).cast("double") / count(lit(1)).over(w)).as("avg7"))
      .orderBy("day")
  }
  val winSlidingAvgSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day,
      |         sum(CAST(value AS DECIMAL(14,2))) AS dtot
      |  FROM events GROUP BY 1)
      |SELECT day, CAST(dtot AS DOUBLE) AS day_total,
      |  CAST(sum(dtot) OVER w AS DOUBLE) / count(*) OVER w AS avg7
      |FROM daily
      |WINDOW w AS (ORDER BY day ASC ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  /** B23 win_lead_lag — day-over-day delta of daily totals via lag.
    * The subtraction happens in exact decimal, cast to double last.
    */
  def winLeadLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day").asc)
    dailyEvents(s, d)
      .select(
        col("day"),
        col("dtot").cast("double").as("day_total"),
        (col("dtot") - lag(col("dtot"), 1).over(w)).cast("double").as("delta"))
      .orderBy("day")
  }
  val winLeadLagSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day,
      |         sum(CAST(value AS DECIMAL(14,2))) AS dtot
      |  FROM events GROUP BY 1)
      |SELECT day, CAST(dtot AS DOUBLE) AS day_total,
      |  CAST(dtot - lag(dtot, 1) OVER (ORDER BY day ASC) AS DOUBLE) AS delta
      |FROM daily
      |ORDER BY day""".stripMargin

  /** B24 win_ntile_pct — quartile, percent_rank, cume_dist over customer
    * account balance.
    *
    * NOT a global single-partition window (the first plan to fall over
    * at 100×): the global row number comes from the two-pass
    * range-partitioned rank ([[graft.plans.GlobalRank]]), and every
    * analytic is derived arithmetically from (rn, n, peer bounds) —
    * exactly the definitions the window functions implement:
    *  - ntile(4): Spark's remainder rule — first n%4 buckets hold
    *    n/4+1 rows — as integer CASE arithmetic on rn;
    *  - percent_rank = (rank−1)/(n−1) with rank = min rn over the
    *    acctbal peer group (ties), one IEEE division of exact ints;
    *  - cume_dist = (max rn over peers)/n.
    * Peer bounds come from a window PARTITIONED by c_acctbal — a keyed
    * shuffle, parallel at any scale. Values are bit-identical to the
    * single-window formulation (the oracle still uses it).
    */
  def winNtilePct(s: SparkSession, d: String): DataFrame = {
    val base = customer(s, d).select(col("c_custkey"), col("c_acctbal"))
    val rned = graft.plans.GlobalRank.withGlobalRowNumber(
      base, "rn", Seq(col("c_acctbal").asc, col("c_custkey").asc))
    val total = rned.groupBy().agg(count(lit(1)).as("n"))
    val peers = Window.partitionBy("c_acctbal")
    rned.crossJoin(broadcast(total))
      .withColumn("_rank", min(col("rn")).over(peers))
      .withColumn("_peer_max", max(col("rn")).over(peers))
      .withColumn("_nb", expr("n div 4"))
      .withColumn("_rem", expr("n % 4"))
      .withColumn("_thr", expr("_rem * (_nb + 1)"))
      .select(
        col("c_custkey"), col("c_acctbal"),
        expr("""CAST(CASE WHEN rn <= _thr THEN (rn - 1) div (_nb + 1) + 1
                |          ELSE _rem + (rn - 1 - _thr) div _nb + 1 END AS BIGINT)"""
          .stripMargin).as("quartile"),
        ((col("_rank") - 1).cast("double") / (col("n") - 1)).as("pct_rank"),
        (col("_peer_max").cast("double") / col("n")).as("cdist"))
      .orderBy("c_custkey")
  }
  val winNtilePctSql: String =
    """SELECT c_custkey, c_acctbal,
      |  ntile(4)       OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile,
      |  percent_rank() OVER (ORDER BY c_acctbal ASC) AS pct_rank,
      |  cume_dist()    OVER (ORDER BY c_acctbal ASC) AS cdist
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** B11 join_asof_prev — for each purchase event, the most recent
    * strictly-prior event of the same user. Spark has no native ASOF
    * join; the idiomatic plan is a single window shuffle on user_id
    * (each user's history sorts locally) + lag — one exchange, no
    * self-join, which is also the right 100 TB shape when the "left"
    * and "right" sides are the same stream.
    */
  def joinAsofPrev(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events(s, d)
      .select(
        col("event_id"), col("user_id"), col("event_type"), col("ts"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"),
        lag(col("event_type"), 1).over(w).as("prev_event_type"),
        lag(col("ts"), 1).over(w).as("prev_ts"))
      .filter(col("event_type") === "purchase")
      .orderBy("event_id")
  }
  val joinAsofPrevSql: String =
    """SELECT * FROM (
      |  SELECT event_id, user_id, event_type, ts,
      |    lag(event_id, 1)   OVER w AS prev_event_id,
      |    lag(event_type, 1) OVER w AS prev_event_type,
      |    lag(ts, 1)         OVER w AS prev_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** join_asof_native — a true two-table ASOF join through the custom
    * physical operator ([[graft.plans.AsofJoinExec]]): each purchase
    * matched to the same user's latest view at-or-before the purchase
    * time (ties on view time broken by highest view id), left-outer.
    * EnsureRequirements plans it like a sort-merge join — one hash
    * exchange per side on user_id, in-partition sorts, then a linear
    * merge with O(1) state per key — the shape that scales where B11's
    * single-stream window form stops applying (distinct left/right
    * relations). PlanSpec asserts the custom node and its SMJ-style
    * exchanges; the oracle is the window+row_number formulation.
    */
  def joinAsofNative(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("user_id").as("v_user"),
        col("ts").as("vts"))
    graft.plans.AsofJoin.df(p, v,
      p("user_id"), v("v_user"), p("pts"), v("vts"), v("vid"))
      .select(col("pid"), col("user_id"), col("pts"),
        col("vid").as("asof_view_id"), col("vts").as("asof_view_ts"))
      .orderBy("pid")
  }
  val joinAsofNativeSql: String =
    """SELECT pid, user_id, pts, asof_view_id, asof_view_ts FROM (
      |  SELECT p.event_id AS pid, p.user_id, p.ts AS pts,
      |    v.event_id AS asof_view_id, v.ts AS asof_view_ts,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |    ON p.user_id = v.user_id AND v.ts <= p.ts) t
      |WHERE rn = 1
      |ORDER BY pid""".stripMargin

  /** win_last_ignore_nulls — the carry-forward analytic: at every
    * event, the user's most recent purchase amount (last_value IGNORE
    * NULLS over a running frame — the standard gap-filling/LOCF shape).
    * Purchases project their value, other events project null, and the
    * frame carries the last non-null forward. One keyed window shuffle
    * on user_id; deterministic via the (ts, event_id) total order.
    */
  def winLastIgnoreNulls(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(
        col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "purchase", col("value")).as("pv"))
      .withColumn("last_purchase_value", last(col("pv"), ignoreNulls = true).over(w))
      .select("event_id", "user_id", "ts", "event_type", "last_purchase_value")
      .orderBy("event_id")
  }
  val winLastIgnoreNullsSql: String =
    """SELECT event_id, user_id, ts, event_type,
      |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
      |FROM events ORDER BY event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_rank" -> (winRank _),
    "win_topk_group" -> (winTopkGroup _),
    "win_running_sum" -> (winRunningSum _),
    "win_sliding_avg" -> (winSlidingAvg _),
    "win_lead_lag" -> (winLeadLag _),
    "win_ntile_pct" -> (winNtilePct _),
    "join_asof_prev" -> (joinAsofPrev _),
    "join_asof_native" -> (joinAsofNative _),
    "win_last_ignore_nulls" -> (winLastIgnoreNulls _),
  )

  val oracle: Map[String, String] = Map(
    "win_rank" -> winRankSql,
    "win_topk_group" -> winTopkGroupSql,
    "win_running_sum" -> winRunningSumSql,
    "win_sliding_avg" -> winSlidingAvgSql,
    "win_lead_lag" -> winLeadLagSql,
    "win_ntile_pct" -> winNtilePctSql,
    "join_asof_prev" -> joinAsofPrevSql,
    "join_asof_native" -> joinAsofNativeSql,
    "win_last_ignore_nulls" -> winLastIgnoreNullsSql,
  )
}
