package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Second wave of coverage operators: RANGE window frames, ordered
  * string aggregation, pivot, and explicit skew salting.
  */
object Extras2 {

  /** win_range_interval — 30-day trailing revenue per customer: a
    * RANGE frame over event time (peer rows included by VALUE, so
    * result is independent of tie order — unlike ROWS frames, RANGE
    * needs no unique tie-break for determinism). Decimal sums (R2).
    */
  def winRangeInterval(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("graft_orders_wri")
    s.sql("""
      SELECT o_orderkey, o_custkey, o_orderdate,
        CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS trailing_30d
      FROM graft_orders_wri
      ORDER BY o_custkey, o_orderdate, o_orderkey
    """)
  }
  val winRangeIntervalSql: String =
    """SELECT o_orderkey, o_custkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS trailing_30d
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** agg_string_concat — per-nation supplier roster as one string.
    * collect_list order is shuffle-dependent, so the list is sorted
    * before joining — the deterministic form of string aggregation.
    */
  def aggStringConcat(s: SparkSession, d: String): DataFrame =
    supplier(s, d)
      .groupBy("s_nationkey")
      .agg(
        array_join(array_sort(collect_list(col("s_name"))), ",").as("roster"),
        count(lit(1)).as("n_supp"))
      .orderBy("s_nationkey")
  val aggStringConcatSql: String =
    """SELECT s_nationkey,
      |  string_agg(s_name, ',' ORDER BY s_name) AS roster,
      |  count(*) AS n_supp
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** agg_pivot — order counts + decimal totals by priority, statuses
    * pivoted to columns (RelationalGroupedDataset.pivot with explicit
    * value list — the explicit list keeps the schema static, which is
    * what you want at scale: no extra pass to discover pivot values).
    */
  def aggPivot(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_orderpriority")
  val aggPivotSql: String =
    """SELECT o_orderpriority,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
      |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** agg_salted_skew — the skew-salting pattern made explicit: a hot
    * grouping key (5 event types over the whole table) is salted into
    * 16 sub-keys for the first aggregation, then the partials combine
    * in a second, tiny aggregation. Results are identical to the plain
    * group-by (the oracle) because both phases are exact (counts +
    * decimal sums). At 100 TB this is the manual fix when one key
    * holds half the data and AQE's skew handling can't split an
    * aggregation. The salt must be deterministic per ROW (hash of the
    * row id — never rand(), which would break retry/replay semantics).
    */
  def aggSaltedSkew(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("psum"))
      .groupBy("event_type")
      .agg(sum(col("pn")).as("n"), sum(col("psum")).cast("double").as("sum_value"))
      .orderBy("event_type")
  val aggSaltedSkewSql: String =
    s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** scan_json_source — JSON-lines source+sink round-trip (third file
    * format beside Parquet/CSV): a slice of events written as JSON,
    * read back with an explicit schema (no inference pass — at scale
    * schema inference means reading everything twice), aggregated.
    */
  def scanJsonSource(s: SparkSession, d: String): DataFrame = {
    val tmp = Scratch.dir("graft_json_")
    val slice = events(s, d)
      .filter(col("event_id") % 50 === 0)
      .select("event_id", "event_type", "value")
    slice.write.mode("overwrite").json(tmp)
    s.read.schema(slice.schema).json(tmp)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }
  val scanJsonSourceSql: String =
    s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events WHERE event_id % 50 = 0
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** win_first_last — first_value / last_value / nth_value over a full
    * partition frame (unbounded both ways, so last_value is the true
    * partition max, not the running default frame), ordered with a
    * unique tie-break (N4).
    */
  def winFirstLast(s: SparkSession, d: String): DataFrame = {
    part(s, d).createOrReplaceTempView("graft_part_wfl")
    s.sql("""
      SELECT p_partkey, p_brand, p_retailprice,
        first_value(p_name) OVER w AS priciest,
        last_value(p_name) OVER w AS cheapest,
        nth_value(p_name, 2) OVER w AS runner_up
      FROM graft_part_wfl
      WINDOW w AS (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY p_partkey
    """)
  }
  val winFirstLastSql: String =
    """SELECT p_partkey, p_brand, p_retailprice,
      |  first_value(p_name) OVER w AS priciest,
      |  last_value(p_name) OVER w AS cheapest,
      |  nth_value(p_name, 2) OVER w AS runner_up
      |FROM part
      |WINDOW w AS (PARTITION BY p_brand
      |             ORDER BY p_retailprice DESC, p_partkey ASC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY p_partkey""".stripMargin

  /** agg_moment_stats — population variance/stddev of quantity and its
    * correlation with extendedprice, per returnflag. The built-in
    * var_pop/stddev/corr over doubles are shuffle-order dependent
    * (streaming covariance updates), so the moments are accumulated as
    * EXACT decimals (x and x² of 2-dp values are exact at 4 dp; so are
    * the cross products) and the closed-form combinations run in one
    * fixed IEEE sequence on both engines:
    * var = (n·Σx² − (Σx)²)/n², corr = cov/(σx·σy).
    */
  def aggMomentStats(s: SparkSession, d: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    lineitem(s, d)
      .groupBy("l_returnflag")
      // the SUMS are exact decimals (order-independent); each is cast to
      // double ONCE (one correctly-rounded conversion) and the moment
      // algebra then runs in identically-ordered IEEE doubles on both
      // engines. Decimal-domain products would overflow: DuckDB's int64
      // storage for DECIMAL(<=18) or Spark's precision-38 cap (which
      // silently rounds).
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"),
        sum(x * x).cast("double").as("sxx"),
        sum(y).cast("double").as("sy"),
        sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .select(
        col("l_returnflag"), col("n").cast("long").as("n"),
        // round(,6/,8) guards the last-ulp FMA divergence (DuckDB's C++
        // build fuses multiply-adds; the JVM does not)
        round((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * col("n")), 6).as("var_qty"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * col("n"))), 6).as("stddev_qty"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 8)
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }
  val aggMomentStatsSql: String = {
    val x = "CAST(l_quantity AS DECIMAL(14,2))"
    val y = "CAST(l_extendedprice AS DECIMAL(14,2))"
    s"""SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       |  round((n * sxx - sx * sx) / (n * n), 6) AS var_qty,
       |  round(sqrt((n * sxx - sx * sx) / (n * n)), 6) AS stddev_qty,
       |  round((n * sxy - sx * sy)
       |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 8) AS corr_qty_price
       |FROM (
       |  SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum($x) AS DOUBLE) AS sx,
       |    CAST(sum($x * $x) AS DOUBLE) AS sxx,
       |    CAST(sum($y) AS DOUBLE) AS sy,
       |    CAST(sum($y * $y) AS DOUBLE) AS syy,
       |    CAST(sum($x * $y) AS DOUBLE) AS sxy
       |  FROM lineitem GROUP BY l_returnflag) t
       |ORDER BY l_returnflag""".stripMargin
  }

  /** agg_mode — deterministic mode: the most frequent order priority
    * per order status, ties broken toward the lexicographically
    * smallest value. Built-in `mode()` leaves tie order
    * engine-defined, so both sides use the explicit two-level
    * aggregation instead: count per (group, value) — map-side combined
    * — then min_by over the (−count, value) ordering struct, which IS
    * the (max count, min value) argmax. Two keyed shuffles, no window,
    * deterministic on any engine.
    */
  def aggMode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.orders(s, d)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("o_orderstatus")
      .agg(
        min_by(col("o_orderpriority"),
          struct((-col("cnt")).as("nc"), col("o_orderpriority"))).as("mode_priority"),
        max(col("cnt")).as("mode_count"))
      .orderBy("o_orderstatus")
  }
  val aggModeSql: String =
    """SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
      |FROM (
      |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority) t
      |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_mode" -> (aggMode _),
    "agg_moment_stats" -> (aggMomentStats _),
    "scan_json_source" -> (scanJsonSource _),
    "win_first_last" -> (winFirstLast _),
    "win_range_interval" -> (winRangeInterval _),
    "agg_string_concat" -> (aggStringConcat _),
    "agg_pivot" -> (aggPivot _),
    "agg_salted_skew" -> (aggSaltedSkew _),
  )
  val oracle: Map[String, String] = Map(
    "agg_mode" -> aggModeSql,
    "agg_moment_stats" -> aggMomentStatsSql,
    "scan_json_source" -> scanJsonSourceSql,
    "win_first_last" -> winFirstLastSql,
    "win_range_interval" -> winRangeIntervalSql,
    "agg_string_concat" -> aggStringConcatSql,
    "agg_pivot" -> aggPivotSql,
    "agg_salted_skew" -> aggSaltedSkewSql,
  )
}
