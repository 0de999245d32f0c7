package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Relational core operators (SURVEY.md §2-B B1–B17, B25–B30).
  *
  * Design rules applied throughout:
  *  - R1: every output ends with a total-order sort on a unique key set.
  *  - R2: all double aggregates use the decimal pattern (Tables.dsum).
  *  - Joins: small dims (region/nation/supplier/part/customer) are
  *    broadcast explicitly so the plan stays BroadcastHashJoin at any
  *    scale factor; the fact tables (lineitem/orders/events) only ever
  *    shuffle on their join/group keys.
  */
object Relational {

  /** B1 scan_project_filter — σ(shipdate range ∧ discount band) π(5 cols).
    * Filter + projection push into the parquet scan (PushedFilters /
    * ReadSchema in explain); at 100 TB this is the difference between
    * reading 5 columns of a date-pruned subset and reading everything.
    */
  def scanProjectFilter(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_discount").between(0.05, 0.07))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  val scanProjectFilterSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** B12 agg_hash_groupby — TPC-H Q1 shape: partial+final HashAggregate,
    * map-side combine means the shuffle carries one row per (flag,status)
    * per task, not per input row — the canonical 100 TB-safe aggregation.
    */
  def aggHashGroupby(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumx(dec(col("l_extendedprice")) * oneMinus(col("l_discount"))).as("sum_disc_price"),
        dsumx(dec(col("l_extendedprice")) * oneMinus(col("l_discount")) * onePlus(col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val aggHashGroupbySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${dsumxSql(s"${decSql("l_extendedprice")} * ${oneMinusSql("l_discount")}")} AS sum_disc_price,
       |  ${dsumxSql(s"${decSql("l_extendedprice")} * ${oneMinusSql("l_discount")} * ${onePlusSql("l_tax")}")} AS sum_charge,
       |  ${davgSql("l_quantity")} AS avg_qty,
       |  ${davgSql("l_extendedprice")} AS avg_price,
       |  ${davgSql("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------------
  // Sources & sinks (B2, B3)
  // ------------------------------------------------------------------

  /** B2 scan_csv_roundtrip — write a lineitem slice as CSV, read it back
    * with an explicit schema, aggregate. Covers the CSV source+sink; the
    * oracle recomputes the same aggregate from the original parquet.
    */
  def scanCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = Scratch.dir("graft_csv_")
    val slice = lineitem(s, d)
      .filter(col("l_orderkey") % 100 === 0)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    slice.write.mode("overwrite").option("header", "true").csv(tmp)
    s.read.option("header", "true").schema(slice.schema).csv(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }
  val scanCsvRoundtripSql: String =
    s"""SELECT l_returnflag, count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem WHERE l_orderkey % 100 = 0
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** B3 sink_parquet_roundtrip — filtered orders → temp parquet → read
    * back (A17 export analogue). Oracle recomputes from the source.
    */
  def sinkParquetRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = Scratch.dir("graft_pq_")
    orders(s, d)
      .filter(col("o_totalprice") > 400000.0)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(tmp)
    s.read.parquet(tmp).orderBy("o_orderkey")
  }
  val sinkParquetRoundtripSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders WHERE o_totalprice > 400000.0
      |ORDER BY o_orderkey""".stripMargin

  /** sink_partitioned_prune — write orders partitioned by status to
    * parquet, read back ONE partition. The point at 100 TB: the filter
    * on the partition column becomes directory pruning (PartitionFilters
    * in the scan, zero data files of other statuses opened) — asserted
    * in PlanSpec. Oracle recomputes from the source table.
    */
  def sinkPartitionedPrune(s: SparkSession, d: String): DataFrame = {
    val tmp = Scratch.dir("graft_part_")
    orders(s, d)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("o_orderstatus") === "P")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }
  val sinkPartitionedPruneSql: String =
    s"""SELECT o_orderpriority, count(*) AS n, ${dsumSql("o_totalprice")} AS total
       |FROM orders WHERE o_orderstatus = 'P'
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** join_bucketed_colocated — the co-located join: orders and customer
    * both written as 8-bucket tables on the join key, then joined and
    * aggregated BY that key. Because both sides' bucketing matches the
    * join key (and bucket counts match), the join needs no Exchange on
    * either side, and the group-by on the same key rides the join's
    * distribution — the only shuffle in the whole plan is the final R1
    * output sort. PlanSpec asserts the Exchange-free join. This is the
    * 100 TB pattern for repeated fact⋈fact joins: pay the partitioned
    * write once, then every downstream join/agg on the key is
    * shuffle-free. The repartition before each write aligns data with
    * its bucket so each bucket is exactly one file.
    */
  def joinBucketedColocated(s: SparkSession, d: String): DataFrame = {
    // Table names carry the JVM pid: the backing data lives under this
    // process's scratch root, so with a persistent metastore a *previous*
    // process's registration (same dir hash, data long gone) must not
    // satisfy the tableExists guard below.
    val tag = java.lang.Long.toHexString(ProcessHandle.current().pid()) +
      "_" + java.lang.Integer.toHexString(d.hashCode & 0x7fffffff)
    val to = s"graft_bkt_orders_$tag"
    val tc = s"graft_bkt_customer_$tag"
    this.synchronized {
      if (!s.catalog.tableExists(to) || !s.catalog.tableExists(tc)) {
        val base = Scratch.dir("graft_bkt_")
        orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
          .repartition(8, col("o_custkey"))
          .write.mode("overwrite")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$base/orders").saveAsTable(to)
        customer(s, d).select("c_custkey", "c_name")
          .repartition(8, col("c_custkey"))
          .write.mode("overwrite")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$base/customer").saveAsTable(tc)
      }
    }
    s.table(to)
      .join(s.table(tc), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("c_custkey")
  }
  val joinBucketedColocatedSql: String =
    s"""SELECT c_custkey, c_name, count(*) AS n_orders,
       |  ${dsumSql("o_totalprice")} AS total_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  /** join_shuffle_hash — the SHUFFLE_HASH-hinted join: both sides
    * shuffle on the key, the smaller builds an in-memory hash table per
    * partition (no sort on either side — the win over sort-merge when
    * the build side's partitions fit in memory and spill isn't needed).
    * This completes the physical join menu exhibit: broadcast (B5),
    * sort-merge (the default for B4 at scale), bucketed-colocated
    * (C42), nested-loop theta (B10), and shuffled-hash here —
    * plan-asserted in PlanSpec. Supplier (the smaller side) is hinted
    * as the build side; at 100 TB the same hint holds as long as
    * per-partition build size stays in memory, which the partition
    * count controls.
    */
  def joinShuffleHash(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(supplier(s, d).hint("SHUFFLE_HASH"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(
        count(lit(1)).as("n_items"),
        dsumx(dec(col("l_extendedprice")) * oneMinus(col("l_discount"))).as("revenue"))
      .orderBy("s_nationkey")
  val joinShuffleHashSql: String =
    s"""SELECT s_nationkey, count(*) AS n_items,
       |  ${dsumxSql(s"${decSql("l_extendedprice")} * ${oneMinusSql("l_discount")}")} AS revenue
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** join_null_safe_eq — null-safe equality (`<=>` ≡ IS NOT DISTINCT
    * FROM): null keys match each other instead of vanishing, the
    * three-valued-logic trap behind silently-empty NOT IN / dropped
    * null-key joins. A deterministic subset of keys is nullified on
    * each side (fixture synthesis — testdata has no null keys), then
    * the null-safe join counts pairs per key INCLUDING the (null,null)
    * group. Plans as a normal hash join (null-safe equality is still
    * an equi-key for hashing: null hashes to its own bucket).
    */
  def joinNullSafeEq(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select(
      when(col("c_custkey") % 11 === 0, lit(null)).otherwise(col("c_nationkey"))
        .cast("bigint").as("nk"))
    val su = supplier(s, d).select(
      when(col("s_suppkey") % 13 === 0, lit(null)).otherwise(col("s_nationkey"))
        .cast("bigint").as("snk"))
    c.join(su, col("nk") <=> col("snk"))
      .groupBy("nk")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("nk").asc_nulls_first)
  }
  val joinNullSafeEqSql: String =
    """WITH c AS (
      |  SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_nationkey END AS nk
      |  FROM customer),
      |s AS (
      |  SELECT CASE WHEN s_suppkey % 13 = 0 THEN NULL ELSE s_nationkey END AS snk
      |  FROM supplier)
      |SELECT nk, count(*) AS n_pairs
      |FROM c JOIN s ON nk IS NOT DISTINCT FROM snk
      |GROUP BY nk ORDER BY nk ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------------------------
  // Joins (B4–B10)
  // ------------------------------------------------------------------

  /** B4 join_inner_hash — orders ⋈ customer ⋈ nation. customer/nation are
    * broadcast at test scale by Spark's own threshold; at 100 TB the
    * orders⋈customer side shuffles on the key while nation stays
    * broadcast — exactly the plan AQE picks, so no hint is forced here.
    */
  def joinInnerHash(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select("o_orderkey", "c_name", "n_name", "o_totalprice")
      .orderBy("o_orderkey")
  val joinInnerHashSql: String =
    """SELECT o_orderkey, c_name, n_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY o_orderkey""".stripMargin

  /** B5 join_broadcast — lineitem ⋈ broadcast(part), per-brand revenue.
    * The explicit broadcast() pins BroadcastHashJoin at every scale
    * factor (part is a dimension; never shuffle the fact side for it).
    */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n"),
        dsumx(dec(col("l_extendedprice")) * oneMinus(col("l_discount"))).as("revenue"))
      .orderBy("p_brand")
  val joinBroadcastSql: String =
    s"""SELECT p_brand, count(*) AS n,
       |  ${dsumxSql(s"${decSql("l_extendedprice")} * ${oneMinusSql("l_discount")}")} AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** B6 join_left_outer — every customer with null-safe order stats.
    *
    * Orders are aggregated to one row per custkey BEFORE the outer
    * join, so the join's right side is O(customers) not O(orders) and
    * no post-join re-shuffle/re-aggregation exists. Aggregate-below-
    * outer-join is the shape that survives 100×: the orders shuffle is
    * a map-side-combined group-by, and the join carries only the
    * per-customer summaries. Customers without orders fall out as
    * nulls and are coalesced to 0 — identical to grouping the raw
    * joined rows (count over nulls = 0).
    */
  def joinLeftOuter(s: SparkSession, d: String): DataFrame = {
    val ordAgg = orders(s, d)
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("ord_cnt"),
        dsum(col("o_totalprice")).as("ord_total"))
    customer(s, d)
      .join(ordAgg, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(
        col("c_custkey"),
        col("c_name"),
        coalesce(col("ord_cnt"), lit(0L)).as("order_cnt"),
        coalesce(col("ord_total"), lit(0.0)).as("total_spent"))
      .orderBy("c_custkey")
  }
  val joinLeftOuterSql: String =
    s"""SELECT c_custkey, c_name, count(o_orderkey) AS order_cnt,
       |  coalesce(${dsumSql("o_totalprice")}, 0.0) AS total_spent
       |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  /** B7 join_full_outer — nation ⟗ per-nation supplier aggregate. */
  def joinFullOuter(s: SparkSession, d: String): DataFrame = {
    val supAgg = supplier(s, d)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("supp_cnt"), dsum(col("s_acctbal")).as("total_bal"))
    nation(s, d)
      .join(supAgg, col("n_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("n_nationkey"), col("s_nationkey")).as("nationkey"),
        col("n_name"),
        coalesce(col("supp_cnt"), lit(0L)).as("supp_cnt"),
        coalesce(col("total_bal"), lit(0.0)).as("total_bal"))
      .orderBy("nationkey")
  }
  val joinFullOuterSql: String =
    s"""SELECT coalesce(n_nationkey, s_nationkey) AS nationkey, n_name,
       |  coalesce(supp_cnt, 0) AS supp_cnt, coalesce(total_bal, 0.0) AS total_bal
       |FROM nation FULL OUTER JOIN (
       |  SELECT s_nationkey, count(*) AS supp_cnt, ${dsumSql("s_acctbal")} AS total_bal
       |  FROM supplier GROUP BY s_nationkey
       |) ON n_nationkey = s_nationkey
       |ORDER BY nationkey""".stripMargin

  /** B8 join_semi — customers with ≥1 urgent order (left semi). */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** B9 join_anti — customers with no urgent orders (left anti; the
    * urgent filter keeps the result non-trivial at every scale factor —
    * every customer has at least one order in the testdata).
    */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** B10 join_range_theta — events.value binned against an inline band
    * table via a non-equi condition (BroadcastNestedLoopJoin; the band
    * side is 4 rows, broadcast — the only sane physical shape for a
    * theta join at scale).
    */
  def joinRangeTheta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      (0.0, 50.0, "v000_050"), (50.0, 100.0, "v050_100"),
      (100.0, 200.0, "v100_200"), (200.0, 600.0, "v200_600"),
    ).toDF("lo", "hi", "band")
    events(s, d)
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("band")
  }
  val joinRangeThetaSql: String =
    s"""SELECT band, count(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events JOIN (VALUES
       |  (0.0, 50.0, 'v000_050'), (50.0, 100.0, 'v050_100'),
       |  (100.0, 200.0, 'v100_200'), (200.0, 600.0, 'v200_600')
       |) AS b(lo, hi, band) ON value >= lo AND value < hi
       |GROUP BY band ORDER BY band""".stripMargin

  // ------------------------------------------------------------------
  // Aggregations (B13–B18)
  // ------------------------------------------------------------------

  /** B13 agg_distinct_count — exact distinct users per event type
    * (Expand + two-phase aggregate; exact-distinct shuffles the full key
    * set — see agg_approx_hll for the 100 TB-friendly variant).
    */
  def aggDistinctCount(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("distinct_users"), count(lit(1)).as("n"))
      .orderBy("event_type")
  val aggDistinctCountSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS distinct_users, count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** B14 agg_filtered — conditional aggregates per priority (SQL FILTER
    * clause ≡ sum(when(cond, x))).
    */
  def aggFiltered(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        coalesce(dsumx(when(col("o_orderstatus") === "F", dec(col("o_totalprice")))), lit(0.0))
          .as("f_total"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("o_cnt"))
      .orderBy("o_orderpriority")
  val aggFilteredSql: String =
    s"""SELECT o_orderpriority, count(*) AS n,
       |  coalesce(CAST(sum(${decSql("o_totalprice")}) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 0.0) AS f_total,
       |  count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** B15 agg_grouping_sets — (status), (priority), and grand total in one
    * pass (Expand operator: one scan, three grouping shapes).
    */
  def aggGroupingSets(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("graft_orders_gs")
    s.sql(s"""
      SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) AS INT) AS g_status,
             CAST(grouping(o_orderpriority) AS INT) AS g_prio,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      FROM graft_orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority
    """)
  }
  val aggGroupingSetsSql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
       |  CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
       |  count(*) AS n, ${dsumSql("o_totalprice")} AS total
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** B16 agg_rollup — customer counts by region ▸ nation with subtotals.
    * Declared via SQL: `grouping()` over rollup keys that come from a
    * multi-join trips Spark's ambiguous-self-join dataset-id check when
    * built with the Column API; the SQL route produces the identical
    * Expand plan without the tag collision. Joins hint the dims as
    * broadcast (they are dimensions at any scale).
    */
  def aggRollup(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("graft_customer_ru")
    nation(s, d).createOrReplaceTempView("graft_nation_ru")
    region(s, d).createOrReplaceTempView("graft_region_ru")
    s.sql(s"""
      SELECT /*+ BROADCAST(n, r) */ r_name, n_name,
             count(*) AS n, CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_bal,
             CAST(grouping(r_name) AS INT) AS g_r, CAST(grouping(n_name) AS INT) AS g_n
      FROM graft_customer_ru c
      JOIN graft_nation_ru n ON c_nationkey = n_nationkey
      JOIN graft_region_ru r ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY g_r, g_n, r_name, n_name
    """)
  }
  val aggRollupSql: String =
    s"""SELECT r_name, n_name, count(*) AS n, ${dsumSql("c_acctbal")} AS total_bal,
       |  CAST(grouping(r_name) AS INTEGER) AS g_r, CAST(grouping(n_name) AS INTEGER) AS g_n
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin

  /** B17 agg_cube — all four grouping shapes of (returnflag, linestatus). */
  def aggCube(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_f"),
        grouping(col("l_linestatus")).cast("int").as("g_s"))
      .orderBy(col("g_f"), col("g_s"), col("l_returnflag"), col("l_linestatus"))
  val aggCubeSql: String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty,
       |  CAST(grouping(l_returnflag) AS INTEGER) AS g_f,
       |  CAST(grouping(l_linestatus) AS INTEGER) AS g_s
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY g_f, g_s, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** B18 agg_approx_hll — HyperLogLog++ distinct estimate per event type.
    * No DuckDB oracle (different sketch); bounds-checked against the
    * exact count in scalatest. This is the 100 TB answer to B13: fixed
    * sketch size per group instead of shuffling every distinct key.
    */
  def aggApproxHll(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .orderBy("event_type")

  // ------------------------------------------------------------------
  // Sort / limit / set ops (B25–B30)
  // ------------------------------------------------------------------

  /** B25 sort_multi_key — multi-key sort, desc+asc, limit slice
    * (TakeOrderedAndProject: each partition keeps only its top 100,
    * the driver merges — no global sort materialization).
    */
  def sortMultiKey(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select("p_partkey", "p_name", "p_retailprice", "p_size")
      .orderBy(col("p_retailprice").desc, col("p_size").asc, col("p_partkey").asc)
      .limit(100)
  val sortMultiKeySql: String =
    """SELECT p_partkey, p_name, p_retailprice, p_size FROM part
      |ORDER BY p_retailprice DESC, p_size ASC, p_partkey ASC LIMIT 100""".stripMargin

  /** B26 topk_global — global top-20 lineitems by price (tie-broken). */
  def topkGlobal(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(20)
  val topkGlobalSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 20""".stripMargin

  /** B27 set_union_all — bag union of two priority slices. */
  def setUnionAll(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderpriority")
      .unionAll(
        o.filter(col("o_orderpriority") === "2-HIGH")
          .select("o_orderkey", "o_orderpriority"))
      .orderBy("o_orderpriority", "o_orderkey")
  }
  val setUnionAllSql: String =
    """SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
      |UNION ALL
      |SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '2-HIGH'
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** B28 set_union_distinct — distinct union of customer-key sets from
    * two different tables (orders ∪ events.user_id).
    */
  def setUnionDistinct(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(col("o_custkey").as("custkey"))
      .union(events(s, d).select(col("user_id").as("custkey")))
      .distinct()
      .orderBy("custkey")
  val setUnionDistinctSql: String =
    """SELECT o_custkey AS custkey FROM orders
      |UNION
      |SELECT user_id FROM events
      |ORDER BY custkey""".stripMargin

  /** B29 set_intersect — custkeys present in both orders and events. */
  def setIntersect(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(col("o_custkey").as("custkey"))
      .intersect(events(s, d).select(col("user_id").as("custkey")))
      .orderBy("custkey")
  val setIntersectSql: String =
    """SELECT o_custkey AS custkey FROM orders
      |INTERSECT
      |SELECT user_id FROM events
      |ORDER BY custkey""".stripMargin

  /** B30 set_except — nationkeys with no supplier. */
  def setExcept(s: SparkSession, d: String): DataFrame =
    nation(s, d).select("n_nationkey")
      .except(supplier(s, d).select("s_nationkey"))
      .orderBy("n_nationkey")
  val setExceptSql: String =
    """SELECT n_nationkey FROM nation
      |EXCEPT
      |SELECT s_nationkey FROM supplier
      |ORDER BY n_nationkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_project_filter" -> (scanProjectFilter _),
    "scan_csv_roundtrip" -> (scanCsvRoundtrip _),
    "sink_parquet_roundtrip" -> (sinkParquetRoundtrip _),
    "sink_partitioned_prune" -> (sinkPartitionedPrune _),
    "join_inner_hash" -> (joinInnerHash _),
    "join_broadcast" -> (joinBroadcast _),
    "join_bucketed_colocated" -> (joinBucketedColocated _),
    "join_shuffle_hash" -> (joinShuffleHash _),
    "join_null_safe_eq" -> (joinNullSafeEq _),
    "join_left_outer" -> (joinLeftOuter _),
    "join_full_outer" -> (joinFullOuter _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "join_range_theta" -> (joinRangeTheta _),
    "agg_hash_groupby" -> (aggHashGroupby _),
    "agg_distinct_count" -> (aggDistinctCount _),
    "agg_filtered" -> (aggFiltered _),
    "agg_grouping_sets" -> (aggGroupingSets _),
    "agg_rollup" -> (aggRollup _),
    "agg_cube" -> (aggCube _),
    "agg_approx_hll" -> (aggApproxHll _),
    "sort_multi_key" -> (sortMultiKey _),
    "topk_global" -> (topkGlobal _),
    "set_union_all" -> (setUnionAll _),
    "set_union_distinct" -> (setUnionDistinct _),
    "set_intersect" -> (setIntersect _),
    "set_except" -> (setExcept _),
  )

  val oracle: Map[String, String] = Map(
    "scan_project_filter" -> scanProjectFilterSql,
    "scan_csv_roundtrip" -> scanCsvRoundtripSql,
    "sink_parquet_roundtrip" -> sinkParquetRoundtripSql,
    "sink_partitioned_prune" -> sinkPartitionedPruneSql,
    "join_inner_hash" -> joinInnerHashSql,
    "join_broadcast" -> joinBroadcastSql,
    "join_bucketed_colocated" -> joinBucketedColocatedSql,
    "join_shuffle_hash" -> joinShuffleHashSql,
    "join_null_safe_eq" -> joinNullSafeEqSql,
    "join_left_outer" -> joinLeftOuterSql,
    "join_full_outer" -> joinFullOuterSql,
    "join_semi" -> joinSemiSql,
    "join_anti" -> joinAntiSql,
    "join_range_theta" -> joinRangeThetaSql,
    "agg_hash_groupby" -> aggHashGroupbySql,
    "agg_distinct_count" -> aggDistinctCountSql,
    "agg_filtered" -> aggFilteredSql,
    "agg_grouping_sets" -> aggGroupingSetsSql,
    "agg_rollup" -> aggRollupSql,
    "agg_cube" -> aggCubeSql,
    // agg_approx_hll: no oracle — HLL sketch ≠ DuckDB's; scalatest bounds-check
    "sort_multi_key" -> sortMultiKeySql,
    "topk_global" -> topkGlobalSql,
    "set_union_all" -> setUnionAllSql,
    "set_union_distinct" -> setUnionDistinctSql,
    "set_intersect" -> setIntersectSql,
    "set_except" -> setExceptSql,
  )
}
