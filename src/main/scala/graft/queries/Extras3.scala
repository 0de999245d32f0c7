package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Third wave of coverage operators: the scale-safe binned range join,
  * exact heavy hitters, unpivot/melt, rank-distribution windows,
  * conditional scalar battery, SCD2 interval builds, TF-IDF term
  * ranking, stratified sampling, bloom-prefiltered joins, and LATERAL
  * top-k — each with a DuckDB oracle.
  */
object Extras3 {

  /** join_range_binned — the scale-safe form of a pure interval join
    * (no equi-key anywhere): count, per purchase event, the view
    * events (ANY user) in the preceding 60 seconds. A nested-loop
    * theta join is O(|P|·|V|); instead both sides are keyed by a
    * minute bucket — each 60-second window spans exactly two calendar
    * minutes, so the interval side explodes into its two covering
    * buckets and the point side keys by its own bucket. The theta
    * predicate then rides a plain equi-shuffle join (each candidate
    * pair meets in exactly one bucket — the point's own — so no
    * dedup), and the exact range filter prunes within buckets. At
    * 100 TB this is one hash shuffle by bucket with ~2× fan-out of
    * the smaller side instead of a broadcast-nested-loop over the
    * cross product; bucket width tunes fan-out vs candidate ratio.
    */
  def joinRangeBinned(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("ts").as("v_ts"),
        date_trunc("minute", col("ts")).as("v_bucket"))
    val pb = p.select(col("p_id"), col("p_ts"),
      explode(array(
        date_trunc("minute", col("p_ts") - expr("INTERVAL 60 SECONDS")),
        date_trunc("minute", col("p_ts")))).as("p_bucket"))
    val cnt = pb.join(v,
        col("p_bucket") === col("v_bucket") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 60 SECONDS") &&
        col("v_ts") <= col("p_ts"))
      .groupBy("p_id").agg(count(lit(1)).as("n_views"))
    p.join(cnt, Seq("p_id"), "left_outer")
      .select(col("p_id"), coalesce(col("n_views"), lit(0L)).as("n_views"))
      .orderBy("p_id")
  }
  val joinRangeBinnedSql: String =
    """WITH p AS (SELECT event_id AS p_id, ts AS p_ts FROM events
      |           WHERE event_type = 'purchase'),
      |v AS (SELECT ts AS v_ts FROM events WHERE event_type = 'view')
      |SELECT p.p_id, count(v.v_ts) AS n_views
      |FROM p LEFT JOIN v
      |  ON v.v_ts >= p.p_ts - INTERVAL 60 SECOND AND v.v_ts <= p.p_ts
      |GROUP BY p.p_id ORDER BY p.p_id""".stripMargin

  /** agg_frequent_items — exact heavy hitters: tokens present in ≥5%
    * of documents. Tokens are de-duplicated per document BEFORE the
    * global count (array_distinct rides the scan — document frequency,
    * not term frequency), so the shuffle carries one row per
    * (doc, distinct token). The 5% threshold compares integers
    * (n_docs·20 ≥ N) — no float in the filter; the published share is
    * one exact-int IEEE division. The total-count side is a one-row
    * broadcast. At scale this is the exact verification pass behind
    * sketch-based top-k (count-min / SpaceSaving): same shape, full
    * precision.
    */
  def aggFrequentItems(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val total = docs.agg(count(lit(1)).as("total"))
    docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(total))
      .filter(col("n_docs") * 20 >= col("total"))
      .select(col("token"), col("n_docs"),
        (col("n_docs").cast("double") / col("total")).as("share"))
      .orderBy("token")
  }
  val aggFrequentItemsSql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |n AS (SELECT count(*) AS total FROM documents)
      |SELECT token, count(*) AS n_docs,
      |  CAST(count(*) AS DOUBLE) / total AS share
      |FROM toks, n GROUP BY token, total
      |HAVING count(*) * 20 >= total
      |ORDER BY token""".stripMargin

  /** agg_unpivot — melt a wide per-nation metrics frame into tidy
    * (key, metric, value) rows via the native UNPIVOT operator
    * (Dataset.unpivot — a Generate under the hood, no shuffle of its
    * own: row-local fan-out riding the aggregation output). The wide
    * frame is the C26 pivot's inverse; all measures are cast to one
    * type (double) because melt requires a homogeneous value column.
    */
  def aggUnpivot(s: SparkSession, d: String): DataFrame = {
    val wide = customer(s, d)
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).cast("double").as("n_customers"),
        dsum(col("c_acctbal")).as("sum_acctbal"))
    wide.unpivot(
        Array(col("c_nationkey")),
        Array(col("n_customers"), col("sum_acctbal")),
        "metric", "value")
      .orderBy("c_nationkey", "metric")
  }
  val aggUnpivotSql: String =
    s"""WITH w AS (
       |  SELECT c_nationkey, CAST(count(*) AS DOUBLE) AS n_customers,
       |    ${dsumSql("c_acctbal")} AS sum_acctbal
       |  FROM customer GROUP BY c_nationkey)
       |SELECT c_nationkey, 'n_customers' AS metric, n_customers AS value FROM w
       |UNION ALL
       |SELECT c_nationkey, 'sum_acctbal' AS metric, sum_acctbal AS value FROM w
       |ORDER BY c_nationkey, metric""".stripMargin

  /** win_cume_dist — the rank-distribution analytics beside B24's
    * ntile: percent_rank ((rank−1)/(n−1)) and cume_dist (peers≤ / n)
    * per market segment over account balance. Both are exact integer
    * ratios finished by one IEEE division — engine-identical — and
    * both are tie-aware by definition, so no unique tie-break is
    * needed inside the window (the OUTPUT order still pins one).
    * Scale: per-segment windows partition the shuffle; no global sort.
    */
  def winCumeDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    customer(s, d).select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cum_dist"))
      .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
  }
  val winCumeDistSql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      |  percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal)
      |    AS pct_rank,
      |  cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal)
      |    AS cum_dist
      |FROM customer
      |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin

  /** cond_funcs — the conditional scalar battery: multi-branch CASE,
    * NULLIF∘COALESCE (sentinel → null → default), LEAST/GREATEST over
    * dates. All row-local codegen'd expressions riding the scan —
    * the point is cross-engine semantic agreement (branch order,
    * null propagation, date comparison), not plan shape.
    */
  def condFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
        col("o_orderkey"),
        when(col("o_totalprice") > 200000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("size_class"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open"))
          .as("status_or_open"),
        least(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .as("date_floor95"),
        greatest(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .as("date_cap95"))
      .orderBy("o_orderkey")
  val condFuncsSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 200000 THEN 'big'
      |       WHEN o_totalprice > 100000 THEN 'mid'
      |       ELSE 'small' END AS size_class,
      |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
      |  least(o_orderdate, DATE '1995-01-01') AS date_floor95,
      |  greatest(o_orderdate, DATE '1995-01-01') AS date_cap95
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** dim_scd2_intervals — build a type-2 slowly-changing dimension
    * from an ordered change history: each customer's orders become
    * validity intervals [valid_from, valid_to) via lead() over
    * (custkey, date, key), the open interval marked current. One
    * window shuffle partitioned by the dimension key — the standard
    * distributed SCD2 build (no self-join, no driver loop); at 100 TB
    * the partition key spreads and the frame is (1 following), so
    * state per key is O(1).
    */
  def dimScd2Intervals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate").as("valid_from"),
        lead(col("o_orderdate"), 1).over(w).as("valid_to"))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }
  val dimScd2IntervalsSql: String =
    """SELECT o_custkey, o_orderkey, o_orderstatus,
      |  o_orderdate AS valid_from,
      |  lead(o_orderdate, 1) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to,
      |  CASE WHEN lead(o_orderdate, 1) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL
      |    THEN 1 ELSE 0 END AS is_current
      |FROM orders
      |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin

  /** text_tfidf_topterms — per-document top-3 terms by TF-IDF. The
    * idf is kept RATIONAL (tf·N/df as one exact-int product finished
    * by one IEEE division) instead of log-scaled: ln() is libm- and
    * engine-specific, and monotone transforms don't change the
    * ranking — determinism by construction, not tolerance. Shape:
    * token explode → (doc,term) count → per-term doc frequency →
    * broadcast N → per-doc window top-3; the df table is term-keyed
    * (vocabulary-sized, ≪ corpus) and the final window partitions by
    * doc. Ties break on term asc.
    */
  def textTfidfTopterms(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val total = docs.agg(count(lit(1)).as("total"))
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(total))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        ((col("tf") * col("total")).cast("double") / col("df")).as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= 3)
      .select("doc_id", "term", "tf", "df", "score", "rk")
      .orderBy("doc_id", "rk")
  }
  val textTfidfTopterms_Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS total FROM documents),
      |sc AS (
      |  SELECT doc_id, tf.term AS term, tf, df,
      |    CAST(tf * total AS DOUBLE) / df AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf * total AS DOUBLE) / df DESC, tf.term) AS rk
      |  FROM tf JOIN dfreq USING (term), n)
      |SELECT doc_id, term, tf, df, score, rk
      |FROM sc WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** sample_stratified — per-stratum sampling rates (en 50%, other
    * languages 20%) decided by the md5 hash of the stable key — the
    * deterministic form of `DataFrame.stat.sampleBy` (whose seeded
    * sampling is engine-specific): assignment survives reshuffling,
    * re-runs, and corpus growth, and the rate is auditable from the
    * hash threshold. One map-side-combinable aggregation; counts per
    * stratum published beside the sampled size.
    */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 2))
      .withColumn("thresh", when(col("lang") === "en", "80").otherwise("33"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("h") < col("thresh"), 1)).as("n_sampled"))
      .orderBy("lang")
  val sampleStratifiedSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  count(*) FILTER (
      |    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |      CASE WHEN lang = 'en' THEN '80' ELSE '33' END) AS n_sampled
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** join_bloom_prefilter — the runtime-filter pattern made explicit:
    * build a bloom filter over the SELECTIVE dimension's join keys
    * (DataFrameStatFunctions.bloomFilter — a distributed, mergeable
    * sketch aggregation), broadcast it, and prune the fact scan
    * BEFORE the shuffle; the exact join then removes the false
    * positives, so the result is bit-identical to the plain join
    * (which is the oracle). This is what Spark's own
    * runtime.bloomFilter optimization injects at scale — written out
    * so the mechanism is visible and tunable (n≈dim keys, fpp 1%).
    * At 100 TB the win is shuffle volume: only ~sel+fpp of the fact
    * rows leave the scan stage. The mightContain probe is a UDF by
    * necessity (the sketch is an opaque JVM object; no builtin
    * Column form) — row-local, no state, broadcast-shared.
    */
  def joinBloomPrefilter(s: SparkSession, d: String): DataFrame = {
    val dim = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val bf = dim.stat.bloomFilter("o_orderkey", 100000, 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    val might = udf((k: Long) => bfB.value.mightContain(k))
    lineitem(s, d)
      .filter(might(col("l_orderkey")))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        dsumx(dec(col("l_extendedprice")) * oneMinus(col("l_discount")))
          .as("revenue"))
      .orderBy("l_returnflag")
  }
  val joinBloomPrefilterSql: String =
    s"""SELECT l_returnflag, count(*) AS n_items,
       |  ${dsumxSql(s"${decSql("l_extendedprice")} * ${oneMinusSql("l_discount")}")}
       |    AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** join_lateral_topk — correlated LATERAL subquery: for every
    * nation, its top-2 customers by account balance. Catalyst
    * decorrelates the lateral into a per-key window/limit (no
    * per-row re-execution — the rewrite is the whole point: the
    * naive reading is O(|nation|) subquery runs, the plan is one
    * partitioned top-k). Ties break on custkey.
    */
  def joinLateralTopk(s: SparkSession, d: String): DataFrame = {
    nation(s, d).createOrReplaceTempView("graft_nation_lat")
    customer(s, d).createOrReplaceTempView("graft_cust_lat")
    s.sql("""
      SELECT n.n_nationkey, n.n_name, t.c_custkey, t.c_acctbal
      FROM graft_nation_lat n,
      LATERAL (SELECT c_custkey, c_acctbal FROM graft_cust_lat c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      ORDER BY n.n_nationkey, t.c_acctbal DESC, t.c_custkey
    """)
  }
  val joinLateralTopkSql: String =
    """SELECT n.n_nationkey, n.n_name, t.c_custkey, t.c_acctbal
      |FROM nation n,
      |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
      |         WHERE c.c_nationkey = n.n_nationkey
      |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      |ORDER BY n.n_nationkey, t.c_acctbal DESC, t.c_custkey""".stripMargin

  /** scan_text_source — the line-oriented `text` source/sink as a
    * fourth format beside parquet/CSV/JSON: docs serialize to
    * tab-delimited lines (corpus verified tab/newline-free), read
    * back through `spark.read.text`, split on the FIRST tab only
    * (limit-2 split — text may contain further tabs in general), and
    * prove the round trip by re-deriving a value the oracle computes
    * from the source table. The text source is the 100 TB ingest
    * format for raw corpora: splittable, schema-free, one row per
    * line.
    */
  def scanTextSource(s: SparkSession, d: String): DataFrame = {
    val tmp = Scratch.dir("graft_txt_") + "/docs"
    documents(s, d)
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("value"))
      .write.mode("overwrite").text(tmp)
    s.read.text(tmp)
      .select(
        split(col("value"), "\t", 2).getItem(0).cast("bigint").as("doc_id"),
        split(col("value"), "\t", 2).getItem(1).as("text"))
      .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars_rt"))
      .orderBy("doc_id")
  }
  val scanTextSourceSql: String =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_rt
      |FROM documents ORDER BY doc_id""".stripMargin

  /** hof_array_reduce — the higher-order-function battery with SCALAR
    * outputs (B35 covered element access; this is transform / filter /
    * aggregate / containment as codegen'd lambda pipelines): per doc,
    * token-length sum via aggregate(transform(...)), max length,
    * long-token count via size(filter(...)), and membership. All
    * integer math — HOF fold order is sequential in both engines but
    * int addition is order-free anyway.
    */
  def hofArrayReduce(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
        col("doc_id"),
        expr("aggregate(transform(split(text, ' '), t -> length(t)), 0L, (acc, x) -> acc + x)")
          .as("sum_len"),
        expr("array_max(transform(split(text, ' '), t -> length(t)))")
          .cast("bigint").as("max_len"),
        expr("size(filter(split(text, ' '), t -> length(t) >= 6))")
          .cast("bigint").as("n_long"),
        when(array_contains(split(col("text"), " "), "data"), 1).otherwise(0)
          .as("has_data"))
      .orderBy("doc_id")
  val hofArrayReduceSql: String =
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t)))
      |    AS BIGINT) AS sum_len,
      |  CAST(list_max(list_transform(string_split(text, ' '), t -> length(t)))
      |    AS BIGINT) AS max_len,
      |  CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 6))
      |    AS BIGINT) AS n_long,
      |  CASE WHEN list_contains(string_split(text, ' '), 'data')
      |    THEN 1 ELSE 0 END AS has_data
      |FROM documents ORDER BY doc_id""".stripMargin

  /** store_time_travel — snapshot versioning over the keyed store
    * (C20's CRUD surface): init → upsert → delete produce manifests
    * v1..v3; the query reads v1 (time travel) and CURRENT in the same
    * plan and publishes the per-priority drift between them. Segments
    * are immutable and manifests are retained, so `readAt(v)` is a
    * pure metadata operation — the Delta/Iceberg `VERSION AS OF`
    * mechanism at any scale (the manifest lists segment dirs; no data
    * is copied to keep history).
    */
  def storeTimeTravel(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("graft_tt_") + "/orders"
    val store = new graft.sources.DatasetStore(s, path, "o_orderkey")
    // store only the columns the dimension needs — the store
    // materializes its input, so projection must happen before init
    // (Catalyst can't prune through an already-written segment)
    val base = orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
    store.init(base) // v1
    store.upsert(base.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("o_totalprice",
        (dec(col("o_totalprice")) + lit(25.50).cast(M)).cast("double"))) // v2
    store.delete(col("o_orderstatus") === "P") // v3
    val a1 = store.readAt(1).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_v1"), dsum(col("o_totalprice")).as("total_v1"))
    val now = store.read().groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_now"), dsum(col("o_totalprice")).as("total_now"))
    a1.join(now, Seq("o_orderpriority"))
      .orderBy("o_orderpriority")
  }
  val storeTimeTravelSql: String =
    s"""WITH v1 AS (
       |  SELECT o_orderpriority, count(*) AS n_v1,
       |    ${dsumSql("o_totalprice")} AS total_v1
       |  FROM orders GROUP BY o_orderpriority),
       |nw AS (
       |  SELECT o_orderpriority, count(*) AS n_now,
       |    ${dsumSql("o_totalprice")} AS total_now
       |  FROM (
       |    SELECT o_orderpriority, o_orderstatus,
       |      CASE WHEN o_orderpriority = '1-URGENT'
       |           THEN CAST(CAST(o_totalprice AS DECIMAL(14,2))
       |                     + CAST(25.50 AS DECIMAL(14,2)) AS DOUBLE)
       |           ELSE o_totalprice END AS o_totalprice
       |    FROM orders) t
       |  WHERE o_orderstatus <> 'P'
       |  GROUP BY o_orderpriority)
       |SELECT o_orderpriority, n_v1, total_v1, n_now, total_now
       |FROM v1 JOIN nw USING (o_orderpriority)
       |ORDER BY o_orderpriority""".stripMargin

  /** join_reused_exchange — week-over-week revenue: one aggregation
    * (priority × day) self-joined at a 7-day lag. The two join inputs
    * are the IDENTICAL subplan, and Spark's exchange reuse detects it
    * — the aggregation computes and shuffles ONCE (ReusedExchange in
    * the plan, PlanSpec-asserted). At 100 TB that halves the heavy
    * scan+agg work; the pattern generalizes to any self-comparison
    * (WoW/YoY, cohort vs cohort) — write the same plan twice and let
    * the optimizer dedupe, no manual caching.
    */
  def joinReusedExchange(s: SparkSession, d: String): DataFrame = {
    def daily = orders(s, d)
      .groupBy("o_orderpriority", "o_orderdate")
      .agg(dsum(col("o_totalprice")).as("total"))
    val cur = daily
    val prev = daily
      .withColumnsRenamed(Map("o_orderdate" -> "prev_date", "total" -> "total_prev7"))
    cur.join(prev,
        cur("o_orderpriority") === prev("o_orderpriority") &&
        prev("prev_date") === cur("o_orderdate") - expr("INTERVAL 7 DAYS"))
      .select(cur("o_orderpriority"), col("o_orderdate"), col("total"), col("total_prev7"))
      .orderBy("o_orderpriority", "o_orderdate")
  }
  val joinReusedExchangeSql: String =
    s"""WITH ag AS (
       |  SELECT o_orderpriority, o_orderdate,
       |    ${dsumSql("o_totalprice")} AS total
       |  FROM orders GROUP BY o_orderpriority, o_orderdate)
       |SELECT a.o_orderpriority, a.o_orderdate, a.total AS total,
       |  b.total AS total_prev7
       |FROM ag a JOIN ag b
       |  ON a.o_orderpriority = b.o_orderpriority
       | AND b.o_orderdate = a.o_orderdate - INTERVAL 7 DAY
       |ORDER BY a.o_orderpriority, a.o_orderdate""".stripMargin

  /** typed_agg_column — a typed `Aggregator` flowing through the
    * typed aggregation path (`groupByKey(...).agg(agg.toColumn)`),
    * the compile-time-checked sibling of B39's untyped `udaf()`
    * registration: quantity-weighted average price per return flag.
    * The buffer is a pair of exact longs (cents·qty, qty) — integer
    * merge in any order, one final IEEE division; Catalyst plans it
    * as a two-phase object hash aggregate.
    */
  def typedAggColumn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val prepared = lineitem(s, d).select(
        col("l_returnflag").as("flag"),
        (dec(col("l_extendedprice")) * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .as[(String, Long, Long)]
    val wavg = new org.apache.spark.sql.expressions.Aggregator[
        (String, Long, Long), (Long, Long), Double] {
      def zero: (Long, Long) = (0L, 0L)
      def reduce(b: (Long, Long), a: (String, Long, Long)): (Long, Long) =
        (b._1 + a._2 * a._3, b._2 + a._3)
      def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
        (x._1 + y._1, x._2 + y._2)
      def finish(r: (Long, Long)): Double = r._1.toDouble / r._2.toDouble
      def bufferEncoder = implicitly[org.apache.spark.sql.Encoder[(Long, Long)]]
      def outputEncoder = implicitly[org.apache.spark.sql.Encoder[Double]]
    }
    prepared.groupByKey(_._1)
      .agg(wavg.toColumn.name("wavg_cents"))
      .toDF("l_returnflag", "wavg_cents")
      .orderBy("l_returnflag")
  }
  val typedAggColumnSql: String =
    s"""SELECT l_returnflag,
       |  CAST(sum(CAST(${decSql("l_extendedprice")} * 100 AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
       |  / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS wavg_cents
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** event_funnel — ordered, windowed funnel analysis (signup → view
    * within 24 h → purchase within 24 h of that view): each stage's
    * timestamp must follow the PREVIOUS stage's within the conversion
    * window, which a flat per-type min cannot express — the funnel is
    * three chained per-user aggregations, each a join on the user key
    * + filter + min. All shuffles share the user_id key so the plan
    * reuses one partitioning across stages; output is the stage
    * census (24 h window measured: 111/24/15 at sf0.01 — real
    * drop-off, not a degenerate all-converted funnel).
    */
  def eventFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t_signup"))
    val s2 = ev.filter(col("event_type") === "view")
      .join(s1, "user_id")
      .filter(col("ts") > col("t_signup") &&
        col("ts") <= col("t_signup") + expr("INTERVAL 24 HOURS"))
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts") > col("t_view") &&
        col("ts") <= col("t_view") + expr("INTERVAL 24 HOURS"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    ev.select("user_id").distinct()
      .join(s1, Seq("user_id"), "left_outer")
      .join(s2, Seq("user_id"), "left_outer")
      .join(s3, Seq("user_id"), "left_outer")
      .select(
        when(col("t_purchase").isNotNull, "3_purchase")
          .when(col("t_view").isNotNull, "2_view")
          .when(col("t_signup").isNotNull, "1_signup")
          .otherwise("0_none").as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }
  val eventFunnelSql: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t_signup FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t_view
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'view' AND e.ts > s1.t_signup
      |    AND e.ts <= s1.t_signup + INTERVAL 24 HOUR
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t_view
      |    AND e.ts <= s2.t_view + INTERVAL 24 HOUR
      |  GROUP BY e.user_id),
      |u AS (SELECT DISTINCT user_id FROM events)
      |SELECT CASE WHEN s3.t_purchase IS NOT NULL THEN '3_purchase'
      |            WHEN s2.t_view IS NOT NULL THEN '2_view'
      |            WHEN s1.t_signup IS NOT NULL THEN '1_signup'
      |            ELSE '0_none' END AS stage,
      |  count(*) AS n_users
      |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |       LEFT JOIN s3 USING (user_id)
      |GROUP BY stage ORDER BY stage""".stripMargin

  /** retention_cohorts — the classic cohort-retention triangle: users
    * cohorted by first-activity day, one row per (cohort, day-offset)
    * counting users active that day. Two aggregations keyed by
    * user_id (first-seen + distinct active days) joined on the same
    * key, then a calendar diff — at 100 TB both aggregations combine
    * map-side and the join is co-partitioned; the triangle itself is
    * tiny (days²).
    */
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select("user_id", "ts")
    val firsts = ev.groupBy("user_id")
      .agg(date_trunc("day", min("ts")).as("cohort_day"))
    val activity = ev
      .select(col("user_id"), date_trunc("day", col("ts")).as("active_day"))
      .distinct()
    activity.join(firsts, "user_id")
      .select(col("cohort_day"),
        datediff(col("active_day"), col("cohort_day")).cast("bigint")
          .as("day_offset"))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }
  val retentionCohortsSql: String =
    """WITH firsts AS (
      |  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
      |  FROM events GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day
      |  FROM events)
      |SELECT cohort_day,
      |  CAST(date_diff('day', cohort_day, active_day) AS BIGINT) AS day_offset,
      |  count(*) AS n_active
      |FROM activity JOIN firsts USING (user_id)
      |GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** regexp_funcs — the regex battery beyond B31's literal replace:
    * capture-group extraction, global char-class replacement (DuckDB
    * replaces FIRST match by default — the 'g' flag is the parity
    * trap), match counting, and boolean match. Patterns stay in the
    * RE2-compatible subset both engines treat identically. All
    * codegen'd built-ins riding the scan.
    */
  def regexpFuncs(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
        col("doc_id"),
        nullif(regexp_extract(col("text"), "([a-z]{6,})", 1), lit(""))
          .as("first_long"),
        length(regexp_replace(col("text"), "[aeiou]", "")).cast("bigint")
          .as("len_novowel"),
        regexp_count(col("text"), lit("ing\\b")).cast("bigint").as("n_ing"),
        when(col("text").rlike("\\bdata\\b"), 1).otherwise(0).as("has_data"))
      .orderBy("doc_id")
  val regexpFuncsSql: String =
    """SELECT doc_id,
      |  nullif(regexp_extract(text, '([a-z]{6,})', 1), '') AS first_long,
      |  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
      |    AS len_novowel,
      |  CAST(len(regexp_extract_all(text, 'ing\b')) AS BIGINT) AS n_ing,
      |  CASE WHEN regexp_matches(text, '\bdata\b') THEN 1 ELSE 0 END
      |    AS has_data
      |FROM documents ORDER BY doc_id""".stripMargin

  /** agg_hll_merge — MERGEABLE distinct-count sketches, the property
    * that makes approximate distinct work at 100 TB: per-type HLL
    * sketches of the user set (hll_sketch_agg — Apache DataSketches)
    * are aggregated per shard, then hll_union_agg combines them into
    * the overall estimate WITHOUT re-reading data — re-aggregation of
    * pre-aggregated sketches, the cube/rollup pattern for distinct
    * counts. No DuckDB oracle (approximate by design); SketchSpec
    * asserts the union's estimate equals the direct one-pass sketch
    * exactly (merge determinism) and is within 5% of exact.
    */
  def aggHllMerge(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val perType = ev.groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val overall = perType
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))
      .select(lit("ALL").as("event_type"), col("est_users"))
    perType
      .select(col("event_type"),
        expr("hll_sketch_estimate(sk)").as("est_users"))
      .unionByName(overall)
      .orderBy("event_type")
  }

  /** scan_merge_schema — parquet schema evolution: batch 1 writes two
    * columns, batch 2 adds two more; `mergeSchema` reads the union
    * schema with nulls backfilled for the old files, and the batch=N
    * directory names surface as a discovered partition column. This
    * is the append-only evolution contract a long-lived 100 TB corpus
    * relies on (never rewrite old files to add a column); mergeSchema
    * costs a footer read per file — at scale you pin the merged
    * schema in a metastore instead, which is why it's off by default.
    */
  def scanMergeSchema(s: SparkSession, d: String): DataFrame = {
    val tmp = Scratch.dir("graft_evo_") + "/cust"
    val c = customer(s, d)
    c.select("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$tmp/batch=1")
    c.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmp/batch=2")
    s.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy(col("batch").cast("bigint").as("batch"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("c_acctbal")).as("n_with_acctbal"))
      .orderBy("batch")
  }
  val scanMergeSchemaSql: String =
    """SELECT CAST(1 AS BIGINT) AS batch, count(*) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_with_acctbal FROM customer
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS batch, count(*) AS n_rows,
      |  count(c_acctbal) AS n_with_acctbal FROM customer
      |ORDER BY batch""".stripMargin

  /** agg_grouping_id — rollup with grouping()/grouping_id() markers:
    * the only way to tell a subtotal row's NULL from a data NULL —
    * the semantic trap in every rollup consumer. grouping_id also
    * gives a stable numeric level key for downstream filtering
    * (level 0 = detail, 3 = grand total).
    */
  def aggGroupingId(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"),
        grouping_id().as("gid"),
        grouping(col("o_orderpriority")).cast("bigint").as("g_pri"),
        grouping(col("o_orderstatus")).cast("bigint").as("g_st"))
      .orderBy(col("gid"), col("o_orderpriority"), col("o_orderstatus"))
  val aggGroupingIdSql: String =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
      |  GROUPING(o_orderpriority, o_orderstatus) AS gid,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st
      |FROM orders
      |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin

  /** text_ngram_lm — bigram language-model statistics: per language,
    * the top-5 adjacent token pairs by count. Bigrams form via a
    * lead() window over (doc, position) — no self-join of the token
    * table (the join formulation shuffles the exploded tokens twice;
    * the window shuffles once, partitioned by doc). Count table is
    * vocabulary², tiny relative to the corpus; per-lang top-5 via
    * row_number with full tie-break.
    */
  def textNgramLm(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("doc_id"), col("lang"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val big = toks.withColumn("w2", lead("w1", 1).over(byPos))
      .filter(col("w2").isNotNull)
      .groupBy("lang", "w1", "w2").agg(count(lit(1)).as("n"))
    val top = Window.partitionBy("lang")
      .orderBy(col("n").desc, col("w1"), col("w2"))
    big.withColumn("rk", row_number().over(top).cast("bigint"))
      .filter(col("rk") <= 5)
      .orderBy("lang", "rk")
  }
  val textNgramLmSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, pos, string_split(text, ' ')[pos] AS w1
      |  FROM (SELECT doc_id, lang, text,
      |          unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      |        FROM documents)),
      |big AS (
      |  SELECT a.lang, a.w1, b.w1 AS w2, count(*) AS n
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |  GROUP BY a.lang, a.w1, b.w1),
      |r AS (
      |  SELECT lang, w1, w2, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, w1, w2) AS rk
      |  FROM big)
      |SELECT lang, w1, w2, n, rk FROM r WHERE rk <= 5
      |ORDER BY lang, rk""".stripMargin

  /** multimodal_audio_energy — the audio-flavored member of the
    * multimodal triad (image-ish extract C9, video-ish frame
    * sampling C46): the blob is treated as 8-bit PCM, windowed into
    * 256-sample frames, and each window's energy (sum of squared
    * samples — exact integer math, no codec float path) plus the
    * per-doc peak window are computed inside the same typed
    * mapPartitions decode boundary the other two use. Corpus bytes
    * are verified single-byte (ASCII), so the DuckDB oracle mirrors
    * the windowing with per-character math.
    */
  def multimodalAudioEnergy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, blob) =>
          // codec/model load would be amortized per-partition here
          val energies = blob.grouped(256).map { w =>
            w.foldLeft(0L)((acc, b) => acc + (b & 0xff).toLong * (b & 0xff)) }.toArray
          val peak = energies.indices.minBy(i => (-energies(i), i))
          (id, energies.length.toLong, energies.sum, peak.toLong, energies(peak))
        }
      }
      .toDF("doc_id", "n_windows", "total_energy", "peak_window", "peak_energy")
      .orderBy("doc_id")
  }
  val multimodalAudioEnergySql: String =
    """WITH chars AS (
      |  SELECT doc_id, CAST(floor((pos - 1) / 256) AS BIGINT) AS w,
      |    CAST(ascii(text[pos]) AS BIGINT) AS b
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(1, length(text))) AS pos
      |        FROM documents)),
      |wins AS (
      |  SELECT doc_id, w, sum(b * b) AS energy
      |  FROM chars GROUP BY doc_id, w),
      |peaks AS (
      |  SELECT doc_id, count(*) AS n_windows,
      |    CAST(sum(energy) AS BIGINT) AS total_energy,
      |    min(CASE WHEN rk = 1 THEN w END) AS peak_window,
      |    CAST(min(CASE WHEN rk = 1 THEN energy END) AS BIGINT) AS peak_energy
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY doc_id ORDER BY energy DESC, w) AS rk
      |        FROM wins) t
      |  GROUP BY doc_id)
      |SELECT doc_id, n_windows, total_energy, peak_window, peak_energy
      |FROM peaks ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_range_binned" -> (joinRangeBinned _),
    "agg_frequent_items" -> (aggFrequentItems _),
    "agg_unpivot" -> (aggUnpivot _),
    "win_cume_dist" -> (winCumeDist _),
    "cond_funcs" -> (condFuncs _),
    "dim_scd2_intervals" -> (dimScd2Intervals _),
    "text_tfidf_topterms" -> (textTfidfTopterms _),
    "sample_stratified" -> (sampleStratified _),
    "join_bloom_prefilter" -> (joinBloomPrefilter _),
    "join_lateral_topk" -> (joinLateralTopk _),
    "scan_text_source" -> (scanTextSource _),
    "hof_array_reduce" -> (hofArrayReduce _),
    "store_time_travel" -> (storeTimeTravel _),
    "join_reused_exchange" -> (joinReusedExchange _),
    "typed_agg_column" -> (typedAggColumn _),
    "event_funnel" -> (eventFunnel _),
    "retention_cohorts" -> (retentionCohorts _),
    "regexp_funcs" -> (regexpFuncs _),
    "agg_hll_merge" -> (aggHllMerge _),
    "scan_merge_schema" -> (scanMergeSchema _),
    "agg_grouping_id" -> (aggGroupingId _),
    "text_ngram_lm" -> (textNgramLm _),
    "multimodal_audio_energy" -> (multimodalAudioEnergy _),
  )

  val oracle: Map[String, String] = Map(
    "join_range_binned" -> joinRangeBinnedSql,
    "agg_frequent_items" -> aggFrequentItemsSql,
    "agg_unpivot" -> aggUnpivotSql,
    "win_cume_dist" -> winCumeDistSql,
    "cond_funcs" -> condFuncsSql,
    "dim_scd2_intervals" -> dimScd2IntervalsSql,
    "text_tfidf_topterms" -> textTfidfTopterms_Sql,
    "sample_stratified" -> sampleStratifiedSql,
    "join_bloom_prefilter" -> joinBloomPrefilterSql,
    "join_lateral_topk" -> joinLateralTopkSql,
    "scan_text_source" -> scanTextSourceSql,
    "hof_array_reduce" -> hofArrayReduceSql,
    "store_time_travel" -> storeTimeTravelSql,
    "join_reused_exchange" -> joinReusedExchangeSql,
    "typed_agg_column" -> typedAggColumnSql,
    "event_funnel" -> eventFunnelSql,
    "retention_cohorts" -> retentionCohortsSql,
    "regexp_funcs" -> regexpFuncsSql,
    // agg_hll_merge: approximate by design — no oracle; SketchSpec
    // asserts merge determinism + 5% bound
    "scan_merge_schema" -> scanMergeSchemaSql,
    "agg_grouping_id" -> aggGroupingIdSql,
    "text_ngram_lm" -> textNgramLmSql,
    "multimodal_audio_energy" -> multimodalAudioEnergySql,
  )
}
