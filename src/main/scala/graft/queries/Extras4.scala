package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Fourth wave of coverage operators: exact-moment linear regression,
  * calendar-spine gap filling, blocked edit-distance near-dup pairs,
  * error-safe (`try_*`) scalar battery, bitwise aggregates, array set
  * algebra, URL parsing, forward ASOF join via the native plan,
  * ORC source/sink round trip, fixed-width histograms, boolean/count_if
  * aggregates, time-weighted linear interpolation, and ratio-to-report
  * windows — each with a DuckDB oracle.
  */
object Extras4 {

  /** agg_linear_regression — per-group OLS (slope / intercept / r²) of
    * retail price on part size, computed from EXACT decimal/integer
    * moment sums (the C30 pattern): Σx, Σx², Σy, Σy², Σxy are
    * shuffle-order-independent exact sums (int×int stays integral;
    * decimal×decimal and decimal×int stay exact decimal), each cast to
    * double ONCE, then the closed forms run in one fixed IEEE sequence
    * on both engines. This beats the built-in `regr_slope`-family
    * aggregates for cross-engine determinism: those accumulate doubles
    * in shuffle order. At 100 TB this is a single partial-aggregable
    * pass (5 moment sums ride one map-side combine).
    */
  def aggLinearRegression(s: SparkSession, d: String): DataFrame = {
    val x = col("p_size")
    val y = dec(col("p_retailprice"))
    part(s, d)
      .groupBy("p_brand")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"),
        sum(x * x).cast("double").as("sxx"),
        sum(y).cast("double").as("sy"),
        sum(y * y).cast("double").as("syy"),
        sum(y * x).cast("double").as("sxy"))
      .select(
        col("p_brand"), col("n").cast("long").as("n"),
        // round(,8/,6) guards the last-ulp FMA divergence (C30 note)
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 8).as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("intercept"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")) *
               (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
           (col("n") * col("syy") - col("sy") * col("sy"))), 8).as("r2"))
      .orderBy("p_brand")
  }
  val aggLinearRegressionSql: String = {
    val y = "CAST(p_retailprice AS DECIMAL(14,2))"
    s"""SELECT p_brand, CAST(n AS BIGINT) AS n,
       |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8) AS slope,
       |  round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) AS intercept,
       |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
       |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 8) AS r2
       |FROM (
       |  SELECT p_brand, CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(p_size) AS DOUBLE) AS sx,
       |    CAST(sum(p_size * p_size) AS DOUBLE) AS sxx,
       |    CAST(sum($y) AS DOUBLE) AS sy,
       |    CAST(sum($y * $y) AS DOUBLE) AS syy,
       |    CAST(sum($y * p_size) AS DOUBLE) AS sxy
       |  FROM part GROUP BY p_brand) t
       |ORDER BY p_brand""".stripMargin
  }

  /** time_spine_gapfill — the calendar-spine gap fill: daily order
    * count/revenue over EVERY day between the data's min and max date,
    * zero-filled where no orders landed. The spine is generated from a
    * one-row bounds aggregate (`sequence` + explode — days are tiny, so
    * the spine side broadcasts), the daily aggregate is one
    * partial-aggregable shuffle, and the left join back never shuffles
    * the big side again at scale (spine is the build side). The
    * standard time-series densification step before window/interp ops.
    */
  def timeSpineGapfill(s: SparkSession, d: String): DataFrame = {
    // day stays a TIMESTAMP (date_trunc) — the comparator's proven dtype
    // for calendar keys (DATE round-trips differently per engine)
    val o = orders(s, d)
      .select(date_trunc("day", col("o_orderdate")).as("day"), col("o_totalprice"))
    val spine = o.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val daily = o.groupBy("day").agg(
      count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
    spine.join(daily, Seq("day"), "left_outer")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
      .orderBy("day")
  }
  val timeSpineGapfillSql: String =
    s"""WITH o AS (SELECT date_trunc('day', o_orderdate) AS day, o_totalprice FROM orders),
       |b AS (SELECT min(day) AS lo, max(day) AS hi FROM o),
       |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b),
       |daily AS (SELECT day, count(*) AS n_orders,
       |  ${dsumSql("o_totalprice")} AS revenue FROM o GROUP BY day)
       |SELECT spine.day, COALESCE(n_orders, CAST(0 AS BIGINT)) AS n_orders,
       |  COALESCE(revenue, 0.0) AS revenue
       |FROM spine LEFT JOIN daily USING (day) ORDER BY spine.day""".stripMargin

  /** dedup_edit_distance — blocked pairwise Levenshtein over part
    * names: candidate pairs form ONLY within a (brand, size) block, so
    * the quadratic explosion is bounded per block (~16 rows/block in
    * the testdata → ~160k pairs at sf0.1 instead of 200M unblocked).
    * This is the classic blocking-key pattern for string-similarity
    * dedup at scale: the self-join shuffles both sides by the block
    * key (one hash exchange each), pairs meet only inside a partition,
    * and the per-brand rollup reuses the same partitioning. The
    * a_key < b_key guard halves the pair space and kills self-pairs.
    */
  def dedupEditDistance(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d).select(
      col("p_partkey"), col("p_brand"), col("p_size"), col("p_name"))
    val a = p.select(col("p_partkey").as("a_key"), col("p_brand"),
      col("p_size"), col("p_name").as("a_name"))
    val b = p.select(col("p_partkey").as("b_key"), col("p_brand").as("b_brand"),
      col("p_size").as("b_size"), col("p_name").as("b_name"))
    a.join(b,
        col("p_brand") === col("b_brand") && col("p_size") === col("b_size") &&
        col("a_key") < col("b_key"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("dist") <= 6, 1L).otherwise(0L)).as("n_close"),
        min(col("dist")).cast("long").as("min_dist"),
        sum(col("dist")).cast("long").as("sum_dist"))
      .orderBy("p_brand")
  }
  val dedupEditDistanceSql: String =
    """SELECT a.p_brand, count(*) AS n_pairs,
      |  CAST(sum(CASE WHEN levenshtein(a.p_name, b.p_name) <= 6
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
      |  CAST(min(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS min_dist,
      |  CAST(sum(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS sum_dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
      | AND a.p_partkey < b.p_partkey
      |GROUP BY a.p_brand ORDER BY a.p_brand""".stripMargin

  /** try_funcs — the error-safe scalar battery: `try_divide` nulls on a
    * zero divisor instead of failing/∞, `try_cast` nulls on an
    * unparseable cast, `try_element_at` nulls out-of-bounds. These are
    * the ANSI-mode-safe forms a 100 TB pipeline needs — one malformed
    * row must poison neither the task nor the job. The oracle spells
    * each as its explicit NULL-guarded equivalent (NULLIF divisor,
    * TRY_CAST, out-of-range list index).
    */
  def tryFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey"),
      expr("try_divide(o_totalprice, cast(o_custkey % 5 AS DOUBLE))").as("safe_div"),
      expr("try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)").as("prio_num"),
      expr("try_cast(o_orderstatus AS BIGINT)").as("status_num"),
      expr("try_element_at(split(o_orderpriority, '-'), 3)").as("missing_tok"))
      .orderBy("o_orderkey")
  val tryFuncsSql: String =
    """SELECT o_orderkey,
      |  o_totalprice / NULLIF(CAST(o_custkey % 5 AS DOUBLE), 0.0) AS safe_div,
      |  TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS prio_num,
      |  TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
      |  string_split(o_orderpriority, '-')[3] AS missing_tok
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** agg_bitwise — bitwise AND/OR/XOR aggregates over the user-id
    * domain per event type, plus a popcount sum. All-integer, fully
    * associative/commutative → partial-aggregable and shuffle-order
    * free by construction; XOR doubles as a cheap order-insensitive
    * membership checksum at scale (the classic "did both replicas see
    * the same id set" probe).
    */
  def aggBitwise(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy("event_type").agg(
      expr("bit_and(user_id)").as("ids_and"),
      expr("bit_or(user_id)").as("ids_or"),
      expr("bit_xor(user_id)").as("ids_xor"),
      sum(bit_count(col("user_id")).cast("long")).as("popcount_sum"))
      .orderBy("event_type")
  val aggBitwiseSql: String =
    """SELECT event_type,
      |  bit_and(user_id) AS ids_and, bit_or(user_id) AS ids_or,
      |  bit_xor(user_id) AS ids_xor,
      |  CAST(sum(bit_count(user_id)) AS BIGINT) AS popcount_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private val StopWords = Seq("the", "a", "of", "and", "in", "to", "is")

  /** array_set_ops — per-document set algebra between the distinct
    * token set and a constant stopword list: intersect (surfaced as a
    * sorted CSV so no array column reaches the comparator), except- and
    * union-cardinalities. Everything is row-local (codegen'd array
    * expressions over the scan — zero shuffles before the output sort);
    * the oracle recomputes set membership from first principles via
    * unnest + IN, so it does not lean on any engine's list-set
    * semantics. |union| = |except| + |stoplist| because the stoplist is
    * constant and disjoint sets partition the distinct tokens.
    */
  def arraySetOps(s: SparkSession, d: String): DataFrame = {
    val stop = array(StopWords.map(lit): _*)
    documents(s, d)
      .select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("toks"))
      .select(
        col("doc_id"),
        size(array_intersect(col("toks"), stop)).cast("long").as("n_inter"),
        size(array_except(col("toks"), stop)).cast("long").as("n_except"),
        size(array_union(col("toks"), stop)).cast("long").as("n_union"),
        concat_ws(",", array_sort(array_intersect(col("toks"), stop))).as("inter_csv"))
      .orderBy("doc_id")
  }
  val arraySetOpsSql: String = {
    val inList = StopWords.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(count_if(tok IN $inList) AS BIGINT) AS n_inter,
       |  CAST(count_if(tok NOT IN $inList) AS BIGINT) AS n_except,
       |  CAST(count_if(tok NOT IN $inList) + ${StopWords.size} AS BIGINT) AS n_union,
       |  COALESCE(array_to_string(
       |    list_sort(array_agg(tok) FILTER (WHERE tok IN $inList)), ','), '') AS inter_csv
       |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** url_funcs — URL component extraction with `parse_url` (HOST /
    * PATH / QUERY / one query key). The URLs are synthesized
    * deterministically from document columns, so the oracle can verify
    * the parse by reconstructing each component from the same base
    * columns — Spark's side genuinely round-trips build→parse. Pure
    * row-local string work (no shuffle but the output sort); the
    * log-sessionization ingest shape for web-corpus pipelines.
    */
  def urlFuncs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          col("doc_id").cast("string"), lit("?lang="), col("lang"),
          lit("&v=1")).as("url"))
      .select(
        col("doc_id"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY')").as("query"),
        expr("parse_url(url, 'QUERY', 'lang')").as("lang_param"))
      .orderBy("doc_id")
  val urlFuncsSql: String =
    """SELECT doc_id,
      |  source || '.example.com' AS host,
      |  '/docs/' || CAST(doc_id AS VARCHAR) AS path,
      |  'lang=' || lang || '&v=1' AS query,
      |  lang AS lang_param
      |FROM documents ORDER BY doc_id""".stripMargin

  /** join_asof_forward — the forward-looking ASOF: for each purchase,
    * the EARLIEST view at-or-after it (per user). Reuses the native
    * merge ASOF plan (C44) by negating event time to microseconds —
    * "latest at-or-before" in negated time IS "earliest at-or-after"
    * in real time — so the physical plan stays the single
    * SMJ-distributed merge with O(1) state per key, no window
    * materialization. Tie-break on equal timestamps follows the plan's
    * greatest-tie-value rule (largest view id), which the oracle pins.
    */
  def joinAsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    // the plan takes pre-resolved expressions, so the negated µs time is
    // materialized as a column on each side first
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"),
        (-expr("unix_micros(cast(ts AS TIMESTAMP))")).as("p_tneg"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("user_id").as("v_user"),
        col("ts").as("vts"),
        (-expr("unix_micros(cast(ts AS TIMESTAMP))")).as("v_tneg"))
    graft.plans.AsofJoin.df(p, v,
      p("user_id"), v("v_user"), p("p_tneg"), v("v_tneg"), v("vid"))
      .select(col("pid"), col("user_id"), col("pts"),
        col("vid").as("next_view_id"), col("vts").as("next_view_ts"))
      .orderBy("pid")
  }
  val joinAsofForwardSql: String =
    """SELECT pid, user_id, pts, next_view_id, next_view_ts FROM (
      |  SELECT p.event_id AS pid, p.user_id, p.ts AS pts,
      |    v.event_id AS next_view_id, v.ts AS next_view_ts,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY v.ts ASC, v.event_id DESC) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |    ON p.user_id = v.user_id AND v.ts >= p.ts) t
      |WHERE rn = 1
      |ORDER BY pid""".stripMargin

  /** scan_orc_source — ORC source/sink round trip (fifth format beside
    * parquet/CSV/JSON/text): a filtered lineitem slice is written as
    * ORC once per (JVM, sfDir), read back, and aggregated. ORC carries
    * the same columnar pushdown contract as parquet (predicate + column
    * pruning reach the reader), so the read-back plan scans two columns
    * of the slice, not the table. The oracle runs the identical
    * filter+aggregate over the original parquet — equality proves the
    * round trip is lossless.
    */
  def scanOrcSource(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.once("scan_orc_source", d) {
      val out = Scratch.dir("graft_orc_")
      lineitem(s, d).filter(col("l_quantity") >= 45)
        .write.mode("overwrite").orc(out)
      out
    }
    s.read.orc(dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
  }
  val scanOrcSourceSql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       |  ${dsumSql("l_extendedprice")} AS revenue
       |FROM lineitem WHERE l_quantity >= 45
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** agg_histogram — fixed-width histogram of order totals: bucket =
    * clamp(⌊price/50000⌋, 9). The bucket id is computed with the same
    * floor/least arithmetic on both engines; 2-decimal prices never
    * land within an ulp of a bucket boundary unless they are EXACT
    * multiples of the width, and exact-integer quotients round
    * exactly in IEEE — so the binning is boundary-safe (no
    * engine-dependent edge flips). One partial-aggregable shuffle on a
    * 10-value key; the grand-total histogram shape every profiler
    * needs at 100 TB.
    */
  def aggHistogram(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(least(floor(col("o_totalprice") / 50000), lit(9L)).cast("long").as("bucket"),
        col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("bucket")
  val aggHistogramSql: String =
    s"""SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT) AS bucket,
       |  count(*) AS n, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** agg_bool_countif — predicate aggregation battery: count_if and
    * the boolean AND/OR aggregates (SQL:2023 `every`/`any` forms).
    * All three are partial-aggregable with trivially small state (a
    * long / one bit) — the cheapest possible data-quality probes to
    * piggyback on any existing group-by at scale.
    */
  def aggBoolCountif(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy("event_type").agg(
      expr("cast(count_if(value > 500) AS BIGINT)").as("n_big"),
      expr("bool_and(value >= 0)").as("all_nonneg"),
      expr("bool_or(value > 990)").as("any_huge"))
      .orderBy("event_type")
  val aggBoolCountifSql: String =
    """SELECT event_type,
      |  CAST(count_if(value > 500) AS BIGINT) AS n_big,
      |  bool_and(value >= 0) AS all_nonneg,
      |  bool_or(value > 990) AS any_huge
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** interp_time_linear — time-weighted linear interpolation of a
    * sparsified series: every third event's value is nulled (a
    * deterministic synthetic gap — the corpus has no nulls), then each
    * gap is filled by interpolating between the nearest non-null
    * neighbors in event time: v = pv + (nv−pv)·(t−pt)/(nt−pt), edges
    * carry the single available neighbor. Two frames per user (running
    * last / upcoming first, both IGNORE NULLS) share ONE window
    * shuffle on user_id; the arithmetic runs on exact µs deltas with
    * one identically-ordered IEEE sequence per row. The standard
    * sensor/time-series repair op.
    */
  def interpTimeLinear(s: SparkSession, d: String): DataFrame = {
    val wP = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val us = expr("unix_micros(cast(ts AS TIMESTAMP))")
    val base = events(s, d).select(
      col("event_id"), col("user_id"), col("ts"),
      when(col("event_id") % 3 =!= 0, col("value")).as("v"),
      us.as("t"))
    base
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wP))
      .withColumn("pt", last(when(col("v").isNotNull, col("t")), ignoreNulls = true).over(wP))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wF))
      .withColumn("nt", first(when(col("v").isNotNull, col("t")), ignoreNulls = true).over(wF))
      .select(col("event_id"), col("user_id"), col("ts"), col("v").as("v_raw"),
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .when(col("nt") === col("pt"), col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("t") - col("pt")).cast("double") /
             (col("nt") - col("pt")).cast("double"))).as("v_interp"))
      .orderBy("event_id")
  }
  val interpTimeLinearSql: String =
    """WITH base AS (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN event_id % 3 <> 0 THEN value END AS v,
      |    epoch_us(ts) AS t
      |  FROM events),
      |w AS (
      |  SELECT *,
      |    last_value(v IGNORE NULLS) OVER win_p AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER win_p AS pt,
      |    first_value(v IGNORE NULLS) OVER win_f AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER win_f AS nt
      |  FROM base
      |  WINDOW
      |    win_p AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    win_f AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_id, user_id, ts, v AS v_raw,
      |  CASE WHEN v IS NOT NULL THEN v
      |       WHEN pv IS NULL THEN nv
      |       WHEN nv IS NULL THEN pv
      |       WHEN nt = pt THEN pv
      |       ELSE pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
      |  END AS v_interp
      |FROM w ORDER BY event_id""".stripMargin

  /** win_ratio_report — ratio-to-report: each event's share of its
    * type's total value. The denominator is an EXACT decimal window
    * sum cast to double once (order-free), so the single IEEE division
    * per row is deterministic. One unbounded window shuffle on the
    * 5-value type key — at scale this is the contribution/market-share
    * shape, and the same exact-sum trick keeps it reproducible across
    * partitionings.
    */
  def winRatioReport(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type")
    events(s, d)
      .select(col("event_id"), col("event_type"), col("value"),
        (col("value") / sum(dec(col("value"))).over(w).cast("double")).as("share"))
      .orderBy("event_id")
  }
  val winRatioReportSql: String =
    s"""SELECT event_id, event_type, value,
       |  value / CAST(sum(CAST(value AS DECIMAL(14,2)))
       |    OVER (PARTITION BY event_type) AS DOUBLE) AS share
       |FROM events ORDER BY event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_linear_regression" -> (aggLinearRegression _),
    "time_spine_gapfill" -> (timeSpineGapfill _),
    "dedup_edit_distance" -> (dedupEditDistance _),
    "try_funcs" -> (tryFuncs _),
    "agg_bitwise" -> (aggBitwise _),
    "array_set_ops" -> (arraySetOps _),
    "url_funcs" -> (urlFuncs _),
    "join_asof_forward" -> (joinAsofForward _),
    "scan_orc_source" -> (scanOrcSource _),
    "agg_histogram" -> (aggHistogram _),
    "agg_bool_countif" -> (aggBoolCountif _),
    "interp_time_linear" -> (interpTimeLinear _),
    "win_ratio_report" -> (winRatioReport _),
  )

  val oracle: Map[String, String] = Map(
    "agg_linear_regression" -> aggLinearRegressionSql,
    "time_spine_gapfill" -> timeSpineGapfillSql,
    "dedup_edit_distance" -> dedupEditDistanceSql,
    "try_funcs" -> tryFuncsSql,
    "agg_bitwise" -> aggBitwiseSql,
    "array_set_ops" -> arraySetOpsSql,
    "url_funcs" -> urlFuncsSql,
    "join_asof_forward" -> joinAsofForwardSql,
    "scan_orc_source" -> scanOrcSourceSql,
    "agg_histogram" -> aggHistogramSql,
    "agg_bool_countif" -> aggBoolCountifSql,
    "interp_time_linear" -> interpTimeLinearSql,
    "win_ratio_report" -> winRatioReportSql,
  )
}
