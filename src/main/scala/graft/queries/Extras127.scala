package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 27 (C514–C517): branch diffing on the keyed store, DECIMAL
  * parquet logical-type roundtrip, categorical assortativity, and
  * fiscal-calendar rollups.
  */
object Extras127 {

  /** C514 store_branch_diff — three-way diff between two DIVERGED
    * branches of the keyed store (the "what changed between dev and
    * exp" review every branching workflow needs, extending C*
    * snapshot-diff from versions to branches): dev = v2 + the %3==2
    * keys; exp = v1 + the %3==1 keys with prices bumped one exact
    * decimal cent. The diff is one full-outer key join over the two
    * branch heads — added/removed/changed/same counts. Oracle
    * recomputes every bucket from the source table arithmetic.
    */
  def storeBranchDiff(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_brdiff_")
    val store = new graft.sources.DatasetStore(s, dir, "o_orderkey")
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    store.init(base.filter(col("o_orderkey") % 3 === 0))          // v1
    store.append(base.filter(col("o_orderkey") % 3 === 1))        // v2 (main)
    store.createBranch("dev", 2L)
    store.appendBranch("dev", base.filter(col("o_orderkey") % 3 === 2))
    store.createBranch("exp", 1L)
    store.appendBranch("exp", base.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), expr(
        "CAST(CAST(o_totalprice AS DECIMAL(14,2)) + CAST(0.01 AS DECIMAL(4,2)) AS DOUBLE)")
        .as("o_totalprice")))
    val dev = store.readBranch("dev")
      .select(col("o_orderkey"), col("o_totalprice").as("p_dev"))
    val ex = store.readBranch("exp")
      .select(col("o_orderkey"), col("o_totalprice").as("p_exp"))
    dev.join(ex, Seq("o_orderkey"), "full_outer")
      .agg(
        sum(when(col("p_dev").isNotNull, 1L).otherwise(0L)).cast("long").as("n_dev"),
        sum(when(col("p_exp").isNotNull, 1L).otherwise(0L)).cast("long").as("n_exp"),
        sum(when(col("p_exp").isNull, 1L).otherwise(0L)).cast("long").as("n_only_dev"),
        sum(when(col("p_dev").isNull, 1L).otherwise(0L)).cast("long").as("n_only_exp"),
        sum(when(col("p_dev").isNotNull && col("p_exp").isNotNull
          && col("p_dev") =!= col("p_exp"), 1L).otherwise(0L))
          .cast("long").as("n_changed"),
        sum(when(col("p_dev") === col("p_exp"), 1L).otherwise(0L))
          .cast("long").as("n_same"))
  }
  val storeBranchDiffSql: String =
    """SELECT
      |  CAST(count(*) FILTER (WHERE o_orderkey % 3 IN (0, 1, 2)) AS BIGINT) AS n_dev,
      |  CAST(count(*) FILTER (WHERE o_orderkey % 3 IN (0, 1)) AS BIGINT) AS n_exp,
      |  CAST(count(*) FILTER (WHERE o_orderkey % 3 = 2) AS BIGINT) AS n_only_dev,
      |  CAST(0 AS BIGINT) AS n_only_exp,
      |  CAST(count(*) FILTER (WHERE o_orderkey % 3 = 1) AS BIGINT) AS n_changed,
      |  CAST(count(*) FILTER (WHERE o_orderkey % 3 = 0) AS BIGINT) AS n_same
      |FROM orders""".stripMargin

  /** C515 scan_parquet_decimal_logical — the DECIMAL parquet logical
    * type, end to end: prices are staged as DECIMAL(14,2) (not the
    * source's doubles), read back, and aggregated IN decimal — scale
    * and exactness must survive the roundtrip (the format surface
    * every finance pipeline depends on; the fleet's double-based rows
    * never exercise it). Oracle recomputes the same exact-decimal
    * aggregate from the source table.
    */
  def scanParquetDecimalLogical(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.once("scan_parquet_decimal_logical", d) {
      val out = Scratch.dir("graft_decpq_")
      orders(s, d)
        .select(col("o_orderkey"),
          expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price_dec"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$out/dec.parquet")
      out
    }
    val back = s.read.parquet(s"$dir/dec.parquet")
    back.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("price_dec")).cast("decimal(38,2)").cast("string").as("sum_exact"),
        min(col("price_dec")).cast("string").as("min_exact"),
        max(col("price_dec")).cast("string").as("max_exact"))
      .orderBy("o_orderpriority")
  }
  val scanParquetDecimalLogicalSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(38,2))
      |    AS VARCHAR) AS sum_exact,
      |  CAST(min(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS min_exact,
      |  CAST(max(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS max_exact
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** C516 graph_attribute_assortativity — categorical (nation-label)
    * assortativity of the supplier co-purchase projection: do
    * suppliers co-sell with same-nation suppliers more than chance?
    * r = (M·Σmᵢᵢ − Σrowᵢ²)/(M² − Σrowᵢ²) over the DIRECTED mixing
    * counts (each undirected edge counted both ways) — every term an
    * exact integer, one IEEE division. The projection reuses the
    * hub-capped shape of C291/C495; the mixing matrix is O(nations²).
    */
  def graphAttributeAssortativity(s: SparkSession, d: String): DataFrame = {
    // distinct projection pairs come from the shared once-per-corpus
    // CoPurchaseStage (r9) — identical pair set
    val proj = CoPurchaseStage.pairStats(s, d).select("sa", "sb")
    val nat = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val directed = proj
      .join(nat.select(col("s_suppkey").as("sa"), col("s_nationkey").as("na")), "sa")
      .join(nat.select(col("s_suppkey").as("sb"), col("s_nationkey").as("nb")), "sb")
      .select(col("na"), col("nb"))
    val both = directed.unionAll(directed.select(col("nb").as("na"), col("na").as("nb")))
    val mix = both.groupBy("na", "nb").agg(count(lit(1)).cast("long").as("m"))
    val rows = mix.groupBy("na")
      .agg(sum(col("m")).cast("long").as("row_i"),
        sum(when(col("na") === col("nb"), col("m")).otherwise(0L))
          .cast("long").as("diag_i"))
    rows.agg(
      count(lit(1)).cast("long").as("n_nations"),
      expr("sum(row_i) div 2").cast("long").as("n_edges"),
      sum(col("row_i")).cast("long").as("m_tot"),
      sum(col("diag_i")).cast("long").as("diag"),
      sum(expr("CAST(row_i AS DECIMAL(38,0)) * row_i")).cast("decimal(38,0)").as("srow2"))
      .selectExpr("n_nations", "n_edges",
        """round(CAST(m_tot * CAST(diag AS DECIMAL(38,0)) - srow2 AS DOUBLE)
          |  / CAST(CAST(m_tot AS DECIMAL(38,0)) * m_tot - srow2 AS DOUBLE), 6)
          |  AS assortativity""".stripMargin)
  }
  val graphAttributeAssortativitySql: String =
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
      |directed AS (
      |  SELECT x.s_nationkey AS na, y.s_nationkey AS nb
      |  FROM proj JOIN supplier x ON x.s_suppkey = proj.sa
      |            JOIN supplier y ON y.s_suppkey = proj.sb
      |  UNION ALL
      |  SELECT y.s_nationkey AS na, x.s_nationkey AS nb
      |  FROM proj JOIN supplier x ON x.s_suppkey = proj.sa
      |            JOIN supplier y ON y.s_suppkey = proj.sb),
      |mix AS (
      |  SELECT na, nb, count(*) AS m FROM directed GROUP BY 1, 2),
      |r AS (
      |  SELECT na, CAST(sum(m) AS BIGINT) AS row_i,
      |    CAST(sum(CASE WHEN na = nb THEN m ELSE 0 END) AS BIGINT) AS diag_i
      |  FROM mix GROUP BY na),
      |agg AS (
      |  SELECT count(*) AS n_nations,
      |    CAST(sum(row_i) // 2 AS BIGINT) AS n_edges,
      |    CAST(sum(row_i) AS BIGINT) AS m_tot,
      |    CAST(sum(diag_i) AS BIGINT) AS diag,
      |    CAST(sum(CAST(row_i AS DECIMAL(38,0)) * row_i) AS DECIMAL(38,0)) AS srow2
      |  FROM r)
      |SELECT CAST(n_nations AS BIGINT) AS n_nations, n_edges,
      |  round(CAST(m_tot * CAST(diag AS DECIMAL(38,0)) - srow2 AS DOUBLE)
      |    / CAST(CAST(m_tot AS DECIMAL(38,0)) * m_tot - srow2 AS DOUBLE), 6)
      |    AS assortativity
      |FROM agg""".stripMargin

  /** C517 time_fiscal_calendar_rollup — July-start fiscal calendar
    * (FY(d) = calendar year + 1 for Jul–Dec): fy/fq derive from pure
    * INTEGER month arithmetic — no add_months/interval shifting, whose
    * month-end clamping is an engine dialect (the C* add-months row
    * documents it). Revenue per (fy, fq) in exact decimal cents with
    * quarter-over-quarter growth as one IEEE ratio off the lagged
    * exact value; window runs over the O(quarters) rollup.
    */
  def timeFiscalCalendarRollup(s: SparkSession, d: String): DataFrame = {
    val q = lineitem(s, d)
      .select(
        (year(col("l_shipdate")) + when(month(col("l_shipdate")) >= 7, 1)
          .otherwise(0)).cast("long").as("fy"),
        expr("CAST((month(l_shipdate) + 5) % 12 AS BIGINT) div 3 + 1").as("fq"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)").as("pc"))
      .groupBy("fy", "fq")
      .agg(count(lit(1)).as("n_items"), sum(col("pc")).cast("long").as("rev_c"))
    q.withColumn("prev", lag(col("rev_c"), 1).over(
        Window.orderBy("fy", "fq")))
      .select(col("fy"), col("fq"), col("n_items"),
        round(col("rev_c").cast("double") / 100, 6).as("revenue"),
        round((col("rev_c") - col("prev")).cast("double") / col("prev"), 6)
          .as("qoq_growth"))
      .orderBy("fy", "fq")
  }
  val timeFiscalCalendarRollupSql: String =
    """WITH q AS (
      |  SELECT
      |    CAST(year(l_shipdate) + CASE WHEN month(l_shipdate) >= 7 THEN 1 ELSE 0 END
      |      AS BIGINT) AS fy,
      |    CAST((month(l_shipdate) + 5) % 12 AS BIGINT) // 3 + 1 AS fq,
      |    count(*) AS n_items,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT fy, fq, n_items,
      |  round(CAST(rev_c AS DOUBLE) / 100, 6) AS revenue,
      |  round(CAST(rev_c - lag(rev_c, 1) OVER (ORDER BY fy, fq) AS DOUBLE)
      |    / lag(rev_c, 1) OVER (ORDER BY fy, fq), 6) AS qoq_growth
      |FROM q ORDER BY fy, fq""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "store_branch_diff" -> (storeBranchDiff _),
    "scan_parquet_decimal_logical" -> (scanParquetDecimalLogical _),
    "graph_attribute_assortativity" -> (graphAttributeAssortativity _),
    "time_fiscal_calendar_rollup" -> (timeFiscalCalendarRollup _),
  )

  val oracle: Map[String, String] = Map(
    "store_branch_diff" -> storeBranchDiffSql,
    "scan_parquet_decimal_logical" -> scanParquetDecimalLogicalSql,
    "graph_attribute_assortativity" -> graphAttributeAssortativitySql,
    "time_fiscal_calendar_rollup" -> timeFiscalCalendarRollupSql,
  )
}
