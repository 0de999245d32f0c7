package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Wave 136 (C948–C951): the rank-inference completions — Mann–Whitney
  * U (the unpaired counterpart of C769's signed-rank test), Page's L
  * ordered-alternative trend over blocked ranks, and the two post-hoc
  * batteries the omnibus tests (C497 Kruskal–Wallis, C609 Friedman)
  * point at but never answer: Dunn's pairwise z's and Nemenyi's
  * critical-distance matrix.
  *
  * Shared discipline: every rank sum rides the doubled-midrank value
  * spine (Σ n_gv·(2·c_before + cntv + 1) — exact integers via
  * GlobalRank's exclusive prefix sum, the C497 idiom), tie corrections
  * are exact Σ(t³−t) DECIMAL sums, and within-block ranks are
  * row_number with an explicit group tiebreak so both engines rank
  * identically. Pairwise outputs are R1-ordered (g1, g2).
  */
object Extras236 {

  /** Doubled-midrank machinery over events.value for a set of groups:
    * returns (per-group [grp, n_g, rg2], pooled tie term t_ties,
    * pooled n). rg2 = 2·Σ midrank — exact integers at any corpus size
    * (value-histogram spine, not per-row ranks).
    */
  private def rankSums(s: SparkSession, d: String, types: Seq[String])
  : (DataFrame, DataFrame) = {
    val ev0 = events(s, d).select(col("event_type").as("grp"), col("value").as("v"))
    val ev = if (types.isEmpty) ev0 else ev0.filter(col("grp").isin(types: _*))
    val pv = ev.groupBy("v").agg(count(lit(1)).cast("long").as("cntv"))
    val spine = graft.plans.GlobalRank.withExclusivePrefixSum(
      pv, "c_before", col("cntv"), Seq(col("v").asc))
    val gv = ev.groupBy("grp", "v").agg(count(lit(1)).cast("long").as("n_gv"))
    val pg = gv.join(spine, "v").groupBy("grp")
      .agg(sum(col("n_gv")).cast("long").as("n_g"),
        sum(expr("CAST(n_gv AS DECIMAL(38,0)) * (2 * c_before + cntv + 1)"))
          .cast("decimal(38,0)").as("rg2"))
    val ties = spine.agg(
      sum(expr("CAST(cntv AS DECIMAL(38,0)) * cntv * cntv - cntv"))
        .cast("decimal(38,0)").as("t_ties"),
      sum(expr(
        "CAST(cntv AS DECIMAL(38,0)) * (2 * c_before + cntv + 1) * (2 * c_before + cntv + 1)"))
        .cast("decimal(38,0)").as("s4"),
      sum(col("cntv")).cast("long").as("nn"))
    (pg, ties)
  }

  private val rankSumsSqlPrefix: String =
    """WITH ev AS (
      |  SELECT event_type AS grp, value AS v FROM events%s),
      |pv AS (SELECT v, CAST(count(*) AS BIGINT) AS cntv FROM ev GROUP BY 1),
      |spine AS (
      |  SELECT v, cntv,
      |    coalesce(sum(cntv) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_before
      |  FROM pv),
      |gv AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS n_gv FROM ev GROUP BY 1, 2),
      |pg AS (
      |  SELECT grp, CAST(sum(n_gv) AS BIGINT) AS n_g,
      |    CAST(sum(CAST(n_gv AS DECIMAL(38,0)) * (2 * c_before + cntv + 1))
      |      AS DECIMAL(38,0)) AS rg2
      |  FROM gv JOIN spine USING (v) GROUP BY 1),
      |ties AS (
      |  SELECT CAST(sum(CAST(cntv AS DECIMAL(38,0)) * cntv * cntv - cntv)
      |    AS DECIMAL(38,0)) AS t_ties,
      |    CAST(sum(CAST(cntv AS DECIMAL(38,0)) * (2 * c_before + cntv + 1)
      |      * (2 * c_before + cntv + 1)) AS DECIMAL(38,0)) AS s4,
      |    CAST(sum(cntv) AS BIGINT) AS nn
      |  FROM spine)""".stripMargin

  /** C948 stat_mann_whitney_u — the two-sample rank-sum test (click vs
    * view event values): U₁ from the exact doubled-midrank sum, normal
    * approximation with the exact Σ(t³−t) tie correction, two-sided at
    * α=0.05. The unpaired counterpart of the signed-rank test — the
    * default "are these two samples from the same distribution"
    * answer when normality is off the table.
    */
  def statMannWhitneyU(s: SparkSession, d: String): DataFrame = {
    val (pg, ties) = rankSums(s, d, Seq("click", "view"))
    // conditional agg → provably-scalar frames (plan gate: no BNLJ)
    pg.agg(max(when(col("grp") === "click", col("n_g"))).as("n1"),
        max(when(col("grp") === "click", col("rg2"))).as("r1"),
        max(when(col("grp") === "view", col("n_g"))).as("n2"))
      .crossJoin(broadcast(ties))
      .selectExpr("n1", "n2",
        "CAST(r1 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2 AS u1",
        """(CAST(n1 AS DOUBLE) * n2 / 12)
          | * (CAST(n1 + n2 AS DOUBLE) + 1
          |    - CAST(t_ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))) AS varu""".stripMargin)
      .selectExpr("n1", "n2", "u1 AS u_stat",
        "round((u1 - CAST(n1 AS DOUBLE) * n2 / 2) / sqrt(varu), 4) AS z_stat",
        "abs((u1 - CAST(n1 AS DOUBLE) * n2 / 2) / sqrt(varu)) > 1.96 AS reject_null")
  }
  val statMannWhitneyUSql: String =
    rankSumsSqlPrefix.format(" WHERE event_type IN ('click', 'view')") +
      """,
        |one AS (
        |  SELECT a.n_g AS n1, a.rg2 AS r1, b.n_g AS n2
        |  FROM pg a, pg b WHERE a.grp = 'click' AND b.grp = 'view'),
        |fin AS (
        |  SELECT n1, n2,
        |    CAST(r1 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2 AS u1,
        |    (CAST(n1 AS DOUBLE) * n2 / 12)
        |     * (CAST(n1 + n2 AS DOUBLE) + 1
        |        - CAST(t_ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))) AS varu
        |  FROM one, ties)
        |SELECT n1, n2, u1 AS u_stat,
        |  round((u1 - CAST(n1 AS DOUBLE) * n2 / 2) / sqrt(varu), 4) AS z_stat,
        |  abs((u1 - CAST(n1 AS DOUBLE) * n2 / 2) / sqrt(varu)) > 1.96 AS reject_null
        |FROM fin""".stripMargin

  /** C949 stat_page_l — Page's L test for an ordered alternative across
    * blocked ranks: blocks = order years, treatments = the 5 priority
    * classes in their natural 1..5 order, cell = mean order value,
    * within-block ranks by (mean, priority) row_number (deterministic),
    * L = Σ j·R_j with exact E[L]=45b, Var[L]=25b for k=5. The trend
    * question ("does revenue rise monotonically with priority?") that
    * Friedman's unordered omnibus can't pose. Years missing a priority
    * class are dropped identically in both engines.
    */
  def statPageL(s: SparkSession, d: String): DataFrame = {
    val cells = orders(s, d)
      .groupBy(expr("year(o_orderdate)").as("yr"), col("o_orderpriority").as("grp"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("decimal(38,0)").as("s1"),
        count(lit(1)).cast("long").as("nc"))
      .withColumn("m", expr("CAST(s1 AS DOUBLE) / nc"))
    val ranked = cells
      .withColumn("r", row_number()
        .over(Window.partitionBy("yr").orderBy(col("m"), col("grp"))).cast("long"))
      .withColumn("j", expr("CAST(substring(grp, 1, 1) AS BIGINT)"))
      .withColumn("kk", count(lit(1)).over(Window.partitionBy("yr")))
      .filter(col("kk") === 5)
    ranked.groupBy()
      .agg(countDistinct(col("yr")).cast("long").as("b"),
        sum(expr("j * r")).cast("long").as("l"))
      .selectExpr("b AS n_blocks", "CAST(5 AS BIGINT) AS k", "l AS l_stat",
        "round((CAST(l AS DOUBLE) - 45 * CAST(b AS DOUBLE)) / (5 * sqrt(CAST(b AS DOUBLE))), 4) AS z_stat",
        "(CAST(l AS DOUBLE) - 45 * CAST(b AS DOUBLE)) / (5 * sqrt(CAST(b AS DOUBLE))) > 1.645 AS increasing_trend")
  }
  val statPageLSql: String =
    """WITH cells AS (
      |  SELECT year(o_orderdate) AS yr, o_orderpriority AS grp,
      |    CAST(count(*) AS BIGINT) AS nc,
      |    CAST(CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS DECIMAL(38,0)) AS DOUBLE)
      |      / count(*) AS m
      |  FROM orders GROUP BY 1, 2),
      |ranked AS (
      |  SELECT yr, grp, m,
      |    CAST(row_number() OVER (PARTITION BY yr ORDER BY m, grp) AS BIGINT) AS r,
      |    CAST(substring(grp, 1, 1) AS BIGINT) AS j,
      |    count(*) OVER (PARTITION BY yr) AS kk
      |  FROM cells),
      |agg AS (
      |  SELECT CAST(count(DISTINCT yr) AS BIGINT) AS b,
      |    CAST(sum(j * r) AS BIGINT) AS l
      |  FROM ranked WHERE kk = 5)
      |SELECT b AS n_blocks, CAST(5 AS BIGINT) AS k, l AS l_stat,
      |  round((CAST(l AS DOUBLE) - 45 * CAST(b AS DOUBLE)) / (5 * sqrt(CAST(b AS DOUBLE))), 4) AS z_stat,
      |  (CAST(l AS DOUBLE) - 45 * CAST(b AS DOUBLE)) / (5 * sqrt(CAST(b AS DOUBLE))) > 1.645 AS increasing_trend
      |FROM agg""".stripMargin

  /** C950 stat_conover_iman — the Conover–Iman post-hoc for the C497
    * Kruskal–Wallis omnibus over the five EVENT-TYPE groups (C836's
    * Dunn covers the priority design; Conover–Iman is the more
    * powerful t-flavored alternative): t = (R̄ᵢ−R̄ⱼ)/√(S²·(N−1−H)/(N−k)
    * ·(1/nᵢ+1/nⱼ)) with S² the tie-aware total rank variance and H the
    * KW statistic — both from exact spine moments, per-group terms
    * quantized ·10¹² in N-normalized units before the 5-row sums.
    * Bonferroni critical 2.807 (α=0.05, m=10, df ≈ ∞ at corpus N).
    */
  def statConoverIman(s: SparkSession, d: String): DataFrame = {
    val (pg, aux) = rankSums(s, d, Seq.empty)
    // a = Σ (R̄ᵢ/N)²·(nᵢ/N), exact ·1e12 integer sum over the 5 groups
    val aq = pg.crossJoin(broadcast(aux))
      .agg(sum(expr(
        """CAST(floor((CAST(rg2 AS DOUBLE) / (2 * n_g) / nn)
          |* (CAST(rg2 AS DOUBLE) / (2 * n_g) / nn) * n_g / nn * 1e12 + 0.5) AS BIGINT)""".stripMargin))
        .cast("long").as("aq"),
        (countDistinct(col("grp"))).cast("long").as("k"))
    val base = pg.crossJoin(broadcast(aux)).crossJoin(broadcast(aq))
      .selectExpr("grp", "n_g", "nn", "k",
        "CAST(rg2 AS DOUBLE) / (2 * n_g) AS mr",
        // c = (N+1)²/(4N²); sr2n = Σr²/N³; a = aq/1e12
        "CAST(nn + 1 AS DOUBLE) * (nn + 1) / (4 * CAST(nn AS DOUBLE) * nn) AS cc",
        "CAST(s4 AS DOUBLE) / 4 / (CAST(nn AS DOUBLE) * nn * nn) AS sr2n",
        "CAST(aq AS DOUBLE) / 1e12 AS aa")
      .withColumn("h", expr("(aa - cc) * (nn - 1) / (sr2n - cc)"))
      .withColumn("s2", expr("(sr2n - cc) * CAST(nn AS DOUBLE) * nn * nn / (nn - 1)"))
    val b2 = base.selectExpr("grp AS grp2", "n_g AS n_g2", "mr AS mr2")
    base.join(broadcast(b2), col("grp") < col("grp2"))
      .selectExpr("grp AS g1", "grp2 AS g2",
        "round(mr - mr2, 4) AS diff_meanrank",
        """round((mr - mr2) / sqrt(s2 * (nn - 1 - h) / (nn - k)
          |  * (CAST(1 AS DOUBLE) / n_g + CAST(1 AS DOUBLE) / n_g2)), 4) AS t_stat""".stripMargin,
        """abs((mr - mr2) / sqrt(s2 * (nn - 1 - h) / (nn - k)
          |  * (CAST(1 AS DOUBLE) / n_g + CAST(1 AS DOUBLE) / n_g2))) > 2.807 AS significant""".stripMargin)
      .orderBy("g1", "g2")
  }
  val statConoverImanSql: String =
    rankSumsSqlPrefix.format("") +
      """,
        |aq AS (
        |  SELECT CAST(sum(CAST(floor((CAST(rg2 AS DOUBLE) / (2 * n_g) / nn)
        |      * (CAST(rg2 AS DOUBLE) / (2 * n_g) / nn) * n_g / nn * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS aq,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM pg, ties),
        |base AS (
        |  SELECT grp, n_g, nn, k,
        |    CAST(rg2 AS DOUBLE) / (2 * n_g) AS mr,
        |    CAST(nn + 1 AS DOUBLE) * (nn + 1) / (4 * CAST(nn AS DOUBLE) * nn) AS cc,
        |    CAST(s4 AS DOUBLE) / 4 / (CAST(nn AS DOUBLE) * nn * nn) AS sr2n,
        |    CAST(aq AS DOUBLE) / 1e12 AS aa
        |  FROM pg, ties, aq),
        |base2 AS (
        |  SELECT *, (aa - cc) * (nn - 1) / (sr2n - cc) AS h,
        |    (sr2n - cc) * CAST(nn AS DOUBLE) * nn * nn / (nn - 1) AS s2
        |  FROM base),
        |pairs AS (
        |  SELECT a.grp AS g1, b.grp AS g2, a.mr AS mr, b.mr AS mr2,
        |    a.n_g AS n_g, b.n_g AS n_g2, a.nn, a.k, a.h, a.s2
        |  FROM base2 a JOIN base2 b ON a.grp < b.grp)
        |SELECT g1, g2,
        |  round(mr - mr2, 4) AS diff_meanrank,
        |  round((mr - mr2) / sqrt(s2 * (nn - 1 - h) / (nn - k)
        |    * (CAST(1 AS DOUBLE) / n_g + CAST(1 AS DOUBLE) / n_g2)), 4) AS t_stat,
        |  abs((mr - mr2) / sqrt(s2 * (nn - 1 - h) / (nn - k)
        |    * (CAST(1 AS DOUBLE) / n_g + CAST(1 AS DOUBLE) / n_g2))) > 2.807 AS significant
        |FROM pairs ORDER BY g1, g2""".stripMargin

  /** C951 stat_nemenyi_test — the Nemenyi critical-distance matrix for
    * the Friedman design: blocks = calendar months, treatments = the 5
    * priority classes, cell = monthly revenue (densified to the full
    * month×priority grid with 0 so every block is complete), ranks by
    * (cell, priority) row_number, CD = q·√(k(k+1)/(6b)) with the
    * literal q(α=0.05, k=5) = 2.728. The all-pairs significance grid a
    * model-comparison table quotes under each benchmark column.
    */
  def statNemenyiTest(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val cells0 = o
      .groupBy(expr("date_trunc('month', o_orderdate)").as("mon"), col("o_orderpriority").as("grp"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("vcell"))
    val grid = o.select(expr("date_trunc('month', o_orderdate)").as("mon")).distinct()
      .crossJoin(broadcast(o.select(col("o_orderpriority").as("grp")).distinct()))
    val cells = grid.join(cells0, Seq("mon", "grp"), "left")
      .select(col("mon"), col("grp"), coalesce(col("vcell"), lit(0L)).as("vcell"))
    val mr = cells
      .withColumn("r", row_number()
        .over(Window.partitionBy("mon").orderBy(col("vcell"), col("grp"))).cast("long"))
      .groupBy("grp")
      .agg(count(lit(1)).cast("long").as("b"), sum(col("r")).cast("long").as("sr"))
      .withColumn("mrank", expr("CAST(sr AS DOUBLE) / b"))
    val m2 = mr.selectExpr("grp AS grp2", "mrank AS mrank2")
    mr.join(broadcast(m2), col("grp") < col("grp2"))
      .selectExpr("grp AS g1", "grp2 AS g2", "b AS n_blocks",
        "round(abs(mrank - mrank2), 4) AS diff_meanrank",
        "round(CAST(2.728 AS DOUBLE) * sqrt(CAST(5 AS DOUBLE) / b), 4) AS critical_distance",
        "abs(mrank - mrank2) > CAST(2.728 AS DOUBLE) * sqrt(CAST(5 AS DOUBLE) / b) AS significant")
      .orderBy("g1", "g2")
  }
  val statNemenyiTestSql: String =
    """WITH cells0 AS (
      |  SELECT date_trunc('month', o_orderdate) AS mon, o_orderpriority AS grp,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS vcell
      |  FROM orders GROUP BY 1, 2),
      |grid AS (
      |  SELECT mon, grp FROM
      |    (SELECT DISTINCT date_trunc('month', o_orderdate) AS mon FROM orders),
      |    (SELECT DISTINCT o_orderpriority AS grp FROM orders)),
      |cells AS (
      |  SELECT g.mon, g.grp, coalesce(c.vcell, 0) AS vcell
      |  FROM grid g LEFT JOIN cells0 c ON g.mon = c.mon AND g.grp = c.grp),
      |mr AS (
      |  SELECT grp, CAST(count(*) AS BIGINT) AS b, CAST(sum(r) AS BIGINT) AS sr,
      |    CAST(CAST(sum(r) AS BIGINT) AS DOUBLE) / count(*) AS mrank
      |  FROM (
      |    SELECT grp,
      |      CAST(row_number() OVER (PARTITION BY mon ORDER BY vcell, grp) AS BIGINT) AS r
      |    FROM cells)
      |  GROUP BY 1)
      |SELECT a.grp AS g1, b.grp AS g2, a.b AS n_blocks,
      |  round(abs(a.mrank - b.mrank), 4) AS diff_meanrank,
      |  round(CAST(2.728 AS DOUBLE) * sqrt(CAST(5 AS DOUBLE) / a.b), 4) AS critical_distance,
      |  abs(a.mrank - b.mrank) > CAST(2.728 AS DOUBLE) * sqrt(CAST(5 AS DOUBLE) / a.b) AS significant
      |FROM mr a JOIN mr b ON a.grp < b.grp ORDER BY g1, g2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_mann_whitney_u" -> (statMannWhitneyU _),
    "stat_page_l" -> (statPageL _),
    "stat_conover_iman" -> (statConoverIman _),
    "stat_nemenyi_test" -> (statNemenyiTest _),
  )

  val oracle: Map[String, String] = Map(
    "stat_mann_whitney_u" -> statMannWhitneyUSql,
    "stat_page_l" -> statPageLSql,
    "stat_conover_iman" -> statConoverImanSql,
    "stat_nemenyi_test" -> statNemenyiTestSql,
  )
}
