package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.FloatVecDot.{dot, dotSql}

/** Wave 139 (C960–C963): agreement + two-way nonparametrics + matrix
  * correlation + curation readability — Gwet's AC1 (the prevalence-
  * robust fix for C-kappa's paradox), the Scheirer–Ray–Hare two-way
  * Kruskal–Wallis extension, the Mantel distance-matrix correlation on
  * the embedding probe sample, and the four-formula readability
  * battery (Gunning fog / SMOG / Coleman–Liau / ARI) over documents.
  *
  * Shared discipline: agreement cells and SRH rank moments are exact
  * integers (doubled-midrank spine, ·10¹² scaled-rank quantization
  * before cell sums so no double crosses a partition boundary);
  * Mantel distances ride the bit-exact FloatVecDot fold quantized
  * ·10⁹; per-doc readability scores quantize ·10⁶ before the corpus
  * mean.
  */
object Extras239 {

  /** C960 stat_gwets_ac1 — Gwet's AC1 agreement between two binary
    * "raters" on lineitem (returned flag vs high-quantity flag), next
    * to Cohen's κ on the same table: AC1's chance term 2π(1−π) with
    * π = (p_A+p_B)/2 stays calibrated when prevalence is extreme —
    * the κ paradox (high observed agreement, κ ≈ 0) that makes
    * annotation-quality dashboards lie. Exact 2×2 cell counts.
    */
  def statGwetsAc1(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).agg(
      count(lit(1)).cast("long").as("n"),
      sum(expr("CASE WHEN l_returnflag = 'R' AND l_quantity > 25 THEN 1L ELSE 0L END")).cast("long").as("a"),
      sum(expr("CASE WHEN l_returnflag = 'R' AND NOT l_quantity > 25 THEN 1L ELSE 0L END")).cast("long").as("b"),
      sum(expr("CASE WHEN l_returnflag <> 'R' AND l_quantity > 25 THEN 1L ELSE 0L END")).cast("long").as("c"))
      .selectExpr("n", "CAST(a + n - a - b - c AS DOUBLE) / n AS pa",
        "CAST(a + b AS DOUBLE) / n AS p1", "CAST(a + c AS DOUBLE) / n AS p2")
      .selectExpr("n AS n_items", "round(pa, 6) AS observed_agreement",
        """round((pa - 2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
          |/ (1 - 2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2)), 6) AS gwets_ac1""".stripMargin,
        """round((pa - (p1 * p2 + (1 - p1) * (1 - p2)))
          |/ (1 - (p1 * p2 + (1 - p1) * (1 - p2))), 6) AS cohens_kappa""".stripMargin)
  }
  val statGwetsAc1Sql: String =
    """WITH cells AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' AND l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' AND NOT l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN l_returnflag <> 'R' AND l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM lineitem),
      |ps AS (
      |  SELECT n, CAST(a + n - a - b - c AS DOUBLE) / n AS pa,
      |    CAST(a + b AS DOUBLE) / n AS p1, CAST(a + c AS DOUBLE) / n AS p2
      |  FROM cells)
      |SELECT n AS n_items, round(pa, 6) AS observed_agreement,
      |  round((pa - 2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
      |  / (1 - 2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2)), 6) AS gwets_ac1,
      |  round((pa - (p1 * p2 + (1 - p1) * (1 - p2)))
      |  / (1 - (p1 * p2 + (1 - p1) * (1 - p2))), 6) AS cohens_kappa
      |FROM ps""".stripMargin

  /** C961 stat_scheirer_ray_hare — the two-way Kruskal–Wallis
    * extension on orders (year × priority, value = order total): all-
    * orders midranks off the value spine scaled to u = r/(N+1) and
    * quantized ·10¹² (cell sums stay exact integers at any corpus
    * size; mean u is exactly ½ so the correction term is exactly
    * N/4), SS from exact per-level/per-cell quantized sums, H =
    * SS/MS with the tie-adjusted MS from the exact Σu² DECIMAL. Three
    * rows: year, priority, interaction — the "does the priority mix
    * shift revenue WITHIN years" question one-way KW can't pose.
    */
  def statScheirerRayHare(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(expr("year(o_orderdate)").as("ya"),
      col("o_orderpriority").as("grp"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)").as("v"))
    val pv = o.groupBy("v").agg(count(lit(1)).cast("long").as("cntv"))
    val spine = graft.plans.GlobalRank.withExclusivePrefixSum(
      pv, "c_before", col("cntv"), Seq(col("v").asc))
    // r14: the total rides the pinned spine (exact long sum), not a
    // second orders scan + re-aggregation per broadcast consumer
    val tot = spine.agg(sum(col("cntv")).cast("long").as("nn"))
    // uq = round(1e12 * r / (N+1)); r = (2*c_before + cntv + 1)/2
    val uspine = spine.crossJoin(broadcast(tot))
      .selectExpr("v", "cntv", "nn",
        """CAST(floor(CAST(2 * c_before + cntv + 1 AS DOUBLE)
          |/ (2 * (nn + 1)) * 1e12 + 0.5) AS BIGINT) AS uq""".stripMargin)
    val su2 = uspine.agg(max(col("nn")).as("nn"),
      sum(expr("CAST(cntv AS DECIMAL(38,0)) * uq * uq")).cast("decimal(38,0)").as("squ"))
    val cells = o.join(uspine.select(col("v"), col("uq")), "v")
      .groupBy("ya", "grp")
      .agg(count(lit(1)).cast("long").as("nc"),
        sum(expr("CAST(uq AS DECIMAL(38,0))")).cast("decimal(38,0)").as("suq"))
      .localCheckpoint(true) // bounded year x priority grid
    def levelQ(key: String): DataFrame = cells.groupBy(key)
      .agg(sum(col("nc")).cast("long").as("nl"),
        sum(col("suq")).cast("decimal(38,0)").as("sl"))
      .crossJoin(broadcast(tot))
      .agg(sum(expr(
        """CAST(floor((CAST(sl AS DOUBLE) / 1e12) * (CAST(sl AS DOUBLE) / 1e12)
          |/ nl / nn * 1e12 + 0.5) AS BIGINT)""".stripMargin)).cast("long").as(s"q_$key"),
        (countDistinct(col(key)) - 1).cast("long").as(s"dof_$key"))
    val qa = levelQ("ya")
    val qb = levelQ("grp")
    val qc = cells.crossJoin(broadcast(tot))
      .agg(sum(expr(
        """CAST(floor((CAST(suq AS DOUBLE) / 1e12) * (CAST(suq AS DOUBLE) / 1e12)
          |/ nc / nn * 1e12 + 0.5) AS BIGINT)""".stripMargin)).cast("long").as("q_cells"))
    qa.crossJoin(broadcast(qb)).crossJoin(broadcast(qc)).crossJoin(broadcast(su2))
      .selectExpr("nn", "dof_ya", "dof_grp",
        "CAST(q_ya AS DOUBLE) / 1e12 - 0.25 AS ssa",
        "CAST(q_grp AS DOUBLE) / 1e12 - 0.25 AS ssb",
        "CAST(q_cells AS DOUBLE) / 1e12 - 0.25 AS ssc",
        """(CAST(squ AS DOUBLE) / 1e24 - 0.25 * nn)
          |/ (CAST(nn AS DOUBLE) - 1) / nn AS msn""".stripMargin)
      .selectExpr(
        """stack(3,
          |  'interaction', dof_ya * dof_grp, round((ssc - ssa - ssb) / msn, 4),
          |  'priority', dof_grp, round(ssb / msn, 4),
          |  'year', dof_ya, round(ssa / msn, 4)) AS (effect, dof, h_stat)""".stripMargin)
      .orderBy("effect")
  }
  val statScheirerRayHareSql: String =
    """WITH o AS (
      |  SELECT year(o_orderdate) AS ya, o_orderpriority AS grp,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS v
      |  FROM orders),
      |pv AS (SELECT v, CAST(count(*) AS BIGINT) AS cntv FROM o GROUP BY 1),
      |tot AS (SELECT CAST(sum(cntv) AS BIGINT) AS nn FROM pv),
      |spine AS (
      |  SELECT v, cntv,
      |    CAST(coalesce(sum(cntv) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c_before
      |  FROM pv),
      |uspine AS (
      |  SELECT v, cntv, nn,
      |    CAST(floor(CAST(2 * c_before + cntv + 1 AS DOUBLE)
      |    / (2 * (nn + 1)) * 1e12 + 0.5) AS BIGINT) AS uq
      |  FROM spine, tot),
      |su2 AS (
      |  SELECT max(nn) AS nn,
      |    CAST(sum(CAST(cntv AS DECIMAL(38,0)) * uq * uq) AS DECIMAL(38,0)) AS squ
      |  FROM uspine),
      |cells AS (
      |  SELECT ya, grp, CAST(count(*) AS BIGINT) AS nc,
      |    CAST(sum(CAST(uq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS suq
      |  FROM o JOIN uspine USING (v) GROUP BY 1, 2),
      |qa AS (
      |  SELECT CAST(sum(CAST(floor((CAST(sl AS DOUBLE) / 1e12) * (CAST(sl AS DOUBLE) / 1e12)
      |      / nl / nn * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS q_ya,
      |    CAST(count(*) - 1 AS BIGINT) AS dof_ya
      |  FROM (SELECT ya, CAST(sum(nc) AS BIGINT) AS nl,
      |      CAST(sum(suq) AS DECIMAL(38,0)) AS sl FROM cells GROUP BY 1), tot),
      |qb AS (
      |  SELECT CAST(sum(CAST(floor((CAST(sl AS DOUBLE) / 1e12) * (CAST(sl AS DOUBLE) / 1e12)
      |      / nl / nn * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS q_grp,
      |    CAST(count(*) - 1 AS BIGINT) AS dof_grp
      |  FROM (SELECT grp, CAST(sum(nc) AS BIGINT) AS nl,
      |      CAST(sum(suq) AS DECIMAL(38,0)) AS sl FROM cells GROUP BY 1), tot),
      |qc AS (
      |  SELECT CAST(sum(CAST(floor((CAST(suq AS DOUBLE) / 1e12) * (CAST(suq AS DOUBLE) / 1e12)
      |      / nc / nn * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS q_cells
      |  FROM cells, tot),
      |fin AS (
      |  SELECT nn, dof_ya, dof_grp,
      |    CAST(q_ya AS DOUBLE) / 1e12 - 0.25 AS ssa,
      |    CAST(q_grp AS DOUBLE) / 1e12 - 0.25 AS ssb,
      |    CAST(q_cells AS DOUBLE) / 1e12 - 0.25 AS ssc,
      |    (CAST(squ AS DOUBLE) / 1e24 - 0.25 * nn)
      |    / (CAST(nn AS DOUBLE) - 1) / nn AS msn
      |  FROM qa, qb, qc, su2)
      |SELECT 'interaction' AS effect, dof_ya * dof_grp AS dof,
      |  round((ssc - ssa - ssb) / msn, 4) AS h_stat FROM fin
      |UNION ALL
      |SELECT 'priority', dof_grp, round(ssb / msn, 4) FROM fin
      |UNION ALL
      |SELECT 'year', dof_ya, round(ssa / msn, 4) FROM fin
      |ORDER BY effect""".stripMargin

  /** C962 stat_mantel_test — the Mantel correlation between two
    * distance matrices on the FIXED 60-vector embedding probe:
    * Euclidean embedding distance (bit-exact FloatVecDot fold,
    * quantized ·10⁹) vs label disagreement |lᵢ−lⱼ|, Pearson r over
    * the 1770 unordered pairs from exact integer moments, with the
    * t approximation. "Do nearby vectors share labels?" asked the
    * way ecology asks it of geography×genetics — matrix-level, not
    * point-level like kNN purity.
    */
  def statMantelTest(s: SparkSession, d: String): DataFrame = {
    val sample = embeddings(s, d).filter(col("vec_id") < 60)
      .select(col("vec_id"), col("label"), col("embedding"),
        dot("embedding", "embedding").as("nrm"))
    val a = sample.select(col("vec_id").as("va"), col("label").as("la"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = sample.select(col("vec_id").as("vb"), col("label").as("lb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val pairs = a.join(b, col("va") < col("vb"))
      .withColumn("dab", dot("ea", "eb"))
      .selectExpr(
        "CAST(floor(sqrt(greatest(na - 2 * dab + nb, 0.0)) * 1e9 + 0.5) AS BIGINT) AS x",
        "CAST(abs(la - lb) AS BIGINT) AS y")
    pairs.agg(count(lit(1)).cast("long").as("m"),
      sum(expr("CAST(x AS DECIMAL(38,0))")).cast("decimal(38,0)").as("sx"),
      sum(col("y")).cast("long").as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).cast("decimal(38,0)").as("sxy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).cast("decimal(38,0)").as("sxx"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).cast("decimal(38,0)").as("syy"))
      .selectExpr("m",
        """(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
          |/ sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |  * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)) AS r""".stripMargin)
      .selectExpr("m AS n_pairs", "round(r, 6) AS mantel_r",
        "round(r * sqrt((m - 2) / (1 - r * r)), 4) AS t_stat",
        "abs(r * sqrt((m - 2) / (1 - r * r))) > 1.96 AS significant")
  }
  val statMantelTestSql: String = {
    val dab = dotSql("a.embedding", "b.embedding")
    val naa = dotSql("a.embedding", "a.embedding")
    val nbb = dotSql("b.embedding", "b.embedding")
    s"""WITH sample AS (
       |  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 60),
       |pairs AS (
       |  SELECT
       |    CAST(floor(sqrt(greatest(($naa) - 2 * ($dab) + ($nbb), 0.0)) * 1e9 + 0.5) AS BIGINT) AS x,
       |    CAST(abs(a.label - b.label) AS BIGINT) AS y
       |  FROM sample a JOIN sample b ON a.vec_id < b.vec_id),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(CAST(x AS HUGEINT)) AS DECIMAL(38,0)) AS sx,
       |    CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
       |    CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS syy
       |  FROM pairs),
       |fin AS (
       |  SELECT m,
       |    (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
       |    / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)) AS r
       |  FROM mom)
       |SELECT m AS n_pairs, round(r, 6) AS mantel_r,
       |  round(r * sqrt((m - 2) / (1 - r * r)), 4) AS t_stat,
       |  abs(r * sqrt((m - 2) / (1 - r * r))) > 1.96 AS significant
       |FROM fin""".stripMargin
  }

  /** C963 text_readability_battery — the four classic readability
    * formulas over documents in one pass: Gunning fog (vowel-group
    * syllable heuristic for "complex" = ≥3 groups), SMOG, Coleman–Liau
    * (letters-based — no syllables), and ARI (characters-based). Per-
    * doc scores quantized ·10⁶ before the corpus means (exact integer
    * sums at any corpus size). Corpus-level readability drift is a
    * curation signal the per-doc C229 Flesch–Kincaid row can't show.
    */
  def textReadabilityBattery(s: SparkSession, d: String): DataFrame = {
    val per = documents(s, d)
      .selectExpr("doc_id",
        "CAST(length(regexp_replace(text, '[^A-Za-z]', '')) AS BIGINT) AS lt",
        "CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS w",
        "CAST(greatest(length(text) - length(regexp_replace(text, '[.!?]', '')), 1) AS BIGINT) AS sn",
        """CAST(size(filter(split(lower(text), ' '),
          |  x -> size(regexp_extract_all(x, '[aeiou]+', 0)) >= 3)) AS BIGINT) AS cx""".stripMargin)
      .filter(col("w") > 0)
      .selectExpr("doc_id",
        """CAST(floor((CAST(0.4 AS DOUBLE) * (CAST(w AS DOUBLE) / sn + 100 * CAST(cx AS DOUBLE) / w))
          |* 1e6 + 0.5) AS BIGINT) AS fog""".stripMargin,
        """CAST(floor((CAST(1.043 AS DOUBLE) * sqrt(30 * CAST(cx AS DOUBLE) / sn) + CAST(3.1291 AS DOUBLE))
          |* 1e6 + 0.5) AS BIGINT) AS smog""".stripMargin,
        """CAST(floor((CAST(5.88 AS DOUBLE) * lt / w - CAST(29.6 AS DOUBLE) * sn / w - CAST(15.8 AS DOUBLE))
          |* 1e6 + 0.5) AS BIGINT) AS cl""".stripMargin,
        """CAST(floor((CAST(4.71 AS DOUBLE) * lt / w + CAST(0.5 AS DOUBLE) * w / sn - CAST(21.43 AS DOUBLE))
          |* 1e6 + 0.5) AS BIGINT) AS ari""".stripMargin)
    per.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("fog")).cast("long").as("sfog"),
      sum(col("smog")).cast("long").as("ssmog"),
      sum(col("cl")).cast("long").as("scl"),
      sum(col("ari")).cast("long").as("sari"))
      .selectExpr("n_docs",
        "round(CAST(sfog AS DOUBLE) / n_docs / 1e6, 4) AS mean_gunning_fog",
        "round(CAST(ssmog AS DOUBLE) / n_docs / 1e6, 4) AS mean_smog",
        "round(CAST(scl AS DOUBLE) / n_docs / 1e6, 4) AS mean_coleman_liau",
        "round(CAST(sari AS DOUBLE) / n_docs / 1e6, 4) AS mean_ari")
  }
  val textReadabilityBatterySql: String =
    """WITH per AS (
      |  SELECT doc_id,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS lt,
      |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS w,
      |    CAST(greatest(length(text) - length(regexp_replace(text, '[.!?]', '', 'g')), 1) AS BIGINT) AS sn,
      |    CAST(len(list_filter(string_split(lower(text), ' '),
      |      x -> len(regexp_extract_all(x, '[aeiou]+')) >= 3)) AS BIGINT) AS cx
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(floor((CAST(0.4 AS DOUBLE) * (CAST(w AS DOUBLE) / sn + 100 * CAST(cx AS DOUBLE) / w))
      |      * 1e6 + 0.5) AS BIGINT) AS fog,
      |    CAST(floor((CAST(1.043 AS DOUBLE) * sqrt(30 * CAST(cx AS DOUBLE) / sn) + CAST(3.1291 AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) AS smog,
      |    CAST(floor((CAST(5.88 AS DOUBLE) * lt / w - CAST(29.6 AS DOUBLE) * sn / w - CAST(15.8 AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) AS cl,
      |    CAST(floor((CAST(4.71 AS DOUBLE) * lt / w + CAST(0.5 AS DOUBLE) * w / sn - CAST(21.43 AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) AS ari
      |  FROM per WHERE w > 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  round(CAST(CAST(sum(fog) AS BIGINT) AS DOUBLE) / count(*) / 1e6, 4) AS mean_gunning_fog,
      |  round(CAST(CAST(sum(smog) AS BIGINT) AS DOUBLE) / count(*) / 1e6, 4) AS mean_smog,
      |  round(CAST(CAST(sum(cl) AS BIGINT) AS DOUBLE) / count(*) / 1e6, 4) AS mean_coleman_liau,
      |  round(CAST(CAST(sum(ari) AS BIGINT) AS DOUBLE) / count(*) / 1e6, 4) AS mean_ari
      |FROM scored""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_gwets_ac1" -> (statGwetsAc1 _),
    "stat_scheirer_ray_hare" -> (statScheirerRayHare _),
    "stat_mantel_test" -> (statMantelTest _),
    "text_readability_battery" -> (textReadabilityBattery _),
  )

  val oracle: Map[String, String] = Map(
    "stat_gwets_ac1" -> statGwetsAc1Sql,
    "stat_scheirer_ray_hare" -> statScheirerRayHareSql,
    "stat_mantel_test" -> statMantelTestSql,
    "text_readability_battery" -> textReadabilityBatterySql,
  )
}
