package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.FloatVecDot.{dot, dotSql}

/** Wave 24 (C497–C502): k-sample rank testing, sequential-pattern
  * mining, minority oversampling, time-series peak detection, triplet
  * hard-negative mining, and Cochran's Q.
  */
object Extras124 {

  /** C497 stat_kruskal_wallis — k-sample rank test across ALL five
    * event types (the ANOVA-shaped extension of C168 Mann–Whitney),
    * with midrank tie handling and the tie-corrected statistic.
    * No per-row ranks anywhere: per-VALUE counts + the C168 exclusive
    * prefix-sum trick give 2·Rg = Σ n_gv·(2·c_before + cntv + 1) as an
    * EXACT BIGINT per group; H then needs Σ ng·(R̄g−(N+1)/2)² where the
    * per-group IEEE term can reach ~9e18, so it rounds to a grain-1.0
    * DECIMAL(38,0) (identical floor both engines) and sums exactly
    * over the 5 bounded groups. Tie correction Σ(t³−t) accumulates in
    * DECIMAL(38,0). The prefix sum is the two-pass GlobalRank — no
    * global window touches the raw table.
    */
  def statKruskalWallis(s: SparkSession, d: String): DataFrame = {
    val pv = events(s, d).groupBy("value")
      .agg(count(lit(1)).cast("long").as("cntv"))
    val spine = graft.plans.GlobalRank.withExclusivePrefixSum(
      pv, "c_before", col("cntv"), Seq(col("value").asc))
    val gv = events(s, d).groupBy("event_type", "value")
      .agg(count(lit(1)).cast("long").as("n_gv"))
    val perGroup = gv.join(spine, "value")
      .groupBy("event_type")
      .agg(
        sum(col("n_gv")).cast("long").as("n_g"),
        sum(col("n_gv") * (lit(2) * col("c_before") + col("cntv") + 1))
          .cast("long").as("rg2"))
    val ties = pv.agg(
      sum(expr("CAST(cntv AS DECIMAL(38,0)) * cntv * cntv - cntv"))
        .cast("decimal(38,0)").as("t_ties"))
    perGroup.crossJoin(broadcast(ties))
      .withColumn("n_tot", sum(col("n_g")).over(Window.partitionBy()))
      .withColumn("fx", expr(
        """CAST(floor(n_g * (CAST(rg2 AS DOUBLE) / (2 * n_g) - (n_tot + 1) / 2.0)
          |  * (CAST(rg2 AS DOUBLE) / (2 * n_g) - (n_tot + 1) / 2.0) + 0.5)
          |  AS DECIMAL(38,0))""".stripMargin))
      .groupBy()
      .agg(
        max(col("n_tot")).cast("long").as("n"),
        (countDistinct(col("event_type")) - 1).cast("long").as("dof"),
        sum(col("fx")).cast("decimal(38,0)").as("sfx"),
        max(col("t_ties")).as("t_ties"))
      .selectExpr("n", "dof",
        """round(12.0 * CAST(sfx AS DOUBLE) / (CAST(n AS DOUBLE) * (n + 1))
          |  / (1.0 - CAST(t_ties AS DOUBLE)
          |     / (CAST(n AS DOUBLE) * n * n - n)), 4) AS h_adj""".stripMargin)
      .selectExpr("n", "dof", "h_adj", "h_adj > 9.488 AS reject_same_dist")
  }
  val statKruskalWallisSql: String =
    """WITH pv AS (
      |  SELECT value, count(*) AS cntv FROM events GROUP BY value),
      |spine AS (
      |  SELECT value, cntv,
      |    coalesce(sum(cntv) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_before
      |  FROM pv),
      |gv AS (
      |  SELECT event_type, value, count(*) AS n_gv
      |  FROM events GROUP BY 1, 2),
      |pg AS (
      |  SELECT event_type,
      |    CAST(sum(n_gv) AS BIGINT) AS n_g,
      |    CAST(sum(n_gv * (2 * c_before + cntv + 1)) AS BIGINT) AS rg2
      |  FROM gv JOIN spine USING (value)
      |  GROUP BY event_type),
      |ties AS (
      |  SELECT CAST(sum(CAST(cntv AS DECIMAL(38,0)) * cntv * cntv - cntv)
      |    AS DECIMAL(38,0)) AS t_ties
      |  FROM pv),
      |fx AS (
      |  SELECT event_type, n_g, rg2, t_ties,
      |    CAST(sum(n_g) OVER () AS BIGINT) AS n_tot
      |  FROM pg, ties),
      |fy AS (
      |  SELECT n_tot, t_ties, event_type,
      |    CAST(floor(n_g * (CAST(rg2 AS DOUBLE) / (2 * n_g) - (n_tot + 1) / 2.0)
      |      * (CAST(rg2 AS DOUBLE) / (2 * n_g) - (n_tot + 1) / 2.0) + 0.5)
      |      AS DECIMAL(38,0)) AS fx
      |  FROM fx),
      |agg AS (
      |  SELECT max(n_tot) AS n,
      |    CAST(count(DISTINCT event_type) - 1 AS BIGINT) AS dof,
      |    CAST(sum(fx) AS DECIMAL(38,0)) AS sfx,
      |    max(t_ties) AS t_ties
      |  FROM fy),
      |h AS (
      |  SELECT n, dof,
      |    round(12.0 * CAST(sfx AS DOUBLE) / (CAST(n AS DOUBLE) * (n + 1))
      |      / (1.0 - CAST(t_ties AS DOUBLE)
      |         / (CAST(n AS DOUBLE) * n * n - n)), 4) AS h_adj
      |  FROM agg)
      |SELECT n, dof, h_adj, h_adj > 9.488 AS reject_same_dist FROM h""".stripMargin

  /** C498 analytics_session_path_topk — sequential-pattern DISCOVERY
    * (where C462's funnel fixes the pattern up front): the top-10 most
    * frequent 3-step event-type paths, from two leads over the
    * (ts, event_id)-ordered user stream. The lead window and nothing
    * else touches the raw table; the path histogram is O(types³);
    * top-10 ranks on (n DESC, path) — exact keys, no tie hazard.
    */
  def analyticsSessionPathTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d)
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("n").desc, col("path"))))
      .filter(col("rn") <= 10)
      .select("path", "n")
      .orderBy(col("n").desc, col("path"))
  }
  val analyticsSessionPathTopkSql: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
      |  FROM events),
      |paths AS (
      |  SELECT event_type || '>' || t2 || '>' || t3 AS path, count(*) AS n
      |  FROM seq WHERE t3 IS NOT NULL
      |  GROUP BY 1),
      |r AS (
      |  SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rn
      |  FROM paths)
      |SELECT path, n FROM r WHERE rn <= 10
      |ORDER BY n DESC, path""".stripMargin

  /** C499 pipeline_oversample_minority — class rebalance by
    * REPLICATION (the complement of C473's downsample): every language
    * class is replicated ⌊max_n/n⌋ times via an exploded
    * `sequence(1, factor)` generator — a row multiplier, not a join —
    * and the audit reports per-class factor, achieved size, and
    * residual imbalance. The replication is counted from the actual
    * generator output (proving the explode), not arithmetically.
    */
  def pipelineOversampleMinority(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d).groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n_orig"))
      .withColumn("max_n", max(col("n_orig")).over(Window.partitionBy()))
      .withColumn("factor", expr("max_n div n_orig"))
    val replicated = documents(s, d)
      .join(broadcast(counts.select("lang", "factor")), "lang")
      .withColumn("copy", explode(expr("sequence(CAST(1 AS BIGINT), factor)")))
      .groupBy("lang").agg(count(lit(1)).cast("long").as("n_after"))
    counts.join(replicated, "lang")
      .select(col("lang"), col("n_orig"), col("factor"), col("n_after"),
        round(col("n_after").cast("double") / col("max_n"), 6).as("balance_ratio"))
      .orderBy("lang")
  }
  val pipelineOversampleMinoritySql: String =
    """WITH counts AS (
      |  SELECT lang, count(*) AS n_orig FROM documents GROUP BY lang),
      |f AS (
      |  SELECT lang, n_orig, max(n_orig) OVER () AS max_n,
      |    max(n_orig) OVER () // n_orig AS factor
      |  FROM counts),
      |expl AS (
      |  SELECT d.lang, unnest(generate_series(1, f.factor)) AS copy
      |  FROM documents d JOIN f ON d.lang = f.lang),
      |rep AS (
      |  SELECT lang, count(*) AS n_after FROM expl GROUP BY lang)
      |SELECT f.lang AS lang, CAST(n_orig AS BIGINT) AS n_orig,
      |  CAST(factor AS BIGINT) AS factor, CAST(n_after AS BIGINT) AS n_after,
      |  round(CAST(n_after AS DOUBLE) / max_n, 6) AS balance_ratio
      |FROM f JOIN rep ON f.lang = rep.lang
      |ORDER BY f.lang""".stripMargin

  /** C500 time_peak_detection — strict local maxima on the daily
    * revenue series: a peak beats every neighbor in the ±7-day frame
    * (two one-sided frame maxima, EXACT BIGINT comparisons — zero
    * floats in the decision), with full-frame guards at both series
    * ends; report = top-20 peaks by (revenue, day). The windows run
    * over the O(days) daily aggregate.
    */
  def timePeakDetection(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    val wo = Window.orderBy("day")
    daily
      .withColumn("rn", row_number().over(wo))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("lmax", max(col("c")).over(wo.rowsBetween(-7, -1)))
      .withColumn("rmax", max(col("c")).over(wo.rowsBetween(1, 7)))
      .filter(col("rn") > 7 && col("rn") <= col("n") - 7
        && col("c") > col("lmax") && col("c") > col("rmax"))
      .withColumn("pk", row_number().over(
        Window.orderBy(col("c").desc, col("day"))))
      .filter(col("pk") <= 20)
      .select(col("day"), round(col("c").cast("double") / 100, 6).as("revenue"),
        round(col("c").cast("double") / greatest(col("lmax"), col("rmax")), 6)
          .as("prominence_ratio"))
      .orderBy("day")
  }
  val timePeakDetectionSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |x AS (
      |  SELECT day, c,
      |    row_number() OVER (ORDER BY day) AS rn,
      |    count(*) OVER () AS n,
      |    max(c) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS lmax,
      |    max(c) OVER (ORDER BY day ROWS BETWEEN 1 FOLLOWING AND 7 FOLLOWING) AS rmax
      |  FROM daily),
      |pks AS (
      |  SELECT day, c, lmax, rmax,
      |    row_number() OVER (ORDER BY c DESC, day) AS pk
      |  FROM x
      |  WHERE rn > 7 AND rn <= n - 7 AND c > lmax AND c > rmax)
      |SELECT day, round(CAST(c AS DOUBLE) / 100, 6) AS revenue,
      |  round(CAST(c AS DOUBLE) / greatest(lmax, rmax), 6) AS prominence_ratio
      |FROM pks WHERE pk <= 20
      |ORDER BY day""".stripMargin

  /** C501 embed_triplet_mining — hard-example mining for metric
    * learning: per anchor (the fixed 100-vector probe set), the
    * hardest positive (same label, MINIMUM cosine) and hardest
    * negative (different label, MAXIMUM cosine), and the triplet
    * violation flag (hard-negative sim ≥ hard-positive sim). One
    * broadcast-anchor scan of the corpus; argmin/argmax run on
    * (sim, vec_id) composite keys — sims are bit-exact `FloatVecDot`
    * doubles, ties fall to the id. The margin column is the per-anchor
    * training signal a miner would emit.
    */
  def embedTripletMining(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val anchors = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("label").as("a_label"))
    val pairs = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("label").as("b_label"))
      .join(broadcast(anchors), col("a_id") =!= col("b_id"))
      .withColumn("sim", dot("a_emb", "b_emb"))
    pairs.groupBy("a_id")
      .agg(
        expr("min_by(b_id, struct(sim, b_id)) FILTER (WHERE b_label = a_label)")
          .as("hard_pos_id"),
        expr("min(sim) FILTER (WHERE b_label = a_label)").as("hp_sim"),
        expr("max_by(b_id, struct(sim, -b_id)) FILTER (WHERE b_label <> a_label)")
          .as("hard_neg_id"),
        expr("max(sim) FILTER (WHERE b_label <> a_label)").as("hn_sim"))
      .select(col("a_id"), col("hard_pos_id"), round(col("hp_sim"), 6).as("hp_sim"),
        col("hard_neg_id"), round(col("hn_sim"), 6).as("hn_sim"),
        (col("hn_sim") >= col("hp_sim")).as("violation"))
      .orderBy("a_id")
  }
  val embedTripletMiningSql: String = {
    val dot = dotSql("a.embedding", "b.embedding")
    s"""WITH pairs AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    a.label AS a_label, b.label AS b_label,
      |    $dot AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < 100 AND a.vec_id <> b.vec_id),
      |pos AS (
      |  SELECT a_id, b_id, sim,
      |    row_number() OVER (PARTITION BY a_id ORDER BY sim, b_id) AS rn
      |  FROM pairs WHERE b_label = a_label),
      |neg AS (
      |  SELECT a_id, b_id, sim,
      |    row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
      |  FROM pairs WHERE b_label <> a_label)
      |SELECT pos.a_id AS a_id, pos.b_id AS hard_pos_id,
      |  round(pos.sim, 6) AS hp_sim,
      |  neg.b_id AS hard_neg_id, round(neg.sim, 6) AS hn_sim,
      |  neg.sim >= pos.sim AS violation
      |FROM pos JOIN neg ON pos.a_id = neg.a_id AND pos.rn = 1 AND neg.rn = 1
      |ORDER BY a_id""".stripMargin
  }

  /** C502 stat_cochran_q — Cochran's Q for k correlated binary
    * outcomes: did the SAME users convert across all five event types
    * (the k-sample generalization of C459 McNemar)? Q = (k−1)·(k·ΣCⱼ²
    * − N²) / (k·N − ΣRᵢ²) from the user×type incidence flags — column
    * sums Cⱼ, row sums Rᵢ, grand total N, ALL exact integers, one IEEE
    * division. Two keyed aggregates + two scalar broadcasts; the
    * incidence table is one distinct over (user, type).
    */
  def statCochranQ(s: SparkSession, d: String): DataFrame = {
    // incidence = "user did this type at least 14 times" (≈ the
    // per-user-type median of this fixture's uniform generator, so the
    // flag actually varies) — the bare ≥1 flag saturates (every user
    // trips every type, all Rᵢ = k), which zeroes Q's denominator; the
    // nullif guard still protects that degenerate case
    val flags = events(s, d).groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 14)
      .select("user_id", "event_type")
    val rows = flags.groupBy("user_id").agg(count(lit(1)).cast("long").as("ri"))
      .agg(sum(col("ri")).cast("long").as("n_tot"),
        sum(col("ri") * col("ri")).cast("long").as("sri2"),
        count(lit(1)).cast("long").as("n_users"))
    val cols = flags.groupBy("event_type").agg(count(lit(1)).cast("long").as("cj"))
      .agg(sum(col("cj") * col("cj")).cast("long").as("scj2"),
        countDistinct(col("event_type")).cast("long").as("k"))
    rows.crossJoin(broadcast(cols))
      .selectExpr("n_users", "k",
        """round((k - 1.0) * (k * scj2 - CAST(n_tot AS DOUBLE) * n_tot)
          |  / nullif(CAST(k AS DOUBLE) * n_tot - sri2, 0.0), 4) AS q_stat""".stripMargin)
      .selectExpr("n_users", "k", "q_stat", "q_stat > 9.488 AS reject_equal_rates")
  }
  val statCochranQSql: String =
    """WITH flags AS (
      |  SELECT user_id, event_type FROM events
      |  GROUP BY 1, 2 HAVING count(*) >= 14),
      |r AS (
      |  SELECT CAST(sum(ri) AS BIGINT) AS n_tot,
      |    CAST(sum(ri * ri) AS BIGINT) AS sri2,
      |    count(*) AS n_users
      |  FROM (SELECT user_id, count(*) AS ri FROM flags GROUP BY 1)),
      |c AS (
      |  SELECT CAST(sum(cj * cj) AS BIGINT) AS scj2,
      |    count(*) AS k
      |  FROM (SELECT event_type, count(*) AS cj FROM flags GROUP BY 1)),
      |q AS (
      |  SELECT n_users, k,
      |    round((k - 1.0) * (k * scj2 - CAST(n_tot AS DOUBLE) * n_tot)
      |      / nullif(CAST(k AS DOUBLE) * n_tot - sri2, 0.0), 4) AS q_stat
      |  FROM r, c)
      |SELECT n_users, k, q_stat, q_stat > 9.488 AS reject_equal_rates FROM q""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_kruskal_wallis" -> (statKruskalWallis _),
    "analytics_session_path_topk" -> (analyticsSessionPathTopk _),
    "pipeline_oversample_minority" -> (pipelineOversampleMinority _),
    "time_peak_detection" -> (timePeakDetection _),
    "embed_triplet_mining" -> (embedTripletMining _),
    "stat_cochran_q" -> (statCochranQ _),
  )

  val oracle: Map[String, String] = Map(
    "stat_kruskal_wallis" -> statKruskalWallisSql,
    "analytics_session_path_topk" -> analyticsSessionPathTopkSql,
    "pipeline_oversample_minority" -> pipelineOversampleMinoritySql,
    "time_peak_detection" -> timePeakDetectionSql,
    "embed_triplet_mining" -> embedTripletMiningSql,
    "stat_cochran_q" -> statCochranQSql,
  )
}
