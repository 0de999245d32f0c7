package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 28 (C518–C521): entity-resolution survivorship, cart
  * abandonment, the Wilcoxon signed-rank test, and per-dimension
  * embedding variance.
  */
object Extras128 {

  /** C518 pipeline_dedup_survivorship — golden-record selection (ER
    * survivorship): within each exact-duplicate cluster (md5(text)),
    * the surviving record is the longest text, ties to the LOWEST
    * doc_id — expressed as one max_by/arg_max on the composite numeric
    * key n_chars·1e9 − doc_id (a single BIGINT, so both engines agree
    * without struct/list comparator dialects). Per-lang audit: docs,
    * clusters, dropped copies, biggest cluster, and the exact char
    * mass and id-sum of the chosen golden records (the id-sum pins the
    * tie-break). Two keyed aggregates riding the (lang, hash) shuffle.
    */
  def pipelineDedupSurvivorship(s: SparkSession, d: String): DataFrame = {
    val clusters = documents(s, d)
      .groupBy(col("lang"), md5(col("text")).as("h"))
      .agg(count(lit(1)).cast("long").as("sz"),
        max(col("n_chars")).cast("long").as("golden_chars"),
        expr("max_by(doc_id, n_chars * 1000000000 - doc_id)").as("golden_id"))
    clusters.groupBy("lang")
      .agg(
        sum(col("sz")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_clusters"),
        (sum(col("sz")) - count(lit(1))).cast("long").as("n_dropped"),
        max(col("sz")).cast("long").as("max_cluster"),
        sum(col("golden_chars")).cast("long").as("golden_char_mass"),
        sum(col("golden_id")).cast("long").as("golden_id_sum"))
      .orderBy("lang")
  }
  val pipelineDedupSurvivorshipSql: String =
    """WITH cl AS (
      |  SELECT lang, md5(text) AS h, count(*) AS sz,
      |    CAST(max(n_chars) AS BIGINT) AS golden_chars,
      |    arg_max(doc_id, n_chars * 1000000000 - doc_id) AS golden_id
      |  FROM documents GROUP BY 1, 2)
      |SELECT lang, CAST(sum(sz) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_clusters,
      |  CAST(sum(sz) - count(*) AS BIGINT) AS n_dropped,
      |  CAST(max(sz) AS BIGINT) AS max_cluster,
      |  CAST(sum(golden_chars) AS BIGINT) AS golden_char_mass,
      |  CAST(sum(golden_id) AS BIGINT) AS golden_id_sum
      |FROM cl GROUP BY lang ORDER BY lang""".stripMargin

  /** C519 analytics_cart_abandonment — daily abandonment: of the users
    * whose first click of the day got no purchase within the following
    * 24 hours, as a share of that day's clickers. First-click = one
    * keyed min; the "purchase within 24 h" probe is a user-keyed
    * left-semi range join (exact µs interval arithmetic) — both sides
    * ride the user shuffle; the daily rate is one exact-integer
    * division. O(days) output.
    */
  def analyticsCartAbandonment(s: SparkSession, d: String): DataFrame = {
    val clicks = events(s, d).filter(col("event_type") === "click")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(min(col("ts")).as("first_click"))
    val purchases = events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val converted = clicks.join(purchases,
      col("user_id") === col("p_user")
        && col("p_ts") > col("first_click")
        && col("p_ts") <= col("first_click") + expr("INTERVAL 24 HOURS"),
      "left_semi")
    val conv = converted.groupBy("day").agg(count(lit(1)).cast("long").as("n_conv"))
    clicks.groupBy("day").agg(count(lit(1)).cast("long").as("n_clickers"))
      .join(conv, Seq("day"), "left")
      .select(col("day"), col("n_clickers"),
        (col("n_clickers") - coalesce(col("n_conv"), lit(0L))).as("n_abandoned"),
        round((col("n_clickers") - coalesce(col("n_conv"), lit(0L))).cast("double")
          / col("n_clickers"), 6).as("abandon_rate"))
      .orderBy("day")
  }
  val analyticsCartAbandonmentSql: String =
    """WITH clicks AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, min(ts) AS first_click
      |  FROM events WHERE event_type = 'click'
      |  GROUP BY 1, 2),
      |conv AS (
      |  SELECT day, count(*) AS n_conv FROM clicks c
      |  WHERE EXISTS (
      |    SELECT 1 FROM events p
      |    WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      |      AND p.ts > c.first_click
      |      AND p.ts <= c.first_click + INTERVAL 24 HOUR)
      |  GROUP BY day),
      |base AS (
      |  SELECT day, count(*) AS n_clickers FROM clicks GROUP BY day)
      |SELECT base.day AS day, CAST(n_clickers AS BIGINT) AS n_clickers,
      |  CAST(n_clickers - coalesce(n_conv, 0) AS BIGINT) AS n_abandoned,
      |  round(CAST(n_clickers - coalesce(n_conv, 0) AS DOUBLE) / n_clickers, 6)
      |    AS abandon_rate
      |FROM base LEFT JOIN conv ON base.day = conv.day
      |ORDER BY day""".stripMargin

  /** C520 stat_wilcoxon_signed_rank — paired location test on
    * per-user (click mean − view mean) differences: W⁺ = Σ ranks of
    * positive differences, z ≈ (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24).
    * The difference is ONE IEEE expression over exact per-user cent
    * sums (bit-equal cross-engine); |d| ranks on the (|d|, user_id)
    * TOTAL order — the deterministic-total-order convention the fleet
    * uses in place of midranks, identical in both engines. The rank
    * runs on GlobalRank's two-pass range-partitioned row number (the
    * per-user frame GROWS with the corpus), and W⁺ is an exact BIGINT.
    */
  def statWilcoxonSignedRank(s: SparkSession, d: String): DataFrame = {
    val per = events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click",
          expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)"))
          .otherwise(0L)).cast("long").as("sc"),
        count(when(col("event_type") === "click", 1)).cast("long").as("nc"),
        sum(when(col("event_type") === "view",
          expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)"))
          .otherwise(0L)).cast("long").as("sv"),
        count(when(col("event_type") === "view", 1)).cast("long").as("nv"))
      .filter(col("nc") > 0 && col("nv") > 0)
      .withColumn("diff", expr("CAST(sc AS DOUBLE) / nc - CAST(sv AS DOUBLE) / nv"))
      .filter(col("diff") =!= 0.0)
    // users grow with the corpus: |d| ranks on GlobalRank's two-pass
    // range-partitioned row number, never a single-task global window
    graft.plans.GlobalRank.withGlobalRowNumber(per, "rk",
        Seq(abs(col("diff")).asc, col("user_id").asc))
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(when(col("diff") > 0, col("rk")).otherwise(0L)).cast("long").as("w_plus"))
      .selectExpr("n", "w_plus",
        """round((w_plus - CAST(n AS DOUBLE) * (n + 1) / 4)
          |  / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24), 4)
          |  AS z_stat""".stripMargin)
      .selectExpr("n", "w_plus", "z_stat", "abs(z_stat) > 1.96 AS reject_no_shift")
  }
  val statWilcoxonSignedRankSql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'click'
      |      THEN CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS sc,
      |    CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS nc,
      |    CAST(sum(CASE WHEN event_type = 'view'
      |      THEN CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS sv,
      |    CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS nv
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY user_id
      |  HAVING nc > 0 AND nv > 0),
      |dd AS (
      |  SELECT user_id,
      |    CAST(sc AS DOUBLE) / nc - CAST(sv AS DOUBLE) / nv AS diff
      |  FROM per
      |  WHERE CAST(sc AS DOUBLE) / nc - CAST(sv AS DOUBLE) / nv <> 0.0),
      |rk AS (
      |  SELECT diff,
      |    CAST(row_number() OVER (ORDER BY abs(diff), user_id) AS BIGINT) AS rk
      |  FROM dd),
      |agg AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN diff > 0 THEN rk ELSE 0 END) AS BIGINT) AS w_plus
      |  FROM rk)
      |SELECT CAST(n AS BIGINT) AS n, w_plus,
      |  round((w_plus - CAST(n AS DOUBLE) * (n + 1) / 4)
      |    / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24), 4) AS z_stat,
      |  abs(round((w_plus - CAST(n AS DOUBLE) * (n + 1) / 4)
      |    / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24), 4)) > 1.96
      |    AS reject_no_shift
      |FROM agg""".stripMargin

  /** C521 embed_dim_variance — the scree diagnostic before truncation
    * (which dimensions carry signal, the question behind C* matryoshka
    * evaluation): per-dimension mean and variance over the corpus.
    * Each float component rounds to a 1e-9 fixed-point BIGINT (floats
    * are ~0.1-magnitude, so the grain is far below float precision),
    * Σf and Σf² accumulate exactly (Σf² reaches ~1e21 → DECIMAL), and
    * mean/variance are one IEEE formula per dimension. posexplode's
    * 0-based pos is shifted to DuckDB's 1-based subscripts.
    */
  def embedDimVariance(s: SparkSession, d: String): DataFrame = {
    embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).cast("long").as("dim"),
        expr("CAST(floor(CAST(v AS DOUBLE) * 1e9 + 0.5) AS BIGINT)").as("f"))
      .groupBy("dim")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("f")).cast("decimal(38,0)").as("sf"),
        sum(expr("CAST(f AS DECIMAL(38,0)) * f")).cast("decimal(38,0)").as("sf2"))
      .selectExpr("dim",
        "round(CAST(sf AS DOUBLE) / n / 1e9, 9) AS mean_v",
        """round((CAST(n * sf2 - sf * sf AS DOUBLE)
          |  / (CAST(n AS DOUBLE) * n)) / 1e18, 9) AS var_v""".stripMargin)
      .orderBy("dim")
  }
  val embedDimVarianceSql: String =
    """WITH comp AS (
      |  SELECT i.i AS dim,
      |    CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS f
      |  FROM embeddings e, (SELECT unnest(generate_series(1, 64)) AS i) i),
      |g AS (
      |  SELECT dim, count(*) AS n,
      |    CAST(sum(f) AS DECIMAL(38,0)) AS sf,
      |    CAST(sum(CAST(f AS DECIMAL(38,0)) * f) AS DECIMAL(38,0)) AS sf2
      |  FROM comp GROUP BY dim)
      |SELECT CAST(dim AS BIGINT) AS dim,
      |  round(CAST(sf AS DOUBLE) / n / 1e9, 9) AS mean_v,
      |  round((CAST(n * sf2 - sf * sf AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * n)) / 1e18, 9) AS var_v
      |FROM g ORDER BY dim""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_dedup_survivorship" -> (pipelineDedupSurvivorship _),
    "analytics_cart_abandonment" -> (analyticsCartAbandonment _),
    "stat_wilcoxon_signed_rank" -> (statWilcoxonSignedRank _),
    "embed_dim_variance" -> (embedDimVariance _),
  )

  val oracle: Map[String, String] = Map(
    "pipeline_dedup_survivorship" -> pipelineDedupSurvivorshipSql,
    "analytics_cart_abandonment" -> analyticsCartAbandonmentSql,
    "stat_wilcoxon_signed_rank" -> statWilcoxonSignedRankSql,
    "embed_dim_variance" -> embedDimVarianceSql,
  )
}
