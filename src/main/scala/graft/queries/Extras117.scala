package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 17 (C458–C463): randomization inference, paired tests, corpus
  * novelty, SimHash separability diagnostics, strict-gap funnels, and
  * QUALIFY emulation.
  */
object Extras117 {

  /** C458 stat_permutation_pvalue — approximate randomization test: is
    * the click-vs-view mean event value difference explainable by
    * chance? K=64 DETERMINISTIC pseudo-permutations (the C319 md5-
    * fraction trick keyed by (event_id, replicate) — reproducible
    * across engines and reruns, unlike rand()): each replicate
    * re-labels every row A′ with probability nA/(nA+nB), the statistic
    * is |mean(A′) − mean(B′)|, and the p-value is the smoothed
    * extreme-replicate fraction (1 + #{stat_r ≥ stat_obs}) / (K + 1).
    *
    * Scale: one narrow ×K explode, then ONE map-side-combinable
    * groupBy(r) over exact-decimal sums — no window, no shuffle beyond
    * the K-row aggregate; the observed stat is a 1-row broadcast.
    * Means are single IEEE divisions of exact decimal sums, so the
    * replicate statistics are bit-identical across engines.
    */
  def statPermutationPvalue(s: SparkSession, d: String): DataFrame = {
    val K = 64
    val ab = events(s, d).filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("event_type"), col("value"))
    val obs = ab.agg(
      (abs(dsum(when(col("event_type") === "click", col("value")))
          / sum(when(col("event_type") === "click", 1L))
        - dsum(when(col("event_type") === "view", col("value")))
          / sum(when(col("event_type") === "view", 1L)))).as("stat_obs"),
      (sum(when(col("event_type") === "click", 1L)).cast("double")
        / count(lit(1))).as("p_frac"))
    val reps = ab
      .select(col("event_id"), col("value"),
        explode(sequence(lit(1), lit(K))).as("r"))
      .crossJoin(broadcast(obs))
      .withColumn("u",
        conv(substring(md5(concat(col("event_id").cast("string"), lit(":"),
          col("r").cast("string"))), 1, 6), 16, 10).cast("double") / lit(16777216.0))
      .withColumn("ga", col("u") < col("p_frac"))
      .groupBy("r")
      .agg(
        abs(dsum(when(col("ga"), col("value")))
            / sum(when(col("ga"), 1L))
          - dsum(when(!col("ga"), col("value")))
            / sum(when(!col("ga"), 1L))).as("stat_r"),
        first(col("stat_obs")).as("stat_obs"))
    reps.agg(
        round(first(col("stat_obs")), 6).as("stat_obs"),
        count(lit(1)).as("k"),
        sum(when(col("stat_r") >= col("stat_obs"), 1L).otherwise(0L)).as("n_extreme"))
      .select(col("stat_obs"), col("k"), col("n_extreme"),
        round((col("n_extreme") + 1).cast("double") / (col("k") + 1), 6).as("p_value"))
  }
  val statPermutationPvalueSql: String = {
    val mean = (g: String) =>
      s"""(${dsumSql(s"CASE WHEN $g THEN value END")}
         |  / sum(CASE WHEN $g THEN 1 ELSE 0 END))""".stripMargin
    s"""WITH ab AS (
       |  SELECT event_id, event_type, value FROM events
       |  WHERE event_type IN ('click', 'view')),
       |obs AS (
       |  SELECT abs(${mean("event_type = 'click'")} - ${mean("event_type = 'view'")}) AS stat_obs,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
       |      / count(*) AS p_frac
       |  FROM ab),
       |reps AS (
       |  SELECT rr.r,
       |    abs(${mean("ga")} - ${mean("NOT ga")}) AS stat_r,
       |    first(stat_obs) AS stat_obs
       |  FROM (
       |    SELECT ab.event_id, ab.value, r.r, obs.stat_obs,
       |      CAST(CAST('0x' || substr(md5(CAST(ab.event_id AS VARCHAR) || ':'
       |          || CAST(r.r AS VARCHAR)), 1, 6) AS BIGINT) AS DOUBLE)
       |        / 16777216.0 < obs.p_frac AS ga
       |    FROM ab
       |    CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS r) r
       |    CROSS JOIN obs) rr
       |  GROUP BY rr.r)
       |SELECT round(first(stat_obs), 6) AS stat_obs,
       |  count(*) AS k,
       |  CAST(sum(CASE WHEN stat_r >= stat_obs THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       |  round(CAST(CAST(sum(CASE WHEN stat_r >= stat_obs THEN 1 ELSE 0 END) AS BIGINT)
       |    + 1 AS DOUBLE) / (count(*) + 1), 6) AS p_value
       |FROM reps""".stripMargin
  }

  /** C459 stat_mcnemar — paired binary test on the SAME users across
    * two periods: did click propensity change after the mid-month
    * cutoff? Discordant pairs only (b = clicked before, not after;
    * c = after, not before); statistic = (b−c)²/(b+c), exact integer
    * arithmetic with one final IEEE division (nullif guards the
    * no-discordant-pairs corpus). One groupBy(user) + one global
    * aggregate — the paired-test shape at any scale.
    */
  def statMcnemar(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    val per = events(s, d).filter(col("event_type") === "click")
      .groupBy("user_id")
      .agg(
        max(when(col("ts") < cutoff, 1L).otherwise(0L)).as("pre"),
        max(when(col("ts") >= cutoff, 1L).otherwise(0L)).as("post"))
    per.agg(
        sum(when(col("pre") === 1 && col("post") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("pre") === 0 && col("post") === 1, 1L).otherwise(0L)).as("c"))
      .select(col("b"), col("c"),
        round(((col("b") - col("c")) * (col("b") - col("c"))).cast("double")
          / expr("nullif(b + c, 0)").cast("double"), 6).as("mcnemar"))
  }
  val statMcnemarSql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    max(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS pre,
      |    max(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS post
      |  FROM events WHERE event_type = 'click' GROUP BY user_id),
      |agg AS (
      |  SELECT CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |         CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM per)
      |SELECT b, c,
      |  round(CAST((b - c) * (b - c) AS DOUBLE) / CAST(nullif(b + c, 0) AS DOUBLE), 6)
      |    AS mcnemar
      |FROM agg""".stripMargin

  /** C460 text_crossdoc_novelty — the corpus NOVELTY CURVE a training-
    * data pipeline watches while ingesting: per corpus-position decile,
    * the fraction of shingles never seen in any earlier document
    * (first occurrence = min doc_id per shingle — one shuffle keyed by
    * shingle, one by doc). Rates are exact-integer sums with one IEEE
    * division per decile (sum-of-ratios would be order-sensitive).
    * Hashed shingles on the Spark side ≡ string shingles in the oracle
    * (collision-free on this corpus — the C5 discipline).
    */
  def textCrossdocNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = DedupExtras.shingles(s, d) // (doc_id, shingle), exploded distinct-per-doc
    val firstSeen = sh.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
    val perDoc = sh.join(firstSeen, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    val maxDoc = documents(s, d).agg(max(col("doc_id")).as("max_doc"))
    perDoc.crossJoin(broadcast(maxDoc))
      .withColumn("decile",
        least(expr("(doc_id * 10) div (max_doc + 1)"), lit(9L)).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).cast("long").as("n_shingles"),
        sum(col("n_novel")).cast("long").as("n_novel"))
      .withColumn("novelty_rate",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .orderBy("decile")
  }
  val textCrossdocNoveltySql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS g
      |  FROM documents),
      |fs AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g),
      |perdoc AS (
      |  SELECT sh.doc_id, count(*) AS n_sh,
      |    sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
      |  FROM sh JOIN fs ON sh.g = fs.g GROUP BY sh.doc_id),
      |mx AS (SELECT max(doc_id) AS max_doc FROM documents)
      |SELECT least(perdoc.doc_id * 10 // (mx.max_doc + 1), 9) AS decile,
      |  count(*) AS n_docs,
      |  CAST(sum(n_sh) AS BIGINT) AS n_shingles,
      |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
      |  round(CAST(sum(n_novel) AS DOUBLE) / CAST(sum(n_sh) AS BIGINT), 6) AS novelty_rate
      |FROM perdoc CROSS JOIN mx
      |GROUP BY 1 ORDER BY decile""".stripMargin

  /** C461 dedup_simhash_hamming_profile — corpus SEPARABILITY
    * diagnostic: the pairwise-hamming histogram over a FIXED 500-doc
    * probe sample tells you where to set the near-dup hamming
    * threshold (a clean corpus shows a bimodal profile: a near-0 dup
    * spike and a ~32-centered background). The sample is constant-size
    * (doc_id < 500), so the pair stage is O(1) in the corpus — the
    * diagnostic costs one scan plus a bounded 125k-pair self-join at
    * ANY corpus size. Oracled end-to-end via the cross-engine
    * signature ([[DedupExtras.simhashSigsCtePrefix]]).
    */
  def dedupSimhashHammingProfile(s: SparkSession, d: String): DataFrame = {
    val sample = documents(s, d).filter(col("doc_id") < 500)
      .withColumn("sig", expr(s"${graft.functions.SimHashSig.name}(text)"))
      .select(col("doc_id"), col("sig"))
    val a = sample.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = sample.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(expr("bit_count(sig_a ^ sig_b) div 8").cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("bucket")
  }
  val dedupSimhashHammingProfileSql: String =
    s"""${DedupExtras.simhashSigsCtePrefix},
      |sample AS (SELECT doc_id, hi, lo FROM sigs WHERE doc_id < 500)
      |SELECT CAST((bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))) // 8
      |    AS BIGINT) AS bucket,
      |  count(*) AS n_pairs
      |FROM sample a JOIN sample b ON a.doc_id < b.doc_id
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** C462 analytics_funnel_strict_gap — strict-order funnel with a MAX
    * GAP: view → click within 24 h → purchase within a further 24 h,
    * per user, counted by deepest stage reached. Built by MIN-CHAINING
    * aggregations (earliest qualifying timestamp per stage, each stage
    * a groupBy(user) + an equi-join back to events) — no windows, no
    * per-user event sorting; three corpus passes that all shuffle on
    * user_id and could share one partitioning on a cluster. Timestamp
    * arithmetic is exact µs (INTERVAL 24 HOURS both engines).
    */
  def analyticsFunnelStrictGap(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    s1.agg(count(lit(1)).as("n_view")).crossJoin(
        broadcast(s2.agg(count(lit(1)).as("n_click_24h"))))
      .crossJoin(broadcast(s3.agg(count(lit(1)).as("n_purchase_24h"))))
  }
  val analyticsFunnelStrictGapSql: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |    AND e.ts <= s2.t2 + INTERVAL 24 HOUR
      |  GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM s1) AS n_view,
      |       (SELECT count(*) FROM s2) AS n_click_24h,
      |       (SELECT count(*) FROM s3) AS n_purchase_24h""".stripMargin

  /** C463 sql_qualify_emulation — the QUALIFY clause (filter on a
    * window function, DuckDB/Snowflake/BigQuery syntax) emulated in
    * Spark SQL, which lacks it, by the standard subquery rewrite:
    * top order per customer. The oracle runs NATIVE QUALIFY — the row
    * certifies the rewrite is semantics-preserving, the translation a
    * reference user migrating SQL needs. Bounded output via a keyed
    * customer range; deterministic tie-break inside the window order.
    */
  def sqlQualifyEmulation(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_qual_orders")
    s.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM g_qual_orders WHERE o_custkey <= 200) t
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin)
  }
  val sqlQualifyEmulationSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM orders WHERE o_custkey <= 200
      |QUALIFY row_number() OVER (PARTITION BY o_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey ASC) = 1
      |ORDER BY o_custkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_permutation_pvalue" -> (statPermutationPvalue _),
    "stat_mcnemar" -> (statMcnemar _),
    "text_crossdoc_novelty" -> (textCrossdocNovelty _),
    "dedup_simhash_hamming_profile" -> (dedupSimhashHammingProfile _),
    "analytics_funnel_strict_gap" -> (analyticsFunnelStrictGap _),
    "sql_qualify_emulation" -> (sqlQualifyEmulation _),
  )

  val oracle: Map[String, String] = Map(
    "stat_permutation_pvalue" -> statPermutationPvalueSql,
    "stat_mcnemar" -> statMcnemarSql,
    "text_crossdoc_novelty" -> textCrossdocNoveltySql,
    "dedup_simhash_hamming_profile" -> dedupSimhashHammingProfileSql,
    "analytics_funnel_strict_gap" -> analyticsFunnelStrictGapSql,
    "sql_qualify_emulation" -> sqlQualifyEmulationSql,
  )
}
