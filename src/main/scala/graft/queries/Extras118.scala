package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.FloatVecDot.dotSql

/** Wave 18 (C464–C469): leakage-free splits, ANN confidence margins,
  * rolling correlation, referential-integrity audits, climatology
  * z-scores, and the SimHash band-width tuning sweep.
  */
object Extras118 {

  /** C464 sample_group_split — GROUP-AWARE train/holdout split: the
    * split key is the md5 fraction of the SOURCE (the C319 trick one
    * level up), so every document of a source lands on the same side —
    * the leakage-free split an eval pipeline needs (doc-level random
    * splits leak near-duplicates across the boundary). Deterministic,
    * reproducible, one scan + one keyed aggregate; the spec asserts
    * zero sources straddle the boundary.
    */
  def sampleGroupSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("u",
        conv(substring(md5(col("source")), 1, 6), 16, 10)
          .cast("double") / lit(16777216.0))
      .withColumn("split", when(col("u") < 0.8, "train").otherwise("holdout"))
      .groupBy("split")
      .agg(
        countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy("split")
  val sampleGroupSplitSql: String =
    """SELECT CASE WHEN CAST(CAST('0x' || substr(md5(source), 1, 6) AS BIGINT)
      |    AS DOUBLE) / 16777216.0 < 0.8 THEN 'train' ELSE 'holdout' END AS split,
      |  count(DISTINCT source) AS n_sources,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  /** C465 sim_topk_margin — retrieval CONFIDENCE profile: per probe,
    * the margin between the best and second-best exact cosine. A thin
    * margin means the nearest neighbor is ambiguous (rerank or abstain
    * in a RAG pipeline); built on B42's broadcast-probe scan, one
    * window, rn ≤ 2 pivoted by conditional aggregation.
    */
  def simTopkMargin(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id").asc)
    emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr(s"${graft.functions.FloatVecDot.name}(probe_emb, embedding)"), 6).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("probe_id")
      .agg(
        max(when(col("rn") === 1, col("sim"))).as("best_sim"),
        max(when(col("rn") === 2, col("sim"))).as("second_sim"))
      .withColumn("margin", round(col("best_sim") - col("second_sim"), 6))
      .orderBy("probe_id")
  }
  val simTopkMarginSql: String =
    s"""WITH ranked AS (
       |  SELECT p.vec_id AS probe_id,
       |    round(${dotSql("p.embedding", "e.embedding")}, 6) AS sim,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY round(${dotSql("p.embedding", "e.embedding")}, 6) DESC,
       |               e.vec_id ASC) AS rn
       |  FROM embeddings p JOIN embeddings e
       |    ON p.vec_id < 10 AND e.vec_id <> p.vec_id)
       |SELECT probe_id,
       |  max(CASE WHEN rn = 1 THEN sim END) AS best_sim,
       |  max(CASE WHEN rn = 2 THEN sim END) AS second_sim,
       |  round(max(CASE WHEN rn = 1 THEN sim END)
       |    - max(CASE WHEN rn = 2 THEN sim END), 6) AS margin
       |FROM ranked WHERE rn <= 2
       |GROUP BY probe_id ORDER BY probe_id""".stripMargin

  /** C466 win_rolling_corr — 7-day rolling Pearson correlation between
    * daily order count and daily revenue (exact whole dollars — cents
    * div 100; cents² grazes long range at sf0.1 and correlation is
    * scale-invariant). The six frame sums (n, Σx, Σy, Σxx, Σyy, Σxy)
    * accumulate EXACT integers; the correlation is then one fixed
    * IEEE formula per row — long→double conversion of identical exact
    * integers is identical in both engines, so no float summation
    * order exists to diverge. NULL until a full 7-day history (the
    * C142 never-a-silently-shorter-window discipline). The window is
    * global but sits over the DAILY aggregate — O(distinct days), the
    * shape the plan gate's aggregate-below rule recognizes.
    */
  def winRollingCorr(s: SparkSession, d: String): DataFrame = {
    // y in exact whole DOLLARS (cents div 100 — Spark div ≡ DuckDB //,
    // both truncate): daily cents² already grazes long range at sf0.1
    // and the correlation is scale-invariant, so the cheaper exact unit
    // keeps Σy² safe at any sf
    val daily = orders(s, d)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) div 100"))
          .cast("long").as("y"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("day").rowsBetween(-6, 0)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .select(col("day"), col("x"), col("y"),
        when(col("n") === 7,
          round((lit(7.0) * col("sxy") - col("sx").cast("double") * col("sy"))
            / expr("""nullif(sqrt(7.0 * sxx - CAST(sx AS DOUBLE) * sx)
                     |  * sqrt(7.0 * syy - CAST(sy AS DOUBLE) * sy), 0.0)""".stripMargin), 6))
          .as("corr7"))
      .orderBy("day")
  }
  val winRollingCorrSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |    count(*) AS x,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) // 100)
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |f AS (
      |  SELECT day, x, y,
      |    count(*) OVER w AS n,
      |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
      |    sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
      |    sum(x * y) OVER w AS sxy
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT day, x, y,
      |  CASE WHEN n = 7 THEN
      |    round((7.0 * sxy - CAST(sx AS DOUBLE) * sy)
      |      / nullif(sqrt(7.0 * sxx - CAST(sx AS DOUBLE) * sx)
      |        * sqrt(7.0 * syy - CAST(sy AS DOUBLE) * sy), 0.0), 6)
      |  END AS corr7
      |FROM f ORDER BY day""".stripMargin

  /** C467 ref_integrity_orphans — the referential-integrity audit a
    * curated database runs before every release: orders with no
    * customer, lineitems with no order, events with no known user.
    * Three keyed ANTI-joins (each one shuffle; at 100 TB the dimension
    * side broadcasts or both sides shuffle on the key — never a
    * collect). The generator fixture is referentially clean (all three
    * counts 0 — itself a graded fact); the spec plants orphan orders
    * AND orphan events into a copied fixture and proves detection.
    */
  def refIntegrityOrphans(s: SparkSession, d: String): DataFrame = {
    val orphanOrders = orders(s, d).join(
      customer(s, d).select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_anti")
    val orphanLines = lineitem(s, d).join(
      orders(s, d).select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti")
    val orphanEvents = events(s, d).join(
      customer(s, d).select(col("c_custkey").as("user_id")), Seq("user_id"), "left_anti")
    orphanOrders.agg(count(lit(1)).as("orphan_orders"))
      .crossJoin(broadcast(orphanLines.agg(count(lit(1)).as("orphan_lineitems"))))
      .crossJoin(broadcast(orphanEvents.agg(count(lit(1)).as("orphan_events"))))
  }
  val refIntegrityOrphansSql: String =
    """SELECT
      |  (SELECT count(*) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |    AS orphan_orders,
      |  (SELECT count(*) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |    AS orphan_lineitems,
      |  (SELECT count(*) FROM events e
      |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
      |    AS orphan_events""".stripMargin

  /** C468 ref_climatology_zscore — per-observation QC against the
    * seasonal climatology (the reference's anomaly-screening pattern):
    * each event's value is standardized against its (event_type,
    * month) climatology; |z| > 3 flags outliers. Moments come from
    * EXACT integer cent sums (Σx, Σx² as BIGINT — value ≤ 600.00 keeps
    * Σx² far inside long range); z is a fixed IEEE formula per row;
    * one keyed aggregate + one broadcast join back. The sample
    * variance uses n−1 with a nullif guard for singleton groups.
    */
  def refClimatologyZscore(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)")
    val clim = events(s, d)
      .groupBy(col("event_type"), month(col("ts")).cast("long").as("month"))
      .agg(count(lit(1)).as("n"),
        sum(cents).cast("long").as("sx"),
        sum(cents * cents).cast("long").as("sxx"))
      .withColumn("mean_c", col("sx").cast("double") / col("n"))
      .withColumn("var_c",
        (col("sxx").cast("double") - col("sx").cast("double") * col("sx") / col("n"))
          / expr("nullif(n - 1, 0)"))
    events(s, d)
      .select(col("event_type"), month(col("ts")).cast("long").as("month"), cents.as("c"))
      .join(broadcast(clim), Seq("event_type", "month"))
      .withColumn("z", (col("c") - col("mean_c"))
        / sqrt(expr("nullif(var_c, 0.0)")))
      .groupBy("event_type", "month")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_outliers"),
        round(min(col("z")), 6).as("min_z"),
        round(max(col("z")), 6).as("max_z"))
      .orderBy("event_type", "month")
  }
  val refClimatologyZscoreSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(month(ts) AS BIGINT) AS month,
      |    CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |clim AS (
      |  SELECT event_type, month, count(*) AS n,
      |    CAST(sum(c) AS BIGINT) AS sx, CAST(sum(c * c) AS BIGINT) AS sxx
      |  FROM c GROUP BY 1, 2),
      |z AS (
      |  SELECT c.event_type, c.month,
      |    (c.c - CAST(clim.sx AS DOUBLE) / clim.n)
      |      / sqrt(nullif((CAST(clim.sxx AS DOUBLE)
      |          - CAST(clim.sx AS DOUBLE) * clim.sx / clim.n)
      |        / nullif(clim.n - 1, 0), 0.0)) AS z
      |  FROM c JOIN clim USING (event_type, month))
      |SELECT event_type, month, count(*) AS n,
      |  CAST(sum(CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(min(z), 6) AS min_z, round(max(z), 6) AS max_z
      |FROM z GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** C469 dedup_band_width_sweep — the SimHash BANDING TUNING table:
    * for band configurations 4×16 / 8×8 / 16×4 bits over the fixed
    * 500-doc probe sample, how many candidate pairs does each band
    * width generate and what fraction of the TRUE hamming ≤ 3 pairs
    * does it catch? (4×16 is provably lossless for h ≤ 3 by
    * pigeonhole — the spec asserts recall 1.0 — while wider-band
    * configs trade recall for candidate volume.) Band match is pure
    * bit arithmetic on the XOR of the cross-engine signatures: a band
    * of width w matches iff the xor's w-bit slice is zero. O(1) in the
    * corpus like C461; oracled end-to-end.
    */
  def dedupBandWidthSweep(s: SparkSession, d: String): DataFrame = {
    val sample = documents(s, d).filter(col("doc_id") < 500)
      .withColumn("sig", expr(s"${graft.functions.SimHashSig.name}(text)"))
      .select(col("doc_id"), col("sig"))
    val pairs = sample.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      .join(sample.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        col("doc_a") < col("doc_b"))
      .select(
        expr("sig_a ^ sig_b").as("x"),
        expr("bit_count(sig_a ^ sig_b)").cast("long").as("ham"))
    def cand(w: Int) = {
      val nb = 64 / w
      val mask = (1L << w) - 1
      expr(s"exists(sequence(0, ${nb - 1}), j -> ((x >> (j * $w)) & $mask) = 0)")
    }
    val flagged = pairs.select(col("ham"),
      cand(16).as("c16"), cand(8).as("c8"), cand(4).as("c4"))
    def row(bands: Int, width: Int, c: String) =
      flagged.agg(
        lit(bands.toLong).as("bands"),
        lit(width.toLong).as("width"),
        sum(when(col(c), 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("ham") <= 3, 1L).otherwise(0L)).as("n_true"),
        sum(when(col(c) && col("ham") <= 3, 1L).otherwise(0L)).as("n_caught"))
    row(4, 16, "c16").unionByName(row(8, 8, "c8")).unionByName(row(16, 4, "c4"))
      .withColumn("recall",
        round(col("n_caught").cast("double") / expr("nullif(n_true, 0)"), 6))
      .orderBy("width")
  }
  val dedupBandWidthSweepSql: String = {
    // band j of width w matches iff that w-bit slice of the xor is 0;
    // slices never straddle the hi/lo halves (w ∈ {16,8,4} divides 32)
    def candSql(w: Int): String = {
      val terms = (0 until 64 / w).map { j =>
        val (half, off) = if (j * w < 32) ("xlo", j * w) else ("xhi", j * w - 32)
        s"(($half // ${1L << off}) % ${1L << w} = 0)"
      }
      terms.mkString("(", " OR ", ")")
    }
    def rowSql(bands: Int, w: Int): String =
      s"""SELECT CAST($bands AS BIGINT) AS bands, CAST($w AS BIGINT) AS width,
         |  CAST(sum(CASE WHEN ${candSql(w)} THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN ham <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |  CAST(sum(CASE WHEN ${candSql(w)} AND ham <= 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_caught
         |FROM pairs""".stripMargin
    s"""${DedupExtras.simhashSigsCtePrefix},
       |sample AS (SELECT doc_id, hi, lo FROM sigs WHERE doc_id < 500),
       |pairs AS (
       |  SELECT xor(a.hi, b.hi) AS xhi, xor(a.lo, b.lo) AS xlo,
       |    bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS ham
       |  FROM sample a JOIN sample b ON a.doc_id < b.doc_id),
       |res AS (
       |  ${rowSql(4, 16)}
       |  UNION ALL
       |  ${rowSql(8, 8)}
       |  UNION ALL
       |  ${rowSql(16, 4)})
       |SELECT bands, width, n_candidates, n_true, n_caught,
       |  round(CAST(n_caught AS DOUBLE) / nullif(n_true, 0), 6) AS recall
       |FROM res ORDER BY width""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_group_split" -> (sampleGroupSplit _),
    "sim_topk_margin" -> (simTopkMargin _),
    "win_rolling_corr" -> (winRollingCorr _),
    "ref_integrity_orphans" -> (refIntegrityOrphans _),
    "ref_climatology_zscore" -> (refClimatologyZscore _),
    "dedup_band_width_sweep" -> (dedupBandWidthSweep _),
  )

  val oracle: Map[String, String] = Map(
    "sample_group_split" -> sampleGroupSplitSql,
    "sim_topk_margin" -> simTopkMarginSql,
    "win_rolling_corr" -> winRollingCorrSql,
    "ref_integrity_orphans" -> refIntegrityOrphansSql,
    "ref_climatology_zscore" -> refClimatologyZscoreSql,
    "dedup_band_width_sweep" -> dedupBandWidthSweepSql,
  )
}
