package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 20 (C475–C478): cross-source overlap, embedding-norm audits,
  * duplication-aware training weights, and anchored VWAP.
  */
object Extras120 {

  /** C475 text_source_overlap — which SOURCES mirror each other: the
    * pairwise token-set Jaccard matrix over the corpus' sources (the
    * source-level dedup question that precedes doc-level dedup in a
    * crawl pipeline). Per-source distinct-token sets are one keyed
    * aggregate; pair intersections come from an equi-join ON TOKEN
    * (shuffle by token, never a source×source×vocab blowup); set
    * sizes join back; the output is the O(sources²) upper triangle,
    * reported at J ≥ 0.5. Sources are a bounded dimension (20 here;
    * thousands at worst) — the matrix is driver-trivial while the
    * work stays corpus-proportional.
    */
  def textSourceOverlap(s: SparkSession, d: String): DataFrame = {
    val st = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("n_terms"))
    val inter = st.select(col("source").as("src_a"), col("term"))
      .join(st.select(col("source").as("src_b"), col("term")), "term")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("n_terms").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n_terms").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"),
        round(col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("src_a", "src_b")
  }
  val textSourceOverlapSql: String =
    """WITH st AS (
      |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |sizes AS (SELECT source, count(*) AS n_terms FROM st GROUP BY source),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
      |  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b,
      |  round(CAST(n_inter AS DOUBLE) / (sa.n_terms + sb.n_terms - n_inter), 6)
      |    AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.source = src_a
      |JOIN sizes sb ON sb.source = src_b
      |WHERE CAST(n_inter AS DOUBLE) / (sa.n_terms + sb.n_terms - n_inter) >= 0.5
      |ORDER BY src_a, src_b""".stripMargin

  /** C476 embed_norm_audit — the EMBEDDING SANITY GATE before any
    * cosine-based pipeline stage: every similarity row in this engine
    * assumes L2-normalized vectors (cosine ≡ dot), so audit the norm
    * distribution — ‖v‖² via the same bit-exact dot kernel the
    * similarity rows use, bucketed at 1e-3 resolution around 1. A
    * non-[0.999, 1.001] bucket appearing = the ingest broke the
    * contract. One scan, one tiny aggregate.
    */
  def embedNormAudit(s: SparkSession, d: String): DataFrame = {
    embeddings(s, d)
      .withColumn("nsq",
        expr(s"${graft.functions.FloatVecDot.name}(embedding, embedding)"))
      .withColumn("bucket", floor(col("nsq") * 1000).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"),
        round(min(col("nsq")), 9).as("min_nsq"),
        round(max(col("nsq")), 9).as("max_nsq"))
      .orderBy("bucket")
  }
  val embedNormAuditSql: String =
    """WITH n AS (
      |  SELECT list_reduce(list_transform(generate_series(1, 64),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS nsq
      |  FROM embeddings)
      |SELECT CAST(floor(nsq * 1000) AS BIGINT) AS bucket,
      |  count(*) AS n_vectors,
      |  round(min(nsq), 9) AS min_nsq, round(max(nsq), 9) AS max_nsq
      |FROM n GROUP BY 1 ORDER BY bucket""".stripMargin

  /** C477 pipeline_dup_weighting — DUPLICATION-AWARE training weights:
    * instead of dropping exact duplicates, each copy gets weight
    * 1/count(copies) so a document's total influence is
    * multiplicity-invariant (the soft-dedup used when provenance
    * diversity matters). Weighted effective char mass per language =
    * Σ chars/k computed at a FIXED-POINT 1e-6 grain: per-group term =
    * (chars·1e6) div k (exact integer floor division — Spark `div` ≡
    * DuckDB `//`), summed as exact BIGINTs, one final scale-down —
    * a float sum of per-group fractions would be shuffle-order
    * sensitive. Two keyed aggregates: md5-group profile, then per-lang
    * rollup.
    */
  def pipelineDupWeighting(s: SparkSession, d: String): DataFrame = {
    val groups = documents(s, d)
      .groupBy(col("lang"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("k"), sum(col("n_chars")).cast("long").as("chars"))
    groups.groupBy("lang")
      .agg(
        sum(col("k")).cast("long").as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(col("chars")).cast("long").as("raw_chars"),
        round(sum(expr("(chars * 1000000) div k")).cast("double") / 1e6, 6)
          .as("effective_chars"))
      .orderBy("lang")
  }
  val pipelineDupWeightingSql: String =
    """WITH g AS (
      |  SELECT lang, md5(text) AS h, count(*) AS k,
      |    CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents GROUP BY 1, 2)
      |SELECT lang, CAST(sum(k) AS BIGINT) AS n_docs, count(*) AS n_unique,
      |  CAST(sum(chars) AS BIGINT) AS raw_chars,
      |  round(CAST(sum((chars * 1000000) // k) AS DOUBLE) / 1e6, 6)
      |    AS effective_chars
      |FROM g GROUP BY lang ORDER BY lang""".stripMargin

  /** C478 win_anchored_vwap — month-anchored running VWAP (the
    * anchored volume-weighted average price pattern): within each
    * month partition, cumulative Σ(price·qty)/Σqty per day in exact
    * decimal cents with one IEEE division per row. The window
    * partitions on month (high-cardinality over years of data) and
    * runs over the O(days) daily aggregate; report = each month's
    * final 5 days. Price mass uses the decimal product pattern
    * (multiply DECIMALS, never cast a float product).
    */
  def winAnchoredVwap(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("month", col("l_shipdate")).as("month"),
        date_trunc("day", col("l_shipdate")).as("day"))
      .agg(
        // price(2dp) x qty(2dp) has exactly 4 decimals, so x10000 is an
        // INTEGER-valued decimal — the scale-0 cast never rounds (a
        // scale-reducing decimal cast would expose HALF_UP-vs-HALF_EVEN
        // engine differences)
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2)) * 10000 AS DECIMAL(38,0))"))
          .cast("decimal(38,0)").as("pv_c"),
        sum(expr("CAST(l_quantity AS DECIMAL(14,2))")).cast("decimal(38,2)").as("qty"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("month").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("month").orderBy(col("day").desc)
    daily
      .withColumn("cum_pv", sum(col("pv_c")).over(w).cast("decimal(38,0)"))
      .withColumn("cum_qty", sum(col("qty")).over(w).cast("decimal(38,2)"))
      .withColumn("vwap",
        round(col("cum_pv").cast("double") / 10000.0
          / col("cum_qty").cast("double"), 6))
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") <= 5)
      .select(col("month"), col("day"), col("vwap"))
      .orderBy("month", "day")
  }
  val winAnchoredVwapSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('month', l_shipdate) AS month,
      |    date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2))
      |        * CAST(l_quantity AS DECIMAL(14,2)) * 10000 AS DECIMAL(38,0)))
      |      AS DECIMAL(38,0)) AS pv_c,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS qty
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT month, day,
      |    CAST(sum(pv_c) OVER w AS DECIMAL(38,0)) AS cum_pv,
      |    CAST(sum(qty) OVER w AS DECIMAL(38,2)) AS cum_qty,
      |    row_number() OVER (PARTITION BY month ORDER BY day DESC) AS rn
      |  FROM daily
      |  WINDOW w AS (PARTITION BY month ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT month, day,
      |  round(CAST(cum_pv AS DOUBLE) / 10000.0 / CAST(cum_qty AS DOUBLE), 6) AS vwap
      |FROM c WHERE rn <= 5
      |ORDER BY month, day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_source_overlap" -> (textSourceOverlap _),
    "embed_norm_audit" -> (embedNormAudit _),
    "pipeline_dup_weighting" -> (pipelineDupWeighting _),
    "win_anchored_vwap" -> (winAnchoredVwap _),
  )

  val oracle: Map[String, String] = Map(
    "text_source_overlap" -> textSourceOverlapSql,
    "embed_norm_audit" -> embedNormAuditSql,
    "pipeline_dup_weighting" -> pipelineDupWeightingSql,
    "win_anchored_vwap" -> winAnchoredVwapSql,
  )
}
