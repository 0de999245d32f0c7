package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Thirty-eighth wave: spectral band interpolation, the dedup keep
  * list, interval merging, whole-file text ingest, and comparator
  * lambdas.
  */
object Extras38 {

  /** ref_band_interpolate — the reference domain's SPECTRAL
    * interpolation: radiometric quantities live at instrument-specific
    * wavelengths (Rrs_412, Rrs_443, Rrs_490 …) and comparisons need a
    * COMMON band, so values linearly interpolate to the target
    * wavelength from the bracketing pair. The exhibit runs the
    * reference's data model end to end: wide rule-derived bands melt
    * into the long/narrow (record, wavelength, value) layout (C153's
    * schema-on-read shape), pivot back to the bracket, and interpolate
    * Rrs@460 from 443/490 — per-row IEEE arithmetic in the identical
    * operation order on both engines, so no rounding guard is needed.
    */
  def refBandInterpolate(s: SparkSession, d: String): DataFrame = {
    val wide = orders(s, d).select(col("o_orderkey"),
      (col("o_totalprice") * 0.412).as("rrs_412"),
      (col("o_totalprice") * 0.443).as("rrs_443"),
      (col("o_totalprice") * 0.490).as("rrs_490"))
    val narrow = wide.selectExpr("o_orderkey",
      "stack(3, 412, rrs_412, 443, rrs_443, 490, rrs_490) AS (wavelength, rrs)")
    narrow.groupBy("o_orderkey")
      .agg(
        max(when(col("wavelength") === 443, col("rrs"))).as("rrs_443"),
        max(when(col("wavelength") === 490, col("rrs"))).as("rrs_490"))
      .select(col("o_orderkey"), col("rrs_443"), col("rrs_490"),
        (col("rrs_443") + (col("rrs_490") - col("rrs_443")) *
          ((lit(460.0) - 443.0) / (490.0 - 443.0))).as("rrs_460_interp"))
      .orderBy("o_orderkey")
  }
  val refBandInterpolateSql: String =
    """WITH wide AS (
      |  SELECT o_orderkey,
      |    o_totalprice * 0.412 AS rrs_412,
      |    o_totalprice * 0.443 AS rrs_443,
      |    o_totalprice * 0.490 AS rrs_490
      |  FROM orders),
      |narrow AS (
      |  SELECT o_orderkey, 443 AS wavelength, rrs_443 AS rrs FROM wide
      |  UNION ALL SELECT o_orderkey, 490, rrs_490 FROM wide
      |  UNION ALL SELECT o_orderkey, 412, rrs_412 FROM wide)
      |SELECT o_orderkey,
      |  max(CASE WHEN wavelength = 443 THEN rrs END) AS rrs_443,
      |  max(CASE WHEN wavelength = 490 THEN rrs END) AS rrs_490,
      |  max(CASE WHEN wavelength = 443 THEN rrs END)
      |    + (max(CASE WHEN wavelength = 490 THEN rrs END)
      |       - max(CASE WHEN wavelength = 443 THEN rrs END))
      |      * ((460.0 - 443.0) / (490.0 - 443.0)) AS rrs_460_interp
      |FROM narrow GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  /** dedup_keep_list — the END of the dedup pipeline: near-dup pairs
    * (C5's exact Jaccard) cluster via min-label connected components
    * (C37's join-based propagation) and the pipeline's actual
    * DELIVERABLE comes out — the DROP list: every clustered document
    * that is not its cluster's minimum keeps a pointer to the
    * canonical doc that replaces it. Untouched documents never enter
    * the edge set and survive implicitly (the list is O(duplicates),
    * not O(corpus) — what you ship to the deletion job at 100 TB).
    *
    * The pair graph is mined once and its component labels shared with
    * C37 via [[NearDupComponents]] — the two deliverables (cluster
    * census, drop list) are different projections of the same fixpoint
    * and must not each pay for the pair mining.
    */
  def dedupKeepList(s: SparkSession, d: String): DataFrame =
    NearDupComponents.labels(s, d)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("drop_doc_id"), col("comp").as("keep_doc_id"))
      .orderBy("drop_doc_id")
  val dedupKeepListSql: String =
    """WITH RECURSIVE
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      |      i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS g
      |  FROM documents),
      |edges AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.g, b.g))) >= 0.6),
      |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
      |walk(id, comp) AS (
      |  SELECT DISTINCT src, src FROM sym
      |  UNION
      |  SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id),
      |lab AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
      |SELECT id AS drop_doc_id, comp AS keep_doc_id
      |FROM lab WHERE id <> comp ORDER BY drop_doc_id""".stripMargin

  /** win_interval_merge — merging OVERLAPPING VALIDITY INTERVALS (the
    * batch flattening pass behind C60's SCD2 and C205's sessions, on
    * explicit [start, end) intervals): each order opens a rule-derived
    * service window; per customer, transitively-overlapping windows
    * merge into coverage spans. The break test MUST compare against
    * the running MAX of prior ends (an early long interval can swallow
    * several later ones — a lag(end) formulation is simply wrong), so
    * the islands pass uses max-over-preceding-rows; per-customer
    * windows keep it one shuffle, parallel across customers.
    */
  def winIntervalMerge(s: SparkSession, d: String): DataFrame = {
    val iv = orders(s, d).select(col("o_custkey"),
      col("o_orderdate").as("ivs"),
      expr("o_orderdate + make_dt_interval(CAST(o_orderkey % 13 + 1 AS INT), 0, 0, 0)").as("ive"),
      col("o_orderkey"))
    val byStart = Window.partitionBy("o_custkey")
      .orderBy(col("ivs"), col("o_orderkey"))
    val marked = iv
      .withColumn("prev_max_end",
        max(col("ive")).over(byStart.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_max_end").isNull || col("ivs") > col("prev_max_end"), 1)
          .otherwise(0))
    marked
      .withColumn("grp", sum(col("brk")).over(
        byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("o_custkey", "grp")
      .agg(min(col("ivs")).as("span_start"), max(col("ive")).as("span_end"),
        count(lit(1)).as("n_orders"))
      .select(col("o_custkey"), col("span_start"), col("span_end"), col("n_orders"))
      .orderBy("o_custkey", "span_start")
  }
  val winIntervalMergeSql: String =
    """WITH iv AS (
      |  SELECT o_custkey, o_orderdate AS ivs,
      |    o_orderdate + (o_orderkey % 13 + 1) * INTERVAL '1 day' AS ive,
      |    o_orderkey
      |  FROM orders),
      |marked AS (
      |  SELECT o_custkey, ivs, ive, o_orderkey,
      |    CASE WHEN ivs > max(ive) OVER (PARTITION BY o_custkey
      |        ORDER BY ivs, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS brk
      |  FROM iv),
      |grouped AS (
      |  SELECT o_custkey, ivs, ive,
      |    sum(brk) OVER (PARTITION BY o_custkey ORDER BY ivs, o_orderkey
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM marked)
      |SELECT o_custkey, min(ivs) AS span_start, max(ive) AS span_end,
      |  count(*) AS n_orders
      |FROM grouped GROUP BY o_custkey, grp
      |ORDER BY o_custkey, span_start""".stripMargin

  /** scan_wholetext — `text` source with `wholetext=true`: ONE ROW PER
    * FILE instead of per line — the ingest mode for document formats
    * where line-splitting destroys the record (markdown, source code,
    * JSON-per-file). Three staged files read back with their exact
    * byte lengths; the scale note is the flip side: a wholetext file
    * is one task and one row, so the format only parallelizes at the
    * file level (a 10 GB wholetext file is a straggler by design).
    */
  def scanWholetext(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_whole_")
    val docs = documents(s, d).filter(col("doc_id").isin(1L, 2L, 3L))
      .select(col("doc_id"), col("text")).collect()
    docs.foreach(r => Files.write(Paths.get(dir, s"doc_${r.getLong(0)}.txt"),
      r.getString(1).getBytes("UTF-8")))
    s.read.option("wholetext", "true").text(dir)
      .select(length(col("value")).cast("bigint").as("n_chars"))
      .orderBy("n_chars")
  }
  val scanWholetextSql: String =
    """SELECT CAST(strlen(text) AS BIGINT) AS n_chars
      |FROM documents WHERE doc_id IN (1, 2, 3) ORDER BY n_chars""".stripMargin

  /** hof_array_sort_comparator — `array_sort` with a CUSTOM COMPARATOR
    * lambda (two-argument HOF): tokens ordered by (length, value) —
    * the collation a plain sort_array cannot express. The comparator
    * runs inside codegen like every other HOF; the oracle reproduces
    * the order by sorting (length, word) structs, an independent
    * formulation of the same total order.
    */
  def hofArraySortComparator(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), expr(
        """concat_ws(' ', slice(array_sort(split(text, ' '),
          |  (l, r) -> CASE WHEN length(l) < length(r) THEN -1
          |                 WHEN length(l) > length(r) THEN 1
          |                 WHEN l < r THEN -1 WHEN l > r THEN 1 ELSE 0 END),
          |  1, 10))""".stripMargin).as("first10_by_len"))
      .orderBy("doc_id")
  val hofArraySortComparatorSql: String =
    """SELECT doc_id,
      |  array_to_string(list_transform(list_sort(list_transform(
      |    string_split(text, ' '), w -> {'l': strlen(w), 'w': w}))[1:10],
      |    x -> x.w), ' ') AS first10_by_len
      |FROM documents ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ref_band_interpolate" -> (refBandInterpolate _),
    "dedup_keep_list" -> (dedupKeepList _),
    "win_interval_merge" -> (winIntervalMerge _),
    "scan_wholetext" -> (scanWholetext _),
    "hof_array_sort_comparator" -> (hofArraySortComparator _))

  val oracle: Map[String, String] = Map(
    "ref_band_interpolate" -> refBandInterpolateSql,
    "dedup_keep_list" -> dedupKeepListSql,
    "win_interval_merge" -> winIntervalMergeSql,
    "scan_wholetext" -> scanWholetextSql,
    "hof_array_sort_comparator" -> hofArraySortComparatorSql)
}
