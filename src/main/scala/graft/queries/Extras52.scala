package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Fifty-second wave — the reference's COMPOSITE surfaces (round-5
  * verdict "Next round" #1/#3/#8): the full `find_datasets` front door
  * as ONE plan, the submission workflow wired end-to-end into the
  * store, and index-accelerated prefix-wildcard search.
  */
object Extras52 {

  /** Deterministic dataset-metadata projection of documents — the
    * "dataset document" the reference stores per submission (geo
    * point, acquisition interval, water depth, workflow status), each
    * column synthesized from doc_id/n_chars with engine-identical
    * integer/IEEE arithmetic so DuckDB recomputes it exactly. The
    * multipliers (7919/4409, coprime to the moduli) spread the small
    * doc_id domain across the full lon/lat range.
    */
  private[graft] def datasetMeta(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"), col("lang"), col("text"), col("n_chars"),
      ((col("doc_id") * 7919 % 36000).cast("double") / 100.0 - 180.0).as("lon"),
      ((col("doc_id") * 4409 % 18000).cast("double") / 100.0 - 90.0).as("lat"),
      expr("date_add(DATE '2024-01-01', CAST(doc_id % 365 AS INT))").as("t0"),
      expr("date_add(date_add(DATE '2024-01-01', CAST(doc_id % 365 AS INT)), " +
        "CAST(doc_id % 30 + 1 AS INT))").as("t1"),
      (col("n_chars") % 200).cast("double").as("wdepth"),
      when(col("doc_id") % 4 === 0, "PUBLISHED")
        .when(col("doc_id") % 4 === 1, "VALIDATED")
        .when(col("doc_id") % 4 === 2, "SUBMITTED")
        .otherwise("CANCELED").as("status"),
      concat(lit("prod_"), (col("doc_id") % 5).cast("string")).as("pname"),
      when(col("doc_id") % 3 === 0, "MULTISPECTRAL")
        .when(col("doc_id") % 3 === 1, "HYPERSPECTRAL")
        .otherwise("BOTH").as("wlmode"))

  /** The pgroup attribute table (A11) — a config file, broadcast-sized
    * at any corpus scale. Same group as C32's "joins" product group.
    */
  private val pgroupAttrs = Seq("join", "merge", "broadcast", "probe")

  /** ref_dataset_query_full — the reference's ACTUAL product endpoint
    * (UPSTREAM `ocdb/ws/controllers/datasets.py :: find_datasets`,
    * SURVEY §2-A): one request carrying the full parameter set —
    * `expr` DSL + bbox + time-interval overlap + water-depth range +
    * product-group membership + status enums + offset/count with
    * total_count — compiled into ONE plan. Every piece exists as its
    * own graded row (B50, C12, C134, C32, C34, C21); this row is their
    * composition, which is what every real request hits.
    *
    * Plan shape: the DSL predicate (B50) and the synthesized-column
    * filters are all scan-side conjuncts — the raw `n_chars` range
    * from the DSL reaches the parquet scan as a pushed filter; the
    * DSL's free-text term rides the INVERTED INDEX (the session
    * enables it, so TextIndexSearchRule rewrites the term to an index
    * semi-join and the filter branch never scans the text bytes);
    * pgroup membership is ONE LeftSemi join against the
    * exploded-token × broadcast-attrs id-set (C32's shape);
    * pagination is the range-partitioned global rank + broadcast
    * total (C21's shape) — no single-partition window anywhere.
    * PlanSpec asserts the pushed filter and the semi-joins.
    *
    * Remaining DatasetQuery params threaded (r5 verdict Missing #4):
    * `pname` (product-name membership, distinct from pgroup),
    * `wlmode` (wavelength-mode enum: MULTISPECTRAL requests admit
    * MULTISPECTRAL and BOTH), `shallow=no` (exclude shallow-water
    * datasets, wdepth < 30), and `pmode=contains` (the time predicate
    * runs in CONTAINMENT mode — the acquisition interval must lie
    * inside the request window — vs the default overlap mode).
    */
  def refDatasetQueryFull(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    RefSurface.enableTextIndex(s, d)
    val meta = datasetMeta(s, d)
    // the request: expr DSL, region, time window, wdepth, pgroup,
    // status, pname list, wlmode=MULTISPECTRAL, shallow=no,
    // pmode=contains, page [10, 30) + total_count
    val dslPred = graft.functions.QueryDsl.predicate(
      meta, "merge AND n_chars:[100 TO 450]", Seq("text"))
    val attrs = pgroupAttrs.toDF("attr")
    val members = meta
      .select(col("doc_id"), explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
      .join(broadcast(attrs), col("tok") === col("attr"))
      .select("doc_id").distinct()
    val filtered = meta
      .filter(dslPred)
      .filter(graft.functions.GeoOps.inBbox(col("lon"), col("lat"), -90.0, -60.0, 90.0, 75.0))
      // pmode=contains: [t0, t1] ⊆ [2024-02-01, 2024-10-31]
      .filter(col("t0") >= lit(java.sql.Date.valueOf("2024-02-01")) &&
              col("t1") <= lit(java.sql.Date.valueOf("2024-10-31")))
      .filter(col("wdepth").between(10.0, 180.0))
      .filter(col("status").isin("PUBLISHED", "VALIDATED", "SUBMITTED"))
      .filter(col("pname").isin("prod_0", "prod_1", "prod_2", "prod_3"))
      .filter(col("wlmode").isin("MULTISPECTRAL", "BOTH"))
      .filter(col("wdepth") >= 30.0) // shallow=no
      .join(members, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "n_chars", "status", "wdepth")
    // total_count rides the rank pass's own per-partition counts —
    // no third computation of the filtered subplan just to count it
    graft.plans.GlobalRank.withGlobalRowNumberAndTotal(
        filtered, "rn", "total_count", Seq(col("doc_id").asc))
      .filter(col("rn") > 10 && col("rn") <= 30)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("status"),
        col("wdepth"), col("rn"), col("total_count"))
      .orderBy("rn")
  }
  val refDatasetQueryFullSql: String = {
    val attrs = pgroupAttrs.map(a => s"'$a'").mkString(", ")
    s"""WITH meta AS (
       |  SELECT doc_id, lang, text, n_chars,
       |    CAST(doc_id * 7919 % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon,
       |    CAST(doc_id * 4409 % 18000 AS DOUBLE) / 100.0 - 90.0 AS lat,
       |    DATE '2024-01-01' + CAST(doc_id % 365 AS INT) AS t0,
       |    DATE '2024-01-01' + CAST(doc_id % 365 AS INT) + CAST(doc_id % 30 + 1 AS INT) AS t1,
       |    CAST(n_chars % 200 AS DOUBLE) AS wdepth,
       |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'PUBLISHED' WHEN 1 THEN 'VALIDATED'
       |         WHEN 2 THEN 'SUBMITTED' ELSE 'CANCELED' END AS status,
       |    'prod_' || CAST(doc_id % 5 AS VARCHAR) AS pname,
       |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'MULTISPECTRAL'
       |         WHEN 1 THEN 'HYPERSPECTRAL' ELSE 'BOTH' END AS wlmode
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, lang, n_chars, status, wdepth FROM meta
       |  WHERE lower(text) LIKE '%merge%' AND n_chars BETWEEN 100 AND 450
       |    AND lon BETWEEN -90.0 AND 90.0 AND lat BETWEEN -60.0 AND 75.0
       |    AND t0 >= DATE '2024-02-01' AND t1 <= DATE '2024-10-31'
       |    AND wdepth BETWEEN 10.0 AND 180.0
       |    AND status IN ('PUBLISHED', 'VALIDATED', 'SUBMITTED')
       |    AND pname IN ('prod_0', 'prod_1', 'prod_2', 'prod_3')
       |    AND wlmode IN ('MULTISPECTRAL', 'BOTH')
       |    AND wdepth >= 30.0
       |    AND EXISTS (SELECT 1 FROM unnest(string_split(lower(text), ' ')) AS u(tok)
       |                WHERE tok IN ($attrs))),
       |p AS (
       |  SELECT doc_id, lang, n_chars, status, wdepth,
       |    row_number() OVER (ORDER BY doc_id) AS rn,
       |    count(*) OVER () AS total_count
       |  FROM f)
       |SELECT doc_id, lang, n_chars, status, wdepth, rn, total_count
       |FROM p WHERE rn > 10 AND rn <= 30 ORDER BY rn""".stripMargin
  }

  /** ref_submission_pipeline — A15 + A16 + A2 wired END-TO-END (the
    * reference's actual submission loop, UPSTREAM `ocdb/ws/controllers/
    * store.py`): `.sb` files ingest through the SeaBASS reader, the
    * validation rule battery runs per record, per-submission violation
    * RATES drive the legal status walk (SUBMITTED → VALIDATED →
    * {APPROVED → PUBLISHED | CANCELED}), and the PUBLISHED submissions
    * MERGE into the dataset store over a prior partial archive — with
    * the store's derived change feed reporting exactly what the publish
    * inserted. One output row per submission; the oracle recomputes
    * every column relationally from documents (the table the staged
    * `.sb` files derive from).
    *
    * Status rules (deterministic, rate-based like a real moderation
    * gate): error rate (> 500 chars, the "record too long" rule)
    * above 9% cancels; else any meaningful warning rate (< 60 chars,
    * "record suspiciously short") ≥ 2% parks at VALIDATED awaiting
    * fixes; else the submission walks the full chain to PUBLISHED.
    * n_events is the length of the legal transition chain walked.
    */
  def refSubmissionPipeline(s: SparkSession, d: String): DataFrame = {
    val dir = RefSurface.stageSbDir(s, d)
    // 1 — ingest: long/narrow parse → one wide row per record
    val recs = graft.sources.SbReader.readLong(s, s"$dir/*.sb")
      .withColumn("lang", regexp_extract(col("path"), "corpus_([a-z]+)\\.sb", 1))
      .groupBy("lang", "record_no")
      .agg(
        max(when(col("field") === "doc_id", col("value_num"))).cast("long").as("doc_id"),
        max(when(col("field") === "n_chars", col("value_num"))).cast("long").as("n_chars"))
      // pinned: the parsed-record frame feeds validation, the publish
      // projection, and (via pub) three store actions — without the pin
      // each consumer re-parses every .sb file from disk
      .localCheckpoint(true)
    // 2 — validate: rule battery per record, rolled up per submission
    val v = recs.groupBy("lang").agg(
      count(lit(1)).as("n_records"),
      count(when(col("n_chars") > 500, 1)).as("n_err"),
      count(when(col("n_chars") < 60, 1)).as("n_warn"))
    // 3 — status machine: rates decide how far the legal chain walks
    val st = v
      .withColumn("status",
        when(col("n_err").cast("double") / col("n_records") > 0.09, "CANCELED")
          .when(col("n_warn").cast("double") / col("n_records") >= 0.02, "VALIDATED")
          .otherwise("PUBLISHED"))
      .withColumn("n_events",
        when(col("status") === "CANCELED", 3L)   // SUBMITTED>VALIDATED>CANCELED
          .when(col("status") === "VALIDATED", 2L) // SUBMITTED>VALIDATED
          .otherwise(4L))                          // ...>APPROVED>PUBLISHED
    // 4 — publish: PUBLISHED submissions MERGE into the store over a
    //     prior partial archive (the even-id half), change feed derives
    //     what the publish actually inserted
    val pub = recs
      .join(st.filter(col("status") === "PUBLISHED").select("lang"), Seq("lang"), "left_semi")
      .select("doc_id", "lang", "n_chars")
    val path = Scratch.dir("graft_subpipe_") + "/store"
    val store = new graft.sources.DatasetStore(s, path, "doc_id")
    val (storeCounts, newCounts) =
      if (pub.isEmpty) { // nothing cleared moderation: publish is a no-op
        val empty = pub.groupBy("lang").agg(count(lit(1)).as("n_store_rows")).limit(0)
        (empty, empty.withColumnRenamed("n_store_rows", "n_new"))
      } else {
        store.init(pub.filter(col("doc_id") % 2 === 0))
        store.upsert(pub)
        (store.read().groupBy("lang").agg(count(lit(1)).as("n_store_rows")),
          store.changeFeed(1, 2).filter(col("change_type") === "insert")
            .groupBy(col("after_lang").as("lang")).agg(count(lit(1)).as("n_new")))
      }
    st.join(storeCounts, Seq("lang"), "left_outer")
      .join(newCounts, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_records"), col("n_err"), col("n_warn"),
        col("status"), col("n_events"),
        coalesce(col("n_store_rows"), lit(0L)).as("n_store_rows"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .orderBy("lang")
  }
  val refSubmissionPipelineSql: String =
    """WITH v AS (
      |  SELECT lang, count(*) AS n_records,
      |    count(*) FILTER (WHERE n_chars > 500) AS n_err,
      |    count(*) FILTER (WHERE n_chars < 60) AS n_warn
      |  FROM documents GROUP BY lang),
      |st AS (
      |  SELECT lang, n_records, n_err, n_warn,
      |    CASE WHEN CAST(n_err AS DOUBLE) / n_records > 0.09 THEN 'CANCELED'
      |         WHEN CAST(n_warn AS DOUBLE) / n_records >= 0.02 THEN 'VALIDATED'
      |         ELSE 'PUBLISHED' END AS status
      |  FROM v),
      |pub AS (
      |  SELECT d.lang, d.doc_id FROM documents d JOIN st USING (lang)
      |  WHERE st.status = 'PUBLISHED')
      |SELECT s.lang, s.n_records, s.n_err, s.n_warn, s.status,
      |  CAST(CASE s.status WHEN 'CANCELED' THEN 3 WHEN 'VALIDATED' THEN 2 ELSE 4 END
      |    AS BIGINT) AS n_events,
      |  (SELECT count(*) FROM pub p WHERE p.lang = s.lang) AS n_store_rows,
      |  (SELECT count(*) FROM pub p WHERE p.lang = s.lang AND p.doc_id % 2 = 1)
      |    AS n_new
      |FROM st s ORDER BY lang""".stripMargin

  /** ref_text_wildcard_search — the DSL's A5 wildcard (`text:merg*`)
    * with Lucene's TERM-level semantics (a wildcard matches tokens,
    * not the whole field), compiled to the native
    * [[graft.plans.GraftTokenPrefix]] predicate. With the inverted
    * index enabled, [[graft.plans.TextIndexSearchRule]] rewrites it
    * into a token-RANGE LeftSemi join (`token ∈ [merg, merh)` — a
    * min/max-prunable range on the index scan) and DROPS the
    * predicate: the text column is never scanned for the filter.
    * Exact, because the index rows are exactly each doc's distinct
    * tokens. PlanSpec asserts the semi-join fires, the residual is
    * gone, and the result matches the row-local formulation.
    */
  def refTextWildcardSearch(s: SparkSession, d: String): DataFrame = {
    RefSurface.enableTextIndex(s, d)
    val prefix = graft.functions.QueryDsl.parse("text:merg*") match {
      case graft.functions.QueryDsl.FieldWildcardQuery("text", p) => p.stripSuffix("*")
      case other => sys.error(s"unexpected DSL shape: $other")
    }
    documents(s, d)
      .filter(expr(s"${graft.plans.TextIndex.prefixName}(text, '$prefix')"))
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }
  val refTextWildcardSearchSql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE len(list_filter(string_split(lower(text), ' '),
      |          t -> t LIKE 'merg%')) > 0
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ref_dataset_query_full" -> (refDatasetQueryFull _),
    "ref_submission_pipeline" -> (refSubmissionPipeline _),
    "ref_text_wildcard_search" -> (refTextWildcardSearch _))

  val oracle: Map[String, String] = Map(
    "ref_dataset_query_full" -> refDatasetQueryFullSql,
    "ref_submission_pipeline" -> refSubmissionPipelineSql,
    "ref_text_wildcard_search" -> refTextWildcardSearchSql)
}
