package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.sources.DatasetStore

/** Seventieth wave: token-budget mixture sampling (the pretraining
  * data-mixing primitive), keyed-store VACUUM (the storage-reclaim
  * half of snapshot retention), and faceted search counts (the
  * reference UI's facet rail in one grouping-sets pass).
  */
object Extras70 {

  /** pipeline_token_budget_mix — assemble a pretraining mixture under
    * a per-language TOKEN budget: documents are taken in deterministic
    * md5 order (reproducible across engines and reruns — C38's trick)
    * until each language's cumulative token count reaches its
    * weight·total share of the global budget; a document is kept iff
    * the tokens BEFORE it fit the budget (so each lang overshoots by
    * at most one document). Scale: the per-lang running sum is a
    * plain window ONLY at test scale — here it rides ONE
    * range-partition pass: GlobalRank's exclusive prefix-sum over
    * (lang, md5) order gives each row its global prefix, and
    * subtracting the lang's start offset (a lang-cardinality frame,
    * broadcast) turns it into the per-lang prefix — no
    * one-task-per-language window at 100 TB, no skew on the dominant
    * language. Census: docs/tokens kept per lang vs the budget.
    */
  def pipelineTokenBudgetMix(s: SparkSession, d: String): DataFrame = {
    val budgetTotal = 10000L
    val weights = Seq(("en", 0.40), ("de", 0.15), ("es", 0.15),
      ("fr", 0.15), ("zh", 0.15))
    val wdf = broadcast(s.createDataFrame(weights).toDF("w_lang", "weight")
      .select(col("w_lang"),
        floor(col("weight") * budgetTotal).cast("long").as("budget_tok")))
    val docs = documents(s, d).select(col("doc_id"), col("lang"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
      md5(col("doc_id").cast("string")).as("h"))
    val withGlobal = graft.plans.GlobalRank.withExclusivePrefixSum(
      docs, "g_before", col("n_tok"), Seq(col("lang").asc, col("h").asc))
    val langOffsets = docs.groupBy(col("lang").as("ol_lang"))
      .agg(sum(col("n_tok")).as("lang_tok"))
    // (r14 note: a single-task window here measured SLOWER than the
    // machinery — GlobalRank's internal pin stops the offsets branch
    // from recomputing the documents aggregate. Kept on GlobalRank.)
    val offsets = graft.plans.GlobalRank.withExclusivePrefixSum(
        langOffsets, "lang_off", col("lang_tok"), Seq(col("ol_lang").asc))
      .select(col("ol_lang"), col("lang_off"))
    withGlobal
      .join(broadcast(offsets), col("lang") === col("ol_lang"))
      .withColumn("tok_before", col("g_before") - col("lang_off"))
      .join(wdf, col("lang") === col("w_lang"))
      .filter(col("tok_before") < col("budget_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_kept"), sum(col("n_tok")).as("tokens_kept"),
        first(col("budget_tok")).as("budget_tok"))
      .orderBy("lang")
  }
  val pipelineTokenBudgetMixSql: String =
    """WITH w AS (
      |  SELECT * FROM (VALUES ('en', CAST(floor(0.40*10000) AS BIGINT)),
      |    ('de', CAST(floor(0.15*10000) AS BIGINT)),
      |    ('es', CAST(floor(0.15*10000) AS BIGINT)),
      |    ('fr', CAST(floor(0.15*10000) AS BIGINT)),
      |    ('zh', CAST(floor(0.15*10000) AS BIGINT))) AS t(w_lang, budget_tok)),
      |docs AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |pre AS (
      |  SELECT lang, n_tok,
      |    coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
      |  FROM docs)
      |SELECT lang, count(*) AS docs_kept,
      |  CAST(sum(n_tok) AS BIGINT) AS tokens_kept,
      |  min(budget_tok) AS budget_tok
      |FROM pre JOIN w ON lang = w_lang
      |WHERE tok_before < budget_tok
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** store_vacuum — storage reclamation for the keyed store (A2, the
    * missing half of C137's compact): three appends + a compact leave
    * FOUR segment directories on disk (three small ones still pinned
    * by historical manifests — time travel works), then
    * VACUUM(keep=1, grace=0) drops the old manifests and physically
    * deletes every segment only they referenced. The graded row
    * carries the on-disk segment census (4 → 1) and surviving version
    * count alongside the full-data aggregate the oracle recomputes
    * from source — equality proves vacuum deleted ONLY dead bytes.
    * (grace=0 is safe under the store's single-writer contract; the
    * production default keeps a 10-min orphan window.)
    */
  def storeVacuum(s: SparkSession, d: String): DataFrame = {
    val (dir, before, after, nvers) = Scratch.once("store_vacuum", d) {
      val p = Scratch.dir("graft_vacuum_")
      val st = new DatasetStore(s, p, "o_orderkey")
      val o = orders(s, d)
      st.init(o.filter(col("o_orderkey") % 3 === 0))
      st.append(o.filter(col("o_orderkey") % 3 === 1))
      st.append(o.filter(col("o_orderkey") % 3 === 2))
      st.compact()
      val b = st.segmentDirsOnDisk
      st.vacuum(keep = 1, graceMs = 0L)
      (p, b, st.segmentDirsOnDisk, st.versions().size.toLong)
    }
    val st = new DatasetStore(s, dir, "o_orderkey")
    st.read()
      .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("revenue"))
      .select(lit(before.toLong).as("n_seg_disk_before"),
        lit(after.toLong).as("n_seg_disk_after"),
        lit(nvers).as("n_versions_after"), col("n_rows"), col("revenue"))
  }
  val storeVacuumSql: String =
    s"""SELECT CAST(4 AS BIGINT) AS n_seg_disk_before,
       |  CAST(1 AS BIGINT) AS n_seg_disk_after,
       |  CAST(1 AS BIGINT) AS n_versions_after,
       |  count(*) AS n_rows, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders""".stripMargin

  /** ref_facet_counts — the search UI's facet rail (the reference
    * renders per-facet hit counts beside every result list): ONE
    * DSL-filtered scan feeds GROUPING SETS over (lang), (source), and
    * a size bucket — three facet dimensions in a single pass instead
    * of three scans (grouping sets replicate rows inside the
    * aggregate, not at the source). The DSL filter itself pushes to
    * the parquet scan exactly as in B50.
    */
  def refFacetCounts(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    docs
      .filter(graft.functions.QueryDsl.predicate(docs,
        """scan AND n_chars:[100 TO 2000]""", textColumns = Seq("text")))
      .select(col("lang"), col("source"),
        (floor(col("n_chars") / 500) * 500).cast("long").as("size_bucket"))
      .createOrReplaceTempView("facet_base")
    s.sql("""
      SELECT
        CASE WHEN grouping(lang) = 0 THEN 'lang'
             WHEN grouping(source) = 0 THEN 'source'
             ELSE 'size_bucket' END AS facet,
        coalesce(lang, source, CAST(size_bucket AS STRING)) AS facet_value,
        count(*) AS n
      FROM facet_base
      GROUP BY GROUPING SETS ((lang), (source), (size_bucket))
      ORDER BY facet, facet_value""")
  }
  val refFacetCountsSql: String =
    """WITH base AS (
      |  SELECT lang, source,
      |    CAST(floor(n_chars / 500) * 500 AS BIGINT) AS size_bucket
      |  FROM documents
      |  WHERE lower(text) LIKE '%scan%' AND n_chars BETWEEN 100 AND 2000)
      |SELECT
      |  CASE WHEN grouping(lang) = 0 THEN 'lang'
      |       WHEN grouping(source) = 0 THEN 'source'
      |       ELSE 'size_bucket' END AS facet,
      |  coalesce(lang, source, CAST(size_bucket AS VARCHAR)) AS facet_value,
      |  count(*) AS n
      |FROM base
      |GROUP BY GROUPING SETS ((lang), (source), (size_bucket))
      |ORDER BY facet, facet_value""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_token_budget_mix" -> (pipelineTokenBudgetMix _),
    "store_vacuum" -> (storeVacuum _),
    "ref_facet_counts" -> (refFacetCounts _))

  val oracle: Map[String, String] = Map(
    "pipeline_token_budget_mix" -> pipelineTokenBudgetMixSql,
    "store_vacuum" -> storeVacuumSql,
    "ref_facet_counts" -> refFacetCountsSql)
}
