package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** 102nd wave — incremental materialized-view maintenance over the
  * document store's change feed, and an inter-rater agreement
  * statistic (Cohen's kappa) the stat family lacked.
  */
object Extras102 {

  /** Store for [[storeIncrementalAggRefresh]]: v1 = the prior release
    * (doc_id % 10 < 7) WITH the lang column, v2 = v1 plus the new
    * batch — the same release split as Extras100.releaseStore, but
    * carrying the grouping column the maintained view aggregates by.
    */
  private[graft] def ivmStore(s: SparkSession, d: String): graft.sources.DatasetStore = {
    val path = Scratch.once("ivm_store", d) {
      val p = Scratch.dir("graft_ivm_") + "/docs"
      val st = new graft.sources.DatasetStore(s, p, "doc_id")
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("text"))
      st.init(docs.filter(col("doc_id") % 10 < 7))
      st.append(docs.filter(col("doc_id") % 10 >= 7))
      p
    }
    new graft.sources.DatasetStore(s, path, "doc_id")
  }

  /** store_incremental_agg_refresh — INCREMENTAL MATERIALIZED-VIEW
    * MAINTENANCE: a per-lang aggregate (doc count, total chars)
    * materialized at release v1 is refreshed to v2 by applying ONLY
    * the change-feed delta — the v1 corpus is never rescanned. The
    * aggregate is a commutative monoid (counts and sums merge by +),
    * so refresh = full-outer-join of the v1 view with the delta's
    * partial aggregate, coalescing each side to its identity. This is
    * the 100 TB shape for keeping corpus dashboards current: the
    * delta is proportional to the BATCH, not the corpus, and the view
    * itself is O(groups). The oracle is the definitional check — a
    * full recompute over the v2 corpus (= all documents) must produce
    * the same view, which is exactly the invariant incremental
    * maintenance must preserve. Insert-only feed here; deletes would
    * subtract (counts/sums are abelian), updates apply as
    * delete+insert — same join, different signs.
    */
  def storeIncrementalAggRefresh(s: SparkSession, d: String): DataFrame = {
    val store = ivmStore(s, d)
    val v1View = store.readAt(1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n1"), sum(length(col("text"))).as("c1"))
    val delta = store.changeFeed(1L, 2L)
      .filter(col("change_type") === "insert")
      .groupBy(col("after_lang").as("lang"))
      .agg(count(lit(1)).as("n2"), sum(length(col("after_text"))).as("c2"))
    v1View.join(delta, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("c1"), lit(0L)) + coalesce(col("c2"), lit(0L)))
          .as("sum_chars"))
      .orderBy("lang")
  }
  val storeIncrementalAggRefreshSql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(text)) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Rater bucket boundaries for [[statCohensKappa]] — shared by both
    * engines; chosen so all three classes are populated at every sf.
    */
  val KappaLenCuts = (200, 400)
  val KappaTokCuts = (40, 80)

  /** stat_cohens_kappa — INTER-RATER AGREEMENT between two independent
    * document classifiers (the annotation-QA statistic: how much do
    * two labeling heuristics agree beyond chance?). Rater A buckets by
    * character length, rater B by whitespace token count, both into 3
    * classes. kappa = (p_o − p_e)/(1 − p_e) with p_o the observed
    * agreement rate and p_e the chance rate from the marginals — all
    * counts are exact integers from ONE aggregation pass (map-side
    * combinable conditional sums, no contingency-table shuffle), and
    * the final doubles are the same IEEE expressions in both engines
    * (products ≤ n² ≈ 25M at sf0.1 — far inside long range). Scale:
    * single streaming pass, O(1) state.
    */
  def statCohensKappa(s: SparkSession, d: String): DataFrame = {
    val (l1, l2) = KappaLenCuts
    val (t1, t2) = KappaTokCuts
    val rated = documents(s, d).select(
      when(length(col("text")) < l1, 0)
        .when(length(col("text")) < l2, 1).otherwise(2).as("ra"),
      when(size(split(col("text"), " ")) < t1, 0)
        .when(size(split(col("text"), " ")) < t2, 1).otherwise(2).as("rb"))
    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    val m = rated.agg(
      count(lit(1)).as("n"),
      cnt(col("ra") === col("rb")).as("agree"),
      cnt(col("ra") === 0).as("a0"), cnt(col("ra") === 1).as("a1"),
      cnt(col("ra") === 2).as("a2"),
      cnt(col("rb") === 0).as("b0"), cnt(col("rb") === 1).as("b1"),
      cnt(col("rb") === 2).as("b2"))
    m.select(col("n"),
        (col("agree").cast("double") / col("n")).as("po"),
        ((col("a0") * col("b0") + col("a1") * col("b1")
          + col("a2") * col("b2")).cast("double")
          / (col("n") * col("n"))).as("pe"))
      .select(col("n"), round(col("po"), 6).as("po"),
        round(col("pe"), 6).as("pe"),
        round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6)
          .as("kappa"))
  }
  val statCohensKappaSql: String = {
    val (l1, l2) = KappaLenCuts
    val (t1, t2) = KappaTokCuts
    s"""WITH rated AS (
       |  SELECT
       |    CASE WHEN len(text) < $l1 THEN 0
       |         WHEN len(text) < $l2 THEN 1 ELSE 2 END AS ra,
       |    CASE WHEN len(string_split(text, ' ')) < $t1 THEN 0
       |         WHEN len(string_split(text, ' ')) < $t2 THEN 1
       |         ELSE 2 END AS rb
       |  FROM documents),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS agree,
       |    CAST(sum(CASE WHEN ra = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
       |    CAST(sum(CASE WHEN ra = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
       |    CAST(sum(CASE WHEN ra = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
       |    CAST(sum(CASE WHEN rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
       |    CAST(sum(CASE WHEN rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
       |    CAST(sum(CASE WHEN rb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2
       |  FROM rated),
       |p AS (
       |  SELECT n, CAST(agree AS DOUBLE) / n AS po,
       |    CAST(a0 * b0 + a1 * b1 + a2 * b2 AS DOUBLE) / (n * n) AS pe
       |  FROM m)
       |SELECT n, round(po, 6) AS po, round(pe, 6) AS pe,
       |  round((po - pe) / (1.0 - pe), 6) AS kappa
       |FROM p""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "store_incremental_agg_refresh" -> (storeIncrementalAggRefresh _),
    "stat_cohens_kappa" -> (statCohensKappa _))

  val oracle: Map[String, String] = Map(
    "store_incremental_agg_refresh" -> storeIncrementalAggRefreshSql,
    "stat_cohens_kappa" -> statCohensKappaSql)
}
