package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Fifty-sixth wave: field-alias normalization and unit conversion on
  * the SeaBASS ingest path (the reference's header-driven data model),
  * SQL session variables, a bipartite degree census, and the
  * Mann–Whitney U rank test on the distributed prefix-scan.
  */
object Extras56 {

  /** Stage `.sb` files where files at odd sorted position declare the
    * SAME quantities under ALIAS field names (`id,chars` instead of
    * `doc_id,n_chars`) — the reference normalizes submitted field
    * names against its field registry before storage. Distributed
    * staging (one task per language, same shape as
    * [[RefSurface.stageSbDir]]).
    */
  private def stageAliasSbDir(s: SparkSession, d: String): String = {
    import s.implicits._
    val dirStr = Scratch.dir("graft_asb_")
    val langs = documents(s, d).select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    val aliased = langs.zipWithIndex.collect { case (l, i) if i % 2 == 1 => l }.toSet
    documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .as[(String, Long, Long)]
      .repartition(col("lang"))
      .mapPartitions { it =>
        val byLang = it.toArray.groupBy(_._1)
        byLang.foreach { case (lang, rows) =>
          val fields = if (aliased(lang)) "id,chars" else "doc_id,n_chars"
          val sb = new StringBuilder
          sb ++= "/begin_header\n"
          sb ++= s"/cruise=corpus_$lang\n"
          sb ++= s"/fields=$fields\n"
          sb ++= "/delimiter=comma\n"
          sb ++= "/missing=-999\n"
          sb ++= "/end_header\n"
          rows.sortBy(_._2).foreach { case (_, id, nc) => sb ++= s"$id,$nc\n" }
          Files.writeString(
            java.nio.file.Paths.get(dirStr, s"corpus_$lang.sb"), sb.toString)
        }
        Iterator(byLang.size)
      }.collect() // sink commit: languages-per-task counts, not data
    dirStr
  }

  /** ref_field_alias_normalize — field-ALIAS normalization during
    * ingest (the reference validates every submitted field name
    * against its managed field registry and folds known aliases to
    * the canonical name before storage): half the staged files call
    * the columns `id,chars`, the alias table (a config file —
    * broadcast at any scale) folds them onto `doc_id,n_chars`, and
    * the per-CANONICAL-field census proves the collapse: each field's
    * count covers the whole corpus, alias spellings contribute zero
    * residual field names. Left join + coalesce keeps unknown fields
    * as themselves (normalize, never drop).
    */
  def refFieldAliasNormalize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = stageAliasSbDir(s, d)
    val aliases = Seq(("id", "doc_id"), ("chars", "n_chars"))
      .toDF("alias", "canonical")
    graft.sources.SbReader.readLong(s, s"$dir/*.sb")
      .join(broadcast(aliases), col("field") === col("alias"), "left")
      .select(coalesce(col("canonical"), col("field")).as("field"),
        col("value_num"))
      .groupBy("field")
      .agg(count(lit(1)).as("n"), sum(col("value_num")).cast("double").as("sum_num"))
      .orderBy("field")
  }
  val refFieldAliasNormalizeSql: String =
    """SELECT 'doc_id' AS field, count(*) AS n, CAST(sum(doc_id) AS DOUBLE) AS sum_num
      |FROM documents
      |UNION ALL
      |SELECT 'n_chars', count(*), CAST(sum(n_chars) AS DOUBLE) FROM documents
      |ORDER BY field""".stripMargin

  /** Stage `.sb` files with a depth column whose UNIT alternates by
    * sorted language position: even positions store meters, odd store
    * feet (`/units=none,ft`) — the depth QUANTITY is the same rule
    * (n_chars % 200) expressed in the file's native unit.
    */
  private def stageUnitSbDir(s: SparkSession, d: String): String = {
    import s.implicits._
    val dirStr = Scratch.dir("graft_usb_")
    val langs = documents(s, d).select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    val inFeet = langs.zipWithIndex.collect { case (l, i) if i % 2 == 1 => l }.toSet
    documents(s, d)
      .select(col("lang"), col("doc_id"), (col("n_chars") % 200).as("depth"))
      .as[(String, Long, Long)]
      .repartition(col("lang"))
      .mapPartitions { it =>
        val byLang = it.toArray.groupBy(_._1)
        byLang.foreach { case (lang, rows) =>
          val unit = if (inFeet(lang)) "ft" else "m"
          val sb = new StringBuilder
          sb ++= "/begin_header\n"
          sb ++= s"/cruise=corpus_$lang\n"
          sb ++= "/fields=doc_id,depth\n"
          sb ++= s"/units=none,$unit\n"
          sb ++= "/delimiter=comma\n"
          sb ++= "/missing=-999\n"
          sb ++= "/end_header\n"
          rows.sortBy(_._2).foreach { case (_, id, dep) => sb ++= s"$id,$dep\n" }
          Files.writeString(
            java.nio.file.Paths.get(dirStr, s"corpus_$lang.sb"), sb.toString)
        }
        Iterator(byLang.size)
      }.collect() // sink commit: languages-per-task counts, not data
    dirStr
  }

  /** ref_unit_convert — header-driven UNIT normalization (SeaBASS
    * `/units=` is authoritative per file; the reference converts
    * submitted units to its canonical ones): the per-file depth unit
    * comes from the parsed header metadata, a broadcast conversion
    * table (unit → factor) normalizes every value to meters, and the
    * per-cruise census aggregates the CONVERTED quantity. Conversion
    * and sum run in DECIMAL (ft→m = ×0.3048 exactly, DECIMAL(14,4) ×
    * DECIMAL(6,4) is exact; float multiply-then-sum would be
    * order-dependent), cast to double only at the end — the oracle
    * replays identical decimal arithmetic.
    */
  def refUnitConvert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = stageUnitSbDir(s, d)
    val factors = Seq(("m", "1.0000"), ("ft", "0.3048"))
      .toDF("unit", "factor_s")
      .select(col("unit"), col("factor_s").cast("decimal(6,4)").as("factor"))
    val units = graft.sources.SbReader.readMetadata(s, s"$dir/*.sb")
      .filter(col("key") === "units")
      .select(col("path"), split(col("value"), ",").getItem(1).as("unit"))
    val cruises = graft.sources.SbReader.readMetadata(s, s"$dir/*.sb")
      .filter(col("key") === "cruise")
      .select(col("path"), regexp_replace(col("value"), "^corpus_", "").as("lang"))
    graft.sources.SbReader.readLong(s, s"$dir/*.sb")
      .filter(col("field") === "depth")
      .join(broadcast(units), "path")
      .join(broadcast(cruises), "path")
      .join(broadcast(factors), "unit")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("value_num").cast("decimal(14,4)") * col("factor"))
          .cast("double").as("total_depth_m"))
      .orderBy("lang")
  }
  val refUnitConvertSql: String =
    """WITH ranked AS (
      |  SELECT lang, dense_rank() OVER (ORDER BY lang) AS rk
      |  FROM (SELECT DISTINCT lang FROM documents)),
      |d AS (SELECT lang, n_chars % 200 AS raw FROM documents)
      |SELECT d.lang, count(*) AS n,
      |  CAST(sum(CAST(raw AS DECIMAL(14,4)) *
      |    (CASE WHEN r.rk % 2 = 0 THEN CAST(0.3048 AS DECIMAL(6,4))
      |          ELSE CAST(1.0 AS DECIMAL(6,4)) END)) AS DOUBLE) AS total_depth_m
      |FROM d JOIN ranked r USING (lang)
      |GROUP BY d.lang ORDER BY lang""".stripMargin

  /** sql_session_variable — SQL session VARIABLES (DECLARE / SET VAR,
    * the ANSI session-variable surface Spark 4 ships): a typed
    * variable declared and then REASSIGNED parameterizes the query
    * text itself — the reference's endpoints take user parameters,
    * and variables are how pure-SQL deployments thread them without
    * string interpolation (injection-safe, analyzer-typed). The
    * oracle inlines the final variable values.
    */
  def sqlSessionVariable(s: SparkSession, d: String): DataFrame = {
    documents(s, d).createOrReplaceTempView("docs_sqlvar")
    s.sql("DECLARE OR REPLACE VARIABLE v_min_chars BIGINT DEFAULT 100")
    s.sql("DECLARE OR REPLACE VARIABLE v_skip_lang STRING DEFAULT 'xx'")
    s.sql("SET VAR v_min_chars = 250")
    s.sql("SET VAR v_skip_lang = 'en'")
    s.sql(
      """SELECT lang, count(*) AS n, CAST(min(n_chars) AS BIGINT) AS min_chars
        |FROM docs_sqlvar
        |WHERE n_chars >= v_min_chars AND lang <> v_skip_lang
        |GROUP BY lang ORDER BY lang""".stripMargin)
  }
  val sqlSessionVariableSql: String =
    """SELECT lang, count(*) AS n, CAST(min(n_chars) AS BIGINT) AS min_chars
      |FROM documents
      |WHERE n_chars >= 250 AND lang <> 'en'
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** graph_bipartite_degree — degree HISTOGRAM of the supplier ↔
    * customer bipartite graph induced by lineitem ⋈ orders: distinct
    * edges first (the dedup that keeps a hot supplier from counting a
    * repeat customer twice), per-supplier degree, then the histogram.
    * Three keyed shuffles, each on a natural key — the standard
    * degree-census shape that survives any scale; no collect, no
    * window.
    */
  def graphBipartiteDegree(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(col("l_suppkey"), col("l_orderkey"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"), col("o_custkey")).distinct()
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_suppliers"))
      .orderBy("degree")
  val graphBipartiteDegreeSql: String =
    """WITH e AS (
      |  SELECT DISTINCT l_suppkey, o_custkey
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |deg AS (SELECT l_suppkey, count(*) AS degree FROM e GROUP BY l_suppkey)
      |SELECT degree, count(*) AS n_suppliers
      |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  /** stat_mannwhitney_u — Mann–Whitney U between the click and view
    * value samples, tie-corrected via AVERAGE ranks — and computed in
    * INTEGER arithmetic end to end: per distinct value the average
    * rank is c_before + (cnt+1)/2, so 2·R₁ = Σ n1v·(2·c_before + cnt
    * + 1) is an exact integer sum (no float accumulation at any
    * width), c_before rides
    * [[graft.plans.GlobalRank.withExclusivePrefixSum]] (the two-pass
    * range-partitioned scan — no global window), and U₁/U₂ become
    * exact at the final single division by 2.
    */
  def statMannwhitneyU(s: SparkSession, d: String): DataFrame = {
    val perValue = events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .groupBy("value")
      .agg(
        count(when(col("event_type") === "click", 1)).as("n1v"),
        count(when(col("event_type") === "view", 1)).as("n2v"))
      .withColumn("cntv", col("n1v") + col("n2v"))
    val withPrefix = graft.plans.GlobalRank.withExclusivePrefixSum(
      perValue, "c_before", col("cntv"), Seq(col("value").asc))
    val tot = perValue.agg(
      sum(col("n1v")).as("n1"), sum(col("n2v")).as("n2"))
    withPrefix
      .select((col("n1v") * (lit(2) * col("c_before") + col("cntv") + 1)).as("r1x2"))
      .agg(sum(col("r1x2")).as("sum_r1x2"))
      .crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        ((col("sum_r1x2") - col("n1") * (col("n1") + 1)).cast("double") / 2).as("u1"),
        ((col("n1") * col("n2")).cast("double") -
          (col("sum_r1x2") - col("n1") * (col("n1") + 1)).cast("double") / 2).as("u2"))
  }
  val statMannwhitneyUSql: String =
    """WITH pv AS (
      |  SELECT value,
      |    count(*) FILTER (WHERE event_type = 'click') AS n1v,
      |    count(*) FILTER (WHERE event_type = 'view') AS n2v
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY value),
      |c AS (
      |  SELECT value, n1v, n2v, n1v + n2v AS cntv,
      |    COALESCE(sum(n1v + n2v) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      CAST(0 AS BIGINT)) AS c_before
      |  FROM pv),
      |t AS (SELECT CAST(sum(n1v) AS BIGINT) AS n1,
      |             CAST(sum(n2v) AS BIGINT) AS n2 FROM pv),
      |r AS (SELECT CAST(sum(n1v * (2 * c_before + cntv + 1)) AS BIGINT) AS sum_r1x2 FROM c)
      |SELECT t.n1, t.n2,
      |  CAST(r.sum_r1x2 - t.n1 * (t.n1 + 1) AS DOUBLE) / 2 AS u1,
      |  CAST(t.n1 * t.n2 AS DOUBLE)
      |    - CAST(r.sum_r1x2 - t.n1 * (t.n1 + 1) AS DOUBLE) / 2 AS u2
      |FROM r, t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ref_field_alias_normalize" -> (refFieldAliasNormalize _),
    "ref_unit_convert" -> (refUnitConvert _),
    "sql_session_variable" -> (sqlSessionVariable _),
    "graph_bipartite_degree" -> (graphBipartiteDegree _),
    "stat_mannwhitney_u" -> (statMannwhitneyU _))

  val oracle: Map[String, String] = Map(
    "ref_field_alias_normalize" -> refFieldAliasNormalizeSql,
    "ref_unit_convert" -> refUnitConvertSql,
    "sql_session_variable" -> sqlSessionVariableSql,
    "graph_bipartite_degree" -> graphBipartiteDegreeSql,
    "stat_mannwhitney_u" -> statMannwhitneyUSql)
}
