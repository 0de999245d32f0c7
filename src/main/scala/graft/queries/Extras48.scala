package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Forty-eighth wave: optimizer-contract exhibits, relative-quality
  * curation, custom record separators, and distinct-filter
  * aggregation.
  */
object Extras48 {

  /** Frames exposed for PlanSpec: deterministic vs nondeterministic
    * UDF placement around a join.
    */
  private[graft] def udfBarrierFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val parity = udf((k: Long) => k % 2 == 0)
    val parityND = udf((k: Long) => k % 2 == 0).asNondeterministic()
    val joined = orders(s, d).join(customer(s, d),
      col("o_custkey") === col("c_custkey"))
    (joined.filter(parity(col("o_orderkey"))),
      joined.filter(parityND(col("o_orderkey"))))
  }

  /** udf_nondeterministic_barrier — `asNondeterministic()` is an
    * OPTIMIZER CONTRACT, not a comment: a deterministic UDF filter
    * pushes below the join (evaluated once per orders row, before the
    * join fans out), while the same function marked nondeterministic
    * must stay put — the optimizer may neither reorder nor
    * re-evaluate it (PlanSpec asserts the placement differs). Mark
    * sampling/random/external-call UDFs or the engine will silently
    * duplicate their evaluation. The function here is secretly
    * deterministic, so both variants return identical rows — the
    * exhibit is the plan, the census is the oracle.
    */
  def udfNondeterministicBarrier(s: SparkSession, d: String): DataFrame = {
    val (det, nd) = udfBarrierFrames(s, d)
    det.agg(count(lit(1)).as("n_det"), dsum(col("o_totalprice")).as("rev_det"))
      .crossJoin(nd.agg(count(lit(1)).as("n_nondet")))
  }
  val udfNondeterministicBarrierSql: String =
    s"""SELECT count(*) AS n_det, ${dsumSql("o_totalprice")} AS rev_det,
       |  count(*) AS n_nondet
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE o_orderkey % 2 = 0""".stripMargin

  /** pipeline_relative_threshold — RELATIVE quality pruning: instead
    * of a global cutoff (C173's funnel), each language keeps documents
    * at or above its OWN 25th length percentile — the per-domain
    * thresholding real curation uses because absolute cutoffs
    * over-prune low-resource slices. percentile_disc picks an exact
    * data value (no interpolation ambiguity), the threshold join is a
    * broadcast of 5 rows, and the census reports kept/dropped per
    * language.
    */
  def pipelineRelativeThreshold(s: SparkSession, d: String): DataFrame = {
    val thresholds = documents(s, d)
      .groupBy("lang")
      .agg(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)").as("p25"))
    documents(s, d).join(broadcast(thresholds), "lang")
      .groupBy("lang")
      .agg(max(col("p25")).cast("bigint").as("p25_chars"),
        count(when(col("n_chars") >= col("p25"), 1)).as("n_kept"),
        count(when(col("n_chars") < col("p25"), 1)).as("n_dropped"))
      .orderBy("lang")
  }
  val pipelineRelativeThresholdSql: String =
    """WITH t AS (
      |  SELECT lang, quantile_disc(n_chars, 0.25) AS p25
      |  FROM documents GROUP BY lang)
      |SELECT d.lang, max(t.p25) AS p25_chars,
      |  count(*) FILTER (WHERE d.n_chars >= t.p25) AS n_kept,
      |  count(*) FILTER (WHERE d.n_chars < t.p25) AS n_dropped
      |FROM documents d JOIN t ON d.lang = t.lang
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** scan_text_linesep — custom record separator (`lineSep`): exports
    * that delimit records with a sentinel token instead of newlines
    * (records CONTAINING newlines, NUL-separated dumps) read as one
    * row per record, not one per line. Staged with a '|#|' separator
    * over rule-selected documents; census proves record count and
    * byte totals.
    */
  def scanTextLinesep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir("graft_lsep_")
    // staged DISTRIBUTED: one sentinel-joined file per task (record
    // counts compose across files), executors write into the shared
    // temp dir — the refZipExport local-FS staging pattern, no driver
    // collect
    documents(s, d).filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .repartition(4, col("doc_id"))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          Files.write(Paths.get(dir, f"records-$pid%04d.txt"),
            rows.map(_._2).mkString("|#|").getBytes("UTF-8"))
          Iterator(1)
        }
      }.collect() // sink commit: one marker per written file, not data
    s.read.option("lineSep", "|#|").text(dir)
      .agg(count(lit(1)).as("n_records"),
        sum(length(col("value"))).cast("bigint").as("total_chars"))
  }
  val scanTextLinesepSql: String =
    """SELECT count(*) AS n_records,
      |  CAST(sum(strlen(text)) AS BIGINT) AS total_chars
      |FROM documents WHERE doc_id % 25 = 0""".stripMargin

  /** Typed-lambda vs Column filter frames for PlanSpec. */
  private[graft] def typedFilterFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val colFiltered = lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"))
      .filter(col("l_quantity") > 45.0)
    val lambdaFiltered = lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"))
      .as[(Long, Double)]
      .filter(r => r._2 > 45.0)
      .toDF("l_orderkey", "l_quantity")
    (colFiltered, lambdaFiltered)
  }

  /** typed_filter_pushdown_loss — the COST of typed lambdas, stated
    * honestly: a Column predicate reaches the parquet scan as a
    * PushedFilter (row groups skip), while the SAME predicate as a
    * typed lambda is an opaque JVM closure — the scan reads
    * everything and the filter runs post-deserialization (PlanSpec
    * asserts the pushed filter exists in one plan and not the other).
    * Same rows out; at 100 TB the lambda variant reads the whole
    * table. This is why the engine's hot paths are Column
    * expressions, with typed lambdas reserved for logic Catalyst
    * cannot express.
    */
  def typedFilterPushdownLoss(s: SparkSession, d: String): DataFrame = {
    val (colF, lamF) = typedFilterFrames(s, d)
    colF.agg(count(lit(1)).as("n_col"), dsum(col("l_quantity")).as("qty_col"))
      .crossJoin(lamF.agg(count(lit(1)).as("n_lambda")))
  }
  val typedFilterPushdownLossSql: String =
    s"""SELECT count(*) AS n_col, ${dsumSql("l_quantity")} AS qty_col,
       |  count(*) AS n_lambda
       |FROM lineitem WHERE l_quantity > 45.0""".stripMargin

  /** agg_distinct_filter — COUNT(DISTINCT …) FILTER (WHERE …): the
    * distinct aggregation with a row predicate — planned through the
    * same Expand the multi-distinct C163 uses, the filter folded into
    * the expansion (no pre-filtered subquery needed). Distinct
    * customers per priority among high-value orders beside the
    * unfiltered count.
    */
  def aggDistinctFilter(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_df_orders")
    s.sql(
      """SELECT o_orderpriority,
        |  count(DISTINCT o_custkey) AS n_cust_all,
        |  count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000.0)
        |    AS n_cust_high,
        |  count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_orders_high
        |FROM g_df_orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }
  val aggDistinctFilterSql: String =
    """SELECT o_orderpriority,
      |  count(DISTINCT o_custkey) AS n_cust_all,
      |  count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000.0)
      |    AS n_cust_high,
      |  count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_orders_high
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "udf_nondeterministic_barrier" -> (udfNondeterministicBarrier _),
    "pipeline_relative_threshold" -> (pipelineRelativeThreshold _),
    "scan_text_linesep" -> (scanTextLinesep _),
    "typed_filter_pushdown_loss" -> (typedFilterPushdownLoss _),
    "agg_distinct_filter" -> (aggDistinctFilter _))

  val oracle: Map[String, String] = Map(
    "udf_nondeterministic_barrier" -> udfNondeterministicBarrierSql,
    "pipeline_relative_threshold" -> pipelineRelativeThresholdSql,
    "scan_text_linesep" -> scanTextLinesepSql,
    "typed_filter_pushdown_loss" -> typedFilterPushdownLossSql,
    "agg_distinct_filter" -> aggDistinctFilterSql)
}
