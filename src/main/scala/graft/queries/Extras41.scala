package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Forty-first wave: star-except projection, corrupt-file tolerance,
  * GROUP/ORDER BY ALL, and two optimizer-visible guarantees (empty
  * relation propagation, constant folding into pushdown).
  */
object Extras41 {

  /** sql_star_except — `SELECT * EXCEPT (cols)` (Spark 4): project
    * everything BUT the named columns — the ergonomic form for wide
    * tables where listing 200 kept columns to drop 2 is how schema
    * bugs happen. Column pruning treats the result exactly like an
    * explicit projection (the excluded columns never leave the scan).
    */
  def sqlStarExcept(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_sx_orders")
    s.sql(
      """SELECT * EXCEPT (o_orderdate, o_orderpriority)
        |FROM g_sx_orders ORDER BY o_orderkey""".stripMargin)
  }
  val sqlStarExceptSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** scan_ignore_corrupt_files — `spark.sql.files.ignoreCorruptFiles`:
    * a staged directory holds two good parquet files and one planted
    * garbage file; with the flag on, the scan logs-and-skips the
    * corrupt member instead of failing the job — the operational
    * posture for petabyte lakes where one bad object must not kill a
    * 10-hour read. The census counts exactly the good files' rows.
    * The flag is session-scoped conf, restored after.
    */
  def scanIgnoreCorruptFiles(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_corrupt_")
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    base.filter(col("o_orderkey") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    base.filter(col("o_orderkey") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    val files = Seq("a", "b").flatMap { sub =>
      java.nio.file.Files.list(Paths.get(dir, sub)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
    }
    val flat = Scratch.dir("graft_corrupt_flat_")
    files.zipWithIndex.foreach { case (p, i) =>
      Files.copy(p, Paths.get(flat, s"part-$i.parquet"))
    }
    Files.write(Paths.get(flat, "part-9.parquet"),
      "this is not a parquet file at all".getBytes("UTF-8"))
    val prev = s.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    try {
      s.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
      s.read.parquet(flat)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("revenue"))
        .localCheckpoint(true) // evaluate while the conf is set
    } finally prev.fold(s.conf.unset("spark.sql.files.ignoreCorruptFiles"))(
      s.conf.set("spark.sql.files.ignoreCorruptFiles", _))
  }
  val scanIgnoreCorruptFilesSql: String =
    s"""SELECT count(*) AS n_rows, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders""".stripMargin

  /** sql_group_order_all — `GROUP BY ALL` / `ORDER BY ALL` (Spark 4,
    * DuckDB-originated): every non-aggregate select item groups, every
    * output column orders — the boilerplate-free form for report
    * queries whose grouping set IS the projection. Resolution happens
    * at analysis; the plan is identical to the explicit form.
    */
  def sqlGroupOrderAll(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_all_orders")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
        |FROM g_all_orders GROUP BY ALL ORDER BY ALL""".stripMargin)
  }
  val sqlGroupOrderAllSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       |  ${dsumSql("o_totalprice")} AS revenue
       |FROM orders GROUP BY ALL ORDER BY ALL""".stripMargin

  /** Plan exhibit hook: the join against a provably-empty side. */
  private[graft] def emptyJoinFrame(s: SparkSession, d: String): DataFrame = {
    val none = orders(s, d).filter(lit(false)) // statically empty
    orders(s, d).join(none.select(col("o_orderkey").as("k")),
      col("o_orderkey") === col("k"))
  }

  /** opt_empty_relation — PropagateEmptyRelation: an inner join whose
    * build side is STATICALLY empty (filter false) collapses the whole
    * plan to an empty LocalTableScan at optimization time — no scan,
    * no shuffle, no tasks (PlanSpec asserts the collapsed plan). At
    * 100 TB this is what makes degenerate branches of generated query
    * plans (disabled filters, empty partitions of a union) cost
    * nothing. Census proves the empty result with the full schema.
    */
  def optEmptyRelation(s: SparkSession, d: String): DataFrame =
    emptyJoinFrame(s, d)
      .agg(count(lit(1)).as("n_rows"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("revenue"))
  val optEmptyRelationSql: String =
    """SELECT CAST(0 AS BIGINT) AS n_rows, 0.0 AS revenue""".stripMargin

  /** Plan exhibit hook: a filter whose threshold is foldable arithmetic. */
  private[graft] def foldedFilterFrame(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(lit(true) && col("o_totalprice") > lit(40000.0) + lit(2000.0) * 5)
      .select("o_orderkey", "o_totalprice")

  /** opt_constant_folding — ConstantFolding feeding pushdown: the
    * predicate arrives as `true AND price > 40000 + 2000*5`; the
    * optimizer folds the arithmetic and strips the tautology so the
    * parquet scan receives the plain `price > 50000.0` pushed filter
    * (PlanSpec asserts PushedFilters carries the FOLDED literal).
    * Folding is what lets rule-generated predicates (query builders
    * emit these shapes constantly) still skip row groups at the
    * stripe level.
    */
  def optConstantFolding(s: SparkSession, d: String): DataFrame =
    foldedFilterFrame(s, d)
      .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("revenue"))
  val optConstantFoldingSql: String =
    s"""SELECT count(*) AS n_rows, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders WHERE o_totalprice > 50000.0""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_star_except" -> (sqlStarExcept _),
    "scan_ignore_corrupt_files" -> (scanIgnoreCorruptFiles _),
    "sql_group_order_all" -> (sqlGroupOrderAll _),
    "opt_empty_relation" -> (optEmptyRelation _),
    "opt_constant_folding" -> (optConstantFolding _))

  val oracle: Map[String, String] = Map(
    "sql_star_except" -> sqlStarExceptSql,
    "scan_ignore_corrupt_files" -> scanIgnoreCorruptFilesSql,
    "sql_group_order_all" -> sqlGroupOrderAllSql,
    "opt_empty_relation" -> optEmptyRelationSql,
    "opt_constant_folding" -> optConstantFoldingSql)
}
