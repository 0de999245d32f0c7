package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Fortieth wave: CSV dialect options, broadcast dictionaries, cache
  * reuse, accumulator audits, and custom aggregators over windows.
  */
object Extras40 {

  /** scan_csv_options — the CSV DIALECT battery in one read: custom
    * separator (';'), comment lines ('#'), header row, and a
    * nullValue placeholder ('\N') — the four knobs real-world drops
    * actually arrive with. The staged file plants all four; the
    * census proves each was honored (comments skipped, placeholder
    * rows null, delimiter split correct).
    */
  def scanCsvOptions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir("graft_csvopt_")
    // staged DISTRIBUTED: one CSV per task (header:true handles a
    // header per file), executors write into the shared temp dir — the
    // refZipExport local-FS staging pattern, no driver collect. The
    // null placeholder plants on a KEY rule ((key div 200) % 7 — keys
    // here are the multiples of 200) rather than a global row index,
    // so the planting is independent of row-to-file assignment and the
    // oracle recomputes it from the key alone.
    orders(s, d).filter(col("o_orderkey") % 200 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .as[(Long, String, Double)]
      .repartition(4, col("o_orderkey"))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val body = new StringBuilder("# staged by scan_csv_options\n")
          body ++= "o_orderkey;o_orderstatus;o_totalprice\n"
          rows.zipWithIndex.foreach { case ((k, st, tp), i) =>
            val status = if ((k / 200) % 7 == 0) "\\N" else st
            body ++= s"$k;$status;$tp\n"
            if (i % 10 == 0) body ++= "# periodic comment line\n"
          }
          val pid = org.apache.spark.TaskContext.getPartitionId()
          Files.write(Paths.get(dir, f"orders-$pid%04d.csv"),
            body.toString.getBytes("UTF-8"))
          Iterator(1)
        }
      }.collect() // sink commit: one marker per written file, not data
    s.read
      .option("sep", ";").option("comment", "#").option("header", "true")
      .option("nullValue", "\\N")
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .csv(dir)
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_orderstatus")).as("n_status_nonnull"),
        dsum(col("o_totalprice")).as("revenue"))
  }
  val scanCsvOptionsSql: String =
    s"""SELECT count(*) AS n_rows,
       |  count(*) FILTER (WHERE (o_orderkey // 200) % 7 <> 0) AS n_status_nonnull,
       |  ${dsumSql("o_totalprice")} AS revenue
       |FROM orders WHERE o_orderkey % 200 = 0""".stripMargin

  /** exec_broadcast_dictionary — the RDD-era `sparkContext.broadcast`
    * of a driver-built dictionary, consumed inside mapPartitions: the
    * join-free enrichment used for model vocabularies and small code
    * maps (one copy per EXECUTOR, not per task — torrent-distributed,
    * no shuffle, no Catalyst involvement). The honest contract versus
    * a broadcast JOIN (B5): the dictionary must fit on the driver and
    * updates require re-broadcast; the oracle is the join formulation
    * producing identical rows.
    */
  def execBroadcastDictionary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dict = nation(s, d).select(col("n_nationkey"), col("n_name"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val bc = s.sparkContext.broadcast(dict)
    customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
      .as[(Long, Int)]
      .mapPartitions { it =>
        val m = bc.value // resolved once per partition
        it.map { case (ck, nk) => (ck, m.getOrElse(nk, "UNKNOWN")) }
      }
      .toDF("c_custkey", "n_name")
      .orderBy("c_custkey")
  }
  val execBroadcastDictionarySql: String =
    """SELECT c_custkey, n_name
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY c_custkey""".stripMargin

  /** Cached aggregate exposed for PlanSpec's InMemoryTableScan assert. */
  private[graft] def cachedAgg(s: SparkSession, d: String): DataFrame =
    orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .cache()

  /** exec_cache_reuse — `cache()` shared by two downstream branches:
    * the per-customer spend aggregate computes ONCE into the
    * in-memory columnar cache and both consumers (a segment rollup
    * and a top-spender census) read InMemoryTableScan instead of
    * re-aggregating the fact table (PlanSpec asserts the cached
    * scan). The explicit-cache sibling of C68's ReusedExchange —
    * reuse across ACTIONS rather than within one plan. Unpersisted at
    * the end: caches pin executor memory at 100 TB.
    */
  def execCacheReuse(s: SparkSession, d: String): DataFrame = {
    val agg = cachedAgg(s, d)
    try {
      val bySeg = agg.join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"), dsumx(dec(col("spend"))).as("segment_spend"))
      val top = agg.agg(max(col("n_orders")).as("max_orders"),
        count(lit(1)).as("n_active_customers"))
      bySeg.crossJoin(top).orderBy("c_mktsegment")
        .localCheckpoint(true) // materialize before unpersist
    } finally agg.unpersist()
  }
  val execCacheReuseSql: String =
    """WITH agg AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS spend
      |  FROM orders GROUP BY o_custkey)
      |SELECT c_mktsegment, count(*) AS n_customers,
      |  CAST(sum(CAST(spend AS DECIMAL(14,2))) AS DOUBLE) AS segment_spend,
      |  (SELECT max(n_orders) FROM agg) AS max_orders,
      |  (SELECT count(*) FROM agg) AS n_active_customers
      |FROM agg JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** exec_accumulator_audit — LongAccumulators as the SIDE-CHANNEL
    * audit a decode/clean pass reports through without a second scan:
    * the partition-local pass counts rule-"malformed" rows (planted:
    * every 13th) and total bytes into accumulators while emitting only
    * clean rows. Honest contract documented: accumulator values are
    * exactly-once only per ACTION with no task retries/speculation —
    * an audit, not a ledger; the row census itself carries the oracle.
    */
  def execAccumulatorAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val malformed = s.sparkContext.longAccumulator("malformed")
    val cleanRows = s.sparkContext.longAccumulator("clean")
    val cleaned = documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.flatMap { case (id, n) =>
          if (id % 13 == 0) { malformed.add(1); None }
          else { cleanRows.add(1); Some((id, n)) }
        }
      }
      .toDF("doc_id", "n_chars")
    val kept = cleaned.agg(count(lit(1)).as("n_kept"),
      sum(col("n_chars")).as("chars_kept")).collect()(0)
    import s.implicits._
    Seq((kept.getLong(0), kept.getLong(1), malformed.value: Long, cleanRows.value: Long))
      .toDF("n_kept", "chars_kept", "acc_malformed", "acc_clean")
  }
  val execAccumulatorAuditSql: String =
    """SELECT count(*) FILTER (WHERE doc_id % 13 <> 0) AS n_kept,
      |  CAST(sum(n_chars) FILTER (WHERE doc_id % 13 <> 0) AS BIGINT) AS chars_kept,
      |  count(*) FILTER (WHERE doc_id % 13 = 0) AS acc_malformed,
      |  count(*) FILTER (WHERE doc_id % 13 <> 0) AS acc_clean
      |FROM documents""".stripMargin

  /** win_udaf_geomean — a CUSTOM typed Aggregator as a WINDOW
    * function: B39's fixed-point geometric mean (integer nanounit ln
    * sums — shuffle-order exact) evaluated over a trailing 5-row
    * frame per return flag. Custom aggregates compose with frames
    * exactly like built-ins; determinism survives because the
    * buffer's integer adds are order-free under any frame
    * evaluation order.
    */
  def winUdafGeomean(s: SparkSession, d: String): DataFrame = {
    val geomean = udaf(Scalars.GeoMean)
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    // l_quantity completes the total order for frame + output alike
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .rowsBetween(-4, 0)
    lineitem(s, d)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round(geomean(col("l_quantity")).over(w), 6).as("geo_qty_5"))
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "geo_qty_5")
  }
  val winUdafGeomeanSql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag,
      |  round(exp(CAST(sum(CAST(round(ln(l_quantity) * 1e9, 0) AS BIGINT))
      |    OVER w AS DOUBLE) / 1e9
      |    / count(*) OVER w), 6) AS geo_qty_5
      |FROM lineitem WHERE l_orderkey % 50 = 0
      |WINDOW w AS (PARTITION BY l_returnflag
      |             ORDER BY l_orderkey, l_linenumber, l_quantity
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |ORDER BY l_orderkey, l_linenumber, l_returnflag, geo_qty_5""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_csv_options" -> (scanCsvOptions _),
    "exec_broadcast_dictionary" -> (execBroadcastDictionary _),
    "exec_cache_reuse" -> (execCacheReuse _),
    "exec_accumulator_audit" -> (execAccumulatorAudit _),
    "win_udaf_geomean" -> (winUdafGeomean _))

  val oracle: Map[String, String] = Map(
    "scan_csv_options" -> scanCsvOptionsSql,
    "exec_broadcast_dictionary" -> execBroadcastDictionarySql,
    "exec_cache_reuse" -> execCacheReuseSql,
    "exec_accumulator_audit" -> execAccumulatorAuditSql,
    "win_udaf_geomean" -> winUdafGeomeanSql)
}
