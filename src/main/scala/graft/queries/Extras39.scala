package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Thirty-ninth wave: multiline JSON, collation-aware grouping, the
  * id-generation contract, the store's change data feed, and
  * multi-aggregate pivot.
  */
object Extras39 {

  /** scan_json_multiline — `multiLine=true` JSON: the file IS one JSON
    * document (an array of records) instead of JSON-lines, so the
    * parser must consume the whole file — which is why a multiline
    * file is one task and unsplittable (same scale contract as C222's
    * wholetext), while JSON-lines splits by byte ranges. Staged from
    * the orders slice, censused after read-back.
    */
  def scanJsonMultiline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir("graft_mljson_")
    // staged DISTRIBUTED (multiLine JSON reads each file as one array,
    // so one array file per task composes): executors write into the
    // shared temp dir — the refZipExport local-FS staging pattern, no
    // driver collect
    orders(s, d).filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .as[(Long, String, Double)]
      .repartition(4, col("o_orderkey"))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val json = rows.map { case (k, st, tp) =>
            s"""{"o_orderkey": $k, "o_orderstatus": "$st", "o_totalprice": $tp}"""
          }.mkString("[\n  ", ",\n  ", "\n]")
          val pid = org.apache.spark.TaskContext.getPartitionId()
          Files.write(Paths.get(dir, f"orders-$pid%04d.json"), json.getBytes("UTF-8"))
          Iterator(1)
        }
      }.collect() // sink commit: one marker per written file, not data
    s.read.option("multiLine", "true").json(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderstatus")
  }
  val scanJsonMultilineSql: String =
    s"""SELECT o_orderstatus, count(*) AS n, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders WHERE o_orderkey % 100 = 0
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** str_collation_group — COLLATED strings (Spark 4): a column
    * collated UTF8_LCASE compares, groups and joins
    * case-insensitively at the TYPE level — no lower() scattered
    * through every predicate (and no index-destroying wrapper at
    * scale). Mixed-case values are rule-planted; the collated
    * group-by merges them, and the census (count + case-sensitive
    * MIN representative) proves which physical values fed each
    * group. Oracle normalizes explicitly — the two formulations
    * agree exactly.
    */
  def strCollationGroup(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(col("c_custkey"),
        when(col("c_custkey") % 2 === 0, lower(col("c_mktsegment")))
          .otherwise(col("c_mktsegment")).as("seg_mixed"))
      .groupBy(expr("collate(seg_mixed, 'UTF8_LCASE')").as("seg_ci"))
      .agg(count(lit(1)).as("n"), min(col("seg_mixed")).as("min_variant"))
      .select(upper(col("seg_ci")).as("segment"), col("n"), col("min_variant"))
      .orderBy("segment")
  val strCollationGroupSql: String =
    """SELECT upper(seg_mixed) AS segment, count(*) AS n,
      |  min(seg_mixed) AS min_variant
      |FROM (
      |  SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
      |              ELSE c_mktsegment END AS seg_mixed
      |  FROM customer)
      |GROUP BY upper(seg_mixed) ORDER BY segment""".stripMargin

  /** id_generation_unique — the id-generation CONTRACT, stated
    * honestly: `monotonically_increasing_id` is UNIQUE and
    * per-partition monotone but NOT stable across partitioning
    * layouts (its value encodes the partition index), so the graded
    * output asserts only its guaranteed properties — uniqueness and
    * count — while the REPRODUCIBLE id — a dense global row number
    * over an explicit total order, computed by
    * [[graft.plans.GlobalRank.withGlobalRowNumber]]'s two-pass
    * range-partitioned rank rather than a single-partition
    * `Window.orderBy` — carries the value-level oracle. The
    * difference is exactly why a pipeline must never join on
    * mi_id across runs.
    */
  def idGenerationUnique(s: SparkSession, d: String): DataFrame = {
    // rank the DETERMINISTIC key frame, then attach mi_id: feeding a
    // nondeterministic column INTO a multi-pass algorithm would forfeit
    // exchange reuse and with it the consistency of the two passes —
    // itself part of the id-generation contract this row exhibits
    val withIds = graft.plans.GlobalRank.withGlobalRowNumber(
      orders(s, d).select(col("o_orderkey")),
      "stable_id", Seq(col("o_orderkey").asc))
      .withColumn("mi_id", monotonically_increasing_id())
    withIds.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("mi_id")).as("n_distinct_mi"),
      (countDistinct(col("mi_id")) === count(lit(1))).as("mi_unique"),
      max(col("stable_id")).as("max_stable_id"),
      sum(col("stable_id")).as("sum_stable_id"))
  }
  val idGenerationUniqueSql: String =
    """SELECT count(*) AS n_rows, count(*) AS n_distinct_mi,
      |  CAST(1 AS BOOLEAN) AS mi_unique,
      |  count(*) AS max_stable_id,
      |  CAST(count(*) * (count(*) + 1) // 2 AS BIGINT) AS sum_stable_id
      |FROM orders""".stripMargin

  /** store_change_feed — CHANGE DATA FEED between snapshots (Delta CDF
    * semantics, DERIVED from retained snapshots instead of logged at
    * write time): v1 seeds a keyed slice, v2 upserts (rule-split into
    * pure updates and fresh inserts), v3 deletes a rule-band; the
    * feed between v1 and v3 classifies every key as insert / update /
    * delete via one keyed full outer join of the two snapshots
    * ([[graft.sources.DatasetStore.changeFeed]]). The census is exact
    * because every mutation is a key-arithmetic rule the oracle
    * replays relationally.
    */
  def storeChangeFeed(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_cdf_")
    val store = new graft.sources.DatasetStore(s, dir, "o_orderkey")
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    store.init(base.filter(col("o_orderkey") % 4 === 0))                  // v1
    store.upsert(base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"))) // v2
    store.delete(col("o_orderkey") % 28 === 0)                            // v3
    store.changeFeed(1L, 3L)
      .groupBy("change_type")
      .agg(count(lit(1)).as("n"),
        dsumx(dec(coalesce(col("after_o_totalprice"), col("before_o_totalprice"))))
          .as("sum_price"))
      .orderBy("change_type")
  }
  val storeChangeFeedSql: String =
    s"""WITH before AS (
       |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 0),
       |after AS (
       |  SELECT o_orderkey,
       |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
       |         ELSE o_totalprice END AS o_totalprice
       |  FROM orders
       |  WHERE (o_orderkey % 4 = 0 OR o_orderkey % 10 = 0)
       |    AND o_orderkey % 28 <> 0),
       |cdf AS (
       |  SELECT coalesce(b.o_orderkey, a.o_orderkey) AS k,
       |    b.o_totalprice AS bp, a.o_totalprice AS ap,
       |    CASE WHEN b.o_orderkey IS NULL THEN 'insert'
       |         WHEN a.o_orderkey IS NULL THEN 'delete'
       |         WHEN b.o_totalprice <> a.o_totalprice THEN 'update' END AS change_type
       |  FROM before b FULL JOIN after a ON b.o_orderkey = a.o_orderkey)
       |SELECT change_type, count(*) AS n,
       |  CAST(sum(CAST(coalesce(ap, bp) AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
       |FROM cdf WHERE change_type IS NOT NULL
       |GROUP BY change_type ORDER BY change_type""".stripMargin

  /** agg_pivot_multi — pivot with MULTIPLE aggregates: each pivot
    * value spawns one column per aggregate (`O_n`, `O_rev`, …) in a
    * single two-phase pass — the planner expands to conditional
    * aggregates, so adding aggregates costs columns, not scans.
    */
  def aggPivotMulti(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
      .orderBy("o_orderpriority")
  val aggPivotMultiSql: String = {
    def cell(st: String) =
      s"""  count(*) FILTER (WHERE o_orderstatus = '$st') AS ${st}_n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
         |    FILTER (WHERE o_orderstatus = '$st') AS DOUBLE) AS ${st}_rev""".stripMargin
    s"""SELECT o_orderpriority,
       |${Seq("O", "F", "P").map(cell).mkString(",\n")}
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_json_multiline" -> (scanJsonMultiline _),
    "str_collation_group" -> (strCollationGroup _),
    "id_generation_unique" -> (idGenerationUnique _),
    "store_change_feed" -> (storeChangeFeed _),
    "agg_pivot_multi" -> (aggPivotMulti _))

  val oracle: Map[String, String] = Map(
    "scan_json_multiline" -> scanJsonMultilineSql,
    "str_collation_group" -> strCollationGroupSql,
    "id_generation_unique" -> idGenerationUniqueSql,
    "store_change_feed" -> storeChangeFeedSql,
    "agg_pivot_multi" -> aggPivotMultiSql)
}
