package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.Tables._

/** Twenty-ninth wave: the explicit cartesian join, compressed text
  * sources, the typed reduceGroups API, exact integer math, streaming
  * observability, and JSON schema inference.
  */
object Extras29 {

  /** join_cross_product — the EXPLICIT cartesian product (every other
    * join row is keyed; this is the deliberate all-pairs API,
    * `crossJoin`, planned as CartesianProduct/BNLJ). Legitimate when
    * one side is tiny and static — here region × nation builds the
    * 5×25 market grid an allocation report wants. The 100 TB rule: a
    * cross join is only ever dim × dim; the plan has no shuffle at
    * all when the small side broadcasts.
    */
  def joinCrossProduct(s: SparkSession, d: String): DataFrame =
    region(s, d).select(col("r_regionkey"), col("r_name"))
      .crossJoin(nation(s, d).select(col("n_nationkey"), col("n_name")))
      .select(col("r_name"), col("n_name"),
        (col("r_regionkey") * 100 + col("n_nationkey")).as("cell_id"))
      .orderBy("r_name", "n_name")
  val joinCrossProductSql: String =
    """SELECT r_name, n_name, r_regionkey * 100 + n_nationkey AS cell_id
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  /** scan_csv_compressed — gzip-compressed CSV ingest: the codec is
    * inferred from the `.csv.gz` extension and decompression streams
    * inside the scan task. The scale note a 100 TB ingest must know:
    * gzip is NOT splittable — one file = one task no matter its size,
    * so compressed drops arrive as MANY files (here per-priority
    * files), giving back parallelism at the file level.
    */
  def scanCsvCompressed(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.once("scan_csv_compressed", d) {
      import s.implicits._
      val out = Scratch.dir("graft_csvgz_")
      // staged DISTRIBUTED: repartition by priority, each task gzips
      // the priorities that hashed to it into the shared temp dir —
      // the refZipExport local-FS staging pattern, no driver collect
      orders(s, d).filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .as[(String, Long, Double)]
        .repartition(col("o_orderpriority"))
        .mapPartitions { it =>
          val byPrio = it.toArray.groupBy(_._1)
          byPrio.foreach { case (prio, rs) =>
            val gz = new java.util.zip.GZIPOutputStream(
              Files.newOutputStream(java.nio.file.Paths.get(out,
                s"orders_${prio.replaceAll("[^0-9A-Za-z]", "_")}.csv.gz")))
            val w = new java.io.OutputStreamWriter(gz, "UTF-8")
            w.write("o_orderkey,o_orderpriority,o_totalprice\n")
            rs.sortBy(_._2).foreach { case (p, k, t) =>
              w.write(s"$k,$p,${String.format(
                java.util.Locale.ROOT, "%.2f", Double.box(t))}\n")
            }
            w.close()
          }
          Iterator(byPrio.size)
        }.collect() // sink commit: priorities-per-task counts, not data
      out
    }
    s.read
      .option("header", "true")
      .schema(StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderpriority", StringType),
        StructField("o_totalprice", StringType))))
      .csv(s"$dir/*.csv.gz")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(M)).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }
  val scanCsvCompressedSql: String =
    s"""SELECT o_orderpriority, count(*) AS n, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders WHERE o_orderkey % 20 = 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** typed_reduce_groups — `KeyValueGroupedDataset.reduceGroups`: the
    * typed associative-merge API (mapGroups C54 gets the whole
    * iterator; reduceGroups only ever sees PAIRS, so Spark can run it
    * as a partial aggregate with map-side combine — the typed path
    * that still gets aggregation pushdown). Merge keeps the order's
    * (maxPrice, earliestKeyAtMax) with an explicit total order.
    */
  def typedReduceGroups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .reduceGroups { (a, b) =>
        // max by (price, then LOWER orderkey on ties) — a total order
        if (a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)) a else b
      }
      .map { case (cust, (_, okey, price)) => (cust, okey, price) }
      .toDF("o_custkey", "best_orderkey", "best_price")
      .orderBy("o_custkey")
  }
  val typedReduceGroupsSql: String =
    """SELECT o_custkey, o_orderkey AS best_orderkey, o_totalprice AS best_price
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** int_math_funcs — exact integer math battery: pmod (sign-safe
    * modulus), gcd/lcm via the euclidean fold, factorial, and shifts.
    * All integer-exact — no rounding contract needed anywhere.
    */
  def intMathFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d).filter(col("o_orderkey") % 500 === 0)
      .select(
        col("o_orderkey"),
        pmod(col("o_orderkey") - 7, lit(13)).cast("long").as("pm13"),
        expr("factorial(CAST(o_orderkey % 10 AS INT))").as("fact10"),
        shiftleft(col("o_orderkey") % 16, 3).cast("long").as("shl3"),
        shiftright(col("o_orderkey"), 4).cast("long").as("shr4"),
        (col("o_orderkey") % 36 + 1).as("a"),
        (col("o_orderkey") % 24 + 1).as("b"))
      .withColumn("gcd_ab", expr(
        """aggregate(sequence(1, 40), named_struct('x', a, 'y', b),
          |  (acc, i) -> IF(acc.y = 0, acc,
          |    named_struct('x', acc.y, 'y', acc.x % acc.y)),
          |  acc -> acc.x)""".stripMargin))
      .withColumn("lcm_ab", col("a") * col("b") / col("gcd_ab"))
      .select("o_orderkey", "pm13", "fact10", "shl3", "shr4", "a", "b",
        "gcd_ab", "lcm_ab")
      .orderBy("o_orderkey")
  val intMathFuncsSql: String =
    """SELECT o_orderkey,
      |  ((o_orderkey - 7) % 13 + 13) % 13 AS pm13,
      |  CAST(factorial(CAST(o_orderkey % 10 AS INT)) AS BIGINT) AS fact10,
      |  (o_orderkey % 16) << 3 AS shl3,
      |  o_orderkey >> 4 AS shr4,
      |  o_orderkey % 36 + 1 AS a,
      |  o_orderkey % 24 + 1 AS b,
      |  gcd(o_orderkey % 36 + 1, o_orderkey % 24 + 1) AS gcd_ab,
      |  CAST((o_orderkey % 36 + 1) * (o_orderkey % 24 + 1)
      |    / gcd(o_orderkey % 36 + 1, o_orderkey % 24 + 1) AS DOUBLE) AS lcm_ab
      |FROM orders WHERE o_orderkey % 500 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** stream_progress_metrics — the streaming OBSERVABILITY surface:
    * every micro-batch reports a StreamingQueryProgress (rows read,
    * batch id, state rows); monitoring at scale is built on these, not
    * on log scraping. The replay runs batch-per-file and the row
    * proves the progress ledger is complete: Σ numInputRows over all
    * progress events equals the file rows exactly, and the batch count
    * matches the file count.
    */
  def streamProgressMetrics(s: SparkSession, d: String): DataFrame = {
    val (totalIn, nBatches) = Scratch.once("stream_progress_metrics", d) {
      val src = Paths.get(Scratch.dir("graft_prog_src_"))
      val sch = s.read.parquet(s"$d/orders.parquet").schema
      // three files → three per-file micro-batches (maxFilesPerTrigger=1)
      (0 until 3).foreach { i =>
        Files.copy(java.nio.file.Paths.get(s"$d/orders.parquet"),
          src.resolve(f"part-$i.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      val w = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
        .writeStream
        // the batch must be DRIVEN for the source to report rows —
        // numInputRows measures what the batch's action actually read
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
        .trigger(Trigger.AvailableNow())
      val progress = Streaming.runToEnd(s, w).recentProgress.filter(_.numInputRows > 0)
      (progress.map(_.numInputRows).sum, progress.length.toLong)
    }
    orders(s, d).agg(count(lit(1)).as("n_file_rows"))
      .select(lit(totalIn).as("total_input_rows"),
        lit(nBatches).as("n_data_batches"), col("n_file_rows"))
  }
  val streamProgressMetricsSql: String =
    """SELECT count(*) * 3 AS total_input_rows,
      |  CAST(3 AS BIGINT) AS n_data_batches,
      |  count(*) AS n_file_rows
      |FROM orders""".stripMargin

  /** json_infer_apply — schema INFERENCE on JSON text: schema_of_json
    * derives the DDL from a sample row and from_json applies it to the
    * whole column — the two-step every semi-structured ingest uses
    * when the shape is discovered, not declared. The props map rebuilt
    * here round-trips through the inferred struct; the oracle reads
    * the same field with json_extract.
    */
  def jsonInferApply(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).filter(col("event_type") === "purchase")
    val sample = ev.select(col("props")).filter(col("props").isNotNull)
      .orderBy(col("props")).limit(1).collect()(0).getString(0)
    val ddl = s.range(1).select(schema_of_json(lit(sample)).as("d"))
      .collect()(0).getString(0)
    ev.select(col("event_id"),
        from_json(col("props"), lit(ddl), new java.util.HashMap[String, String]())
          .getField("k").cast("long").as("k_val"))
      .orderBy("event_id")
  }
  val jsonInferApplySql: String =
    """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
      |FROM events WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_cross_product" -> (joinCrossProduct _),
    "scan_csv_compressed" -> (scanCsvCompressed _),
    "typed_reduce_groups" -> (typedReduceGroups _),
    "int_math_funcs" -> (intMathFuncs _),
    "stream_progress_metrics" -> (streamProgressMetrics _),
    "json_infer_apply" -> (jsonInferApply _))

  val oracle: Map[String, String] = Map(
    "join_cross_product" -> joinCrossProductSql,
    "scan_csv_compressed" -> scanCsvCompressedSql,
    "typed_reduce_groups" -> typedReduceGroupsSql,
    "int_math_funcs" -> intMathFuncsSql,
    "stream_progress_metrics" -> streamProgressMetricsSql,
    "json_infer_apply" -> jsonInferApplySql)
}
