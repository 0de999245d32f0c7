package graft

import org.apache.spark.sql.functions._
import graft.queries.Scratch

/** Wave-26 properties the DuckDB oracle can't express. */
class Extras126Spec extends SparkSpec {

  test("stat_cohens_d: d and g finite, |g| <= |d| (shrinkage), sign matches mean order") {
    val r = queries.Extras126.statCohensD(spark, sf).head()
    val d = r.getDouble(2); val g = r.getDouble(3)
    assert(!d.isNaN && !g.isNaN)
    assert(math.abs(g) <= math.abs(d) + 1e-9, "Hedges g must shrink toward 0")
    val means = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type").agg(avg("value").as("m"))
      .collect().map(r2 => r2.getString(0) -> r2.getDouble(1)).toMap
    assert((d > 0) == (means("click") > means("purchase")))
  }

  test("embed_knn_graph_degree: out-degree mass conserved (500 nodes x 5 edges)") {
    val rows = queries.Extras126.embedKnnGraphDegree(spark, sf).collect()
    val nprobe = Tables.embeddings(spark, sf).filter(col("vec_id") < 500).count()
    val totalEdges = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(totalEdges == nprobe * 5, s"edge mass $totalEdges != ${nprobe * 5}")
    assert(rows.map(_.getLong(1)).sum <= nprobe)
  }

  test("scan_csv_multichar_delim: embedded single pipes survive, row count matches source") {
    val rows = queries.Extras126.scanCsvMulticharDelim(spark, sf).collect()
    val expected = Tables.documents(spark, sf)
      .filter(col("doc_id") % 7 === 0).count()
    assert(rows.length == expected)
    rows.foreach { r =>
      assert(r.getString(1).endsWith("|x"), "single pipe inside value was split")
      assert(!r.isNullAt(2))
    }
  }

  test("stat_pettitt_changepoint: finds a planted shift day on a synthetic series") {
    import java.nio.file.Files
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = Scratch.dir("graft_pett_")
    val rows = (0 until 200).map { i =>
      Row(i.toLong, 1L, 1L, 1, 1.0,
        if (i < 100) 100.00 + (i % 7) else 500.00 + (i % 7), 0.0, 0.0, "N", "O",
        java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(2021, 1, 1).plusDays(i).atStartOfDay))
    }
    val sch = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, sch)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = queries.Extras126.statPettittChangepoint(spark, dir).head()
    val split = r.getTimestamp(0).toLocalDateTime.toLocalDate
    assert(split == java.time.LocalDate.of(2021, 1, 1).plusDays(99),
      s"split at $split, expected day 99")
    assert(r.getBoolean(4), "planted shift must be significant")
  }

  test("analytics_lead_time_distribution: percentiles are ordered, n matches lineitem count") {
    val rows = queries.Extras126.analyticsLeadTimeDistribution(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(1)).sum == Tables.lineitem(spark, sf).count())
    rows.foreach { r =>
      val vals = Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7))
      assert(vals == vals.sorted, s"${r.getString(0)}: percentiles not monotone $vals")
    }
  }
}
