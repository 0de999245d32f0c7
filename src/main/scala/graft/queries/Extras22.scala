package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Twenty-second wave: dynamic partition overwrite — with a DuckDB
  * oracle.
  */
object Extras22 {

  /** scan_partition_overwrite — DYNAMIC partition overwrite (the
    * incremental-reload write contract): with
    * `partitionOverwriteMode=dynamic`, an overwrite-mode write
    * replaces ONLY the partitions present in the incoming data —
    * here the `purchase` partition is rewritten with doubled values
    * while the four untouched partitions keep their original files
    * (static mode would have wiped them). The per-type census proves
    * both halves: purchases doubled, everything else byte-identical.
    * This is how a 100 TB partitioned table takes daily reloads
    * without rewriting history; the conf is scoped to the write and
    * restored after.
    */
  def scanPartitionOverwrite(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.once("scan_partition_overwrite", d) {
      val out = Scratch.dir("graft_dpo_")
      val ev = events(s, d).select(col("event_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "dynamic")
      try {
        ev.filter(col("event_type") === "purchase")
          .withColumn("value", col("value") * 2)
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
      } finally {
        prev match { case Some(p) => s.conf.set(key, p); case None => s.conf.unset(key) }
      }
      out
    }
    s.read.parquet(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }
  val scanPartitionOverwriteSql: String =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(sum(CASE WHEN event_type = 'purchase'
       |           THEN CAST(value * 2 AS DECIMAL(14,2))
       |           ELSE CAST(value AS DECIMAL(14,2)) END) AS DOUBLE) AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_partition_overwrite" -> (scanPartitionOverwrite _),
  )

  val oracle: Map[String, String] = Map(
    "scan_partition_overwrite" -> scanPartitionOverwriteSql,
  )
}
