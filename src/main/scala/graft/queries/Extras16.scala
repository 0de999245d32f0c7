package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.sources.DatasetStore

/** Sixteenth wave: keyed-store segment compaction — with a DuckDB
  * oracle proving the rewrite is lossless.
  */
object Extras16 {

  /** store_compact — table maintenance for the keyed store (A2): three
    * appends leave three small segments (the streaming/CDC small-files
    * problem); COMPACT rewrites them into one immutable segment under
    * the same atomic-manifest commit that every other store op uses —
    * no reader ever sees a partial rewrite, and time travel across the
    * compaction boundary still works because old manifests retain the
    * old segments. The graded row carries the segment census (3 → 1)
    * AND the full-data aggregate, which the oracle recomputes from the
    * source — equality proves compaction moved every byte.
    */
  def storeCompact(s: SparkSession, d: String): DataFrame = {
    val (dir, before, after) = Scratch.once("store_compact", d) {
      val p = Scratch.dir("graft_compact_")
      val st = new DatasetStore(s, p, "o_orderkey")
      val o = orders(s, d)
      st.init(o.filter(col("o_orderkey") % 3 === 0))
      st.append(o.filter(col("o_orderkey") % 3 === 1))
      st.append(o.filter(col("o_orderkey") % 3 === 2))
      val b = st.segmentCount
      st.compact()
      (p, b, st.segmentCount)
    }
    val st = new DatasetStore(s, dir, "o_orderkey")
    st.read()
      .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("revenue"))
      .select(lit(before.toLong).as("n_seg_before"), lit(after.toLong).as("n_seg_after"),
        col("n_rows"), col("revenue"))
  }
  val storeCompactSql: String =
    s"""SELECT CAST(3 AS BIGINT) AS n_seg_before, CAST(1 AS BIGINT) AS n_seg_after,
       |  count(*) AS n_rows, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "store_compact" -> (storeCompact _),
  )

  val oracle: Map[String, String] = Map(
    "store_compact" -> storeCompactSql,
  )
}
