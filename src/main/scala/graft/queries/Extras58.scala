package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
import graft.Tables._

/** Fifty-eighth wave: the transactional custom DSv2 SINK, SQL
  * table-valued functions with LATERAL correlation, and per-dimension
  * embedding normalization.
  */
object Extras58 {

  /** sink_custom_dsv2_txn — writing through the from-scratch
    * transactional V2 sink ([[graft.sources.GraftCsvSink]]): each task
    * stages a uniquely-named part, the driver commit renames the
    * winning parts and link(2)-CASes a manifest naming exactly them —
    * the segments-plus-manifest protocol that makes torn writes and
    * speculative duplicates unobservable (a reader resolves the
    * manifest, never the directory listing). The graded check is the
    * full write → manifest-driven read-back → aggregate loop against
    * the relational oracle.
    */
  def sinkCustomDsv2Txn(s: SparkSession, d: String): DataFrame = {
    val out = Scratch.dir("graft_v2sink_") + "/orders"
    val slice = orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .filter(col("o_orderkey") % 3 === 0)
    slice.write.format(classOf[graft.sources.GraftCsvSink].getName)
      .option("path", out).mode("append").save()
    val schema = new StructType()
      .add("o_orderkey", LongType).add("o_orderpriority", StringType)
      .add("o_totalprice", DoubleType)
    graft.sources.GraftCsvSink.readBack(s, out, schema)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }
  val sinkCustomDsv2TxnSql: String =
    s"""SELECT o_orderpriority, count(*) AS n,
       |  ${dsumSql("o_totalprice")} AS total
       |FROM orders WHERE o_orderkey % 3 = 0
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** sql_tvf_lateral — table-valued functions in FROM position with
    * LATERAL correlation: `explode` as a TVF joined laterally against
    * each row (the SQL-standard spelling of C37's generator), plus
    * `range()` as a driving TVF. The lateral correlation means the TVF
    * argument REFERENCES the outer row — the decorrelated plan is the
    * same generate that the DataFrame explode produces.
    */
  def sqlTvfLateral(s: SparkSession, d: String): DataFrame = {
    documents(s, d).createOrReplaceTempView("docs_tvf")
    s.sql(
      """SELECT r.id AS bucket, count(*) AS n_tokens
        |FROM range(0, 4) AS r(id)
        |JOIN docs_tvf AS dd ON dd.doc_id % 4 = r.id,
        |LATERAL explode(split(dd.text, ' ')) AS t(tok)
        |WHERE t.tok <> ''
        |GROUP BY r.id ORDER BY bucket""".stripMargin)
  }
  val sqlTvfLateralSql: String =
    """SELECT doc_id % 4 AS bucket, count(*) AS n_tokens
      |FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      |WHERE tok <> ''
      |GROUP BY doc_id % 4 ORDER BY bucket""".stripMargin

  /** embed_normalize_dims — per-DIMENSION feature scaling of the
    * embedding matrix (the normalization pass before clustering/IVF
    * when dimensions have unequal spread): posexplode to (dim, value),
    * per-dim min/max/mean from exact float inputs (64 dims → a 64-row
    * aggregate, broadcast back), then min-max scale each component.
    * The census reports per-dim stats and the corpus-wide scaled mean
    * — each an IEEE expression over exact-sum float inputs; sums ride
    * DECIMAL images of the float values (testdata embeddings are
    * float32 — their exact decimal expansion exceeds DECIMAL scale, so
    * the SUM columns round to 6 dp AFTER a double sum would diverge…
    * instead the per-dim mean is computed from the float values cast
    * to DOUBLE and summed in ONE deterministic order: sort_array over
    * the collected per-dim list, fold left — bounded at corpus-rows
    * per dim, the explicit-order trick C171 uses).
    */
  def embedNormalizeDims(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vd", col("v").cast("double"))
      .groupBy("dim")
      .agg(
        min(col("vd")).as("vmin"),
        max(col("vd")).as("vmax"),
        count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("vec_id"), col("vd")))).as("vals"))
      .select(col("dim").cast("long").as("dim"), col("vmin"), col("vmax"),
        round(expr("aggregate(vals, 0D, (acc, x) -> acc + x.vd)") / col("n"), 6)
          .as("mean"),
        round((expr("aggregate(vals, 0D, (acc, x) -> acc + x.vd)") / col("n") -
          col("vmin")) / (col("vmax") - col("vmin")), 6).as("scaled_mean"))
      .filter(col("dim") < 8) // report head: per-dim stats, 8 rows
      .orderBy("dim")
  val embedNormalizeDimsSql: String =
    """WITH e AS (
      |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS vd
      |  FROM embeddings, generate_series(1, 64) s(i)),
      |g AS (
      |  SELECT dim, min(vd) AS vmin, max(vd) AS vmax, count(*) AS n,
      |    list_sort(list(struct_pack(vec_id := vec_id, vd := vd))) AS vals
      |  FROM e GROUP BY dim)
      |SELECT dim, vmin, vmax,
      |  round(list_reduce(list_prepend(0.0, list_transform(vals, x -> x.vd)),
      |    (a, b) -> a + b) / n, 6) AS mean,
      |  round((list_reduce(list_prepend(0.0, list_transform(vals, x -> x.vd)),
      |    (a, b) -> a + b) / n - vmin) / (vmax - vmin), 6) AS scaled_mean
      |FROM g WHERE dim < 8 ORDER BY dim""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sink_custom_dsv2_txn" -> (sinkCustomDsv2Txn _),
    "sql_tvf_lateral" -> (sqlTvfLateral _),
    "embed_normalize_dims" -> (embedNormalizeDims _))

  val oracle: Map[String, String] = Map(
    "sink_custom_dsv2_txn" -> sinkCustomDsv2TxnSql,
    "sql_tvf_lateral" -> sqlTvfLateralSql,
    "embed_normalize_dims" -> embedNormalizeDimsSql)
}
