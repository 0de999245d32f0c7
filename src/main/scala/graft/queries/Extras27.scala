package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Twenty-seventh wave: AQE skew-join handling, RFC-4180 quoted CSV,
  * store schema evolution, and product quantization for embeddings.
  */
object Extras27 {

  /** join_skew_aqe — ADAPTIVE skew-join splitting: a planted 80%-hot
    * key would pin one reducer for the whole stage wall-clock; with
    * AQE's skew handling (thresholds lowered to bite at fixture scale,
    * broadcast disabled so a shuffle join actually plans) the runtime
    * splits the oversized partition into chunks joined independently
    * against a replicated build side. THE mechanism for unplanned skew
    * at 100 TB — salting (C27) is the static answer, this is the
    * runtime one; results are identical either way, which is what the
    * oracle checks. PlanSpec asserts the final adaptive plan actually
    * marked the join `skew=true`.
    */
  def joinSkewAqe(s: SparkSession, d: String): DataFrame = {
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> s.conf.getOption(k)).toMap
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      val out = skewJoinFrame(s, d)
        .groupBy("tag")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("tag")
      // materialize under the scoped confs so AQE re-plans THIS run.
      // The result is a bounded aggregate (one row per tag), so pin it
      // as LOCAL ROWS rather than a cache() entry: callers executing
      // the returned frame outside the conf scope still read the
      // in-scope result, and a long-lived session has nothing to
      // unpersist (r8 advice: the old cache lived until the next
      // bench restart).
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema).orderBy("tag")
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  /** The planted-skew join itself (callers scope the AQE confs).
    * AQE splits a skewed reduce partition along MAP-output boundaries,
    * so the split granularity is the upstream task count — a real
    * cluster has thousands of map tasks; the single-row-group fixture
    * parquet has ONE, which would leave nothing to split. The
    * repartition(16) emulates production map-side parallelism.
    */
  private[graft] def skewJoinFrame(s: SparkSession, d: String): DataFrame = {
    val fact = lineitem(s, d).repartition(16).select(
      when(col("l_orderkey") % 10 < 8, 0L)
        .otherwise(col("l_orderkey") % 97 + 1).as("k"),
      col("l_quantity"))
    val dim = lineitem(s, d)
      .select((col("l_orderkey") % 97 + 1).as("k")).distinct()
      .union(s.range(1).select(lit(0L).as("k")))
      .withColumn("tag", concat(lit("grp_"), col("k")))
    fact.join(dim, "k")
  }
  val joinSkewAqeSql: String =
    s"""SELECT concat('grp_', k) AS tag, count(*) AS n,
       |  ${dsumSql("l_quantity")} AS sum_qty
       |FROM (SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
       |             ELSE l_orderkey % 97 + 1 END AS k, l_quantity
       |      FROM lineitem)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** scan_csv_quoted — RFC-4180 quoting on the CSV source: fields
    * containing the delimiter, DOUBLED embedded quotes, and embedded
    * NEWLINES (requires multiLine=true — without it the parser splits
    * records mid-field). The staged file quotes every tricky field;
    * the oracle rebuilds the same strings from the source expression,
    * so hash equality proves the quote/escape/multiline contract
    * round-trips bytes exactly.
    */
  def scanCsvQuoted(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.once("scan_csv_quoted", d) {
      val out = Paths.get(Scratch.dir("graft_csvq_"))
      val rows = documents(s, d).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), substring(col("text"), 1, 12).as("frag"))
        .collect().sortBy(_.getLong(0))
      val sb = new StringBuilder
      sb ++= "doc_id,tricky\n"
      rows.foreach { r =>
        val tricky = "a,\"b\"\n" + r.getString(1)
        sb ++= r.getLong(0).toString + ",\"" +
          tricky.replace("\"", "\"\"") + "\"\n"
      }
      Files.writeString(out.resolve("quoted.csv"), sb.toString)
      out.toString
    }
    s.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"") // RFC 4180: escaped quote is a doubled quote
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("tricky", StringType))))
      .csv(s"$dir/quoted.csv")
      .orderBy("doc_id")
  }
  val scanCsvQuotedSql: String =
    """SELECT doc_id,
      |  'a,"b"' || chr(10) || substr(text, 1, 12) AS tricky
      |FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id""".stripMargin

  /** store_schema_evolution — add a column to a live keyed store
    * without rewriting history: the first segments carry (key, price),
    * a later append carries (key, price, priority); `readMerged()`
    * unifies via parquet schema merging, surfacing NULL for rows born
    * before the column. The graded row proves old rows kept their
    * data, new rows carry the new column, and nothing was rewritten —
    * the zero-downtime migration contract every long-lived table
    * needs.
    */
  def storeSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val store = new graft.sources.DatasetStore(
      s, Scratch.dir("graft_sev_") + "/t", "o_orderkey")
    val o = orders(s, d)
    store.init(o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice")))
    store.append(o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")))
    store.readMerged()
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }
  val storeSchemaEvolutionSql: String =
    s"""SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END
       |    AS o_orderpriority,
       |  count(*) AS n, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** embed_pq_quantize — PRODUCT quantization (C125 int8 was scalar
    * quantization; this is the ANN-index compression standard): the
    * 64-dim vector splits into 8 subspaces of 8 dims, each sub-vector
    * snaps to the nearest of 16 deterministic sub-centroids (first-16
    * vectors' slices), and the 8 4-bit codes pack into ONE 32-bit
    * word — a 64× compression of the corpus representation. Distance
    * math is exact: per-element float→double is exact, the L2 fold
    * runs in one fixed order both engines, ties break to the lower
    * centroid. The row carries the packed code and the total
    * quantization error (round(,6) FMA guard).
    */
  def embedPqQuantize(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val sub = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        explode(sequence(lit(0), lit(7))).as("m"),
        col("embedding"), col("cent_emb"))
      .select(col("vec_id"), col("m"), col("cent_id"),
        expr(
          """aggregate(sequence(1, 8), 0D, (acc, i) ->
            |  acc + (CAST(element_at(embedding, m * 8 + i) AS DOUBLE)
            |         - CAST(element_at(cent_emb, m * 8 + i) AS DOUBLE))
            |      * (CAST(element_at(embedding, m * 8 + i) AS DOUBLE)
            |         - CAST(element_at(cent_emb, m * 8 + i) AS DOUBLE)))""".stripMargin)
          .as("d2"))
      .groupBy("vec_id", "m")
      .agg(
        min_by(col("cent_id"), struct(col("d2"), col("cent_id"))).as("code"),
        min(struct(col("d2"), col("cent_id"))).getField("d2").as("best_d2"))
    sub.groupBy("vec_id")
      .agg(
        sum(col("code") * expr("shiftleft(1L, m * 4)")).as("pq_code"),
        round(sum(col("best_d2")), 6).as("q_err"))
      .orderBy("vec_id")
  }
  val embedPqQuantizeSql: String =
    """WITH cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cent_emb
      |  FROM embeddings WHERE vec_id < 16),
      |sub AS (
      |  SELECT e.vec_id, m.m, c.cent_id,
      |    list_reduce(list_transform(generate_series(1, 8), i ->
      |      (CAST(e.embedding[m.m * 8 + i] AS DOUBLE)
      |         - CAST(c.cent_emb[m.m * 8 + i] AS DOUBLE))
      |      * (CAST(e.embedding[m.m * 8 + i] AS DOUBLE)
      |         - CAST(c.cent_emb[m.m * 8 + i] AS DOUBLE))),
      |      (x, y) -> x + y) AS d2
      |  FROM embeddings e
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m) m
      |  CROSS JOIN cents c),
      |best AS (
      |  SELECT vec_id, m, cent_id AS code, d2 AS best_d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
      |      ORDER BY d2 ASC, cent_id ASC) AS rn FROM sub)
      |  WHERE rn = 1)
      |SELECT vec_id,
      |  CAST(sum(code * (1::BIGINT << (m * 4))) AS BIGINT) AS pq_code,
      |  round(sum(best_d2), 6) AS q_err
      |FROM best GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_skew_aqe" -> (joinSkewAqe _),
    "scan_csv_quoted" -> (scanCsvQuoted _),
    "store_schema_evolution" -> (storeSchemaEvolution _),
    "embed_pq_quantize" -> (embedPqQuantize _))

  val oracle: Map[String, String] = Map(
    "join_skew_aqe" -> joinSkewAqeSql,
    "scan_csv_quoted" -> scanCsvQuotedSql,
    "store_schema_evolution" -> storeSchemaEvolutionSql,
    "embed_pq_quantize" -> embedPqQuantizeSql)
}
