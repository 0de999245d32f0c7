package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import graft.Tables._

/** Thirty-third wave: parquet bloom filters, clustered-write min/max
  * pruning, the stream-static enrichment join, triangle counting, and
  * bigram-LM perplexity scoring.
  */
object Extras33 {

  /** scan_parquet_bloom — parquet BLOOM FILTERS on a high-cardinality
    * key: min/max row-group stats are useless for point lookups on an
    * UNSORTED key (every row group spans nearly the full key range),
    * but a per-row-group bloom filter answers "key definitely absent"
    * and lets the reader skip the group without decoding it. The copy
    * is written with `parquet.bloom.filter.enabled#l_partkey` and small
    * row groups (many skippable units); the point-IN scan then prunes
    * at the stripe level on a 100 TB table — this plus C14's
    * partition pruning and C195's clustering are the three layers of
    * skipping a lake table offers. Result is provably identical to the
    * unfiltered base-table scan (oracle reads the original).
    */
  def scanParquetBloom(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_bloom_")
    lineitem(s, d).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#l_partkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(dir)
    s.read.parquet(dir)
      .filter(col("l_partkey").isin(17L, 42L, 137L))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_partkey")
  }
  val scanParquetBloomSql: String =
    s"""SELECT l_partkey, count(*) AS n, ${dsumSql("l_extendedprice")} AS revenue
       |FROM lineitem WHERE l_partkey IN (17, 42, 137)
       |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  /** sort_cluster_minmax — WRITE-SIDE clustering for min/max pruning:
    * `repartitionByRange` + `sortWithinPartitions` on ship date lays
    * the copy out so every file owns a DISJOINT date range, which is
    * exactly what makes parquet row-group/file min-max stats
    * selective (an unclustered file's min..max spans everything and
    * prunes nothing). The query PROVES the layout from the data: per
    * `input_file_name()` min/max ranges, count of overlapping file
    * pairs must be 0 — plus a range-scan census off the clustered
    * copy matching the base table. Range partitioning samples
    * boundaries distributively (no global sort on the driver) and is
    * the standard 100 TB layout step before handing a table to
    * time-range-heavy consumers.
    */
  def sortClusterMinmax(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_clust_")
    lineitem(s, d)
      .repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(dir)
    val back = s.read.parquet(dir)
    val perFile = back.groupBy(input_file_name().as("f"))
      .agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
    val overlaps = perFile.select(col("f").as("f1"), col("lo").as("lo1"), col("hi").as("hi1"))
      .crossJoin(perFile.select(col("f").as("f2"), col("lo").as("lo2"), col("hi").as("hi2")))
      .filter(col("f1") < col("f2") &&
        col("lo1") <= col("hi2") && col("lo2") <= col("hi1"))
      .agg(count(lit(1)).as("n_overlapping_pairs"))
    val files = perFile.agg((count(lit(1)) >= 2).as("multi_file_layout"))
    val scan = back
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .agg(count(lit(1)).as("n_in_range"), dsum(col("l_extendedprice")).as("rev_in_range"))
    scan.crossJoin(overlaps).crossJoin(files)
  }
  val sortClusterMinmaxSql: String =
    s"""SELECT count(*) AS n_in_range, ${dsumSql("l_extendedprice")} AS rev_in_range,
       |  CAST(0 AS BIGINT) AS n_overlapping_pairs, CAST(1 AS BOOLEAN) AS multi_file_layout
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin

  /** stream_static_join — the STREAM-STATIC enrichment join, the most
    * common production streaming shape (C22/C126 proved
    * stream-stream): each micro-batch of events joins the static
    * customer dimension — no state on the static side, no watermark
    * requirement on the join itself (the dim is re-broadcast per
    * batch, picking up dim changes between batches), then a 1-day
    * tumbling aggregation per market segment. Sentinel rows carry no
    * matching customer and vanish in the inner join while still
    * advancing the watermark at the source (the watermark node sits
    * upstream of the join).
    */
  def streamStaticJoin(s: SparkSession, d: String): DataFrame = {
    val sch = Streaming.rawSchema(s, d)
    val maxNs = Streaming.maxTsNanos(s, d)
    val dir = Streaming.stageDir(s, d, copies = 1, sentinels = true)
    val dim = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val agg = Streaming.eventStream(s, dir, sch)
      .withWatermark("ets", "1 hour")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ets"), "1 day"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    Streaming.runToBatch(s, agg, "append")
      .filter(col("window.start") < timestamp_micros(lit(maxNs / 1000 + 86400L * 1000000)))
      .select(col("window.start").cast(TimestampNTZType).as("day_start"),
        col("c_mktsegment"), col("n"), col("sum_value"))
      .orderBy("day_start", "c_mktsegment")
  }
  val streamStaticJoinSql: String =
    s"""SELECT date_trunc('day', e.ts) AS day_start, c.c_mktsegment,
       |  count(*) AS n, ${dsumSql("e.value")} AS sum_value
       |FROM events e JOIN customer c ON e.user_id = c.c_custkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** graph_triangle_count — distributed triangle counting on the
    * rule-derived user graph (C180's edge generator, symmetrized):
    * edges normalize to ordered pairs (a < b), and a triangle
    * {a < b < c} is found as e(a,b) ⋈ e(b,c) on the middle vertex
    * followed by the closing-edge join e(a,c) — two distributed
    * equi-joins, never a per-vertex adjacency list in memory. The
    * ordered-pair normalization is what bounds the join: each triangle
    * is produced exactly once (no ÷6 correction) and the wedge join
    * fans out only on vertices' LOWER neighbors — the standard
    * degree-ordering trick that tames high-degree hubs at web scale.
    * Census: triangle total plus distinct vertices participating.
    */
  def graphTriangleCount(s: SparkSession, d: String): DataFrame = {
    val users = events(s, d).select(col("user_id")).distinct()
    val n = users.count()
    // ring edges (+1, +2) guarantee a triangle per consecutive triple;
    // the multiplicative rule adds irregular long-range chords
    val raw = users.select(col("user_id").as("src"),
        explode(array(
          (col("user_id") + 1) % n,
          (col("user_id") + 2) % n,
          (col("user_id") * 7 + 3) % n)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val edges = raw.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val wedges = edges.select(col("a"), col("b").as("m"))
      .join(edges.select(col("a").as("m"), col("b").as("c")), "m")
    val triangles = wedges
      .join(edges.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("m").as("b"), col("c"))
    val verts = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .agg(countDistinct(col("v")).as("n_triangle_vertices"))
    triangles.agg(count(lit(1)).as("n_triangles")).crossJoin(verts)
  }
  /** The oracle avoids `unnest` with a downstream filter (DuckDB 1.x
    * internal binder error) — UNION ALL per edge rule instead.
    */
  val graphTriangleCountSql: String =
    """WITH users AS (SELECT DISTINCT user_id FROM events),
      |nn AS (SELECT count(*) AS n FROM users),
      |raw AS (
      |  SELECT user_id AS src, (user_id + 1) % n AS dst FROM users, nn
      |  UNION ALL
      |  SELECT user_id, (user_id + 2) % n FROM users, nn
      |  UNION ALL
      |  SELECT user_id, (user_id * 7 + 3) % n FROM users, nn),
      |edges AS (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM raw WHERE src <> dst),
      |tri AS (
      |  SELECT w.a, w.m AS b, w.c
      |  FROM (SELECT e1.a, e1.b AS m, e2.b AS c
      |        FROM edges e1 JOIN edges e2 ON e1.b = e2.a) w
      |  JOIN edges e3 ON e3.a = w.a AND e3.b = w.c),
      |tv AS (
      |  SELECT count(DISTINCT v) AS n_triangle_vertices FROM (
      |    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) t)
      |SELECT (SELECT count(*) FROM tri) AS n_triangles, n_triangle_vertices
      |FROM tv""".stripMargin

  /** text_perplexity_filter — CCNet-style quality scoring: a bigram
    * language model with add-one smoothing is trained ON THE CORPUS
    * (bigram + unigram counts + vocab size, three aggregations), then
    * every document is scored by its average negative log-likelihood
    * — high-perplexity documents are gibberish/boilerplate candidates
    * for the curation funnel (C173). All counts are exact longs; the
    * only float work is one ln() per distinct observed bigram and a
    * per-doc average, rounded to 6 dp (the established libm guard:
    * both engines evaluate ln on identical rationals). Two corpus
    * passes (token explode, score join) — no per-doc model state.
    */
  def textPerplexityFilter(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val bigrams = toks
      .withColumn("w2", lead("w", 1).over(byPos))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w").as("w1"), col("w2"))
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = toks.groupBy("w").agg(count(lit(1)).as("c1"))
      .select(col("w").as("w1"), col("c1"))
    val vocab = toks.agg(countDistinct(col("w")).as("v"))
    val scored = bigrams
      .join(c12, Seq("w1", "w2"))
      .join(c1, "w1")
      .crossJoin(vocab)
      .select(col("doc_id"),
        log((col("c12") + 1).cast("double") / (col("c1") + col("v"))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(-avg(col("lp")), 6).as("nll"))
    scored.orderBy("doc_id")
  }
  val textPerplexityFilterSql: String =
    """WITH toks AS (
      |  SELECT doc_id, pos, string_split(text, ' ')[pos] AS w
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      |        FROM documents)),
      |bigrams AS (
      |  SELECT a.doc_id, a.w AS w1, b.w AS w2
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY 1, 2),
      |c1 AS (SELECT w AS w1, count(*) AS c1 FROM toks GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v FROM toks)
      |SELECT g.doc_id, count(*) AS n_bigrams,
      |  round(-avg(ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + (SELECT v FROM v)))), 6) AS nll
      |FROM bigrams g
      |JOIN c12 ON g.w1 = c12.w1 AND g.w2 = c12.w2
      |JOIN c1 ON g.w1 = c1.w1
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_parquet_bloom" -> (scanParquetBloom _),
    "sort_cluster_minmax" -> (sortClusterMinmax _),
    "stream_static_join" -> (streamStaticJoin _),
    "graph_triangle_count" -> (graphTriangleCount _),
    "text_perplexity_filter" -> (textPerplexityFilter _))

  val oracle: Map[String, String] = Map(
    "scan_parquet_bloom" -> scanParquetBloomSql,
    "sort_cluster_minmax" -> sortClusterMinmaxSql,
    "stream_static_join" -> streamStaticJoinSql,
    "graph_triangle_count" -> graphTriangleCountSql,
    "text_perplexity_filter" -> textPerplexityFilterSql)
}
