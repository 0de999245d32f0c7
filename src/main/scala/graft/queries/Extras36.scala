package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Thirty-sixth wave: nested-schema pruning, paragraph-level exact
  * dedup, fixed-point k-means for IVF training, deterministic source
  * interleaving, and store branches.
  */
object Extras36 {

  /** Nested copy + read-back, exposed so PlanSpec can assert the
    * ReadSchema prunes to the one leaf the query touches.
    */
  private[graft] def nestedReadBack(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_nested_")
    customer(s, d).select(col("c_custkey"),
        struct(col("c_name"), col("c_acctbal"),
          struct(col("c_mktsegment"), col("c_nationkey")).as("seg")).as("profile"))
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
  }

  /** scan_nested_pruning — SCHEMA PRUNING through nested structs: the
    * copy stores a two-level `profile.seg.*` struct, the query touches
    * ONE leaf (`profile.seg.c_mktsegment`), and the parquet reader
    * must prune the ReadSchema to that leaf — decoding `c_name` and
    * `c_acctbal` for a segment census would read the whole table at
    * 100 TB (PlanSpec asserts the pruned ReadSchema). Nested columns
    * are first-class citizens of columnar pruning, not a deserialize-
    * the-blob tax.
    */
  def scanNestedPruning(s: SparkSession, d: String): DataFrame =
    nestedReadBack(s, d)
      .groupBy(col("profile.seg.c_mktsegment").as("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  val scanNestedPruningSql: String =
    """SELECT c_mktsegment, count(*) AS n
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** dedup_paragraph_exact — SUB-DOCUMENT exact dedup (the C4/RefinedWeb
    * line-level pass): documents split into aligned 8-token chunks and
    * chunks occurring in ≥ 2 distinct documents are censused — catches
    * boilerplate paragraphs exact whole-doc dedup (B40) misses because
    * the surrounding document differs. Chunking is array slicing on
    * the token vector (no explode-then-window pass), the census is one
    * group-by on the chunk text; at 100 TB the group key would be the
    * chunk's 64-bit hash (C3's fingerprint) with text kept only for
    * the report.
    */
  def dedupParagraphExact(s: SparkSession, d: String): DataFrame = {
    val chunks = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(tok) div 8 - 1),
          |  i -> concat_ws(' ', slice(tok, i * 8 + 1, 8)))""".stripMargin)).as("chunk"))
    chunks.groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk")
  }
  val dedupParagraphExactSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |ch AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(0, len(tok) // 8 - 1),
      |    i -> array_to_string(tok[i * 8 + 1:i * 8 + 8], ' '))) AS chunk
      |  FROM t)
      |SELECT chunk, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
      |FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY chunk""".stripMargin

  private val KmK = 8
  private val KmIters = 3

  /** embed_kmeans_fixed — Lloyd's k-means in EXACT INTEGER arithmetic,
    * the IVF-index training step (C8/C151 consume the cells this
    * produces): embeddings quantize by C125's rule then shift +127
    * (non-negative, so integer division is unambiguous in every
    * engine; distances are shift-invariant), centroids seed from
    * vec_id 0..k-1, and each iteration is one join + two aggregations
    * — squared distances, arg-min assignment (ties → lowest centroid),
    * integer-mean re-centering. Integer sums make every iteration
    * shuffle-order independent, so three rounds land bit-identical on
    * any cluster AND in the oracle — the C180 fixed-point trick
    * applied to vector quantization. O(n·k·dims) per round,
    * distributed as plain joins, no driver-side model state.
    */
  /** The fitted (assignments, centroids) pair after [[KmIters]]
    * rounds — shared by the graded summary row and C574's
    * cluster-purity eval (which joins the assignments against the
    * label column). Exposed so purity does not re-derive the loop.
    */
  private[queries] def kmeansFit(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // Pin the quantized frame and each round's centroid table eagerly:
    // Lloyd's loop otherwise nests the full quantize+join+argmin chain
    // once per round inside the next round's plan (the embed_pca_power
    // lineage-nesting cost), recomputing round k-1 from scratch to
    // build round k. Pinned, each round touches only the k×dims
    // centroid frame plus one pass over q.
    //
    // r15 (guide §4): each round's distance pass used to posexplode
    // the corpus 64× and join the per-dim centroid rows on dim —
    // n·64·k rows ground through a (vec_id, c)-keyed hash aggregate,
    // 4× per fit. The SAME exact integer d2 (Σ(v−cv)², values ≤ 254,
    // order-independent long sum) now comes out of ONE codegen
    // graft_qsqdist per (vector, centroid) pair over the pinned ARRAY
    // frame with a broadcast k-row centroid-array table — no explode,
    // no join-by-dim, no 64×k-wide aggregate. Only the integer-mean
    // re-centering still explodes (it genuinely needs per-dim sums),
    // and it reads the same pinned array frame.
    val qv = embeddings(s, d).select(col("vec_id"),
        expr(
          """transform(embedding,
            |  x -> cast(greatest(least(floor(cast(x as double) * 127 + 0.5), 127), -127)
            |    as bigint) + 127L)""".stripMargin).as("v"))
      .localCheckpoint(true)
    val q = qv.select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "vd")))
    def toArr(perDim: DataFrame): DataFrame = perDim.groupBy("c")
      .agg(expr("transform(array_sort(collect_list(struct(dim, cv))), x -> x.cv)").as("cva"))
    var cent = qv.filter(col("vec_id") < KmK)
      .select(col("vec_id").as("c"), col("v").as("cva"))
    var centRows = q.filter(col("vec_id") < KmK)
      .select(col("vec_id").as("c"), col("dim"), col("vd").as("cv"))
    // arg-min assignment as min(struct(d2, c)) — a hash aggregation
    // with map-side combine (lexicographic struct min = lowest d2, tie
    // to lowest centroid, exactly row_number(ORDER BY d2, c) = 1 — the
    // oracle keeps that spelling), replacing a window that re-shuffled
    // and SORTED the n·k distance frame every round.
    def argmin(dist: DataFrame): DataFrame = dist
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("c"))).as("m"))
      .select(col("vec_id"), col("m.c").as("c"))
    def distTo(c: DataFrame): DataFrame = qv
      .crossJoin(broadcast(c))
      .select(col("vec_id"), col("c"),
        expr(s"${graft.functions.QuantSqDist.name}(v, cva)").as("d2"))
    for (_ <- 1 to KmIters) {
      val assign = argmin(distTo(cent))
      centRows = q.join(assign, "vec_id")
        .groupBy("c", "dim")
        .agg(expr("sum(vd) div count(1)").as("cv"))
        .localCheckpoint(true)
      cent = toArr(centRows).localCheckpoint(true)
    }
    (argmin(distTo(cent)), centRows)
  }

  def embedKmeansFixed(s: SparkSession, d: String): DataFrame = {
    val (assign, cent) = kmeansFit(s, d)
    assign.groupBy("c").agg(count(lit(1)).as("n_vecs"))
      .join(cent.groupBy("c").agg(sum(col("cv")).as("cent_checksum")), "c")
      .orderBy("c")
  }
  /** The full CTE chain ending at `af(vec_id, c)` — shared with
    * C574's purity oracle so both rows grade the SAME fitted model. */
  private[queries] lazy val kmeansCtesSql: String = {
    val base =
      """WITH q AS (
        |  SELECT vec_id, gs AS dim,
        |    CAST(greatest(least(floor(CAST(embedding[gs] AS DOUBLE) * 127 + 0.5), 127), -127)
        |      AS BIGINT) + 127 AS v
        |  FROM embeddings, generate_series(1, 64) t(gs)),
        |c0 AS (SELECT vec_id AS c, dim, v AS cv FROM q WHERE vec_id < 8)""".stripMargin
    val iters = (1 to KmIters).map { i =>
      s"""d$i AS (
         |  SELECT q.vec_id, c.c, sum((q.v - c.cv) * (q.v - c.cv)) AS d2
         |  FROM q JOIN c${i - 1} c ON q.dim = c.dim GROUP BY 1, 2),
         |a$i AS (
         |  SELECT vec_id, c FROM (
         |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
         |    FROM d$i) WHERE rn = 1),
         |c$i AS (
         |  SELECT a.c, q.dim, sum(q.v) // count(*) AS cv
         |  FROM q JOIN a$i a ON q.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val fin =
      s"""df AS (
         |  SELECT q.vec_id, c.c, sum((q.v - c.cv) * (q.v - c.cv)) AS d2
         |  FROM q JOIN c$KmIters c ON q.dim = c.dim GROUP BY 1, 2),
         |af AS (
         |  SELECT vec_id, c FROM (
         |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
         |    FROM df) WHERE rn = 1)""".stripMargin
    s"$base,\n$iters,\n$fin"
  }

  val embedKmeansFixedSql: String =
    s"""$kmeansCtesSql
       |SELECT af.c, count(*) AS n_vecs,
       |  (SELECT CAST(sum(cv) AS BIGINT) FROM c$KmIters cc WHERE cc.c = af.c) AS cent_checksum
       |FROM af GROUP BY af.c ORDER BY af.c""".stripMargin

  /** pipeline_interleave_order — the DETERMINISTIC training-order
    * interleave: each source's documents rank internally by the
    * smallest-md5 rule (C38's shuffle-proof order), then sources
    * round-robin by (rank, source) — the mixing schedule a trainer
    * replays identically on any cluster, resumable from any global
    * position because the order is a pure function of the data. One
    * window pass + one global sort of the SCHEDULE (ids only, not
    * payloads).
    */
  def pipelineInterleaveOrder(s: SparkSession, d: String): DataFrame = {
    val ranked = documents(s, d).select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("h"), col("doc_id"))))
    ranked
      .withColumn("global_pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rk"), col("source"), col("doc_id"))).cast("bigint"))
      .filter(col("global_pos") <= 50)
      .select(col("global_pos"), col("doc_id"), col("source"))
      .orderBy("global_pos")
  }
  val pipelineInterleaveOrderSql: String =
    """WITH ranked AS (
      |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT CAST(row_number() OVER (ORDER BY rk, source, doc_id) AS BIGINT)
      |    AS global_pos, doc_id, source
      |FROM ranked
      |QUALIFY global_pos <= 50
      |ORDER BY global_pos""".stripMargin

  /** store_branching — NAMED BRANCHES over the store's immutable
    * version log (Iceberg/Delta branch semantics, zero data copied): a
    * dev branch forks from the published snapshot, branch appends CAS
    * into the SAME version sequence (no version collisions with main
    * writers) but advance only the branch pointer, main keeps reading
    * its snapshot, and fast-forward publishes the branch atomically.
    * The census proves isolation (main unchanged while the branch
    * grows) and publication (main sees the branch exactly after
    * fast-forward).
    */
  def storeBranching(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_branch_")
    val store = new graft.sources.DatasetStore(s, dir, "o_orderkey")
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    store.init(base.filter(col("o_orderkey") % 3 === 0))          // v1
    store.append(base.filter(col("o_orderkey") % 3 === 1))        // v2 (main)
    store.createBranch("dev", 2L)
    store.appendBranch("dev", base.filter(col("o_orderkey") % 3 === 2)) // v3 (dev)
    val mainBefore = store.read().count()
    val devCount = store.readBranch("dev").count()
    store.fastForward("dev")
    val mainAfter = store.read().count()
    val spark = s
    import spark.implicits._
    Seq((mainBefore, devCount, mainAfter, store.versions().size.toLong))
      .toDF("n_main_before", "n_dev", "n_main_after", "n_versions")
  }
  val storeBranchingSql: String =
    """SELECT
      |  count(*) FILTER (WHERE o_orderkey % 3 IN (0, 1)) AS n_main_before,
      |  count(*) AS n_dev, count(*) AS n_main_after,
      |  CAST(3 AS BIGINT) AS n_versions
      |FROM orders""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_nested_pruning" -> (scanNestedPruning _),
    "dedup_paragraph_exact" -> (dedupParagraphExact _),
    "embed_kmeans_fixed" -> (embedKmeansFixed _),
    "pipeline_interleave_order" -> (pipelineInterleaveOrder _),
    "store_branching" -> (storeBranching _))

  val oracle: Map[String, String] = Map(
    "scan_nested_pruning" -> scanNestedPruningSql,
    "dedup_paragraph_exact" -> dedupParagraphExactSql,
    "embed_kmeans_fixed" -> embedKmeansFixedSql,
    "pipeline_interleave_order" -> pipelineInterleaveOrderSql,
    "store_branching" -> storeBranchingSql)
}
