package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Thirty-fourth wave: recursive CTEs, SQL pipe syntax, SQL-defined
  * functions, content-level media dedup through the real codec, and
  * concurrent-writer CAS commits on the dataset store.
  */
object Extras34 {

  /** sql_recursive_cte — `WITH RECURSIVE` (Spark 4): every customer
    * walks its rule-derived parent chain (parent = key div 10, root 0)
    * and the per-node chain lengths are censused. The recursion is a
    * JOIN PER LEVEL against the previous frontier — exactly how an
    * iterative fixpoint (C37's connected components, C180's PageRank)
    * runs, but declared in SQL and planned by the engine; depth is
    * bounded by the key's digit count, so the plan terminates at 4
    * levels on this domain.
    */
  def sqlRecursiveCte(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("g_rec_customer")
    s.sql(
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM g_rec_customer
        |  UNION ALL
        |  SELECT node, cur div 10 AS cur, depth + 1 FROM chain WHERE cur > 0)
        |SELECT depth AS chain_len, count(*) AS n_customers FROM (
        |  SELECT node, max(depth) AS depth FROM chain GROUP BY node)
        |GROUP BY depth ORDER BY depth""".stripMargin)
  }
  val sqlRecursiveCteSql: String =
    """WITH RECURSIVE chain AS (
      |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
      |  UNION ALL
      |  SELECT node, cur // 10 AS cur, depth + 1 FROM chain WHERE cur > 0)
      |SELECT depth AS chain_len, count(*) AS n_customers FROM (
      |  SELECT node, max(depth) AS depth FROM chain GROUP BY node) q
      |GROUP BY depth ORDER BY depth""".stripMargin

  /** sql_pipe_syntax — the SQL pipe operator surface (Spark 4's `|>`):
    * scan → filter → aggregate → order as a left-to-right pipeline,
    * the syntax a query-building UI emits naturally (each `|>` stage
    * appends to the text without re-nesting the statement). Semantics
    * and plan are identical to the nested form the oracle uses.
    */
  def sqlPipeSyntax(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_pipe_orders")
    s.sql(
      """FROM g_pipe_orders
        ||> WHERE o_orderstatus = 'O'
        ||> AGGREGATE count(*) AS n,
        |     CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
        |   GROUP BY o_orderpriority
        ||> ORDER BY o_orderpriority""".stripMargin)
  }
  val sqlPipeSyntaxSql: String =
    s"""SELECT o_orderpriority, count(*) AS n, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders WHERE o_orderstatus = 'O'
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** sql_function_ddl — SQL-DEFINED scalar functions (`CREATE
    * TEMPORARY FUNCTION ... RETURNS ... RETURN expr`, Spark 4): the
    * catalog-managed UDF a query service lets power users register
    * without shipping jars. The body is INLINED into the plan at
    * resolution (no black-box row-at-a-time call — unlike a Scala UDF
    * it stays inside codegen and predicate pushdown), proven by the
    * per-row discounted price matching the oracle's inline arithmetic
    * bit-for-bit.
    */
  def sqlFunctionDdl(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("g_fn_lineitem")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_discounted(
        |  price DOUBLE, disc DOUBLE) RETURNS DOUBLE
        |RETURN price * (1.0d - disc)""".stripMargin)
    s.sql(
      """SELECT l_orderkey, l_linenumber,
        |  graft_discounted(l_extendedprice, l_discount) AS disc_price
        |FROM g_fn_lineitem WHERE l_orderkey % 4 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)
  }
  val sqlFunctionDdlSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1.0 - l_discount) AS disc_price
      |FROM lineitem WHERE l_orderkey % 4 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** dedup_media_histogram — CONTENT-level near-dup detection through
    * the real media pipeline: every document is packed into a genuine
    * PNG container, decoded back via [[graft.sources.MediaCodec]]
    * (inflate + chunk walk), and a 16-bin byte histogram of the
    * DECODED pixel payload becomes the dedup signature — the
    * byte-level analogue of an image color histogram, robust to small
    * insertions where positional hashes (dHash) break on shifted
    * streams. Exact long arithmetic end-to-end; the oracle re-derives
    * the histogram from the text characters, valid because the corpus
    * is measured-ASCII (byte ≡ character) — which is precisely what
    * makes an independent engine able to check a binary decode.
    *
    * Candidate generation is a BAND EQUI-JOIN (the C47 signature-band
    * pattern), EXACT here by pigeonhole — no recall loss. Two facts
    * about a pair at L1 ≤ 2: (i) at most 2 bins differ, so splitting
    * the 16 bins into 4 bands of 4 leaves AT LEAST 2 band slices
    * value-identical; (ii) total histogram mass = payload length, and
    * L1 ≥ |len_a − len_b|, so lengths agree within 2 — which means the
    * two docs' len-div-4 buckets differ by at most 1, and emitting each
    * doc under BOTH {len div 4, len div 4 + 1} guarantees a shared
    * bucket value. The join key is (lang, band_idx, hash(band slice,
    * len bucket)): every true pair collides on a matching band at the
    * shared bucket. The length component is what keeps the blocking
    * DISCRIMINATIVE on real text — ASCII payloads leave bins 8–15
    * identically zero, so slices alone would collide every doc with
    * every doc through the constant bands (the degenerate case the
    * all-pairs join this replaced was equivalent to). Candidates
    * shuffle on the band key — 8 exploded rows per doc, pairs only
    * among same-lang docs of ±4 bytes length with an identical slice,
    * never O(n²/|langs|) — then the exact L1 ≤ 2 verify runs on
    * candidates only.
    */
  def dedupMediaHistogram(s: SparkSession, d: String): DataFrame = {
    val bands = mediaBandKeys(mediaHistograms(s, d))
    val a = bands.select(col("lang"), col("band_idx"), col("band_key"),
      col("doc_id").as("doc_a"), col("hist").as("ha"))
    val b = bands.select(col("lang"), col("band_idx"), col("band_key"),
      col("doc_id").as("doc_b"), col("hist").as("hb"))
    a.join(b, Seq("lang", "band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("ha"), col("hb"), (x, y) => abs(x - y)),
          lit(0L), (acc, v) => acc + v).as("l1"))
      .distinct() // a pair may collide in several bands; l1 is functional on the pair
      .filter(col("l1") <= 2)
      .orderBy("doc_a", "doc_b")
  }

  /** 8 (band_idx, band_key) rows per histogram: 4 bin-slice bands × 2
    * length-bucket probes (see [[dedupMediaHistogram]]'s exactness
    * argument). Shared with the SketchSpec candidate-volume bound.
    */
  private[graft] def mediaBandKeys(hists: DataFrame): DataFrame =
    hists
      .withColumn("len", expr("aggregate(hist, 0L, (acc, v) -> acc + v)"))
      .select(col("doc_id"), col("lang"), col("hist"),
        explode(expr(
          """flatten(transform(sequence(0, 3), j ->
            |  transform(array(len div 4, len div 4 + 1), lb ->
            |    struct(j AS band_idx,
            |           xxhash64(slice(hist, j * 4 + 1, 4), lb) AS band_key))))""".stripMargin))
          .as("bk"))
      .select(col("doc_id"), col("lang"), col("hist"),
        col("bk.band_idx").as("band_idx"), col("bk.band_key").as("band_key"))

  /** (doc_id, lang, 16-bin byte histogram of the decoded PNG payload)
    * — shared by the graded query and the SketchSpec candidate-bound
    * test.
    */
  private[graft] def mediaHistograms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), col("lang"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, lang, payload) =>
          val blob = graft.sources.MediaCodec.encodePng(payload)
          val pixels = graft.sources.MediaCodec.decodePayload(id, blob)
          val h = new Array[Long](16)
          pixels.foreach(b => h((b & 0xff) / 16) += 1)
          (id, lang, h)
        }
      }
      .toDF("doc_id", "lang", "hist")
  }
  val dedupMediaHistogramSql: String =
    """WITH h AS (
      |  SELECT doc_id, lang,
      |    list_transform(generate_series(0, 15), k -> CAST(len(list_filter(
      |      list_transform(generate_series(1, strlen(text)), p -> ascii(text[p]) // 16),
      |      x -> x = k)) AS BIGINT)) AS hist
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(list_aggregate(list_transform(generate_series(1, 16),
      |    i -> abs(a.hist[i] - b.hist[i])), 'sum') AS BIGINT) AS l1
      |FROM h a JOIN h b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE list_aggregate(list_transform(generate_series(1, 16),
      |    i -> abs(a.hist[i] - b.hist[i])), 'sum') <= 2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** store_concurrent_cas — MULTI-WRITER commits on the dataset store:
    * four writers append disjoint order slices CONCURRENTLY through
    * [[graft.sources.DatasetStore.appendAtomic]]'s manifest-CAS
    * (an exclusive hard-link — link(2)/EEXIST — onto the next
    * version file; ATOMIC_MOVE silently replaces and is NOT exclusive,
    * per DatasetStore's own doc — exactly one
    * winner per version, losers rebase and retry; correct for appends
    * because appends commute). The census is deterministic REGARDLESS
    * of race interleaving: all four segments land, the final snapshot
    * is the full union, and main's head manifest lists exactly init +
    * 4 appended segments — which is the whole point of optimistic
    * concurrency. The VERSION-LOG size is deliberately NOT asserted:
    * a CAS loser's manifest legally stays in the shared log as an
    * orphaned snapshot (appendAtomic's documented lineage guard), so
    * `versions().size` is ≥5 but race-dependent — asserting it made
    * this row flaky (observed 6 under a real interleaving in r9).
    * This is the upstream A16 multi-writer workflow; every store write
    * (A2's upsert, delete and compact too) commits through the same CAS.
    */
  def storeConcurrentCas(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_cas_")
    val store = new graft.sources.DatasetStore(s, dir, "o_orderkey")
    val base = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    store.init(base.filter(col("o_orderkey") % 5 === 0))
    val writers = (1 to 4).map { i =>
      new Thread(() => store.appendAtomic(base.filter(col("o_orderkey") % 5 === i)))
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    store.read()
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        dsumx(dec(col("o_totalprice"))).as("total"))
      .withColumn("n_segments", lit(store.segmentCount.toLong))
  }
  val storeConcurrentCasSql: String =
    s"""SELECT count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys,
       |  ${dsumSql("o_totalprice")} AS total, CAST(5 AS BIGINT) AS n_segments
       |FROM orders""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_recursive_cte" -> (sqlRecursiveCte _),
    "sql_pipe_syntax" -> (sqlPipeSyntax _),
    "sql_function_ddl" -> (sqlFunctionDdl _),
    "dedup_media_histogram" -> (dedupMediaHistogram _),
    "store_concurrent_cas" -> (storeConcurrentCas _))

  val oracle: Map[String, String] = Map(
    "sql_recursive_cte" -> sqlRecursiveCteSql,
    "sql_pipe_syntax" -> sqlPipeSyntaxSql,
    "sql_function_ddl" -> sqlFunctionDdlSql,
    "dedup_media_histogram" -> dedupMediaHistogramSql,
    "store_concurrent_cas" -> storeConcurrentCasSql)
}
