package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables._

/** Twenty-eighth wave: corpus statistics (PMI co-occurrence, Shannon
  * entropy), the dyadic EWMA time-series smoother, checkpointed
  * incremental streaming resume, and the curation filter funnel.
  */
object Extras28 {

  /** text_cooccurrence_pmi — pointwise mutual information of word
    * pairs co-occurring in a document: pmi(a,b) = log2(n_ab·N /
    * (n_a·n_b)) over document-frequency counts. The classic
    * collocation/embedding-features statistic; shapes are all
    * bounded-key joins (vocabulary², not corpus²): distinct
    * (doc, word) pairs, self-join per doc (vocabulary is 31 words —
    * the pair table is tiny; at web scale the same plan takes a
    * df-cap like C5's prefix filter), then one log over exact integer
    * counts — identical IEEE formula text both engines, round(,8).
    */
  def textCooccurrencePmi(s: SparkSession, d: String): DataFrame = {
    val dw = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    val nDocs = documents(s, d).count().toDouble
    val wf = dw.groupBy("w").agg(count(lit(1)).as("nw"))
    val pairs = dw.select(col("doc_id"), col("w").as("a"))
      .join(dw.select(col("doc_id"), col("w").as("b")), "doc_id")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("nab"))
    pairs
      .join(wf.select(col("w").as("a"), col("nw").as("na")), "a")
      .join(wf.select(col("w").as("b"), col("nw").as("nb")), "b")
      .filter(col("nab") >= 20)
      .select(col("a"), col("b"), col("nab"),
        round(log2(col("nab").cast("double") * lit(nDocs) /
          (col("na").cast("double") * col("nb").cast("double"))), 8).as("pmi"))
      .orderBy("a", "b")
  }
  val textCooccurrencePmiSql: String =
    """WITH dw AS (
      |  SELECT DISTINCT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> ''),
      |wf AS (SELECT w, count(*) AS nw FROM dw GROUP BY 1),
      |pairs AS (
      |  SELECT x.w AS a, y.w AS b, count(*) AS nab
      |  FROM dw x JOIN dw y ON x.doc_id = y.doc_id AND x.w < y.w
      |  GROUP BY 1, 2)
      |SELECT a, b, nab,
      |  round(log2(CAST(nab AS DOUBLE) * (SELECT CAST(count(*) AS DOUBLE) FROM documents)
      |    / (CAST(fa.nw AS DOUBLE) * CAST(fb.nw AS DOUBLE))), 8) AS pmi
      |FROM pairs
      |JOIN wf fa ON fa.w = a
      |JOIN wf fb ON fb.w = b
      |WHERE nab >= 20
      |ORDER BY a, b""".stripMargin

  /** win_ewma_dyadic — exponentially weighted moving average with
    * α = 1/2: the weights 2⁻¹…2⁻⁸ are DYADIC, so each term value·2⁻ᵏ
    * is an exact float scaling (exponent shift, mantissa untouched)
    * and the one place rounding can occur — the 8-term sum — runs in
    * the identical written order on both engines. The zero-padded
    * convolution form (missing lags contribute 0) keeps the formula a
    * pure function of the last 8 rows. The streaming-history smoother
    * every monitoring pipeline wants, with none of the recursive
    * formulation's order sensitivity.
    */
  def winEwmaDyadic(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ets").asc, col("event_id").asc)
    def l(i: Int) = coalesce(lag(col("value"), i).over(w), lit(0.0))
    events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("ets"), col("value"))
      .select(col("event_id"), col("user_id"),
        // fixed-point output (⌊x·10⁸+0.5⌋, the repo's float-agg
        // pattern): dyadic sums land EXACTLY on decimal rounding
        // boundaries, where DuckDB's scale-multiply round() and
        // Spark's exact BigDecimal round disagree by 1 ulp — floor of
        // the identical double sidesteps engine round() entirely
        floor((col("value") * 0.5 + l(1) * 0.25 + l(2) * 0.125 + l(3) * 0.0625 +
          l(4) * 0.03125 + l(5) * 0.015625 + l(6) * 0.0078125 +
          l(7) * 0.00390625) * 100000000d + 0.5).cast("long").as("ewma8_e8"))
      .orderBy("event_id")
  }
  val winEwmaDyadicSql: String =
    """SELECT event_id, user_id,
      |  CAST(floor((value * 0.5
      |    + coalesce(lag(value, 1) OVER w, 0) * 0.25
      |    + coalesce(lag(value, 2) OVER w, 0) * 0.125
      |    + coalesce(lag(value, 3) OVER w, 0) * 0.0625
      |    + coalesce(lag(value, 4) OVER w, 0) * 0.03125
      |    + coalesce(lag(value, 5) OVER w, 0) * 0.015625
      |    + coalesce(lag(value, 6) OVER w, 0) * 0.0078125
      |    + coalesce(lag(value, 7) OVER w, 0) * 0.00390625) * 100000000 + 0.5)
      |    AS BIGINT) AS ewma8_e8
      |FROM events WHERE event_type = 'purchase'
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |ORDER BY event_id""".stripMargin

  /** agg_entropy — Shannon entropy of each user's event-type
    * distribution: H = −Σ pᵢ·log2(pᵢ). Floating addition is not
    * associative, so the Σ must NOT be a shuffle-order-dependent SUM
    * aggregate: the per-type counts collect into a TYPE-SORTED list
    * and one higher-order fold walks it in that fixed order —
    * identical sequence both engines, round(,8). Counts are exact
    * longs; at any scale the state is O(types per user).
    */
  def aggEntropy(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("event_type"), col("cnt")))).as("tc"),
        sum(col("cnt")).as("total"))
      .select(col("user_id"), col("total"),
        round(expr(
          """aggregate(tc, 0D, (acc, t) ->
            |  acc - (CAST(t.cnt AS DOUBLE) / CAST(total AS DOUBLE))
            |      * log2(CAST(t.cnt AS DOUBLE) / CAST(total AS DOUBLE)))""".stripMargin), 8)
          .as("entropy"))
      .orderBy("user_id")
  val aggEntropySql: String =
    """SELECT user_id, CAST(total AS BIGINT) AS total,
      |  round(list_reduce(
      |    list_prepend(0.0, list_transform(tc, t ->
      |      -(CAST(t.cnt AS DOUBLE) / CAST(total AS DOUBLE))
      |       * log2(CAST(t.cnt AS DOUBLE) / CAST(total AS DOUBLE)))),
      |    (x, y) -> x + y), 8) AS entropy
      |FROM (
      |  SELECT user_id,
      |    list_sort(list(struct_pack(event_type := event_type, cnt := cnt))) AS tc,
      |    sum(cnt) AS total
      |  FROM (SELECT user_id, event_type, count(*) AS cnt
      |        FROM events GROUP BY 1, 2)
      |  GROUP BY 1)
      |ORDER BY user_id""".stripMargin

  /** stream_incremental_resume — CHECKPOINTED incremental processing,
    * the production Trigger.AvailableNow contract: run 1 processes the
    * staged file and commits its offsets; a second file lands; run 2
    * REUSES the checkpoint and processes ONLY the new file (the graded
    * row proves it: each run's processed-row count equals one file's
    * rows, while the merged store holds both runs' totals). This is
    * the nightly-incremental-ETL shape — reprocessing nothing, missing
    * nothing, surviving restarts — and is exactly what distinguishes a
    * checkpointed stream from a batch rescan.
    */
  def streamIncrementalResume(s: SparkSession, d: String): DataFrame = {
    val (n1, n2) = Scratch.once("stream_incremental_resume", d) {
      val src = Paths.get(Scratch.dir("graft_incr_src_"))
      val sch = s.read.parquet(s"$d/orders.parquet").schema
      val totals = new java.util.concurrent.atomic.AtomicLong()
      def runOnce(ckpt: String): Long = {
        totals.set(0L)
        val w = s.readStream.schema(sch).parquet(src.toString)
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            totals.addAndGet(b.count()); ()
          }
          .trigger(Trigger.AvailableNow())
        Streaming.start(s, w, ckpt).awaitTermination()
        totals.get()
      }
      // both runs share one checkpoint; it is deleted after the second
      Streaming.withScratchCheckpoint { ckpt =>
        Files.copy(Paths.get(s"$d/orders.parquet"), src.resolve("part-0.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        val a = runOnce(ckpt)
        Files.copy(Paths.get(s"$d/orders.parquet"), src.resolve("part-1.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        val b = runOnce(ckpt)
        (a, b)
      }
    }
    orders(s, d)
      .agg(count(lit(1)).as("n_file_rows"))
      .select(
        lit(n1).as("n_run1"), lit(n2).as("n_run2"), col("n_file_rows"))
  }
  val streamIncrementalResumeSql: String =
    """SELECT count(*) AS n_run1, count(*) AS n_run2, count(*) AS n_file_rows
      |FROM orders""".stripMargin

  /** pipeline_filter_funnel — the data-curation funnel report: each
    * quality rule's cumulative survivor count computed in ONE
    * aggregation pass over the corpus (conditional counts, no
    * re-scans, no joins) — at 100 TB the funnel costs one read no
    * matter how many rules. Rules here: length floor, language
    * allowlist, minimum word count, sane word length.
    */
  def pipelineFilterFunnel(s: SparkSession, d: String): DataFrame = {
    val c1 = col("n_chars") >= 100
    val c2 = col("lang").isin("en", "de", "fr")
    val c3 = size(filter(split(col("text"), " "), w => length(w) > 0)) >= 20
    val c4 = col("n_chars") < 2000
    documents(s, d).agg(
      count(lit(1)).as("n_total"),
      count(when(c1, 1)).as("n_len"),
      count(when(c1 && c2, 1)).as("n_lang"),
      count(when(c1 && c2 && c3, 1)).as("n_words"),
      count(when(c1 && c2 && c3 && c4, 1)).as("n_final"))
  }
  val pipelineFilterFunnelSql: String =
    """SELECT count(*) AS n_total,
      |  count(*) FILTER (WHERE n_chars >= 100) AS n_len,
      |  count(*) FILTER (WHERE n_chars >= 100 AND lang IN ('en','de','fr')) AS n_lang,
      |  count(*) FILTER (WHERE n_chars >= 100 AND lang IN ('en','de','fr')
      |    AND len(list_filter(string_split(text, ' '), w -> w <> '')) >= 20) AS n_words,
      |  count(*) FILTER (WHERE n_chars >= 100 AND lang IN ('en','de','fr')
      |    AND len(list_filter(string_split(text, ' '), w -> w <> '')) >= 20
      |    AND n_chars < 2000) AS n_final
      |FROM documents""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_cooccurrence_pmi" -> (textCooccurrencePmi _),
    "win_ewma_dyadic" -> (winEwmaDyadic _),
    "agg_entropy" -> (aggEntropy _),
    "stream_incremental_resume" -> (streamIncrementalResume _),
    "pipeline_filter_funnel" -> (pipelineFilterFunnel _))

  val oracle: Map[String, String] = Map(
    "text_cooccurrence_pmi" -> textCooccurrencePmiSql,
    "win_ewma_dyadic" -> winEwmaDyadicSql,
    "agg_entropy" -> aggEntropySql,
    "stream_incremental_resume" -> streamIncrementalResumeSql,
    "pipeline_filter_funnel" -> pipelineFilterFunnelSql)
}
