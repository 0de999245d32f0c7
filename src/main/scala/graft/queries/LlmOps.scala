package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.FloatVecDot.{dot, dotSql}

/** LLM-training-data pipeline operators (SURVEY.md §2-B B40–B45):
  * dedup (exact + MinHash-LSH), similarity search, text analysis, and
  * the multimodal join.
  *
  * Scale notes (100 TB design):
  *  - exact dedup is a hash groupBy on md5(text) — one shuffle keyed by
  *    content hash, the canonical web-scale dedup shape.
  *  - MinHash near-dup avoids O(n²): signatures are computed per-doc in
  *    a single scan, candidates come from an equi-join on LSH band
  *    keys (shuffle on band key only), and the expensive exact-Jaccard
  *    check runs only on candidate pairs.
  *  - cosine top-k broadcasts the (small) probe set and streams the
  *    corpus once; per-probe top-k is a window over k·|probes| rows,
  *    never a global sort of all pairs.
  */
object LlmOps {

  /** B40 dedup_exact — group documents by content hash. All 500 fixture
    * texts are unique, so the contract output is the per-hash group
    * profile (hash, count, representative doc) rather than dup pairs;
    * the scalatest suite plants real duplicates and asserts grouping.
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
      .orderBy("text_hash")
  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, count(*) AS n_copies,
      |  min(doc_id) AS keep_doc_id
      |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin

  /** B41 dedup_minhash_near — near-duplicate pairs via MinHash + LSH
    * banding candidates, verified with exact shingle Jaccard ≥ 0.5.
    * Because every emitted pair is EXACT-verified, the output is
    * SQL-expressible: since r9 the driver grades it against DuckDB's
    * definitional all-pairs Jaccard (the quadratic-oracle convention
    * dedup_embed_cosine established). The oracle pass certifies banding
    * recall = 100% on the gate corpus (every true pair there has
    * J ≥ 0.9, where 8×2 banding misses with p ≈ 1.7e-6); recall on
    * other corpora is governed by 1−(1−J²)^8 and is additionally
    * asserted equal to the provably-exact prefix-filter route in
    * SketchSpec. The MinHash/banding structure is the point at 100 TB:
    * candidates come from an equi-join on band keys, never n² pairs.
    *
    * Pipeline (all narrow until the band-key join):
    *  1. per-doc distinct 3-token shingle hashes — ONE codegen'd pass
    *     over the text bytes ([[graft.functions.ShingleHash3]]; the
    *     interpreted transform/slice/concat_ws chain it replaced was
    *     the whole query's cost, ~15 s for 500 docs);
    *  2. 16 minhashes over the shingle hashes (codegen'd min loop,
    *     [[graft.functions.MinHash16]]);
    *  3. 8 LSH bands × 2 rows → band key = concat(band idx, 2 sig
    *     values) — widened from 4×4 in r9: at the J ≥ 0.9 the corpus'
    *     true pairs sit at, P(miss) drops from 1.4e-2 to 1.7e-6;
    *  4. equi-join on band key (a < b) → candidate pairs;
    *  5. exact Jaccard on the two shingle-hash sets, keep ≥ 0.5
    *     (64-bit hashes: set identity ≡ string-shingle identity).
    */
  def dedupMinhashNear(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"),
        expr(s"${graft.functions.ShingleHash3.name}(text)").as("sh"))
    val sigs = docs
      .withColumn("sig", expr(s"${graft.functions.MinHash16.name}(sh)"))
    val bands = sigs.select(
      col("doc_id"),
      explode(expr(
        """transform(sequence(0, 7),
          |  b -> concat_ws('|', cast(b AS STRING),
          |    cast(sig[b*2] AS STRING), cast(sig[b*2+1] AS STRING)))""".stripMargin)).as("band_key"))
    // candidate ids first (a pair colliding in k bands appears k times —
    // dedupe BEFORE touching the shingle arrays), then join the shingle
    // sets back and compute the exact Jaccard once per pair
    val candidates = bands.select(col("band_key"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band_key"), col("doc_id").as("doc_b")), Seq("band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    candidates
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
         size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** B42 sim_topk_cosine — top-5 cosine neighbors for the 10 probe
    * vectors (vec_id < 10). Vectors are L2-normalized, so cosine = dot.
    * The probe side is broadcast; the corpus streams once; top-k is a
    * per-probe window. Exact cross-engine equality via [[graft.functions.FloatVecDot.dot]].
    */
  def simTopkCosine(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id").asc)
    emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(dot("probe_emb", "embedding"), 6).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .orderBy("probe_id", "rn")
  }
  val simTopkCosineSql: String =
    s"""SELECT probe_id, vec_id, sim, rn FROM (
       |  SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
       |    round(${dotSql("p.embedding", "e.embedding")}, 6) AS sim,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY round(${dotSql("p.embedding", "e.embedding")}, 6) DESC, e.vec_id ASC) AS rn
       |  FROM embeddings p JOIN embeddings e ON p.vec_id < 10 AND e.vec_id <> p.vec_id)
       |WHERE rn <= 5
       |ORDER BY probe_id, rn""".stripMargin

  /** B43 text_token_stats — top-50 terms by frequency across the
    * corpus. split→explode→groupBy: the explode is narrow; the only
    * shuffle carries (term, partial count) after map-side combine.
    */
  def textTokenStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(50)
  val textTokenStatsSql: String =
    """SELECT term, count(*) AS cnt FROM (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 50""".stripMargin

  /** B44 text_lang_stats — per-language corpus profile: doc count,
    * exact-integer char sums, distinct sources. avg is one double
    * division of exact ints (identical both engines).
    */
  def textLangStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")
  val textLangStatsSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** B45 multimodal_join — documents ⋈ embeddings on doc_id = vec_id:
    * text, vector, and label in one frame, then per-label stats over
    * the joined modalities. Equi-join on aligned ids — at scale both
    * sides would be bucketed on the id so the join is co-located.
    */
  def multimodalJoin(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .join(embeddings(s, d), col("doc_id") === col("vec_id"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy("label")
  val multimodalJoinSql: String =
    """SELECT label, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  count(DISTINCT lang) AS n_langs, min(doc_id) AS min_doc_id
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |GROUP BY label ORDER BY label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash_near" -> (dedupMinhashNear _),
    "sim_topk_cosine" -> (simTopkCosine _),
    "text_token_stats" -> (textTokenStats _),
    "text_lang_stats" -> (textLangStats _),
    "multimodal_join" -> (multimodalJoin _),
  )

  /** Definitional all-pairs ground truth for B41: exact string-shingle
    * Jaccard ≥ 0.5 over every doc pair — the same independent
    * formulation (and threshold-shifted SQL) as dedup_ngram_jaccard's
    * green oracle. Matching it certifies both the exact-verify stage
    * and 100% banding recall on the gate corpus.
    *
    * CORPUS PRECONDITION: this equality holds because the gate corpus
    * has no true pairs in the (0.5, ~0.9) band, where 8×2 banding
    * recall is <100% (P(hit) = 1−(1−J²)⁸ ≈ 0.90 at J=0.5). A corpus
    * regeneration planting mid-band pairs could redden this row with
    * fully correct code — a LOUD failure, not a silent one. The
    * primary engine gate is SketchSpec's banded==exact assertion
    * (which compares against the in-engine exact miner at J≥0.5 and
    * would localize such a miss to banding recall, not verify logic).
    */
  val dedupMinhashNearSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      |      i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS g
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.g, b.g))) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_minhash_near" -> dedupMinhashNearSql,
    "sim_topk_cosine" -> simTopkCosineSql,
    "text_token_stats" -> textTokenStatsSql,
    "text_lang_stats" -> textLangStatsSql,
    "multimodal_join" -> multimodalJoinSql,
  )
}
