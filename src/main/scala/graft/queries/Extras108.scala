package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.FloatVecDot.{dot, dotSql}

/** 108th wave — what does vector COMPRESSION cost retrieval? The
  * quantization rows (C12's int8 audit, C94's sign-bit packing) say
  * what the compressed vectors look like; this row says what they
  * RETRIEVE: top-10 recall vs the float ground truth, per scheme.
  */
object Extras108 {

  val QuantProbeBudget = 50

  /** embed_quantization_recall — recall@10 of int8-quantized and
    * 1-bit (sign) quantized retrieval against exact float truth, for a
    * CONSTANT probe budget. Scheme sims are all computed in ONE pass
    * over one broadcast-nested-loop pair stream (the C433/C440 shape):
    * the quantized representations ride as float arrays whose values
    * are small exact integers, so [[graft.functions.FloatVecDot]]'s
    * double fold IS exact integer arithmetic (≤ 127²·64 ≈ 10⁶ — far
    * inside both float's 2²⁴ and double's 2⁵³ exact ranges) and stays
    * codegen'd; sign-bit agreement folds through the same dot via
    * agree = 64 − n_a − n_b + 2·(bits_a · bits_b). Ranking: float on
    * round(·,6), integer schemes on their exact values, all with tid
    * tie-break — identical total orders in both engines. Output is the
    * three-row scheme table (float row = built-in sanity: recall 1).
    * O(P·n·d) with constant P; corpus arrays never shuffle.
    */
  /** The corpus-scan stage of [[embedQuantizationRecall]] — all three
    * scheme sims per (probe, corpus) pair in one pass. Exposed
    * un-checkpointed so Extras108Spec can assert the broadcast-only
    * plan (the Extras101.embedMatryoshkaTop pattern).
    */
  def embedQuantizationScored(s: SparkSession, d: String): DataFrame = {
    val q8 = "transform(embedding, x -> cast(greatest(least(" +
      "floor(cast(x as double) * 127 + 0.5), 127), -127) as float))"
    val bits = "transform(embedding, x -> cast(if(x > 0f, 1, 0) as float))"
    def rep(df: DataFrame, idCol: String, p: String) = df.select(
      col("vec_id").as(idCol),
      col("embedding").as(s"${p}emb"),
      expr(q8).as(s"${p}q8"),
      expr(bits).as(s"${p}bits"),
      expr(s"cast(aggregate($bits, 0D, (a, v) -> a + v) as long)")
        .as(s"${p}nb"))
    val e = embeddings(s, d)
    val corpus = rep(e, "tid", "t")
    val probes = rep(e.filter(col("vec_id") < QuantProbeBudget), "qid", "p")
    corpus.join(broadcast(probes), col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"),
        round(dot("pemb", "temb"), 6).as("fsim"),
        dot("pq8", "tq8").cast("long").as("qsim"),
        (lit(64L) - col("pnb") - col("tnb")
          + lit(2L) * dot("pbits", "tbits").cast("long")).as("bsim"))
      .select(col("qid"), col("tid"),
        explode(array(
          struct(lit("float").as("scheme"), col("fsim").as("simd")),
          struct(lit("int8").as("scheme"), col("qsim").cast("double").as("simd")),
          struct(lit("binary").as("scheme"), col("bsim").cast("double").as("simd"))))
          .as("sv"))
      .select(col("qid"), col("tid"), col("sv.scheme").as("scheme"),
        col("sv.simd").as("simd"))
  }

  def embedQuantizationRecall(s: SparkSession, d: String): DataFrame = {
    val scored = embedQuantizationScored(s, d)
      .localCheckpoint(true) // 2 consumers: truth + per-scheme retrieval
    val w = Window.partitionBy("qid", "scheme")
      .orderBy(col("simd").desc, col("tid").asc)
    val top = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).select("qid", "tid", "scheme")
    val truth = top.filter(col("scheme") === "float").select("qid", "tid")
    top.join(truth, Seq("qid", "tid"))
      .groupBy("scheme").agg(count(lit(1)).as("n_hits"))
      .select(col("scheme"), col("n_hits"),
        round(col("n_hits").cast("double")
          / lit(QuantProbeBudget * 10).cast("double"), 6).as("recall_at_10"))
      .orderBy("scheme")
  }
  val embedQuantizationRecallSql: String = {
    s"""WITH rep AS (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding, x -> CAST(greatest(least(
       |      floor(CAST(x AS DOUBLE) * 127 + 0.5), 127), -127) AS DOUBLE))
       |      AS q8,
       |    list_transform(embedding, x ->
       |      CASE WHEN x > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
       |      AS bits
       |  FROM embeddings),
       |rep2 AS (
       |  SELECT vec_id, embedding, q8, bits,
       |    CAST(list_reduce(bits, (a, v) -> a + v) AS BIGINT) AS nb
       |  FROM rep),
       |scored AS (
       |  SELECT p.vec_id AS qid, t.vec_id AS tid,
       |    round(${dotSql("p.embedding", "t.embedding")}, 6) AS fsim,
       |    CAST(${dotSql("p.q8", "t.q8")} AS BIGINT) AS qsim,
       |    64 - p.nb - t.nb
       |      + 2 * CAST(${dotSql("p.bits", "t.bits")} AS BIGINT) AS bsim
       |  FROM rep2 p JOIN rep2 t ON t.vec_id <> p.vec_id
       |  WHERE p.vec_id < $QuantProbeBudget),
       |sv AS (
       |  SELECT qid, tid, 'float' AS scheme, fsim AS simd FROM scored
       |  UNION ALL SELECT qid, tid, 'int8', CAST(qsim AS DOUBLE) FROM scored
       |  UNION ALL SELECT qid, tid, 'binary', CAST(bsim AS DOUBLE) FROM scored),
       |top AS (
       |  SELECT qid, tid, scheme FROM (
       |    SELECT qid, tid, scheme, row_number() OVER (
       |      PARTITION BY qid, scheme ORDER BY simd DESC, tid ASC) AS rn
       |    FROM sv) x WHERE rn <= 10),
       |truth AS (SELECT qid, tid FROM top WHERE scheme = 'float')
       |SELECT t.scheme, CAST(count(*) AS BIGINT) AS n_hits,
       |  round(CAST(count(*) AS DOUBLE)
       |    / CAST(${QuantProbeBudget * 10} AS DOUBLE), 6) AS recall_at_10
       |FROM top t JOIN truth r ON r.qid = t.qid AND r.tid = t.tid
       |GROUP BY 1 ORDER BY scheme""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_quantization_recall" -> (embedQuantizationRecall _))

  val oracle: Map[String, String] = Map(
    "embed_quantization_recall" -> embedQuantizationRecallSql)
}
