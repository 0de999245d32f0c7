package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.FloatVecDot.{dot, dotSql}

/** 105th wave — the ANN quality/cost curve: recall@10 and candidate
  * fraction of the IVF route as a function of nprobe. sim_topk_ivf IS
  * the scale path for similarity search; this row MEASURES what that
  * path trades away, which is the number every deployment of an ANN
  * index decides on.
  */
object Extras105 {

  val AnnCells = 16
  val AnnProbeBudget = 50
  val AnnNprobeLevels = Seq(1, 2, 4, 8)

  /** embed_ann_recall_curve — for each nprobe ∈ {1,2,4,8}: the IVF
    * index's recall@10 against exact brute-force truth, and the
    * candidate count actually scanned (the cost axis). Design: cell
    * assignment is an ARGMAX AGGREGATION over the broadcast 16-centroid
    * table (min(struct(−sim, cell)) — no window over the 16×-expanded
    * corpus); each probe's top-8 cell ranking is a sort of 16 collected
    * structs per probe; the scored frame (constant-budget probes ×
    * corpus, broadcast nested loop — the C433 shape) is pinned once and
    * feeds truth and candidates. Ranks compare round(·,6) sims with
    * tid tie-break, so both engines rank identically. All recalls
    * derive from exact integer hit counts; the only doubles are final
    * divisions. O(P·n·d) with constant P — and the row itself
    * documents why nprobe=constant keeps production ANN sublinear.
    */
  def embedAnnRecallCurve(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cents = e.filter(col("vec_id") < AnnCells)
      .select(col("vec_id").as("cell"), col("embedding").as("cemb"))
    val asg = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        round(dot("embedding", "cemb"), 6).as("cs"))
      .groupBy("vec_id")
      .agg(min(struct((-col("cs")).as("ns"), col("cell").as("c"))).as("m"))
      .select(col("vec_id").as("tid"), col("m.c").as("cell"))
    val probes = e.filter(col("vec_id") < AnnProbeBudget)
      .select(col("vec_id").as("qid"), col("embedding").as("pemb"))
    val prc = probes.crossJoin(broadcast(cents))
      .select(col("qid"), col("cell"),
        round(dot("pemb", "cemb"), 6).as("cs"))
      .groupBy("qid")
      .agg(slice(sort_array(collect_list(
        struct((-col("cs")).as("ns"), col("cell").as("c")))), 1, 8).as("top"))
      .select(col("qid"),
        posexplode(expr("transform(top, x -> x.c)")).as(Seq("rc0", "cell")))
      .select(col("qid"), col("cell"), (col("rc0") + 1).as("rc"))
    val scored = e.select(col("vec_id").as("tid"), col("embedding"))
      .join(asg, "tid")
      .join(broadcast(probes), col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"), col("cell"),
        round(dot("pemb", "embedding"), 6).as("sim"))
      .localCheckpoint(true) // 2 consumers: truth + candidates
    val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col("tid").asc)
    val truth = scored.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 10).select("qid", "tid")
    val cand = scored.join(broadcast(prc), Seq("qid", "cell"))
      .select(col("qid"), col("tid"), col("sim"), col("rc"),
        explode(typedLit(AnnNprobeLevels.map(_.toLong))).as("np"))
      .filter(col("rc") <= col("np"))
      .localCheckpoint(true) // 2 consumers: retrieval + cost counts
    val wqn = Window.partitionBy("qid", "np")
      .orderBy(col("sim").desc, col("tid").asc)
    val retr = cand.withColumn("rn", row_number().over(wqn))
      .filter(col("rn") <= 10).select("qid", "tid", "np")
    val hits = retr.join(truth, Seq("qid", "tid"))
      .groupBy("np").agg(count(lit(1)).as("n_hits"))
    val cost = cand.groupBy("np").agg(count(lit(1)).as("n_cand"))
    hits.join(cost, "np")
      .select(col("np").as("nprobe"), col("n_cand"), col("n_hits"),
        round(col("n_hits").cast("double")
          / lit(AnnProbeBudget * 10).cast("double"), 6).as("recall_at_10"))
      .orderBy("nprobe")
  }
  val embedAnnRecallCurveSql: String = {
    val levels = AnnNprobeLevels.mkString(", ")
    s"""WITH cents AS (
       |  SELECT vec_id AS cell, embedding FROM embeddings
       |  WHERE vec_id < $AnnCells),
       |asg AS (
       |  SELECT vec_id AS tid, cell FROM (
       |    SELECT t.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY round(${dotSql("t.embedding", "c.embedding")}, 6) DESC, c.cell ASC) AS rn
       |    FROM embeddings t CROSS JOIN cents c) x WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, embedding FROM embeddings
       |  WHERE vec_id < $AnnProbeBudget),
       |prc AS (
       |  SELECT qid, cell, rc FROM (
       |    SELECT p.qid, c.cell,
       |      row_number() OVER (PARTITION BY p.qid
       |        ORDER BY round(${dotSql("p.embedding", "c.embedding")}, 6) DESC, c.cell ASC) AS rc
       |    FROM probes p CROSS JOIN cents c) x WHERE rc <= 8),
       |scored AS (
       |  SELECT p.qid, t.vec_id AS tid, a.cell,
       |    round(${dotSql("p.embedding", "t.embedding")}, 6) AS sim
       |  FROM probes p
       |  JOIN embeddings t ON t.vec_id <> p.qid
       |  JOIN asg a ON a.tid = t.vec_id),
       |truth AS (
       |  SELECT qid, tid FROM (
       |    SELECT qid, tid, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, tid ASC) AS rn FROM scored) x
       |  WHERE rn <= 10),
       |cand AS (
       |  SELECT s.qid, s.tid, s.sim, l.np FROM scored s
       |  JOIN prc r ON r.qid = s.qid AND r.cell = s.cell
       |  CROSS JOIN (SELECT unnest([$levels]) AS np) l
       |  WHERE r.rc <= l.np),
       |retr AS (
       |  SELECT qid, tid, np FROM (
       |    SELECT qid, tid, np, row_number() OVER (PARTITION BY qid, np
       |      ORDER BY sim DESC, tid ASC) AS rn FROM cand) x
       |  WHERE rn <= 10),
       |hits AS (
       |  SELECT np, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM retr r JOIN truth t ON t.qid = r.qid AND t.tid = r.tid
       |  GROUP BY np),
       |cost AS (
       |  SELECT np, CAST(count(*) AS BIGINT) AS n_cand
       |  FROM cand GROUP BY np)
       |SELECT CAST(h.np AS BIGINT) AS nprobe, c.n_cand, h.n_hits,
       |  round(CAST(h.n_hits AS DOUBLE)
       |    / CAST(${AnnProbeBudget * 10} AS DOUBLE), 6) AS recall_at_10
       |FROM hits h JOIN cost c ON c.np = h.np
       |ORDER BY nprobe""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_ann_recall_curve" -> (embedAnnRecallCurve _))

  val oracle: Map[String, String] = Map(
    "embed_ann_recall_curve" -> embedAnnRecallCurveSql)
}
