package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** 101st wave — two round-8 additions that fill genuine algorithm gaps:
  * synchronous label-propagation community detection (the graph family
  * had components/pagerank/centrality but no community algorithm), and
  * Matryoshka-style embedding truncation evaluation (the modern
  * dimension-budget question every embedding pipeline asks before
  * shipping a smaller index).
  */
object Extras101 {

  /** Synchronous LPA rounds. 4 is enough for the rule-derived graph's
    * ~6-edge neighborhoods to stabilize labels at every tested sf while
    * keeping the unrolled oracle readable; one definition feeds both
    * engines.
    */
  val LpaRounds = 4

  /** graph_label_propagation — community detection by SYNCHRONOUS
    * label propagation (Raghavan et al. 2007), made deterministic the
    * same way graph_pagerank_fixed is: every tie has a total-order
    * break. Classic async LPA visits nodes in random order and is
    * famously non-reproducible; the synchronous variant with
    * (max neighbor-label frequency, then MIN label) argmax is a pure
    * dataflow fixpoint — bit-identical on any cluster layout and in
    * the oracle's unrolled CTEs. Graph: the rule-derived user graph
    * (same generator as graph_pagerank_fixed), symmetrized and
    * self-loop-free. Per round: one join + two aggregations, all
    * map-side combinable — O(|E|) per round, no driver-side graph
    * state; the edge frame is pinned once (multi-round consumer, the
    * GlobalRank lesson) so the corpus scan runs once, not per round.
    * Each node casts ONE SELF-VOTE alongside its neighbor votes — the
    * standard stabilizer for synchronous LPA, which otherwise
    * oscillates on near-bipartite neighborhoods (measured on this
    * graph: neighbor-only voting left 0 intra-community edges after 4
    * rounds); the self-vote also keeps isolated nodes present, so no
    * outer-join special case exists.
    * Output is the per-community rollup — communities, sizes, id
    * ranges — not the n-row label table, because that's what a corpus
    * curator actually reads.
    */
  /** The symmetrized, self-loop-free rule graph over the event users —
    * STAGED once per corpus (see [[LpaStage]]): three graded rows (LPA
    * rollup, modularity, conductance) and their specs all read it.
    */
  private[graft] def lpaEdges(s: SparkSession, d: String): DataFrame =
    LpaStage.edges(s, d)

  private[graft] def computeLpaEdges(s: SparkSession, d: String): DataFrame = {
    val users = events(s, d).select(col("user_id")).distinct()
      .localCheckpoint(true)
    val n = users.count()
    val fwd = users.select(col("user_id").as("src"),
      explode(array(
        (col("user_id") * 7 + 3) % n,
        (col("user_id") * 13 + 11) % n,
        (col("user_id") * 29 + 17) % n)).as("dst"))
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Per-user final LPA label after [[LpaRounds]] synchronous rounds —
    * STAGED once per corpus; the partition [[graphLabelPropagation]]
    * rolls up and C438/C446 score.
    */
  private[graft] def lpaLabels(s: SparkSession, d: String): DataFrame =
    LpaStage.labels(s, d)

  private[graft] def computeLpaLabels(s: SparkSession, d: String): DataFrame = {
    val users = events(s, d).select(col("user_id")).distinct()
    val edges = LpaStage.edges(s, d)
    var lab = users.select(col("user_id"), col("user_id").as("lbl"))
    for (_ <- 1 to LpaRounds) {
      // neighbor votes + ONE SELF-VOTE: pure neighbor-only synchronous
      // LPA oscillates on near-bipartite neighborhoods (labels swap
      // every round — measured: 0 intra-community edges after 4 rounds
      // on this graph); the self-vote is the standard stabilizer and
      // keeps every node present, so the aggregation alone covers
      // isolated nodes too
      val votes = edges
        .join(lab.select(col("user_id").as("src"), col("lbl")), "src")
        .select(col("dst").as("user_id"), col("lbl"))
        .unionAll(lab)
      lab = votes
        .groupBy(col("user_id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("user_id"), col("m.l").as("lbl"))
    }
    lab
  }

  def graphLabelPropagation(s: SparkSession, d: String): DataFrame =
    lpaLabels(s, d).groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"),
        min(col("user_id")).as("min_user"),
        max(col("user_id")).as("max_user"))
      .orderBy("community")

  /** The WITH-prefix producing `edges` and the final label table
    * `l{LpaRounds}` — shared verbatim by the LPA oracle and the
    * modularity oracle (Extras104) so the two engines can never score
    * different partitions.
    */
  private[graft] val lpaCtePrefix: String = {
    val base =
      """WITH users AS (SELECT DISTINCT user_id FROM events),
        |n AS (SELECT count(*) AS n FROM users),
        |pairs AS (
        |  -- both directions from ONE unnest: DuckDB 1.0.0's binder
        |  -- breaks (INTERNAL Error) when an unnest-bearing CTE is
        |  -- referenced twice (fwd UNION ALL reversed-fwd)
        |  SELECT unnest([
        |    {'s': user_id, 'd': (user_id * 7 + 3) % (SELECT n FROM n)},
        |    {'s': (user_id * 7 + 3) % (SELECT n FROM n), 'd': user_id},
        |    {'s': user_id, 'd': (user_id * 13 + 11) % (SELECT n FROM n)},
        |    {'s': (user_id * 13 + 11) % (SELECT n FROM n), 'd': user_id},
        |    {'s': user_id, 'd': (user_id * 29 + 17) % (SELECT n FROM n)},
        |    {'s': (user_id * 29 + 17) % (SELECT n FROM n), 'd': user_id}]) AS e
        |  FROM users),
        |edges AS (
        |  SELECT DISTINCT e.s AS src, e.d AS dst FROM pairs WHERE e.s <> e.d),
        |l0 AS (SELECT user_id, user_id AS lbl FROM users)""".stripMargin
    val iters = (1 to LpaRounds).map { i =>
      s"""c$i AS (
         |  SELECT user_id, lbl, count(*) AS c FROM (
         |    SELECT e.dst AS user_id, p.lbl
         |    FROM edges e JOIN l${i - 1} p ON p.user_id = e.src
         |    UNION ALL SELECT user_id, lbl FROM l${i - 1}) v
         |  GROUP BY user_id, lbl),
         |l$i AS (
         |  SELECT user_id, lbl FROM (
         |    SELECT user_id, lbl,
         |      row_number() OVER (PARTITION BY user_id
         |        ORDER BY c DESC, lbl ASC) AS rn
         |    FROM c$i) x WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters"
  }
  val graphLabelPropagationSql: String =
    s"""$lpaCtePrefix
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       |  min(user_id) AS min_user, max(user_id) AS max_user
       |FROM l$LpaRounds GROUP BY 1 ORDER BY community""".stripMargin

  /** Constant probe budget for [[embedMatryoshkaEval]] — corpus-size
    * independent (the Extras98 lesson: a probe set that is a corpus
    * FRACTION makes the evaluation quadratic at scale).
    */
  val MatProbeBudget = 100

  /** Truncation dimensions under evaluation. 64 is the full dimension,
    * so its agreement row is the built-in sanity check (must be 100%).
    */
  val MatDims = Seq(8, 16, 32, 64)

  /** embed_matryoshka_eval — EMBEDDING-TRUNCATION retrieval evaluation
    * (the Matryoshka representation question, Kusupati et al. 2022:
    * how much top-1 retrieval quality survives keeping only the first
    * k dimensions?). For a CONSTANT budget of probe vectors and each
    * k ∈ {8,16,32,64}: the probe's top-1 neighbor by prefix-k dot
    * product (ties → min vec_id, both engines rank on the same
    * round(·,6) value) is compared to the full-dimension top-1; the
    * per-k rollup reports the agreement count and the exact mean top-1
    * similarity (decimal-sum ÷ count — both engines see the identical
    * IEEE quotient). Plan shape: probes×dims is a ≤400-row frame —
    * sliced PREFIX arrays live only on that broadcast side, the corpus
    * embedding column streams untouched through a broadcast
    * nested-loop join and one map-side-combinable argmax aggregation
    * ([[graft.functions.FloatVecDot]] folds over min(|a|,|b|), so
    * prefix-k scoring needs no corpus-side slicing). O(P·n·d) with
    * constant P — linear in corpus size, no shuffle of the corpus.
    */
  /** The corpus-scan stage of [[embedMatryoshkaEval]] — per (probe, k)
    * top-1 by prefix-k dot. Exposed un-checkpointed so Extras101Spec
    * can assert the broadcast-only plan shape (the checkpoint the main
    * query adds truncates executedPlan at a Scan ExistingRDD).
    */
  def embedMatryoshkaTop(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val pq = e.filter(col("vec_id") < MatProbeBudget)
      .select(col("vec_id").as("qid"),
        explode(array(MatDims.map(k =>
          struct(lit(k.toLong).as("k"),
            slice(col("embedding"), 1, k).as("pemb"))): _*)).as("kp"))
      .select(col("qid"), col("kp.k").as("k"), col("kp.pemb").as("pemb"))
    val scored = e.select(col("vec_id").as("tid"), col("embedding"))
      .join(broadcast(pq), col("tid") =!= col("qid"))
      .select(col("qid"), col("k"), col("tid"),
        round(expr(s"${graft.functions.FloatVecDot.name}(pemb, embedding)"), 6)
          .as("sim"))
    scored.groupBy("qid", "k")
      .agg(min(struct((-col("sim")).as("ns"), col("tid").as("t"),
        col("sim").as("sv"))).as("m"))
      .select(col("qid"), col("k"),
        col("m.t").as("top_id"), col("m.sv").as("sim"))
  }

  def embedMatryoshkaEval(s: SparkSession, d: String): DataFrame = {
    val top = embedMatryoshkaTop(s, d)
      .localCheckpoint(true) // 2 consumers (per-k side + reference side)
    val ref = top.filter(col("k") === 64)
      .select(col("qid"), col("top_id").as("ref_id"))
    // ref is ≤ P rows but sits behind the checkpoint (no stats) —
    // without the hint the 400×100 join plans as a sort-merge join
    top.join(broadcast(ref), "qid")
      .groupBy("k")
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("top_id") === col("ref_id"), 1L).otherwise(0L))
          .as("n_agree"),
        (sum(col("sim").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("avg_top_sim"))
      .orderBy("k")
  }
  val embedMatryoshkaEvalSql: String = {
    val dims = MatDims.mkString(", ")
    s"""WITH pq AS (
       |  SELECT vec_id AS qid, CAST(kk.k AS BIGINT) AS k, embedding
       |  FROM embeddings, (SELECT unnest([$dims]) AS k) kk
       |  WHERE vec_id < $MatProbeBudget),
       |scored AS (
       |  SELECT p.qid, p.k, t.vec_id AS tid,
       |    round(list_reduce(list_transform(generate_series(1, CAST(p.k AS INTEGER)),
       |      i -> CAST(p.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y), 6) AS sim
       |  FROM pq p JOIN embeddings t ON t.vec_id <> p.qid),
       |top AS (
       |  SELECT qid, k, tid AS top_id, sim FROM (
       |    SELECT qid, k, tid, sim, row_number() OVER (PARTITION BY qid, k
       |      ORDER BY sim DESC, tid ASC) AS rn
       |    FROM scored) x WHERE rn = 1)
       |SELECT t.k AS k, CAST(count(*) AS BIGINT) AS n_probes,
       |  CAST(sum(CASE WHEN t.top_id = r.top_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  CAST(sum(CAST(t.sim AS DECIMAL(18,6))) AS DOUBLE) / count(*)
       |    AS avg_top_sim
       |FROM top t JOIN top r ON r.qid = t.qid AND r.k = 64
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_label_propagation" -> (graphLabelPropagation _),
    "embed_matryoshka_eval" -> (embedMatryoshkaEval _))

  val oracle: Map[String, String] = Map(
    "graph_label_propagation" -> graphLabelPropagationSql,
    "embed_matryoshka_eval" -> embedMatryoshkaEvalSql)
}

/** Staged LPA artifacts — the symmetrized rule graph and the final
  * label table, written to parquet ONCE per corpus dir (the
  * ShingleStage discipline): three graded rows (C432 rollup, C438
  * modularity, C446 conductance) consume the same partition, and at
  * 100 TB it is computed once per release, not once per scorer. The
  * bench charges this to its explicit staging line.
  */
private[graft] object LpaStage {

  def edges(s: SparkSession, d: String): DataFrame = {
    val p = Scratch.once("lpa_edges", d) {
      val path = Scratch.dir("graft_lpa_") + "/edges"
      Extras101.computeLpaEdges(s, d).write.parquet(path)
      path
    }
    s.read.parquet(p)
  }

  def labels(s: SparkSession, d: String): DataFrame = {
    val p = Scratch.once("lpa_labels", d) {
      val path = Scratch.dir("graft_lpa_") + "/labels"
      Extras101.computeLpaLabels(s, d).write.parquet(path)
      path
    }
    s.read.parquet(p)
  }
}
