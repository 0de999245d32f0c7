package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 41 (C568–C571): three-way branch merge, Renko bricks, OOV
  * rate, token position bias.
  */
object Extras141 {

  /** C568 store_merge_branches — the three-way BRANCH MERGE review
    * (git-style: base = fork snapshot, ours = main head after
    * [[graft.sources.DatasetStore.upsert]], theirs = branch head after
    * the new `upsertBranch` — both sides carry REPLACEMENTS, not just
    * appends): per-key classification against base via two outer
    * joins, conflict = changed on BOTH sides to different values
    * (resolution policy: ours). Updates are exact decimal cent bumps,
    * so every bucket recomputes from source arithmetic in the oracle.
    */
  def storeMergeBranches(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_brmerge_")
    val store = new graft.sources.DatasetStore(s, dir, "o_orderkey")
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    def bumped(m: Long, cents: Int) = base.filter(col("o_orderkey") % 4 === m)
      .select(col("o_orderkey"), expr(
        s"CAST(CAST(o_totalprice AS DECIMAL(14,2)) + CAST(0.0$cents AS DECIMAL(4,2)) AS DOUBLE)")
        .as("o_totalprice"))
    store.init(base.filter(col("o_orderkey") % 4 < 3)) // v1 = the fork base
    store.createBranch("feat", 1L)
    store.upsert(bumped(0, 1))                          // ours: %4==0 -> +0.01
    store.upsertBranch("feat", bumped(1, 2))            // theirs: %4==1 -> +0.02
    store.upsertBranch("feat", bumped(0, 3))            // theirs: %4==0 -> +0.03 (CONFLICT)
    store.upsertBranch("feat",
      base.filter(col("o_orderkey") % 4 === 3))         // theirs: new keys
    val b = store.readAt(1L).select(col("o_orderkey"), col("o_totalprice").as("pb"))
    val o = store.read().select(col("o_orderkey"), col("o_totalprice").as("po"))
    val t = store.readBranch("feat").select(col("o_orderkey"), col("o_totalprice").as("pt"))
    val tri = b.join(o, Seq("o_orderkey"), "full_outer")
      .join(t, Seq("o_orderkey"), "full_outer")
      .selectExpr("o_orderkey",
        """CASE
          |  WHEN pb IS NULL AND po IS NULL THEN 'added_theirs'
          |  WHEN pt IS NULL AND pb IS NULL THEN 'added_ours'
          |  WHEN po <> pb AND pt <> pb AND po <> pt THEN 'conflict'
          |  WHEN po <> pb AND pt <> pb THEN 'both_same_change'
          |  WHEN po <> pb THEN 'from_ours'
          |  WHEN pt <> pb THEN 'from_theirs'
          |  ELSE 'unchanged' END AS outcome""".stripMargin,
        // resolution: conflicts take ours; otherwise the changed side
        """CASE
          |  WHEN pb IS NULL AND po IS NULL THEN pt
          |  WHEN pt IS NULL AND pb IS NULL THEN po
          |  WHEN po <> pb THEN po
          |  WHEN pt <> pb THEN pt
          |  ELSE pb END AS merged_price""".stripMargin)
    tri.groupBy("outcome")
      .agg(count(lit(1)).cast("long").as("n_keys"),
        sum(expr("CAST(CAST(merged_price AS DECIMAL(14,2)) * 100 AS BIGINT)"))
          .cast("long").as("cents"))
      .selectExpr("outcome", "n_keys",
        "round(CAST(cents AS DOUBLE) / 100, 6) AS merged_revenue")
      .orderBy("outcome")
  }
  val storeMergeBranchesSql: String =
    """WITH cls AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 'conflict'
      |      WHEN o_orderkey % 4 = 1 THEN 'from_theirs'
      |      WHEN o_orderkey % 4 = 2 THEN 'unchanged'
      |      ELSE 'added_theirs' END AS outcome,
      |    CASE WHEN o_orderkey % 4 = 0
      |        THEN CAST(o_totalprice AS DECIMAL(14,2)) + CAST(0.01 AS DECIMAL(4,2))
      |      WHEN o_orderkey % 4 = 1
      |        THEN CAST(o_totalprice AS DECIMAL(14,2)) + CAST(0.02 AS DECIMAL(4,2))
      |      ELSE CAST(o_totalprice AS DECIMAL(14,2)) END AS mp
      |  FROM orders)
      |SELECT outcome, CAST(count(*) AS BIGINT) AS n_keys,
      |  round(CAST(CAST(sum(CAST(mp * 100 AS BIGINT)) AS BIGINT) AS DOUBLE)
      |    / 100, 6) AS merged_revenue
      |FROM cls GROUP BY outcome ORDER BY outcome""".stripMargin

  /** C569 win_renko_bricks — Renko brick construction on daily
    * revenue, fully integer: brick size = (max−min) div 20 (≥1) from
    * one scalar aggregate, level = (c − min) div size, a brick event
    * wherever the level moves vs the previous day (|Δ| bricks in the
    * move's direction), and the longest same-direction event runs via
    * gaps-and-islands over the bounded event frame. No float enters
    * until the final report.
    */
  def winRenkoBricks(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    val rng = daily.agg(min(col("c")).cast("long").as("mn"),
      max(col("c")).cast("long").as("mx"))
    val lv = daily.crossJoin(broadcast(rng))
      .selectExpr("day", "greatest((mx - mn) div 20, 1L) AS sz", "mn", "c")
      .selectExpr("day", "(c - mn) div sz AS lvl")
      .withColumn("plvl", lag(col("lvl"), 1).over(Window.orderBy("day")))
      .filter(col("plvl").isNotNull && col("lvl") =!= col("plvl"))
      .selectExpr("day", "lvl - plvl AS dl",
        "CASE WHEN lvl > plvl THEN 'up' ELSE 'down' END AS dir")
    val runs = lv
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .withColumn("rd", row_number().over(Window.partitionBy("dir").orderBy("day")))
      .withColumn("grp", col("rn") - col("rd"))
      .groupBy("dir", "grp").agg(count(lit(1)).cast("long").as("run_len"))
      .groupBy("dir").agg(max(col("run_len")).cast("long").as("longest_run"))
    val counts = lv.groupBy("dir")
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(expr("abs(dl)")).cast("long").as("n_bricks"))
    counts.join(runs, "dir")
      .selectExpr("dir", "n_events", "n_bricks", "longest_run")
      .orderBy("dir")
  }
  val winRenkoBricksSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |rng AS (
      |  SELECT CAST(min(c) AS BIGINT) AS mn, CAST(max(c) AS BIGINT) AS mx
      |  FROM daily),
      |lvl AS (
      |  SELECT day, (c - mn) // greatest((mx - mn) // 20, 1) AS lvl
      |  FROM daily, rng),
      |ev AS (
      |  SELECT day, lvl - plvl AS dl,
      |    CASE WHEN lvl > plvl THEN 'up' ELSE 'down' END AS dir
      |  FROM (SELECT day, lvl, lag(lvl, 1) OVER (ORDER BY day) AS plvl FROM lvl)
      |  WHERE plvl IS NOT NULL AND lvl <> plvl),
      |runs AS (
      |  SELECT dir, CAST(max(run_len) AS BIGINT) AS longest_run
      |  FROM (
      |    SELECT dir, grp, CAST(count(*) AS BIGINT) AS run_len
      |    FROM (
      |      SELECT dir, row_number() OVER (ORDER BY day)
      |        - row_number() OVER (PARTITION BY dir ORDER BY day) AS grp,
      |        day
      |      FROM ev)
      |    GROUP BY dir, grp)
      |  GROUP BY dir),
      |counts AS (
      |  SELECT dir, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(abs(dl)) AS BIGINT) AS n_bricks
      |  FROM ev GROUP BY dir)
      |SELECT counts.dir AS dir, n_events, n_bricks, longest_run
      |FROM counts JOIN runs ON counts.dir = runs.dir
      |ORDER BY dir""".stripMargin

  /** C570 text_vocab_oov_rate — tokenizer-design eval: the train
    * split's vocabulary (doc_id % 10 < 8) scored against the held-out
    * docs — token-occurrence OOV and type-level OOV, both as exact
    * integer counts (anti-join on the token string) with ppm rates as
    * single divisions. The vocab side is a distinct-aggregate frame;
    * the test side streams through one anti-join — at 100 TB this is
    * the standard broadcast-or-shuffle dictionary join.
    */
  def textVocabOovRate(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val train = toks.filter(col("doc_id") % 10 < 8)
    val test = toks.filter(col("doc_id") % 10 >= 8)
    val vocab = train.select(col("tok")).distinct()
    val testOov = test.join(vocab, Seq("tok"), "left_anti")
    val a = vocab.agg(count(lit(1)).cast("long").as("vocab_size"))
    val bTot = test.agg(count(lit(1)).cast("long").as("n_test_tokens"))
    val bOov = testOov.agg(count(lit(1)).cast("long").as("n_oov_tokens"))
    val tTot = test.select("tok").distinct()
      .agg(count(lit(1)).cast("long").as("n_test_types"))
    val tOov = testOov.select("tok").distinct()
      .agg(count(lit(1)).cast("long").as("n_oov_types"))
    a.crossJoin(broadcast(bTot)).crossJoin(broadcast(bOov))
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(tOov))
      .selectExpr("vocab_size", "n_test_tokens", "n_oov_tokens",
        "round(CAST(n_oov_tokens AS DOUBLE) / n_test_tokens * 1000000, 6) AS oov_token_ppm",
        "n_test_types", "n_oov_types",
        "round(CAST(n_oov_types AS DOUBLE) / n_test_types * 1000000, 6) AS oov_type_ppm")
  }
  val textVocabOovRateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |vocab AS (
      |  SELECT DISTINCT tok FROM toks WHERE doc_id % 10 < 8),
      |test AS (SELECT tok FROM toks WHERE doc_id % 10 >= 8),
      |oov AS (
      |  SELECT test.tok FROM test
      |  WHERE test.tok NOT IN (SELECT tok FROM vocab))
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS vocab_size,
      |  (SELECT CAST(count(*) AS BIGINT) FROM test) AS n_test_tokens,
      |  (SELECT CAST(count(*) AS BIGINT) FROM oov) AS n_oov_tokens,
      |  round(CAST((SELECT count(*) FROM oov) AS DOUBLE)
      |    / (SELECT count(*) FROM test) * 1000000, 6) AS oov_token_ppm,
      |  (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM test) AS n_test_types,
      |  (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM oov) AS n_oov_types,
      |  round(CAST((SELECT count(DISTINCT tok) FROM oov) AS DOUBLE)
      |    / (SELECT count(DISTINCT tok) FROM test) * 1000000, 6) AS oov_type_ppm""".stripMargin

  /** C571 text_token_position_bias — WHERE in documents does each
    * frequent token live: per-occurrence relative position quantized
    * to exact ppm ((pos·10⁶) div (n−1); the n=1 doc pins to the
    * midpoint), then per-token mean position and front-half ratio —
    * each ONE division over exact integer sums. Top-15 tokens by
    * (count desc, token) via TakeOrdered. The posexplode is the only
    * corpus-scale pass.
    */
  def textTokenPositionBias(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok")
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .selectExpr("tok",
        "CASE WHEN n > 1 THEN (p * 1000000L) div (n - 1) ELSE 500000L END AS ppm")
    toks.groupBy("tok")
      .agg(count(lit(1)).cast("long").as("n_occ"),
        sum(col("ppm")).cast("long").as("sppm"),
        sum(when(col("ppm") < 500000L, 1L).otherwise(0L)).cast("long").as("front"))
      .orderBy(col("n_occ").desc, col("tok"))
      .limit(15)
      .selectExpr("tok", "n_occ",
        "round(CAST(sppm AS DOUBLE) / n_occ / 1000000, 6) AS mean_rel_pos",
        "round(CAST(front AS DOUBLE) / n_occ, 6) AS front_half_ratio")
  }
  val textTokenPositionBiasSql: String =
    """WITH toks AS (
      |  SELECT doc_id, tok, p - 1 AS p,
      |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
      |  FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |      CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS p
      |    FROM documents)),
      |ppm AS (
      |  SELECT tok,
      |    CASE WHEN n > 1 THEN (p * 1000000) // (n - 1) ELSE 500000 END AS ppm
      |  FROM toks)
      |SELECT tok, CAST(count(*) AS BIGINT) AS n_occ,
      |  round(CAST(CAST(sum(ppm) AS BIGINT) AS DOUBLE) / count(*) / 1000000, 6)
      |    AS mean_rel_pos,
      |  round(CAST(CAST(sum(CASE WHEN ppm < 500000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS DOUBLE) / count(*), 6) AS front_half_ratio
      |FROM ppm GROUP BY tok ORDER BY n_occ DESC, tok LIMIT 15""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "store_merge_branches" -> (storeMergeBranches _),
    "win_renko_bricks" -> (winRenkoBricks _),
    "text_vocab_oov_rate" -> (textVocabOovRate _),
    "text_token_position_bias" -> (textTokenPositionBias _),
  )

  val oracle: Map[String, String] = Map(
    "store_merge_branches" -> storeMergeBranchesSql,
    "win_renko_bricks" -> winRenkoBricksSql,
    "text_vocab_oov_rate" -> textVocabOovRateSql,
    "text_token_position_bias" -> textTokenPositionBiasSql,
  )
}
