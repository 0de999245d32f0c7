package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Forty-seventh wave: hashing-trick features, seeded stream state,
  * store rollback, reliable checkpoints, and multi-pass blocking.
  */
object Extras47 {

  /** text_feature_hashing — the HASHING TRICK featurizer: tokens map
    * to a fixed 64-bucket space through a hash (no vocabulary build,
    * no second pass — the memory-bounded featurizer for streaming/
    * huge-vocab corpora, collisions by design). The bucket derives
    * from two md5 hex chars (engine-independent), and the census per
    * document — occupied buckets, bucket-index checksum — is exactly
    * reproducible relationally. One explode + one group-by.
    */
  def textFeatureHashing(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", md5(col("w").cast("binary")))
      .withColumn("bucket",
        (ascii(substring(col("h"), 1, 1)) * 256 + ascii(substring(col("h"), 2, 1))) % 64)
    toks.groupBy("doc_id", "bucket").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occupied_buckets"),
        sum(col("bucket") * col("n")).as("bucket_checksum"),
        sum(col("n")).as("n_tokens"))
      .orderBy("doc_id")
  }
  val textFeatureHashingSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    (ascii(substr(md5(w), 1, 1)) * 256 + ascii(substr(md5(w), 2, 1))) % 64
      |      AS bucket,
      |    count(*) AS n
      |  FROM toks GROUP BY doc_id, bucket)
      |SELECT doc_id, count(*) AS n_occupied_buckets,
      |  CAST(sum(bucket * n) AS BIGINT) AS bucket_checksum,
      |  CAST(sum(n) AS BIGINT) AS n_tokens
      |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** stream_initial_state — `flatMapGroupsWithState` with an INITIAL
    * STATE: per-user counters seed from a BATCH frame (historical
    * purchases) before the stream (views) starts — the state-migration
    * path for moving a stateful job to a new deployment without
    * replaying history. Exact integer cents in state; users emit on
    * their first streamed batch carrying seed + stream totals.
    */
  def streamInitialState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sch = Streaming.rawSchema(s, d)
    val dir = Streaming.stageDir(s, d, copies = 1, sentinels = false)
    val seed = events(s, d).filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .select(col("user_id"), col("n"), col("cents"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
    val typed = s.readStream.schema(sch).parquet(dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
    val updated = typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout, seed) {
        case (user, rows, state: GroupState[(Long, Long)]) =>
          val (n0, cents0) = state.getOption.getOrElse((0L, 0L))
          var n = n0
          var cents = cents0
          rows.foreach { case (_, v) => n += 1; cents += math.round(v * 100) }
          state.update((n, cents))
          Iterator((user, n, cents / 100.0))
      }
      .toDF("user_id", "n_events", "sum_value")
    Streaming.runToBatch(s, updated, "update").orderBy("user_id")
  }
  val streamInitialStateSql: String =
    """SELECT user_id,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events
      |WHERE event_type IN ('purchase', 'view')
      |  AND user_id IN (SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** store_rollback — RESTORE to an earlier snapshot as a NEW commit
    * (git-revert semantics, Delta RESTORE): history is never
    * rewritten — the bad version stays inspectable, readers see the
    * restored data, and the version counter moves forward. One
    * manifest copy, zero data movement ([[graft.sources.DatasetStore.rollback]]).
    */
  def storeRollback(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("graft_rb_")
    val store = new graft.sources.DatasetStore(s, dir, "o_orderkey")
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    store.init(base.filter(col("o_orderkey") % 3 === 0))      // v1
    store.append(base.filter(col("o_orderkey") % 3 === 1))    // v2
    store.delete(lit(true))                                   // v3: the bad deploy
    val nAfterBad = store.read().count()
    store.rollback(2L)                                        // v4 = v2 again
    store.read().agg(count(lit(1)).as("n_restored"),
        dsum(col("o_totalprice")).as("revenue"))
      .withColumn("n_after_bad", lit(nAfterBad))
      .withColumn("n_versions", lit(store.versions().size.toLong))
  }
  val storeRollbackSql: String =
    s"""SELECT count(*) AS n_restored, ${dsumSql("o_totalprice")} AS revenue,
       |  CAST(0 AS BIGINT) AS n_after_bad, CAST(4 AS BIGINT) AS n_versions
       |FROM orders WHERE o_orderkey % 3 IN (0, 1)""".stripMargin

  /** exec_reliable_checkpoint — `Dataset.checkpoint()` against a
    * configured checkpoint DIR: lineage truncation that SURVIVES
    * executor loss (files, not executor-local blocks — what C37's
    * localCheckpoint would be on a real cluster, stated there and
    * exhibited here). The checkpointed aggregate feeds two consumers;
    * its parquet-backed RDD replaces the whole upstream lineage.
    */
  def execReliableCheckpoint(s: SparkSession, d: String): DataFrame = {
    val ckpt = Scratch.dir("graft_ckptdir_")
    s.sparkContext.setCheckpointDir(ckpt)
    val agg = orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .checkpoint() // eager: materializes to the checkpoint dir
    agg.agg(count(lit(1)).as("n_customers"), max(col("n_orders")).as("max_orders"))
      .crossJoin(agg.filter(col("n_orders") >= 10)
        .agg(count(lit(1)).as("n_heavy")))
  }
  val execReliableCheckpointSql: String =
    """WITH agg AS (
      |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
      |SELECT (SELECT count(*) FROM agg) AS n_customers,
      |  (SELECT max(n_orders) FROM agg) AS max_orders,
      |  (SELECT count(*) FROM agg WHERE n_orders >= 10) AS n_heavy""".stripMargin

  /** dedup_multipass_blocking — MULTI-PASS blocking for entity
    * resolution: single-key blocking misses pairs that disagree on
    * that key, so candidates union across independent blocking passes
    * (by brand, by size) and dedup before the expensive verify —
    * standard ER practice when no single field is reliable.
    *
    * Scale shape (hardened in r9 after the noised-sf1 exponent
    * measured +1.12): the verify predicate (8-char name prefix
    * equality) is itself an EQUALITY, so it is pushed INTO the block
    * key of every pass — candidates that would fail the verify never
    * materialize and the output set is provably identical (the classic
    * "move the cheap equality from verify into blocking" ER
    * optimization; sf1 time fell 32.3 s → 24.5 s). The residual
    * exponent (+1.04 on the 10× fixture) is the TRUE ANSWER's, not the
    * plan's: brand (25 values) and name-prefix (a fixed color
    * vocabulary) both have bounded cardinality on this schema, so the
    * matching-pair count itself grows quadratically with the corpus —
    * any engine must emit those rows. BASELINE.md documents this row
    * in the true-answer-quadratic family. The oracle keeps the
    * definitional block-then-verify SQL.
    */
  def dedupMultipassBlocking(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d).select(col("p_partkey"), col("p_name"),
      col("p_brand"), col("p_size"),
      substring(col("p_name"), 1, 8).as("pfx"))
    def pass(key: String): DataFrame =
      p.select(col(key).as("k"), col("pfx"),
          col("p_partkey").as("id_a"), col("p_name").as("name_a"))
        .join(p.select(col(key).as("k"), col("pfx"),
          col("p_partkey").as("id_b"), col("p_name").as("name_b")), Seq("k", "pfx"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    pass("p_brand").unionByName(pass("p_size")).distinct()
      .orderBy("id_a", "id_b")
  }
  val dedupMultipassBlockingSql: String =
    """WITH pb AS (
      |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
      |    a.p_name AS name_a, b.p_name AS name_b
      |  FROM part a JOIN part b ON a.p_brand = b.p_brand
      |  WHERE a.p_partkey < b.p_partkey),
      |ps AS (
      |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
      |    a.p_name AS name_a, b.p_name AS name_b
      |  FROM part a JOIN part b ON a.p_size = b.p_size
      |  WHERE a.p_partkey < b.p_partkey),
      |cand AS (SELECT DISTINCT * FROM (SELECT * FROM pb UNION SELECT * FROM ps))
      |SELECT id_a, id_b FROM cand
      |WHERE substr(name_a, 1, 8) = substr(name_b, 1, 8)
      |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_feature_hashing" -> (textFeatureHashing _),
    "stream_initial_state" -> (streamInitialState _),
    "store_rollback" -> (storeRollback _),
    "exec_reliable_checkpoint" -> (execReliableCheckpoint _),
    "dedup_multipass_blocking" -> (dedupMultipassBlocking _))

  val oracle: Map[String, String] = Map(
    "text_feature_hashing" -> textFeatureHashingSql,
    "stream_initial_state" -> streamInitialStateSql,
    "store_rollback" -> storeRollbackSql,
    "exec_reliable_checkpoint" -> execReliableCheckpointSql,
    "dedup_multipass_blocking" -> dedupMultipassBlockingSql)
}
