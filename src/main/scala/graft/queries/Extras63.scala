package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Sixty-third wave: multi-level hive-style partitioning with compound
  * pruning, VALUES inline tables, and neighbor-set Jaccard similarity
  * on the bipartite graph.
  */
object Extras63 {

  /** sink_partitioned_multicol — MULTI-LEVEL hive-style partitioning
    * (C14's single-level twin, the layout a 100 TB lake actually uses:
    * coarse dimension first, finer second): write orders partitioned by
    * (status, priority), read back filtering BOTH levels — the scan
    * must touch only the one matching leaf directory (compound
    * partition pruning, both filters as PartitionFilters, zero data
    * rows read from any other leaf).
    */
  def sinkPartitionedMulticol(s: SparkSession, d: String): DataFrame = {
    val tmp = Scratch.dir("graft_mpart_")
    orders(s, d)
      .write.mode("overwrite")
      .partitionBy("o_orderstatus", "o_orderpriority").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }
  val sinkPartitionedMulticolSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       |  ${dsumSql("o_totalprice")} AS total
       |FROM orders
       |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** sql_inline_values — the VALUES inline-table constructor as a
    * first-class relation: a literal lookup table declared IN the
    * query joins against the scan — the SQL spelling of a broadcast
    * dictionary (C230), no temp view or file needed. The optimizer
    * folds it to a LocalRelation and broadcasts it.
    */
  def sqlInlineValues(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders_iv")
    s.sql(
      """SELECT v.tier, count(*) AS n,
        |  CAST(min(o_totalprice) AS DOUBLE) AS min_price
        |FROM orders_iv
        |JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
        |             ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
        |             ('5-LOW', 'cold')) AS v(pri, tier)
        |  ON o_orderpriority = v.pri
        |GROUP BY v.tier ORDER BY v.tier""".stripMargin)
  }
  val sqlInlineValuesSql: String =
    """SELECT v.tier, count(*) AS n, CAST(min(o_totalprice) AS DOUBLE) AS min_price
      |FROM orders
      |JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
      |             ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
      |             ('5-LOW', 'cold')) AS v(pri, tier)
      |  ON o_orderpriority = v.pri
      |GROUP BY v.tier ORDER BY v.tier""".stripMargin

  /** Hub cap for the co-occurrence self-joins ([[graphNeighborJaccard]]
    * here, [[Extras97.graphBipartiteProjection]]): customers whose
    * DISTINCT-supplier degree exceeds this bound are excluded from PAIR
    * EMISSION (degree frames still count them), bounding the per-key
    * self-join at Cap² pair-slots. Recall statement: a supplier pair is
    * lost only if EVERY customer it co-occurs through is a hub, and the
    * co-occurrence mass routed through hubs is Σ_{deg(c)>Cap} deg(c)² /
    * Σ_c deg(c)² of all pair-slots — an upper bound on the fraction of
    * (sa,sb,ck) co-occurrence evidence dropped; for surviving pairs the
    * reported n_inter is a lower bound and Jaccard is conservative.
    * On this corpus max deg(c) ≪ 1024 at every sf (GraphHubCapSpec
    * measures it), so the cap is an exact no-op here and the oracle
    * mirrors it; at web scale it is the Σ deg² quadratic-blowup guard.
    */
  val GraphHubCap = 1024

  /** graph_neighbor_jaccard — node similarity by NEIGHBOR-SET Jaccard
    * on the supplier↔customer bipartite graph (C305's degree census
    * upgraded to pairwise structure — "which suppliers serve the same
    * customers"): DIRECT co-occurrence counting — each customer emits
    * its supplier PAIRS (one self-join keyed on the customer), one
    * count aggregation yields every |N(a)∩N(b)| EXACTLY, and Jaccard
    * follows from the degree frame. Cost is Σ_c cf(c)² — the shape
    * that scales on a DENSE graph, where C5's prefix filter cannot
    * bite at a low structural threshold (measured here: the
    * candidate-then-verify plan multiplied candidates by full
    * adjacency lists, 150 s at sf0.1; this direct count runs the same
    * result in seconds). The [[GraphHubCap]] guard bounds the per-key
    * emission (degree counting stays uncapped, so da/db are exact);
    * the per-customer window count rides the same hash partitioning
    * the self-join needs — no extra shuffle. Emits supplier pairs with
    * Jaccard ≥ 0.2 (neighbor-set overlap is diluted by breadth as the
    * graph densifies, so the structural threshold sits lower than
    * text-shingle thresholds).
    */
  def graphNeighborJaccard(s: SparkSession, d: String): DataFrame = {
    // pair counts and degrees come from the shared once-per-corpus
    // CoPurchaseStage (r9): four graph rows previously recomputed the
    // same capped self-join; results are bit-identical (cdeg-1
    // customers can't form a pair, and degrees stay uncapped)
    val sizes = CoPurchaseStage.degrees(s, d)
    CoPurchaseStage.pairStats(s, d)
      .join(sizes.select(col("sk").as("sa"), col("deg").as("da")), "sa")
      .join(sizes.select(col("sk").as("sb"), col("deg").as("db")), "sb")
      .select(col("sa"), col("sb"),
        (col("n_inter").cast("double") / (col("da") + col("db") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy("sa", "sb")
  }
  val graphNeighborJaccardSql: String =
    s"""WITH e AS (
      |  SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ec AS (
      |  SELECT sk, ck FROM (
      |    SELECT sk, ck, count(*) OVER (PARTITION BY ck) AS cdeg FROM e)
      |  WHERE cdeg <= $GraphHubCap),
      |deg AS (SELECT sk, count(*) AS d FROM e GROUP BY sk),
      |inter AS (
      |  SELECT a.sk AS sa, b.sk AS sb, count(*) AS n_inter
      |  FROM ec a JOIN ec b ON a.ck = b.ck AND a.sk < b.sk
      |  GROUP BY 1, 2)
      |SELECT sa, sb,
      |  CAST(n_inter AS DOUBLE) / (da.d + db.d - n_inter) AS jaccard
      |FROM inter
      |JOIN deg da ON sa = da.sk
      |JOIN deg db ON sb = db.sk
      |WHERE CAST(n_inter AS DOUBLE) / (da.d + db.d - n_inter) >= 0.2
      |ORDER BY sa, sb""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sink_partitioned_multicol" -> (sinkPartitionedMulticol _),
    "sql_inline_values" -> (sqlInlineValues _),
    "graph_neighbor_jaccard" -> (graphNeighborJaccard _))

  val oracle: Map[String, String] = Map(
    "sink_partitioned_multicol" -> sinkPartitionedMulticolSql,
    "sql_inline_values" -> sqlInlineValuesSql,
    "graph_neighbor_jaccard" -> graphNeighborJaccardSql)
}
