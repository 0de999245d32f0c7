package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Once-per-corpus stage for the supplier co-purchase PROJECTION —
  * the quadratic heart shared by four graph rows (C291 neighbor
  * Jaccard, C479 Adamic–Adar, C495 rich club, C516 attribute
  * assortativity). Each previously recomputed the capped self-join
  * independently; the pair table with BOTH aggregates (co-customer
  * count and the Adamic–Adar weight sum) is computed once and staged
  * as parquet (ShingleStage/LpaStage discipline — at 100 TB a
  * projection like this is materialized once per release, not once
  * per scorer; the bench charges it to its explicit staging line).
  *
  * The cdeg ∈ [2, GraphHubCap] filter is shared: degree-1 customers
  * cannot produce a pair (so dropping them changes no aggregate) and
  * the hub cap is the fleet-wide quadratic-blowup guard
  * ([[Extras63.GraphHubCap]], no-op on this corpus by
  * GraphHubCapSpec).
  */
private[graft] object CoPurchaseStage {

  /** One row per unordered supplier pair (sa < sb):
    * `n_inter` = shared (hub-capped) customers,
    * `wfx_sum` = Σ floor(1e9/ln(cdeg) + 0.5) over those customers —
    * the exact fixed-point Adamic–Adar numerator.
    */
  def pairStats(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensure(s, d) + "/pairs")

  /** `deg` per supplier over the UNCAPPED distinct edge set — the
    * denominator degree C291's Jaccard has always used (hub-capping
    * applies to pair GENERATION, never to set sizes).
    */
  def degrees(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensure(s, d) + "/degrees")

  /** r10 rewrite of the stage body (the +1.13-at-48GiB exponent fix):
    * the per-customer work is ONE hash aggregation (sorted supplier
    * list per ck, hub-cap filter on its size) followed by a codegen'd
    * HOF pair-explode — the r9 shape paid a window sort over ck PLUS a
    * self-join that re-shuffled and probed the whole edge table to
    * emit the same pair stream. Aggregates are order-free counts/sums,
    * so the pair table is bit-identical; only the generation route
    * changed. `edges0` is persisted across its two consumers (degrees,
    * pairs) so the scan+distinct shuffle runs once per corpus.
    */
  private def ensure(s: SparkSession, d: String): String =
    Scratch.once("copurchase_stage", d) {
      val dir = Scratch.dir("graft_copurchase_")
      val edges0 = lineitem(s, d).select(col("l_suppkey"), col("l_orderkey"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        edges0.groupBy(col("sk"))
          .agg(count(lit(1)).cast("long").as("deg"))
          .write.parquet(dir + "/degrees")
        // sorted list => generated pairs satisfy sa < sb by construction
        // (sk is distinct within ck — edges0 is distinct)
        edges0.groupBy("ck")
          .agg(sort_array(collect_list(col("sk"))).as("sks"))
          .filter(size(col("sks")).between(2, Extras63.GraphHubCap))
          .select(
            expr("CAST(floor(1e9 / ln(size(sks)) + 0.5) AS BIGINT)").as("wfx"),
            explode(expr(
              """flatten(transform(sks, (x, i) ->
                |  transform(slice(sks, i + 2, size(sks)),
                |    y -> named_struct('sa', x, 'sb', y))))""".stripMargin)).as("p"))
          .select(col("p.sa").as("sa"), col("p.sb").as("sb"), col("wfx"))
          .groupBy("sa", "sb")
          .agg(count(lit(1)).cast("long").as("n_inter"),
            sum(col("wfx")).cast("long").as("wfx_sum"))
          .write.parquet(dir + "/pairs")
      } finally edges0.unpersist()
      dir
    }
}
