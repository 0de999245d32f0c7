package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prefix sums / row numbers over PROVABLY BOUNDED frames via a plain
  * empty-partition window — the cheap companion to [[GlobalRank]].
  *
  * r14 optimization (guide §2.4 "remove shuffles outright"): GlobalRank's
  * two-pass machinery (range-sample job + range exchange + localCheckpoint
  * materialization + per-partition counts + offset broadcast + join) is
  * the right shape when the frame grows with the corpus, but ~0.5–2 s of
  * pure orchestration when the frame is an aggregate over a BOUNDED key
  * domain (the 11-value discount strata, calendar months, 32×32 hash
  * grids, fixed language enums). For those frames a single-task window
  * is both faster (no exchange, no checkpoint, one WindowExec that
  * Spark shares across all prefix columns) and plan-gate legal:
  * PlanInvariantSpec's hardened global-window rule accepts an
  * empty-partition WindowExec whose subtree aggregates on a
  * corpus-independent key domain (`isBoundedDomain`).
  *
  * USE ONLY when the input is such an aggregate — the gate fails the
  * query's plan check otherwise, by design. Results are bit-identical to the
  * GlobalRank formulation for exact types and a tie-free order (both
  * compute the same unique global prefix).
  */
object BoundedPrefix {

  /** Exclusive prefix sum of each (valueCol, outName) over the total
    * order given by `sortExprs` (tie-free). All columns share ONE
    * WindowExec — N prefix sums cost one pass. Output types match
    * `sum(valueCol)` exactly (long for integral, widened decimal for
    * decimals), with the same `coalesce(..., 0)` first-row convention
    * as [[GlobalRank.withExclusivePrefixSum]].
    */
  def prefixSums(df: DataFrame, cols: Seq[(Column, String)],
      sortExprs: Seq[Column]): DataFrame = {
    val w = Window.orderBy(sortExprs: _*).rowsBetween(Window.unboundedPreceding, -1)
    cols.foldLeft(df) { case (acc, (valueCol, outName)) =>
      val sumType = df.select(sum(valueCol)).schema.head.dataType
      acc.withColumn(outName,
        coalesce(sum(valueCol).over(w), lit(0L).cast(sumType)).cast(sumType))
    }
  }

  /** Single-column form of [[prefixSums]]. */
  def prefixSum(df: DataFrame, sumCol: String, valueCol: Column,
      sortExprs: Seq[Column]): DataFrame =
    prefixSums(df, Seq((valueCol, sumCol)), sortExprs)

  /** 1-based global row number over the bounded frame (tie-free order)
    * plus the global row count as `totalCol` — same
    * output as [[GlobalRank.withGlobalRowNumberAndTotal]]. The count
    * rides the same WindowExec (an unbounded-frame count over the
    * already-sorted single task), not a second aggregation pass.
    */
  def rowNumberAndTotal(df: DataFrame, rnCol: String, totalCol: String,
      sortExprs: Seq[Column]): DataFrame = {
    val wAll = Window.orderBy(sortExprs: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.withColumn(rnCol, row_number().over(Window.orderBy(sortExprs: _*)).cast("long"))
      .withColumn(totalCol, count(lit(1)).over(wAll).cast("long"))
  }
}
