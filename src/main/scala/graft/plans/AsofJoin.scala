package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** Native ASOF join — the whole-operator extension tier (§2-A A-series
  * "operators Spark lacks", builder brief option (c)): a custom
  * `LogicalPlan` node, a `SparkStrategy`, and a physical `SparkPlan`
  * that merge-joins co-partitioned, co-sorted children.
  *
  * Semantics (left-outer, DuckDB-ASOF-shaped): for every left row, the
  * single right row with the same key and the greatest right-time
  * `<=` left-time, ties on right-time broken by the greatest tie-break
  * value; left rows with no match emit nulls on the right.
  *
  * Why a physical operator and not the window/lag rewrite (B11): the
  * window form materializes the union of both streams through one
  * window; the merge form streams each side once, keeps O(1) state per
  * key (the current best match), and — the 100 TB property — gets its
  * distribution and ordering requirements satisfied by Catalyst's
  * EnsureRequirements exactly like SortMergeJoin: one hash shuffle per
  * side on the key, in-partition sort by (key, time), then a linear
  * zip of partition pairs. No per-row state store, no window buffer of
  * the right side's history.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTie: Expression) extends BinaryNode {
  // Fail at construction, not mid-merge: the exec's orderings are built
  // from the LEFT expressions' types but compare values evaluated from
  // the right side — mismatched pairs would hit a runtime
  // ClassCastException (or silently wrong ordering) inside doExecute.
  if (Seq(leftKey, rightKey, leftTime, rightTime, rightTie).forall(_.resolved)) {
    require(DataType.equalsStructurally(
        leftKey.dataType, rightKey.dataType, ignoreNullability = true),
      s"ASOF key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
    require(DataType.equalsStructurally(
        leftTime.dataType, rightTime.dataType, ignoreNullability = true),
      s"ASOF time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")
    require(RowOrdering.isOrderable(leftKey.dataType),
      s"ASOF key type not orderable: ${leftKey.dataType}")
    require(RowOrdering.isOrderable(leftTime.dataType),
      s"ASOF time type not orderable: ${leftTime.dataType}")
    require(RowOrdering.isOrderable(rightTie.dataType),
      s"ASOF tie-break type not orderable: ${rightTie.dataType}")
  }
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

object AsofJoin {
  /** DataFrame-level entry: `AsofJoin.df(purchases, views, $"user", …)`.
    * Columns must resolve against `l`/`r` respectively (pre-resolved
    * attributes — the node is constructed already analyzed).
    */
  def df(l: DataFrame, r: DataFrame, leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column, rightTie: Column): DataFrame =
    Bridge.ofRows(l.sparkSession, AsofJoin(
      Bridge.planOf(l), Bridge.planOf(r),
      Bridge.expression(leftKey), Bridge.expression(rightKey),
      Bridge.expression(leftTime), Bridge.expression(rightTime),
      Bridge.expression(rightTie)))
}

/** Plans the logical [[AsofJoin]] as [[AsofJoinExec]]. Registered per
  * session via [[graft.GraftExtensions.register]] (experimental strategies
  * are prepended to the built-in ones).
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, tie) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tie) :: Nil
    case _ => Nil
  }
}

/** Physical merge as-of join. Requirements mirror SortMergeJoinExec:
  * both children clustered on their key and sorted by (key, time
  * [, tie]) — EnsureRequirements inserts the exchanges/sorts — then
  * each co-partition pair merges with two pointers: the right iterator
  * only ever advances (each right row is visited once), and the single
  * buffered candidate row is the as-of state. Row-based (no codegen):
  * the merge is a pure streaming pass, so the interpreted overhead is
  * one projection per row — measured irrelevant next to the shuffle.
  */
case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTie: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val lkB = BindReferences.bindReference(leftKey, left.output)
    val ltB = BindReferences.bindReference(leftTime, left.output)
    val rkB = BindReferences.bindReference(rightKey, right.output)
    val rtB = BindReferences.bindReference(rightTime, right.output)
    val rightWidth = right.output.size
    val schema = output
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val rBuf = ri.buffered
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(schema, schema)
      var matchRow: InternalRow = null
      var matchKey: Any = null
      li.map { lrow =>
        val lkv = lkB.eval(lrow)
        val ltv = ltB.eval(lrow)
        if (lkv == null || ltv == null) {
          // null keys/times never match (SQL equi-/theta-join semantics)
          resultProj(joined(lrow, nullRight))
        } else {
          if (matchRow != null && keyOrd.compare(matchKey, lkv) != 0) matchRow = null
          var scan = true
          while (scan && rBuf.hasNext) {
            val rkv = rkB.eval(rBuf.head)
            val rtv = rtB.eval(rBuf.head)
            if (rkv == null || rtv == null) { rBuf.next() } // nulls sort first; skip
            else {
              val c = keyOrd.compare(rkv, lkv)
              if (c < 0) { matchRow = null; rBuf.next() }
              else if (c == 0 && timeOrd.compare(rtv, ltv) <= 0) {
                matchRow = rBuf.next().copy() // sorted: each later row is a better match
                // derive the stored key from the COPIED row: the raw
                // eval result (lkv/rkv) of a non-primitive key
                // (string/decimal/binary) can reference the sort
                // iterator's reused backing buffer and mutate under us
                matchKey = rkB.eval(matchRow)
              } else scan = false // right is ahead; future lefts may need it
            }
          }
          resultProj(joined(lrow, if (matchRow != null) matchRow else nullRight))
        }
      }
    }
  }
}
