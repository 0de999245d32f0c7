package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}

/** The one sweep of the whole registry: one test per registered
  * query builds it once at sf0.001, checks its PHYSICAL plan with
  * `PlanInvariantSpec`'s three rules (no cartesian product; a nested-loop
  * join needs a scalar broadcast side or a whitelist entry; an
  * empty-partition window needs a provably bounded frame below or a
  * whitelist entry), then asserts that it has columns and returns rows.
  * Value-level equality vs DuckDB is the Verify/compare.py harness's
  * job (scripts/compare.py). A failing query fails its own test, named
  * after it. A last test asserts that every whitelist entry is still
  * used by its query's plan.
  */
class QueriesSmokeSpec extends SparkSpec {
  import PlanInvariantSpec.{GlobalWindow, aliasMap, allNodes, hasBoundingNodeBelow}

  /** query name -> one-line bound justification for a
    * BroadcastNestedLoopJoinExec in its plan.
    */
  private val bnljWhitelist: Map[String, String] = PlanInvariantSpec.bnljWhitelist

  /** query name -> one-line bound justification for an
    * empty-partition window with no aggregate/limit below it.
    */
  private val globalWindowWhitelist: Map[String, String] =
    PlanInvariantSpec.globalWindowWhitelist

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Filled by the per-query tests, read by the rot check registered
  // after them: the whitelist entries some plan needed, and the queries
  // whose test ran to the end.
  private val usedBnlj = collection.mutable.Set[String]()
  private val usedGw = collection.mutable.Set[String]()
  private val passed = collection.mutable.Set[String]()
  private var checked = 0

  /** The three rules over one query's plan. Records every whitelist
    * entry the plan uses; returns the violations. */
  private def violations(name: String, plan: SparkPlan): Seq[String] = {
    val nodes = allNodes(plan)
    val aliases = aliasMap(nodes)
    nodes.flatMap {
      case _: CartesianProductExec =>
        Some(s"$name: CartesianProductExec (never allowed)")
      case j: BroadcastNestedLoopJoinExec =>
        val broadcastSide = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        val scalarBroadcast = broadcastSide.exists {
          case a: BaseAggregateExec => a.groupingExpressions.isEmpty // exactly 1 row
          case _: GlobalLimitExec | _: LocalLimitExec => true
          case _: CollectLimitExec | _: TakeOrderedAndProjectExec => true
          case _ => false
        }
        if (scalarBroadcast) None
        else if (bnljWhitelist.contains(name)) { usedBnlj += name; None }
        else Some(s"$name: unlisted BroadcastNestedLoopJoinExec (${j.joinType}) with non-scalar broadcast side")
      case w @ GlobalWindow(child) if !hasBoundingNodeBelow(child, aliases) =>
        if (globalWindowWhitelist.contains(name)) { usedGw += name; None }
        else Some(s"$name: empty-partition ${w.getClass.getSimpleName} without a provably bounded frame below")
      case _ => None
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows") {
      val df = fn(spark, sf)
      val v = violations(name, df.queryExecution.executedPlan)
      checked += 1
      assert(v.isEmpty, s"${v.size} plan-invariant violations:\n  ${v.mkString("\n  ")}")
      assert(df.columns.nonEmpty, s"$name has empty schema")
      assert(df.count() > 0, s"$name returned 0 rows")
      passed += name
    }
  }

  // the whitelist must not rot: every entry must still be needed. Only
  // a full sweep can show an entry unused, so a partial one cancels.
  test("whitelists do not rot: every BNLJ and global-window entry is used by its query's plan") {
    info(s"checked $checked plans; BNLJ whitelist used: ${usedBnlj.size}/${bnljWhitelist.size}; " +
      s"global-window whitelist used: ${usedGw.size}/${globalWindowWhitelist.size}")
    val total = SparkEntry.queries.size
    if (passed.size < total)
      cancel(s"only ${passed.size} of $total per-query tests ran and passed")
    val staleBnlj = bnljWhitelist.keySet -- usedBnlj
    val staleGw = globalWindowWhitelist.keySet -- usedGw
    assert(staleBnlj.isEmpty, s"stale BNLJ whitelist entries (no longer in plan): $staleBnlj")
    assert(staleGw.isEmpty, s"stale global-window whitelist entries: $staleGw")
  }
}
