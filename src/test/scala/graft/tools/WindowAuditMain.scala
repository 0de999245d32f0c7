package graft.tools

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}

/** One-shot diagnostic (not a gate): for every registered query, for
  * every empty-partition window whose legality currently comes from
  * "some aggregate below", print the RESOLVED grouping expressions of
  * the nearest bounding aggregate — the inventory the hardened
  * bounded-domain rule is designed against.
  */
object WindowAuditMain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("4", logLevel = "ERROR")
    val sf = "/root/testdata/sf0.001"

    def allNodes(root: SparkPlan): Seq[SparkPlan] = {
      val direct = root.collect { case p => p }
      direct ++ direct.flatMap {
        case a: AdaptiveSparkPlanExec => allNodes(a.inputPlan)
        case _ => Seq.empty[SparkPlan]
      }
    }

    def aliasMap(root: SparkPlan): Map[ExprId, Expression] =
      allNodes(root).flatMap {
        case p: ProjectExec => p.projectList.collect { case a: Alias => a.exprId -> a.child }
        case a: BaseAggregateExec => a.resultExpressions.collect { case al: Alias => al.exprId -> al.child }
        case _ => Seq.empty
      }.toMap

    def resolve(e: Expression, m: Map[ExprId, Expression], depth: Int = 0): Expression =
      if (depth > 30) e
      else e.transformUp {
        case ar: AttributeReference if m.contains(ar.exprId) => resolve(m(ar.exprId), m, depth + 1)
      }

    val only: Set[String] = if (args.isEmpty) Set.empty else args(0).split(",").toSet
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only.contains(q._1))
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sf).queryExecution.executedPlan
        val am = aliasMap(plan)
        allNodes(plan).foreach { node =>
          val (isWin, child) = node match {
            case w: WindowExec if w.partitionSpec.isEmpty => (true, w.child)
            case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => (true, w.child)
            case _ => (false, null)
          }
          if (isWin) {
            val bounded = child.exists {
              case a: BaseAggregateExec =>
                a.groupingExpressions.isEmpty ||
                  a.groupingExpressions.forall(g =>
                    graft.PlanInvariantSpec.isBoundedDomain(
                      graft.PlanInvariantSpec.resolveAliases(resolve(g, am), am)))
              case _: GlobalLimitExec | _: LocalLimitExec => true
              case _: CollectLimitExec | _: TakeOrderedAndProjectExec => true
              case _ => false
            }
            if (!bounded) {
              // every aggregate below, with resolved keys
              val aggs = child.collect { case a: BaseAggregateExec =>
                if (a.groupingExpressions.isEmpty) "AGG0"
                else a.groupingExpressions
                  .map(g => resolve(g, am).sql.replaceAll("#\\d+L?", "").take(100))
                  .mkString("[", " | ", "]")
              }
              println(s"$name\tFLAG\taggs=${aggs.distinct.mkString(" ;; ")}")
            }
          }
        }
      } catch {
        case e: Throwable => println(s"$name\tERROR\t${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
