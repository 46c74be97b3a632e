package graft.sql

import graft.connector.GraftKvTable
import org.apache.spark.sql.catalyst.expressions.EvalMode
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Sum}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Keeps TRY-mode aggregates (`try_sum`, `try_avg`) out of the kv
  * connector's aggregate pushdown. Spark's DSv2 aggregate translation
  * maps a Catalyst `Sum` or `Average` to the connector's `Sum` whatever
  * its eval mode, so a pushed `try_sum` would be finished as a plain SUM
  * and raise an overflow error where Spark answers NULL. An Aggregate
  * holding one reads its kv table through an instance that declines
  * aggregate pushdown; filters and column pruning still push. Runs in
  * the operator optimization batch, before V2 pushdown sees the
  * relation. */
object KvTryAggGuard extends Rule[LogicalPlan] {

  private def tryMode(a: Aggregate): Boolean =
    a.aggregateExpressions.exists(_.exists {
      case s: Sum => s.evalContext.evalMode == EvalMode.TRY
      case v: Average => v.evalMode == EvalMode.TRY
      case _ => false
    })

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case a: Aggregate if tryMode(a) => a.child match {
      case PhysicalOperation(_, _, r: DataSourceV2Relation) => r.table match {
        case t: GraftKvTable if t.pushesAggregates =>
          a.transformDown {
            case `r` => r.copy(table = t.withoutAggregatePushdown)
          }
        case _ => a
      }
      case _ => a
    }
  }
}
