package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, InterpretedOrdering, Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Evaluates a global `Sort` over a `LocalRelation` on the driver, the
  * way Spark's own `ConvertToLocalRelation` already folds `Project`,
  * `Filter` and `Limit` over one. Without it, sorting a driver twin's
  * local result (the `GraphQueries` answers) plans a range-partitioned
  * exchange: a sampling job, a shuffle and a result job for a few
  * hundred rows. The rows are ordered with Spark's interpreted ordering
  * of the same sort orders — null placement, NaN as the largest double,
  * -0.0 equal to 0.0, UTF-8 byte order for strings — by a stable sort,
  * as the single-partition `SortExec` is; `ConvertToLocalRelation` then
  * runs again so a `Limit` or `Project` left above the sorted relation
  * folds too, and collecting the result launches no job. Installed once
  * per session by [[graft.Graft.install]], and injected by
  * [[GraftExtensions]]. */
object SortLocalRelation extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = {
    val sorted = plan.transformUp {
      case Sort(order, true, LocalRelation(output, data, false, stream), _)
          if order.forall(o => o.child.deterministic && !o.child.exists(e =>
            e.isInstanceOf[Unevaluable] && !e.isInstanceOf[AttributeReference])) =>
        LocalRelation(output, data.sorted(new InterpretedOrdering(order, output)),
          isStreaming = false, stream)
    }
    if (sorted eq plan) plan else ConvertToLocalRelation(sorted)
  }
}
