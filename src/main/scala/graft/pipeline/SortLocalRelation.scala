package graft.pipeline

import org.apache.spark.sql.catalyst.expressions.{Attribute, InterpretedOrdering, SortOrder, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, SORT}

/**
 * Folds a global `Sort` over a small non-streaming `LocalRelation` into a
 * sorted `LocalRelation`, ordering the rows on the driver with Spark's own
 * `InterpretedOrdering` (NULLS FIRST/LAST, NaN last, -0.0 equal to 0.0).
 *
 * Without it, sorting a complete preview kept by [[PipelineExecutor]] costs
 * three jobs: once the relation's `maxRows` is within the preview's limit,
 * `EliminateLimits` drops the limit and the sort plans as a
 * range-partitioned global sort. The fold takes relations of at most
 * [[PipelineExecutor.PreviewRows]] rows, the same bound that decides which
 * previews are kept. Sort keys must be deterministic and evaluable on the
 * driver (no subqueries, aggregates or Python UDFs).
 */
object SortLocalRelation extends Rule[LogicalPlan] {

  private def evaluable(o: SortOrder): Boolean =
    o.deterministic && !o.child.exists {
      case _: Attribute => false
      case e => e.isInstanceOf[Unevaluable]
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsAllPatterns(SORT, LOCAL_RELATION)) {
      case Sort(order, true, l: LocalRelation, _)
          if !l.isStreaming && l.data.length <= PipelineExecutor.PreviewRows &&
            order.forall(evaluable) =>
        l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output)))
    }
}
