package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedOrdering,
  RowOrdering, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a global `Sort` directly over a batch
  * `LocalRelation` becomes a `LocalRelation` whose rows are already
  * sorted on the driver.
  *
  * Why: a frame built from driver rows (`Seq.toDF`, `createDataFrame`
  * of a local list, a projection folded into one by Spark's
  * `ConvertToLocalRelation`) collects through
  * `LocalTableScanExec.executeCollect` with no Spark job — unless it
  * is sorted, when the `Sort` plans a range-partition sample job and a
  * shuffle to order rows the driver already holds. Sorting them where
  * they are keeps the collect job-free.
  *
  * Semantics are the `Sort`'s: rows compare with Spark's own
  * interpreted row ordering (NaN greatest, −0.0 equal to 0.0, the
  * requested null ordering), and the sort is stable, so ties keep
  * their input order as the sort of a local scan does. The rows stay
  * in order across the scan's partitions, so a limit, write or
  * iterator over the result sees the sorted order. The ordering is
  * interpreted rather than code-generated: the rows fit the driver, so
  * a compile would cost more than the comparisons it speeds.
  *
  * The `Sort` stays when the relation is streaming, the sort is
  * partition-local (`sortWithinPartitions`), or an order expression is
  * non-deterministic, not orderable or unevaluable.
  */
object LocalRelationSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case s @ Sort(order, true, l: LocalRelation, _) if !l.isStreaming =>
      // attributes are unevaluable until bound: check the bound keys
      val bound = order.map(BindReferences.bindReference(_, l.output))
      if (bound.forall(o => o.child.deterministic &&
          RowOrdering.isOrderable(o.child.dataType) &&
          o.child.find(_.isInstanceOf[Unevaluable]).isEmpty))
        l.copy(data = l.data.sorted(new InterpretedOrdering(bound)))
      else s
  }
}
