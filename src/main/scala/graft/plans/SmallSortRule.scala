package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Repartition, RepartitionOperation, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a global `Sort` whose input is small sorts in one
  * task instead of range-partitioning.
  *
  * A global sort plans as `Exchange rangepartitioning` — a sampling job
  * to pick the bounds, then a shuffle stage — even when the result has
  * twenty rows. When the child's plan-time `stats.sizeInBytes` is at
  * most `spark.sql.autoBroadcastJoinThreshold` (the statistic and
  * threshold that already decide that a relation is small enough to
  * broadcast), the rule puts a non-shuffling `Repartition(1)` under the
  * Sort: `SinglePartition` satisfies the sort's ordered distribution, so
  * no exchange and no sampling job is planned, and the child's last
  * stage runs as one task. A negative threshold disables the rule, as
  * it disables auto-broadcast. At scale every estimate is over the
  * threshold and the range path stays.
  *
  * Left alone:
  *   - a Sort over a `RepartitionOperation` — [[graft.queries.ContractSort]]
  *     put its stage boundary there on purpose;
  *   - a Sort under a limit (through projections) — it plans as
  *     `TakeOrderedAndProject`, which needs no range exchange either.
  */
object SmallSortRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold < 0) plan else rewrite(plan, underLimit = false, threshold)
  }

  private def rewrite(p: LogicalPlan, underLimit: Boolean, threshold: Long): LogicalPlan = p match {
    case s @ Sort(_, true, child, _) if !underLimit &&
        !child.isInstanceOf[RepartitionOperation] && child.stats.sizeInBytes <= threshold =>
      s.copy(child = Repartition(1, shuffle = false, rewrite(child, underLimit = false, threshold)))
    case _ =>
      val limitBelow = p match {
        case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => true
        case _: Project => underLimit
        case _ => false
      }
      p.mapChildren(rewrite(_, limitBelow, threshold))
  }
}
