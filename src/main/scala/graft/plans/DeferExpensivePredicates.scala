package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: within one Filter, evaluate cheap conjuncts before
  * expensive graft kernels.
  *
  * Catalyst pushes and prunes predicates but keeps a conjunction in the
  * order the user wrote it, and codegen short-circuits left-to-right —
  * so `similarity(a,b) >= 0.9 AND length(a) < 50` runs the O(n·m)
  * similarity kernel on EVERY row even though the length band would have
  * discarded most of them first. At corpus scale the conjunct order is
  * the difference between running a kernel on 10^11 rows and on the
  * band's survivors. The graft operators already hand-order their own
  * filters; this rule gives ad-hoc `spark.sql` users the same discipline
  * automatically.
  *
  * Safety: `AND` is commutative in SQL's three-valued logic, every graft
  * expression is deterministic and non-throwing, and the rewrite only
  * fires when ALL conjuncts are deterministic (nondeterministic
  * predicates must keep their evaluation contract). Moving the listed
  * kernels LAST and leaving all other conjuncts in their original
  * relative order makes the rule a stable no-op at its fixed point.
  */
object DeferExpensivePredicates extends Rule[LogicalPlan] with PredicateHelper {

  /** The per-row kernels worth deferring: each walks the whole string /
    * array payload (vs an O(1) comparison or length check). */
  private def isExpensive(e: Expression): Boolean = e.exists {
    case _: graft.expr.RatcliffSimilarity => true
    case _: graft.expr.RatcliffAtLeast => true
    case _: graft.expr.CleanCorpusExpr => true
    case _: graft.expr.ExtractDoiExpr => true
    case _: graft.expr.HtmlTextExpr => true
    case _: graft.expr.MinHashSignatureExpr => true
    case _: graft.expr.SimHash64Expr => true
    case _: graft.expr.HashedShinglesExpr => true
    case _: graft.expr.RollingFingerprintExpr => true
    case _: graft.expr.DeflateLenExpr => true
    case _: graft.expr.BpeEncodeExpr => true
    case _: graft.expr.DotProductExpr => true
    case _: graft.expr.SortedIntersectCountExpr => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) if cond.deterministic =>
      val conjuncts = splitConjunctivePredicates(cond)
      val (expensive, cheap) = conjuncts.partition(isExpensive)
      if (expensive.isEmpty || cheap.isEmpty || conjuncts == cheap ++ expensive) f
      else Filter((cheap ++ expensive).reduce(And), child)
  }
}
