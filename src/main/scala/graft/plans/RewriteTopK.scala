package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: `Filter(row_number <= k)` over a single-row_number
  * Window collapses into TopKPerGroupPlan — users write the idiomatic
  * window formulation and execute
  * the bounded-heap operator instead of a full per-group sort.
  *
  * Deliberately narrow: exactly one window expression, it is row_number,
  * and the filter's only rank predicate is `rnk <= literal` / `rnk =
  * literal` / `rnk < literal`. Any other shape is left untouched. Spark's
  * own InferWindowGroupLimit may have inserted a WindowGroupLimit below
  * the Window — it becomes redundant and is stripped.
  */
object RewriteTopK extends Rule[LogicalPlan] {

  private object RankLimit {
    /** cond == (rnk cmp lit) referencing `rnk`; returns k (max kept rank). */
    def unapply(t: (Expression, ExprId)): Option[Int] = t match {
      case (LessThanOrEqual(a: AttributeReference, IntegerLiteral(k)), id) if a.exprId == id => Some(k)
      case (LessThan(a: AttributeReference, IntegerLiteral(k)), id) if a.exprId == id => Some(k - 1)
      case (EqualTo(a: AttributeReference, IntegerLiteral(1)), id) if a.exprId == id => Some(1)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, spec), _)), part, order, wchild, _))
        if spec.frameSpecification == SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) ||
           spec.frameSpecification.isInstanceOf[UnspecifiedFrame.type] =>
      RankLimit.unapply((cond, alias.exprId)) match {
        case Some(k) if k >= 1 =>
          // strip a now-redundant WindowGroupLimit Spark may have inserted
          val child = wchild match {
            case wgl: WindowGroupLimit => wgl.child
            case other => other
          }
          TopKPerGroupPlan(part, order, k, child, alias.toAttribute)
        case _ => f
      }
  }
}
