package graft.plans

import graft.functions.ExactRoundExpr
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Optimizer rule: Spark's scale-0 `Round` over a double becomes
  * [[graft.functions.ExactRoundExpr]], which returns the same bits
  * without a `BigDecimal` per row (see [[graft.functions.ExactRound]]).
  * One rule covers every call site: `Stable.money*`, direct
  * `round(x).cast("long")`, SQL text and streaming queries. Any other
  * rounding keeps Spark's expression: a scale other than the literal 0
  * (at a non-zero scale the shortest decimal and the binary value can
  * round apart), float, decimal and integral inputs, and `bround`.
  * Injected by [[graft.GraftExtensions]] after [[RewriteToMv]]; no
  * toggle.
  */
object RewriteRound extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Round(child, Literal(0, IntegerType), _) if child.dataType == DoubleType =>
      ExactRoundExpr(child)
  }
}
