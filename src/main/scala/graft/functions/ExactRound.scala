package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Spark's `round(d, 0)` on a double without `BigDecimal`.
  *
  * Spark generates `round(d, 0)` as
  * `BigDecimal.valueOf(d).setScale(0, ROUND_HALF_UP).doubleValue()`: a
  * `Double.toString` and a decimal parse per row. That rounds the
  * shortest decimal of `d`, not `d` itself, yet at scale 0 the two
  * agree: for |d| < 2^52 every midpoint k + 0.5 is itself a double, so
  * the decimal (which lies inside `d`'s rounding interval) is on the
  * same side of the midpoint as `d`; for |d| ≥ 2^52 `d` is integral.
  * Hence round half away from zero on the binary value, with `a − f`
  * exact and `f + 1` exact below 2^52, returns the same bits.
  * `floor(a + 0.5)` and `Math.round` do not: 0.49999999999999994 + 0.5
  * rounds up to 1. A zero result is `+0.0` whatever the sign of `d`
  * (`BigDecimal` has no negative zero). NaN and ±Inf pass through.
  *
  * [[graft.plans.RewriteRound]] swaps [[ExactRoundExpr]] in for every
  * scale-0 `Round` over a double; `ExactRoundSpec` pins it to Spark's
  * `Round` bit for bit.
  */
object ExactRound {
  private val TwoP52 = 4503599627370496.0 // 2^52

  def halfUp(d: Double): Double = {
    val a = Math.abs(d)
    // NaN, ±Inf and every |d| ≥ 2^52 (already integral) pass through
    if (!(a < TwoP52)) d
    else {
      val f = Math.floor(a)
      val r = if (a - f >= 0.5) f + 1.0 else f
      if (r == 0.0) 0.0 else Math.copySign(r, d)
    }
  }
}

/** `round(d, 0)` over a double on [[ExactRound.halfUp]]. Only
  * [[graft.plans.RewriteRound]] builds it; `exact_round` in a plan
  * marks the rewrite. */
case class ExactRoundExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "exact_round"

  override def nullSafeEval(v: Any): Any = ExactRound.halfUp(v.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExactRound.halfUp($c)")

  override protected def withNewChildInternal(newChild: Expression): ExactRoundExpr =
    copy(child = newChild)
}
