package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native scale-0 HALF_UP round over DOUBLE — bit-identical to Spark's
  * `round(x)` (F24's ×10¹² term quantization), minus its per-call cost.
  *
  * Spark's `Round` on DoubleType evaluates
  * `java.math.BigDecimal.valueOf(x).setScale(0, HALF_UP).doubleValue()`
  * — `valueOf` is `new BigDecimal(Double.toString(x))`, i.e. a String
  * allocation + decimal parse + BigDecimal rounding PER CALL. F24
  * (m_logreg_newton) evaluates ten of these per row per Newton pass; the
  * sf10 stage profile put the six passes at 56-73 CPU-s each with the
  * BigDecimal machinery dominating the per-row cost.
  *
  * Fast path: HALF_UP rounds the SHORTEST-REPR decimal â of x, and
  * |â − x| ≤ ulp(x)/2 — so whenever the fractional part of |x| is more
  * than one ulp away from 0.5, rounding x directly (half away from zero,
  * exact FP arithmetic: a − floor(a) is exact for a < 2⁵³) decides
  * identically to rounding â. Values ≥ 2⁵² are integral (returned as-is:
  * setScale(0) of an integral decimal is the identity and toString
  * round-trips). Only the ambiguous band — fraction within one ulp of
  * exactly .5 — falls back to the BigDecimal reference path itself, so
  * equality is by construction there. Round0ExprSpec stress-asserts bit
  * equality against Spark's round() on adversarial and random inputs.
  */
case class Round0Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_round0"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_round0 argument must be DOUBLE, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    Round0Expr.compute(v.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.Round0Expr.compute($v);")

  override protected def withNewChildInternal(newChild: Expression): Round0Expr =
    copy(child = newChild)
}

object Round0Expr {
  private val TWO_52 = 4.503599627370496e15 // 2^52: every double ≥ this is integral

  def compute(t: Double): Double = {
    // Spark's Round passes NaN/Inf through unrounded (codegen guard).
    if (java.lang.Double.isNaN(t) || java.lang.Double.isInfinite(t)) return t
    val a = Math.abs(t)
    if (a >= TWO_52) return t
    val f = Math.floor(a)
    val r = a - f // exact: a < 2^53, f representable on a's grid
    val eps = Math.ulp(a) // ≥ 2 × the shortest-repr discrepancy
    if (r - 0.5 > eps || 0.5 - r > eps) {
      val res = if (r > 0.5) f + 1.0 else f
      // BigDecimal's zero is unsigned → +0.0; don't manufacture -0.0
      return if (t < 0 && res != 0.0) -res else res
    }
    // ambiguous band (fraction within one ulp of .5): defer to the exact
    // reference semantics — equality by construction
    java.math.BigDecimal.valueOf(t)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}
