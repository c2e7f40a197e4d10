package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CAST
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Optimizer rule: DOUBLE → DECIMAL(p ≤ 18, s) casts without
  * `Double.toString`.
  *
  * lineitem and events store money as DOUBLE, and every money aggregate
  * casts it to DECIMAL(18,2) per row (the DuckDB-exact sums, see
  * WarehouseQueries). Spark's Cast formats the double with
  * `Double.toString`, parses that into a `BigDecimal` and rounds HALF_UP:
  * ~75% of q1's task CPU. Money values are nearly always the double
  * nearest some r / 10^s, and for those the result is just r. The rule
  * rewrites each such cast into
  *
  *   If(fast, MakeDecimal(rint(x · 10^s) as long, p, s), <the original Cast>)
  *
  * built from codegen'd built-in expressions only, where `fast` is
  *   |x| < limit(s)  and  |r| < 10^p  and  r / 10^s == x  (r = rint(x · 10^s)).
  *
  * Why the fast branch equals the Cast: `r / 10^s == x` in IEEE
  * arithmetic puts the exact quotient q = r·10^-s within ½ulp(x) of x,
  * and `Double.toString(x)` parses back to x, so its decimal value D is
  * within ½ulp(x) of x too; |D − q| ≤ ulp(x). Below `limit(s)`,
  * ulp(x) ≤ ⅛·10^-s, a quarter of the ½·10^-s that HALF_UP needs, so D
  * rounds to q, i.e. to unscaled r, and |r| < 10^p means the Cast does not
  * overflow either. NaN and ±Inf fail `|x| < limit`; overflow, values off
  * the 10^-s grid and large magnitudes take the original Cast, with its
  * own null-or-error behaviour (ANSI or not, try_cast or not).
  *
  * The rule never rewrites its own fallback Cast again (the `If` is
  * recognised by its shape and left whole). */
object DoubleToDecimal extends Rule[LogicalPlan] {

  /** Largest 2^k with ulp(x) ≤ ⅛·10^-s for every |x| < 2^k (2^43 for s = 2). */
  def limit(scale: Int): Double =
    Math.scalb(1.0, Math.getExponent(math.pow(10, -scale) / 8) + 53)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(CAST)) {
      case p => p.mapExpressions(rewrite)
    }

  private def rewrite(e: Expression): Expression = e match {
    case f @ If(_, _: MakeDecimal, _: Cast) => f
    // x appears several times in the rewrite, so it must be deterministic
    case c @ Cast(x, d: DecimalType, _, _)
        if x.dataType == DoubleType && x.deterministic && d.precision <= 18 && d.scale >= 0 =>
      fastPath(c.withNewChildren(Seq(rewrite(x))).asInstanceOf[Cast], d.precision, d.scale)
    case _ => e.mapChildren(rewrite)
  }

  private def fastPath(c: Cast, p: Int, s: Int): Expression = {
    val x = c.child
    val m = Literal(math.pow(10, s)) // exact: 10^s < 2^53 for s ≤ 18
    val r = Rint(Multiply(x, m))
    val fast = And(
      And(LessThan(Abs(x), Literal(limit(s))), LessThan(Abs(r), Literal(math.pow(10, p)))),
      EqualTo(Divide(r, m), x))
    If(fast, MakeDecimal(Cast(r, LongType, c.timeZoneId, c.evalMode), p, s, nullOnOverflow = false), c)
  }
}
