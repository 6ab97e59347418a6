package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DecimalType

import graft.functions.DecCastExpr

/** Every DECIMAL → DECIMAL *downscale* Cast — explicit or inserted by
  * type coercion (CASE/coalesce branch unification, UNION alignment,
  * INSERT assignment) — routes through the graft_dec_cast kernel so the
  * rounding matches the oracle (the measured policy truncates toward
  * zero, and a DOUBLE/FLOAT source takes DecCast's FP model) and overflow
  * stays duck's loud Conversion Error. r13 dec fuzz, seed-21 pinned the
  * coercion shape: `CASE WHEN … THEN -0.125 % 2.5 ELSE <DECIMAL(38,2)>
  * END` unifies at scale 2. The translator's rewriteDecCast catches explicit casts at
  * the token level; this rule catches the casts CATALYST inserts, where
  * no token exists to rewrite. Injected at RESOLUTION time (extensions
  * sessions): coercion-inserted casts around literal branches fold
  * during optimization, so an optimizer-batch placement would run after
  * ConstantFolding already baked Spark's rounding in. Upscale and
  * non-decimal casts stay native Cast (exact in both engines, faster
  * codegen). TRY eval mode maps to the kernel's NULL-on-overflow twin. */
object DecDownscaleCast extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case c: Cast if c.childrenResolved && (c.dataType match {
          case t: DecimalType => c.child.dataType match {
            // decimal downscale: duck truncates, Spark rounds
            case s: DecimalType => t.scale < s.scale
            // r13 full-gate rerun (queries9): double→decimal is duck's
            // FP-product rounding (2.675e0→(10,2)→2.68) — neither the
            // exact binary nor Spark's shortest-rendering HALF_UP; every
            // such cast (declared determinism casts included) routes
            // through the kernel's duck-exact fp path
            case org.apache.spark.sql.types.DoubleType |
                 org.apache.spark.sql.types.FloatType => true
            case _ => false
          }
          case _ => false
        }) =>
      val t = c.dataType.asInstanceOf[DecimalType]
      DecCastExpr(c.child, t.precision, t.scale,
        tryMode = c.evalMode == EvalMode.TRY,
        fpMode = graft.functions.DecCast.fpCastMode)
  }
}
