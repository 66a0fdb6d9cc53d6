package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import graft.functions.DotProductF32

/** Optimizer rule (SURVEY.md §4.3 "custom Rule" slot): rewrites the
  * portable higher-order dot-product pattern
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (s, p) -> s + p) }}}
  *
  * into the native codegen expression [[DotProductF32]] (~4× on the
  * similarity kernels: no per-row intermediate array, no lambda-variable
  * boxing). Users writing the readable HOF form get native speed for free.
  *
  * Safety: applied to any `array<float>` inputs — DotProductF32 reproduces
  * the HOF form's NULL semantics exactly (NULL input array, zip_with
  * length-pad, or any NULL element all poison the result), so the rewrite
  * is semantics-preserving.
  *
  * Injection: `spark.sql.extensions=graft.GraftExtensions`.
  */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def isIdentityLambda(f: Expression): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(a: NamedLambdaVariable), _) =>
      v.exprId == a.exprId
    case _ => false
  }

  /** The zip lambda must multiply the two zip variables (in either order —
    * dot product is symmetric), each cast to double.
    */
  private def isCastMulLambda(f: Expression): Boolean = f match {
    case LambdaFunction(
        Multiply(
          Cast(x: NamedLambdaVariable, DoubleType, _, _),
          Cast(y: NamedLambdaVariable, DoubleType, _, _), _),
        Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
      (x.exprId == a.exprId && y.exprId == b.exprId) ||
        (x.exprId == b.exprId && y.exprId == a.exprId)
    case _ => false
  }

  private def isAddLambda(f: Expression): Boolean = f match {
    case LambdaFunction(Add(s: NamedLambdaVariable, p: NamedLambdaVariable, _),
        Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
      Set(s.exprId, p.exprId) == Set(a.exprId, b.exprId)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(ZipWith(a, b, zipF), Literal(0.0, DoubleType), mergeF, finishF)
        if isFloatArray(a) && isFloatArray(b) &&
          isCastMulLambda(zipF) && isAddLambda(mergeF) && isIdentityLambda(finishF) =>
      DotProductF32(a, b)
  }
}
