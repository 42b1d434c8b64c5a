package graft.plans

import graft.functions.DotProductD
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: fuse the composable dot-product pattern
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)
  *
  * into the native codegen'd [[DotProductD]]. The HOF chain materializes
  * an intermediate array and runs two lambda-dispatch loops per row;
  * the fused expression is one tight loop. The rewrite is sound on every
  * input because DotProductD implements the HOF semantics exactly
  * (null input / length mismatch / null element → null; identical
  * left-to-right fold otherwise — see DotProductDSpec).
  *
  * This is the library's "write it declaratively, let the optimizer pick
  * the kernel" story: a caller that writes the portable HOF form (q28's
  * plane buckets in SimilarityQueries) executes the fused loop.
  */
class FuseDotProduct extends Rule[LogicalPlan] {

  private def isLambdaVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case nv: NamedLambdaVariable => nv.exprId == v.exprId
    case _ => false
  }

  /** (x, y) -> x * y over the lambda's own two variables */
  private def isPairwiseMultiply(f: Expression): Boolean = f match {
    case LambdaFunction(m: Multiply, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
      (isLambdaVar(m.left, x) && isLambdaVar(m.right, y)) ||
        (isLambdaVar(m.left, y) && isLambdaVar(m.right, x))
    case _ => false
  }

  /** (acc, v) -> acc + v */
  private def isSumMerge(f: Expression): Boolean = f match {
    case LambdaFunction(a: Add, Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _) =>
      (isLambdaVar(a.left, acc) && isLambdaVar(a.right, v)) ||
        (isLambdaVar(a.left, v) && isLambdaVar(a.right, acc))
    case _ => false
  }

  /** finish = identity lambda (ArrayAggregate's default) */
  private def isIdentityFinish(f: Expression): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      v.exprId == arg.exprId
    case _ => false
  }

  private def isDoubleZero(e: Expression): Boolean = e match {
    case Literal(0.0, DoubleType) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(zw: ZipWith, zero, merge, finish)
        if isDoubleZero(zero) && isPairwiseMultiply(zw.function) &&
          isSumMerge(merge) && isIdentityFinish(finish) =>
      DotProductD(zw.left, zw.right)
  }
}
