package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{CosineSimilarity, DotProduct}

/** Optimizer rule: rewrite interpreted higher-order-function similarity
  * kernels into graft's codegen'd native expressions.
  *
  *  - `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)`
  *    → `graft_dot(a, b)` (measured ~56× — PERF.md "Native Catalyst
  *    expression vs higher-order functions")
  *  - `dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))` (after the first
  *    rewrite) → `graft_cosine(a, b)`
  *
  * This is the piece that makes the fast path available to PURE SQL users:
  * anyone writing the textbook HOF formulation on a session with
  * `spark.sql.extensions=graft.GraftExtensions` gets the fused loop
  * without knowing graft functions exist. Both kernels accumulate strictly
  * left-to-right — bit-identical sums to the HOF chain (KernelSpec pins
  * equality).
  *
  * The HOF chain yields NULL on a ragged pair or a null element. The
  * rewritten form does too: a length guard for the first, the kernels'
  * `nullOnNullElement` for the second (set only when an array's type
  * admits null elements). Direct `graft_dot`/`graft_cosine` calls keep the
  * embedding contract (GraftFunctions.dot/cosine): non-null elements.
  */
object KernelRewrite extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** `(x, y) -> x * y` over the two zipped slots, either order. */
  private def isProductLambda(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(Multiply(l: NamedLambdaVariable, r: NamedLambdaVariable, _), Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
      (l.exprId == x.exprId && r.exprId == y.exprId) ||
        (l.exprId == y.exprId && r.exprId == x.exprId)
    case _ => false
  }

  /** `(acc, v) -> acc + v`, either order. */
  private def isSumLambda(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(Add(l: NamedLambdaVariable, r: NamedLambdaVariable, _), Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _) =>
      (l.exprId == acc.exprId && r.exprId == v.exprId) ||
        (l.exprId == v.exprId && r.exprId == acc.exprId)
    case _ => false
  }

  /** The default finish lambda `id -> id`. */
  private def isIdentityLambda(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(e: NamedLambdaVariable, Seq(v: NamedLambdaVariable), _) =>
      e.exprId == v.exprId
    case _ => false
  }

  private object HofDot {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
            ZipWith(a, b, merge: LambdaFunction),
            Literal(0.0, DoubleType),
            accumulate: LambdaFunction,
            finish: LambdaFunction)
          if isDoubleArray(a) && isDoubleArray(b) && isProductLambda(merge) &&
            isSumLambda(accumulate) && isIdentityLambda(finish) =>
        Some((a, b))
      case _ => None
    }
  }

  /** The HOF chain yields NULL for ragged pairs (zip_with pads the short
    * side with nulls, the products go null, the sum goes null) while the
    * raw kernel dots the common prefix — so the rewrite guards with a
    * length check that reproduces the NULL. Same-expression pairs
    * (dot(a, a)) skip the guard: lengths are trivially equal.
    */
  private def guarded(a: Expression, b: Expression, kernel: Expression): Expression =
    if (a.semanticEquals(b)) kernel
    else If(EqualTo(Size(a), Size(b)), kernel, Literal(null, DoubleType))

  /** Whether either array's type admits a null element. */
  private def mayHoldNull(a: Expression, b: Expression): Boolean =
    Seq(a, b).exists(_.dataType.asInstanceOf[ArrayType].containsNull)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // pass 1: HOF dot products → guarded DotProduct
    val dotted = plan.transformAllExpressions { case HofDot(a, b) =>
      guarded(a, b, DotProduct(a, b, mayHoldNull(a, b)))
    }
    // pass 2: the normalized-dot quotient → CosineSimilarity (guarded
    // the same way; the self-dots in the denominator are never ragged)
    dotted.transformAllExpressions {
      case Divide(
            GuardedDot(a, b),
            Multiply(Sqrt(GuardedDot(a2, a3)), Sqrt(GuardedDot(b2, b3)), _),
            _)
          if a.semanticEquals(a2) && a.semanticEquals(a3) &&
            b.semanticEquals(b2) && b.semanticEquals(b3) =>
        guarded(a, b, CosineSimilarity(a, b, mayHoldNull(a, b)))
    }
  }

  /** Matches a (possibly length-guarded) rewritten dot product. */
  private object GuardedDot {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case DotProduct(a, b, _) => Some((a, b))
      case If(_, DotProduct(a, b, _), Literal(null, _)) => Some((a, b))
      case _ => None
    }
  }
}
