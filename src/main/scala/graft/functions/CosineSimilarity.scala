package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two `array<double>`
  * columns in a single fused loop (dot product + both norms), with
  * whole-stage codegen.
  *
  * This is the hot inner kernel of similarity search / embedding dedup
  * (SURVEY §7.6): the equivalent `aggregate(zip_with(...))` higher-order
  * functions are interpreted per-element (no codegen) and measure ~50-100×
  * slower on all-pairs workloads — at 100 TB the difference is the job.
  *
  * Returns null if either vector has zero norm (or either input is null).
  * Mismatched lengths use the common prefix. `nullOnNullElement` also
  * makes it null when either array holds a null element, as the
  * higher-order-function quotient is (`KernelRewrite` sets it); otherwise
  * elements are read unchecked (the embedding contract: none is null).
  */
case class CosineSimilarity(left: Expression, right: Expression, nullOnNullElement: Boolean = false)
    extends BinaryExpression {

  // Inputs must be array<double> — callers cast (SimilarityOps.corpus does;
  // GraftFunctions.cosine is the only entry point).
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"
  override protected def stringArgs: Iterator[Any] =
    if (nullOnNullElement) super.stringArgs else Iterator(left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (nullOnNullElement && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val i = ctx.freshName("i")
        val xi = ctx.freshName("xi")
        val yi = ctx.freshName("yi")
        // a null element sets the result null and stops the loop
        val (nullCheck, sawNull) =
          if (nullOnNullElement)
            (s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }", s"${ev.isNull} || ")
          else ("", "")
        s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi;
         |  $na += $xi * $xi;
         |  $nb += $yi * $yi;
         |}
         |if ($sawNull$na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
         """.stripMargin
      })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
