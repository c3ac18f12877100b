package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: dot product of two `array<double>` columns
  * in one fused codegen'd loop — the un-normalized sibling of
  * [[CosineSimilarity]], used where only the sign or raw projection matters
  * (random-hyperplane LSH bucketing, APSS partial bounds).
  *
  * Accumulation is strictly left-to-right, matching DuckDB's
  * `list_dot_product` element order, so `round(dot, 6)` is cross-engine
  * stable (same determinism contract as the cosine kernel behind the
  * oracle-green `knn_cosine`).
  *
  * Null if either input is null; mismatched lengths use the common prefix.
  * `nullOnNullElement` also makes it null when either array holds a null
  * element, as the higher-order-function dot is (`KernelRewrite` sets it);
  * otherwise elements are read unchecked (the embedding contract: none is
  * null).
  */
case class DotProduct(left: Expression, right: Expression, nullOnNullElement: Boolean = false)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"
  override protected def stringArgs: Iterator[Any] =
    if (nullOnNullElement) super.stringArgs else Iterator(left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (nullOnNullElement && (x.isNullAt(i) || y.isNullAt(i))) return null
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val i = ctx.freshName("i")
        val nullCheck =
          if (nullOnNullElement) s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
          else ""
        s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
         """.stripMargin
      })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
