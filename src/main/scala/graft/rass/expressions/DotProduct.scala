package graft.rass.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Dot product of two double arrays as a native codegen expression.
  *
  * Determinism contract (same as [[CosineSimilarity]]): the accumulator
  * adds products in ascending index order — the identical operation
  * sequence to a sequential left-fold — so results are bit-equal to the
  * DuckDB oracle's `list_reduce(list_prepend(0.0, list_transform(
  * list_zip(a, b), p -> p[1] * p[2])), (s, x) -> s + x)`.
  *
  * Used for sign-LSH projections (the sign of `dot(v, hyperplane)`
  * decides a signature bit, graft.pipeline.Dedup d05) where dividing by
  * norms would only waste cycles — the sign is what matters.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // mismatched dimensions yield null, matching cosine_sim (and the
    // composed zip_with form, whose null padding poisons the fold)
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}
