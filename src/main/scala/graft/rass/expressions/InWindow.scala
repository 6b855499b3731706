package graft.rass.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `in_window(ts, window)` — `ts BETWEEN lo AND hi` for a literal
  * `array<bigint>` window `[lo, hi]` of epoch microseconds; null when
  * `ts` is null, as BETWEEN is.
  *
  * A timestamp literal is written into the generated source as a
  * number, so a BETWEEN against a window that moves with the clock
  * compiles new classes on every call. The window here reaches the
  * generated code as a reference object instead, and the class is the
  * same at every `now`.
  */
case class InWindow(ts: Expression, window: Expression)
    extends BinaryExpression with Predicate {

  override def left: Expression = ts
  override def right: Expression = window

  override def checkInputDataTypes(): TypeCheckResult =
    (ts.dataType, window.dataType) match {
      case (TimestampType, ArrayType(LongType, _)) if window.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"in_window expects (timestamp, literal array<bigint>), got $other")
    }

  @transient private lazy val bounds: Array[Long] = {
    val w = window.eval().asInstanceOf[ArrayData]
    require(w.numElements() == 2 && !w.isNullAt(0) && !w.isNullAt(1),
      "in_window: the window is [lo, hi]")
    Array(w.getLong(0), w.getLong(1))
  }

  override def nullSafeEval(t: Any, w: Any): Any = {
    val micros = t.asInstanceOf[Long]
    micros >= bounds(0) && micros <= bounds(1)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("window", bounds, "long[]")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = $t >= $b[0] && $t <= $b[1];")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InWindow =
    copy(ts = newLeft, window = newRight)

  override def prettyName: String = "in_window"
}

object InWindow {
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "in_window",
      { exprs: Seq[Expression] => InWindow(exprs.head, exprs(1)) },
      "scala_udf")
}
