package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Index-ordered dot product over two array<double> columns, with
  * whole-stage codegen.
  *
  * The similarity operators' hot loop: a brute-force pass scores
  * |corpus| x |queries| pairs, and Catalyst's higher-order functions
  * (`aggregate`/`zip_with`) evaluate interpreted with per-element boxing
  * — ~30x slower than this primitive loop. The fold order is ascending
  * index, so results are bit-identical to the HOF formulation (and to
  * the DuckDB oracle's list_dot_product) — swapping the implementation
  * cannot change any query result.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == ArrayType(DoubleType, false) ||
        left.dataType == ArrayType(DoubleType, true)) {
      if (right.dataType == left.dataType ||
          right.dataType.isInstanceOf[ArrayType]) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("dot_product needs array<double>")
    } else TypeCheckResult.TypeCheckFailure("dot_product needs array<double>")

  protected override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.DotProduct.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def dot(a: ArrayData, b: ArrayData): Double =
    dot(a.toDoubleArray(), b.toDoubleArray())

  /** Ascending-index sequential sum — deterministic on any engine. */
  def dot(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var s = 0d
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }
}
