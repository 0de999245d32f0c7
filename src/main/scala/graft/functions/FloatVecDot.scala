package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two float vectors as a
  * strict left fold of per-element double products.
  *
  * Numerically identical to
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)` —
  * each product is one correctly-rounded double multiply and the
  * accumulation order is index order — but ~1000× faster: the
  * higher-order-function chain is interpreted (per-element boxing +
  * PhysicalDataType dispatch on every UnsafeArrayData.get), while this
  * expression reads primitive floats in a tight loop and participates
  * in whole-stage codegen, so a cosine-similarity join condition stays
  * inside the generated join loop. At 100 TB this is the difference
  * between an ANN sweep being compute-bound on boxing vs memory-bound
  * on the scan.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == ArrayType(FloatType, false) || left.dataType == ArrayType(FloatType, true))
      if (right.dataType == ArrayType(FloatType, false) || right.dataType == ArrayType(FloatType, true))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"right must be array<float>, got ${right.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"left must be array<float>, got ${left.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

object FloatVecDot {
  val name = "graft_vec_dot"

  /** `graft_vec_dot(a, b)` over two SQL column expressions. */
  def dot(a: String, b: String): Column =
    org.apache.spark.sql.functions.expr(s"$name($a, $b)")

  /** DuckDB mirror of [[dot]] over two 64-element list expressions:
    * the same double products, folded in the same index order, so the
    * oracle's result is bit-identical.
    */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, 64),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
       |    (x, y) -> x + y)""".stripMargin
}
