package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two array<double> columns.
  *
  * The composable form (`zip_with` + `aggregate`) evaluates its lambda
  * interpreted per element; this expression runs one primitive loop
  * inside whole-stage codegen instead — the preference order from
  * SURVEY.md §7.3: builtin < custom Expression < UDF. Null elements are
  * treated as 0 (embeddings are dense); mismatched lengths use the
  * common prefix.
  */
case class ArrayDot(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.plans.ArrayDot.compute($x, $y)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

object ArrayDot {
  val builder: Seq[Expression] => Expression = args => ArrayDot(args(0), args(1))

  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }
}

/** [[ArrayDot]] over `array<float>` inputs, accumulating in double with
  * each element widened before the multiply — bit-identical to casting
  * the arrays to `array<double>` first (float→double widening is exact,
  * the product/sum rounding is the same), at HALF the bytes per vector.
  * Exists so float-sourced embeddings can ride a shuffle un-widened: the
  * banded LSH exchange carries one vector copy per (row, band), and the
  * r12 measurement put the double-array carry at ~70 ms of the banded
  * write stage alone (LshLab v0 vs v4).
  */
case class ArrayDotFloat(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot_float"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayDotFloat.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.plans.ArrayDotFloat.compute($x, $y)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): ArrayDotFloat =
    copy(left = newLeft, right = newRight)
}

object ArrayDotFloat {
  val builder: Seq[Expression] => Expression =
    args => ArrayDotFloat(args(0), args(1))

  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }
}
