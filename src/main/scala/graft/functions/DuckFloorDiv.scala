package graft.functions

import org.apache.spark.sql.catalyst.expressions.{And, BinaryExpression, Cast, Divide, EqualTo, Expression, If, IntegralDivide, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, DataType, DoubleType, IntegerType, LongType, MapType, ShortType}

/** duck's `//` operator (duck-probed r14b): TRUNCATING integer
  * division when both operands are integral — `7//2`=3, `-7//2`=-3,
  * `7//-2`=-3 — and PLAIN division when either side is non-integral
  * (`7.5//2`=3.75; the reference degrades to `/` on floats).
  * `x//0` is NULL on both engines (non-ANSI division). Type dispatch
  * happens at plan time via RuntimeReplaceable; the SQL surface is the
  * `a // b` rewrite in SqlDialect.rewriteFloorDiv. Decimal operands
  * take the double path (matches duck's float degradation class).
  */
case class DuckFloorDiv(left: Expression, right: Expression)
  extends BinaryExpression with RuntimeReplaceable {

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  // x // 0 is NULL on the reference (probed; ANSI division would
  // raise) — guard both paths explicitly. min // -1 raises the
  // reference's per-width overflow ("Overflow in division of
  // <min> / -1", probed r15 at INT32 too — the Long-widened division
  // would otherwise silently produce 2147483648).
  override lazy val replacement: Expression =
    if (integral(left.dataType) && integral(right.dataType)) {
      val w = DuckArith.widerIntegral(left.dataType, right.dataType)
      val minL = DuckArith.minLiteral(w)
      val r = Cast(right, LongType)
      If(EqualTo(r, Literal(0L)), Literal.create(null, LongType),
        If(And(EqualTo(Cast(left, w), minL), EqualTo(r, Literal(-1L))),
          DuckArith.raiseAs(
            s"Out of Range Error: Overflow in division of ${minL.value} / -1",
            LongType),
          IntegralDivide(Cast(left, LongType), r)))
    } else {
      val r = Cast(right, DoubleType)
      If(EqualTo(r, Literal(0.0)), Literal.create(null, DoubleType),
        Divide(Cast(left, DoubleType), r))
    }

  override def prettyName: String = "graft_fdiv"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DuckFloorDiv =
    copy(left = newLeft, right = newRight)
}

object DuckFloorDiv {
  val builder: Seq[Expression] => Expression =
    args => DuckFloorDiv(args(0), args(1))
}

/** duck `len(x)` (probed r14b): element count for lists (`len([1,2,3])`
  * = 3, `len([])` = 0, `len(NULL)` = NULL), character count for
  * strings, byte count for blobs — Spark's native `len` is
  * string-only and rejects arrays. Dispatch at plan time; BIGINT like
  * the reference (`typeof(len('abc'))` = BIGINT, Spark's is INT). */
case class DuckLen(child: Expression)
  extends UnaryExpression with RuntimeReplaceable {

  override lazy val replacement: Expression = Cast(child.dataType match {
    case _: ArrayType | _: MapType =>
      org.apache.spark.sql.catalyst.expressions.Size(child)
    case BinaryType =>
      org.apache.spark.sql.catalyst.expressions.OctetLength(child)
    case _ => org.apache.spark.sql.catalyst.expressions.Length(child)
  }, LongType)

  override def prettyName: String = "len"

  override protected def withNewChildInternal(newChild: Expression): DuckLen =
    copy(child = newChild)
}

object DuckLen {
  val builder: Seq[Expression] => Expression = args => DuckLen(args(0))
}
