package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Bucket index of a value against a sorted boundary array:
  * `bucket(x) = #boundaries <= x` (binary search; monotone
  * non-decreasing, so an interval always spans a contiguous bucket run).
  *
  * This is the probe-side kernel of the bucketed range join
  * (reference join selection: PhysicalPiecewiseMergeJoin/PhysicalIEJoin,
  * duckdb-4.cpp:9054-9168). As a Scala UDF the binary search blocked
  * whole-stage codegen for the entire probe stage and paid a boxing +
  * WrappedArray copy per row; this expression calls
  * `Arrays.binarySearch` on the primitive boundary array instead
  * (preference order from SURVEY.md §7.3: builtin < custom Expression
  * < UDF). Boundaries are folded into
  * the expression at plan time — they are a tiny quantile sketch, not
  * data.
  */
case class BucketIndex(child: Expression, bounds: Array[Double])
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "bucket_index"

  override def nullSafeEval(x: Any): Any =
    BucketIndex.compute(x.asInstanceOf[Double], bounds)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("bounds", bounds, "double[]")
    defineCodeGen(ctx, ev, x => s"graft.plans.BucketIndex.compute($x, $b)")
  }

  // case-class equality on Array is reference equality; compare contents
  // so canonicalized plans with re-built (equal) boundary arrays match
  override def equals(o: Any): Boolean = o match {
    case BucketIndex(c, b) => c == child && java.util.Arrays.equals(b, bounds)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(bounds)

  override protected def withNewChildInternal(newChild: Expression): BucketIndex =
    copy(child = newChild)
}

object BucketIndex {
  def compute(x: Double, bounds: Array[Double]): Long = {
    val i = java.util.Arrays.binarySearch(bounds, x)
    if (i >= 0) i + 1L else -i - 1L
  }

  /** SQL/`call_function` form: bucket_index(x, array(...boundaries...)).
    * The boundary argument must be a foldable array literal — it is
    * extracted at bind time so the per-row path stays a primitive search. */
  val builder: Seq[Expression] => Expression = args => {
    require(args.length == 2, "bucket_index(value, boundaries)")
    val bounds = args(1) match {
      case lit @ Literal(a: ArrayData, ArrayType(DoubleType, _)) if lit.foldable =>
        a.toDoubleArray()
      case other if other.foldable && other.dataType.isInstanceOf[ArrayType] =>
        other.eval().asInstanceOf[ArrayData].toDoubleArray()
      case _ => throw new IllegalArgumentException(
        "bucket_index: boundaries must be a foldable array<double> literal")
    }
    BucketIndex(args(0), bounds)
  }
}
