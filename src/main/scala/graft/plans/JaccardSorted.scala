package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Exact Jaccard similarity of two SORTED array<bigint> columns
  * (hashed-shingle sets from [[graft.operators.Dedup.hashedShingles]]):
  * two-pointer merge, O(n+m), |A∪B| = |A|+|B|-|A∩B|.
  *
  * The Scala-UDF form pays an ArrayData → WrappedArray copy per input
  * per row; on the quadratic scoring paths (dedup_ngram_jaccard scores
  * every in-group pair) that is millions of allocations per task. This
  * expression reads the Tungsten arrays in place inside whole-stage
  * codegen — same preference order as [[ArrayDot]]: builtin < custom
  * Expression < UDF. Elements are non-null by construction (hashed
  * shingles); both-empty inputs score 1.0 like the reference's
  * list-similarity convention.
  */
case class JaccardSorted(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSorted.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.plans.JaccardSorted.compute($x, $y)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

object JaccardSorted {
  val builder: Seq[Expression] => Expression = args => JaccardSorted(args(0), args(1))

  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    val m = y.numElements()
    if (n == 0 && m == 0) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    inter.toDouble / (n + m - inter).toDouble
  }
}
