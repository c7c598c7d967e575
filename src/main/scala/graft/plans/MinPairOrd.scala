package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types._

/** Lexicographic MIN of a (doc, pos) long pair as a DeclarativeAggregate
  * with a fixed-width primitive buffer — the HashAggregate-eligible form
  * of `min(struct(doc, pos))`.
  *
  * Why it exists (r19, guide §1.2 step 1 / VERDICT r18 next-round #1):
  * Spark's `Min` over a struct is a DeclarativeAggregate whose buffer IS
  * the struct, and HashAggregateExec only accepts buffers of mutable
  * primitive types — so `min(struct(...))` plans as SortAggregate (two
  * full sorts of the input around the exchange). ObjectHashAggregate is
  * no escape: it requires TypedImperativeAggregate and falls back to
  * sort-based merging past 128 distinct keys
  * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`), which
  * is exactly how the r18 `min_by` attempt measured 0.60 → 0.96 s on
  * millions of gram keys. This aggregate keeps the same lexicographic
  * semantics in three mutable primitive slots (seen: boolean,
  * doc: long, pos: long), so the per-gram aggregate plans as a plain
  * two-phase codegen HashAggregate.
  *
  * Ordering contract — identical to `min(struct(doc, pos))` including
  * null fields: structs compare field by field with NULL FIRST (a null
  * doc sorts below any value; on equal docs a null pos sorts below any
  * value). The `seen` flag distinguishes "no input rows yet" from
  * "current minimum has a null doc", which a two-slot buffer cannot.
  * Result is struct<doc: long, pos: long> (null when no input rows),
  * matching what the callers previously read from min(struct).
  *
  * Both arguments must be integral (byte/short/int/long, widened to
  * long): any other type fails analysis. A silent cast would NULL string
  * ids, reorder numeric strings and truncate doubles; callers with
  * non-integral ids use `min(struct(doc, pos))` instead.
  */
case class MinPairOrd(doc: Expression, pos: Expression)
  extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(doc, pos)

  override def checkInputDataTypes(): TypeCheckResult =
    children.zip(Seq("first", "second")).collectFirst {
      case (c, ordinal) if !MinPairOrd.isIntegral(c.dataType) =>
        DataTypeMismatch("UNEXPECTED_INPUT_TYPE", Map(
          "paramIndex" -> ordinal,
          "requiredType" -> "\"INTEGRAL\"",
          "inputSql" -> s"\"${c.sql}\"",
          "inputType" -> s"\"${c.dataType.sql}\""))
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  private lazy val docL = Cast(doc, LongType)
  private lazy val posL = Cast(pos, LongType)

  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("doc", LongType), StructField("pos", LongType)))
  override def prettyName: String = "min_pair_ord"

  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()
  private lazy val mDoc = AttributeReference("mDoc", LongType)()
  private lazy val mPos = AttributeReference("mPos", LongType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(seen, mDoc, mPos)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(false),
    Literal.create(null, LongType),
    Literal.create(null, LongType))

  /** (d, p) < (bd, bp) under struct ordering (null first per field).
    * Evaluated only when the buffer is non-empty; If() treats a NULL
    * predicate as false, which is never reachable here because every
    * branch below is two-valued. */
  private def pairLess(d: Expression, p: Expression,
                       bd: Expression, bp: Expression): Expression = {
    val posLess =
      If(IsNull(p), IsNotNull(bp),
        And(IsNotNull(bp), LessThan(p, bp)))
    If(IsNull(d),
      Or(IsNotNull(bd), posLess),
      And(IsNotNull(bd),
        Or(LessThan(d, bd), And(EqualTo(d, bd), posLess))))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val better = Or(Not(seen), pairLess(docL, posL, mDoc, mPos))
    Seq(
      Literal(true) /* any input row marks the group non-empty */,
      If(better, docL, mDoc),
      If(better, posL, mPos))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val better = And(seen.right,
      Or(Not(seen.left),
        pairLess(mDoc.right, mPos.right, mDoc.left, mPos.left)))
    Seq(
      Or(seen.left, seen.right),
      If(better, mDoc.right, mDoc.left),
      If(better, mPos.right, mPos.left))
  }

  override lazy val evaluateExpression: Expression =
    If(seen,
      CreateNamedStruct(Seq(Literal("doc"), mDoc, Literal("pos"), mPos)),
      Literal.create(null, dataType))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinPairOrd =
    copy(doc = newChildren(0), pos = newChildren(1))
}

object MinPairOrd {
  def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  val builder: Seq[Expression] => Expression = args => MinPairOrd(args(0), args(1))
}
