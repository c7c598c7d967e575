package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-query-term token counts of a single-space-split text, fused into
  * one pass over the UTF-8 bytes: `space_term_counts(text, terms)`
  * returns `array<long>` of length |terms| + 1 where slot 0 is the
  * TOTAL token count of `split(text, ' ', -1)` (= #space bytes + 1 —
  * empty tokens between consecutive spaces count, exactly the
  * `string_split(text, ' ')` / Spark `split` length the BM25 oracle
  * uses for dl) and slot i+1 is the number of tokens byte-equal to
  * terms(i) (case-sensitive — the reference's string_split + equality,
  * /root/reference/duckdb-6.cpp string functions).
  *
  * Exact, not hashed: tokens are compared byte-for-byte against the
  * term list, so there is no collision contract to carry. This replaces
  * the interpreted `filter(tokens, t -> array_contains(Q, t))` +
  * explode + count pipeline (higher-order functions are
  * CodegenFallback, ~µs/token) with a codegen'd scan-stage kernel —
  * the BM25 tf/dl stage in one expression.
  */
case class SpaceTermCounts(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType, ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "space_term_counts"

  override def nullSafeEval(text: Any, terms: Any): Any =
    new GenericArrayData(SpaceTermCounts.counts(
      text.asInstanceOf[UTF8String], terms.asInstanceOf[ArrayData]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, q) => {
      val cls = SpaceTermCounts.getClass.getName.stripSuffix("$")
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($cls.counts($t, $q));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SpaceTermCounts =
    copy(left = newLeft, right = newRight)
}

object SpaceTermCounts {
  /** One byte pass: token runs are delimited by the single byte 0x20
    * (' '), matching Spark `split(text, " ", -1)`; each run is compared
    * byte-for-byte against every term (|Q| is small — a query's term
    * list, not a vocabulary). */
  def counts(s: UTF8String, terms: ArrayData): Array[Long] = {
    val nq = terms.numElements()
    val out = new Array[Long](nq + 1)
    val qs = new Array[UTF8String](nq)
    var q = 0
    while (q < nq) { qs(q) = terms.getUTF8String(q); q += 1 }
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var tokens = 1L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || Platform.getByte(base, off + i) == ' ') {
        val len = i - start
        q = 0
        while (q < nq) {
          val qb = qs(q)
          if (qb != null && qb.numBytes() == len && (len == 0 ||
            org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
              base, off + start, qb.getBaseObject, qb.getBaseOffset, len)))
            out(q + 1) += 1L
          q += 1
        }
        if (i < n) { tokens += 1L; start = i + 1 }
      }
      i += 1
    }
    out(0) = tokens
    out
  }

  val builder: Seq[Expression] => Expression = args => SpaceTermCounts(args(0), args(1))
}
