package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct, sorted 64-bit hashes of the word n-gram shingles of a text:
  * output = sort(distinct(fnv1a(bytes of words w..w+n-1) for each
  * window)), words delimited by ' '. Texts with fewer than `n` words
  * (including null/empty) yield an empty array.
  *
  * Codegen replacement for `Dedup.hashedShinglesUdf` — the map-side
  * kernel of every shingle-based dedup path (minhash banding, prefix
  * filter, n-gram Jaccard; reference string-similarity surface:
  * /root/reference/duckdb-5.cpp jaccard/jaro bindings operate per-pair,
  * the set form here is the corpus-scale equivalent). The ScalaUDF paid
  * a UTF8String→String copy per row plus an encoder round-trip for the
  * result array, and fenced whole-stage codegen at the scan — this
  * expression reads the UTF-8 bytes in place (the ' ' delimiter byte
  * 0x20 cannot occur inside a multi-byte UTF-8 sequence, so byte
  * scanning is split-exact for any input) and emits a primitive long[].
  *
  * Hashes are FNV-1a over the shingle's UTF-8 BYTES, where the UDF
  * hashed UTF-16 chars — identical on ASCII corpora, different (but
  * equally valid) values on non-ASCII. The hashes are engine-internal
  * set elements: every consumer (jaccard_sorted scoring, minhash
  * signatures, prefix-filter token keys) is hash-choice-invariant up to
  * 64-bit collisions, and the DuckDB oracle replays the STRING shingle
  * form, so a behavioral divergence would surface in verification.
  */
case class HashedShingles(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingles"

  override def nullSafeEval(t: Any, nv: Any): Any =
    new GenericArrayData(
      HashedShingles.compute(t.asInstanceOf[UTF8String], nv.asInstanceOf[Int]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, nv) => {
      val cls = HashedShingles.getClass.getName.stripSuffix("$")
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($cls.compute($t, $nv));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): HashedShingles =
    copy(left = newLeft, right = newRight)
}

object HashedShingles {

  /** Sorted distinct FNV-1a hashes of the n-word windows of `s`,
    * reading the UTF-8 bytes in place (no String materialization). */
  def compute(s: UTF8String, n: Int): Array[Long] = {
    // same guard as the UDF reference (operators.Dedup.hashedShingles):
    // a degenerate n must fail loudly in BOTH paths, not return
    // path-dependent values
    require(n > 0, s"hashed_shingles: n must be > 0 (got $n)")
    val nb = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var spaces = 0
    var i = 0
    while (i < nb) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) spaces += 1
      i += 1
    }
    val nWords = spaces + 1
    if (nWords < n) return Array.emptyLongArray
    // word boundaries: sentinel -1, each space index, then length — the
    // same span convention as the UDF (shingle bytes INCLUDE interior
    // separators, span = (bounds(w)+1, bounds(w+n)) exclusive)
    val bounds = new Array[Int](spaces + 2)
    bounds(0) = -1
    var bi = 1
    i = 0
    while (i < nb) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        bounds(bi) = i; bi += 1
      }
      i += 1
    }
    bounds(bi) = nb
    val out = new Array[Long](nWords - n + 1)
    var w = 0
    while (w + n <= nWords) {
      var h = 0xcbf29ce484222325L
      var j = bounds(w) + 1
      val until = bounds(w + n)
      while (j < until) {
        h ^= (org.apache.spark.unsafe.Platform.getByte(base, off + j) & 0xffL)
        h *= 0x100000001b3L
        j += 1
      }
      out(w) = h
      w += 1
    }
    java.util.Arrays.sort(out)
    var m = 0
    i = 1
    while (i < out.length) {
      if (out(i) != out(m)) { m += 1; out(m) = out(i) }
      i += 1
    }
    if (m + 1 == out.length) out else java.util.Arrays.copyOf(out, m + 1)
  }

  val builder: Seq[Expression] => Expression = args => HashedShingles(args(0), args(1))
}
