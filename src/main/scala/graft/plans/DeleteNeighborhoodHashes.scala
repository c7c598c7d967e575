package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a hashes of the depth-≤k delete neighborhood of a string (the
  * SymSpell blocking keys of `Dedup.fuzzyPairs`): distinct hashes of
  * every variant obtainable by deleting up to k characters, the string
  * itself included. ed(a,b) ≤ k ⟹ the neighborhoods intersect, so an
  * equi-join on these keys is a COMPLETE Levenshtein-≤k candidate
  * generator (the exact-refine absorbs the rare 64-bit key collision).
  *
  * Codegen replacement for `Dedup.hashedDeleteNeighborhoodUdf`. The
  * deletes are CHARACTER-unit (the Levenshtein guarantee is char-based):
  * ASCII strings — the overwhelming case for name-like keys — hash
  * skip-positions directly over the UTF-8 bytes in place; any string
  * with a multi-byte char takes the UTF-16 fallback so a delete always
  * removes one full character. Both paths produce identical hashes on
  * ASCII input (byte == char there), and hash values are engine-internal
  * join keys only.
  */
case class DeleteNeighborhoodHashes(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "delete_neighborhood_hashes"

  override def nullSafeEval(s: Any, kv: Any): Any =
    new GenericArrayData(DeleteNeighborhoodHashes.compute(
      s.asInstanceOf[UTF8String], kv.asInstanceOf[Int]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, kv) => {
      val cls = DeleteNeighborhoodHashes.getClass.getName.stripSuffix("$")
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($cls.compute($s, $kv));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DeleteNeighborhoodHashes =
    copy(left = newLeft, right = newRight)
}

object DeleteNeighborhoodHashes {

  def compute(s: UTF8String, k: Int): Array[Long] = {
    val nb = s.numBytes()
    if (nb == s.numChars()) computeAscii(s, k)
    else computeChars(s.toString, k)
  }

  /** ASCII fast path: skip-position FNV directly over the bytes, zero
    * variant allocation (k ≤ 2 enumerates skip pairs in place). */
  private def computeAscii(s: UTF8String, k: Int): Array[Long] = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    if (k > 2) return computeChars(s.toString, k)
    def hashSkipping(skip1: Int, skip2: Int): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < n) {
        if (i != skip1 && i != skip2) {
          h ^= (org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0xffL)
          h *= 0x100000001b3L
        }
        i += 1
      }
      h
    }
    val seen = new java.util.HashSet[java.lang.Long](2 * (1 + n + n * n / 2))
    val out = scala.collection.mutable.ArrayBuilder.make[Long]
    def add(h: Long): Unit = if (seen.add(h)) out += h
    add(hashSkipping(-1, -1))
    if (k >= 1) { var i = 0; while (i < n) { add(hashSkipping(i, -1)); i += 1 } }
    if (k >= 2) {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { add(hashSkipping(i, j)); j += 1 }
        i += 1
      }
    }
    out.result()
  }

  /** Char-exact fallback (multi-byte input or k > 2): identical skip
    * logic over UTF-16 chars; depth > 2 enumerates variant strings. */
  private def computeChars(s: String, k: Int): Array[Long] = {
    val n = s.length
    def hashSkipping(v: String, skip1: Int, skip2: Int): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < v.length) {
        if (i != skip1 && i != skip2) { h ^= v.charAt(i).toLong; h *= 0x100000001b3L }
        i += 1
      }
      h
    }
    if (k > 2) {
      var frontier = Set(s)
      val variants = scala.collection.mutable.LinkedHashSet(s)
      var d = 0
      while (d < k) {
        frontier = frontier.flatMap(x =>
          (0 until x.length).map(i => x.substring(0, i) + x.substring(i + 1)))
        variants ++= frontier
        d += 1
      }
      return variants.iterator.map(v => hashSkipping(v, -1, -1)).toArray.distinct
    }
    val seen = new java.util.HashSet[java.lang.Long](2 * (1 + n + n * n / 2))
    val out = scala.collection.mutable.ArrayBuilder.make[Long]
    def add(h: Long): Unit = if (seen.add(h)) out += h
    add(hashSkipping(s, -1, -1))
    if (k >= 1) { var i = 0; while (i < n) { add(hashSkipping(s, i, -1)); i += 1 } }
    if (k >= 2) {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { add(hashSkipping(s, i, j)); j += 1 }
        i += 1
      }
    }
    out.result()
  }

  val builder: Seq[Expression] => Expression =
    args => DeleteNeighborhoodHashes(args(0), args(1))
}
