package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** MinHash signature + LSH banding fused in one compiled kernel over a
  * hashed-shingle set (`array<bigint>` from [[HashedShingles]]): output
  * index b is the bucket hash of band b — docs sharing a bucket at index
  * b agree on signature slots [b·rows, (b+1)·rows), rows = numHashes /
  * numBands. Empty shingle sets yield an EMPTY array (empty docs must
  * not collide into one sentinel-signature bucket).
  *
  * Codegen replacement for `Dedup.minhashBandBucketsUdf` — same
  * splitmix64 per-slot mixing and FNV-1a band fold, value-identical to
  * the UDF on identical input sets, but reading the Tungsten array in
  * place with no Seq boxing and no whole-stage-codegen fence (SURVEY
  * §7.3 preference order; same promotion [[SignLshBuckets]] gave the
  * embedding banding path in round 5).
  */
case class MinhashBands(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_buckets"

  override def nullSafeEval(sh: Any, nh: Any, nb: Any): Any =
    new GenericArrayData(MinhashBands.compute(sh.asInstanceOf[ArrayData],
      nh.asInstanceOf[Int], nb.asInstanceOf[Int]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, nh, nb) => {
      val cls = MinhashBands.getClass.getName.stripSuffix("$")
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($cls.compute($sh, $nh, $nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): MinhashBands =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MinhashBands {

  private def mix64(x0: Long): Long = {
    // splitmix64 finalizer — MUST stay identical to Dedup.mix64 (the
    // UDF twin) so both paths band identically
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def compute(a: ArrayData, numHashes: Int, numBands: Int): Array[Long] = {
    // layout guard (mirrors Dedup.minhashBandBuckets): numBands >
    // numHashes would band over EMPTY slot ranges — all docs collide
    // into one bucket per band and the skew cap silently drops
    // everything; non-divisible numHashes would ignore trailing slots
    require(numBands >= 1 && numHashes >= numBands && numHashes % numBands == 0,
      s"minhash banding: numHashes ($numHashes) must be a positive multiple " +
        s"of numBands ($numBands)")
    val len = a.numElements()
    if (len == 0) return Array.emptyLongArray
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < len) {
      val h = a.getLong(i)
      var k = 0
      while (k < numHashes) {
        val v = mix64(h ^ (k * 0x9e3779b97f4a7c15L))
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    val rows = numHashes / numBands
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = 0xcbf29ce484222325L ^ b
      var s = b * rows
      val end = s + rows
      while (s < end) {
        // FNV-1a over the 8 bytes of each slot value
        var v = sig(s)
        var byte = 0
        while (byte < 8) { h ^= (v & 0xffL); h *= 0x100000001b3L; v >>>= 8; byte += 1 }
        s += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  val builder: Seq[Expression] => Expression =
    args => MinhashBands(args(0), args(1), args(2))
}
