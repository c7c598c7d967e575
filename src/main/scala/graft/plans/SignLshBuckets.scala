package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Sign-LSH band buckets of an `array<double>` embedding, fused into one
  * compiled kernel: output index b is the `bitsPerBand`-bit bucket of
  * band b, where bit p = sign(dot(quantize(v), plane[b·bitsPerBand+p])).
  *
  * INTEGER-EXACT by construction (the cross-engine reproducibility
  * contract of the LSH dedup path): the vector is quantized to
  * floor(x·1000 + 0.5) longs and the planes are ±1 signs, so every dot
  * product is an exact integer sum — any engine replaying the same
  * planes computes bit-identical buckets (the DuckDB oracle does).
  *
  * Replaces the Scala-UDF banding kernel (the hot map stage of
  * `Dedup.cosineLshCandidates`): the UDF paid numBands×bitsPerBand dot
  * products per row through `Seq[Double]` boxing plus a WrappedArray
  * copy, and fenced whole-stage codegen for the scan+band stage. This
  * expression reads the Tungsten array in place in primitive loops
  * (reference bar: the whole point of the vectorized kernels in
  * /root/reference/duckdb-3.cpp is no per-row interpretation; SURVEY §7.3
  * preference order: builtin < custom Expression < UDF). Same treatment
  * as [[WordGramHashes]] gave the minhash banding path in round 4.
  *
  * `signs` is the row-major flattening of numBands·bitsPerBand planes of
  * equal dimension (each entry ±1), folded in at plan time — a few KB of
  * plan literal, not data.
  */
case class SignLshBuckets(child: Expression, signs: Array[Long],
                          numBands: Int, bitsPerBand: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(numBands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 63,
    s"sign_lsh_buckets: need numBands >= 1 and 1 <= bitsPerBand <= 63 " +
      s"(got $numBands, $bitsPerBand)")
  require(signs.length % (numBands * bitsPerBand) == 0 && signs.nonEmpty,
    s"sign_lsh_buckets: ${signs.length} signs do not flatten into " +
      s"$numBands x $bitsPerBand equal-dimension planes")

  /** Plane dimension (vectors longer than this ignore the tail, shorter
    * ones use their own length — same envelope as the UDF it replaces). */
  private val dim = signs.length / (numBands * bitsPerBand)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_lsh_buckets"

  override def nullSafeEval(v: Any): Any = new GenericArrayData(
    SignLshBuckets.compute(v.asInstanceOf[ArrayData], signs, dim, numBands, bitsPerBand))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sg = ctx.addReferenceObj("signs", signs, "long[]")
    defineCodeGen(ctx, ev, a =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
        s"graft.plans.SignLshBuckets.compute($a, $sg, $dim, $numBands, $bitsPerBand))")
  }

  // case-class equality on Array is reference equality; compare contents
  // so canonicalized plans with re-built (equal) sign arrays match (same
  // move as BucketIndex — exchange reuse on the LSH self-join depends on
  // canonical equality of the banding subtrees)
  override def equals(o: Any): Boolean = o match {
    case SignLshBuckets(c, sg, nb, bp) =>
      c == child && nb == numBands && bp == bitsPerBand &&
        java.util.Arrays.equals(sg, signs)
    case _ => false
  }
  override def hashCode(): Int =
    ((31 * child.hashCode() + java.util.Arrays.hashCode(signs)) * 31 +
      numBands) * 31 + bitsPerBand

  override protected def withNewChildInternal(newChild: Expression): SignLshBuckets =
    copy(child = newChild)
}

object SignLshBuckets {
  /** Fixed quantization scale — shared with every oracle replay of the
    * bucketing (the SQL hardcodes floor(x*1000 + 0.5) identically). */
  final val QuantScale = 1000L

  /** Band buckets of `a` against `signs`, the row-major numBands ×
    * bitsPerBand planes of dimension `dim`. */
  def compute(a: ArrayData, signs: Array[Long], dim: Int, numBands: Int,
              bitsPerBand: Int): Array[Long] = {
    val len = a.numElements()
    val w = new Array[Long](len)
    var j = 0
    while (j < len) {
      w(j) = math.floor(a.getDouble(j) * QuantScale + 0.5).toLong
      j += 1
    }
    val n = math.min(dim, len)
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var bucket = 0L
      var pb = 0
      while (pb < bitsPerBand) {
        val base = (b * bitsPerBand + pb) * dim
        var s = 0L
        var j2 = 0
        while (j2 < n) { s += w(j2) * signs(base + j2); j2 += 1 }
        if (s >= 0) bucket |= (1L << pb)
        pb += 1
      }
      out(b) = bucket
      b += 1
    }
    out
  }

  /** SQL/`call_function` form:
    * sign_lsh_buckets(v, signs_flat, numBands, bitsPerBand) — the sign
    * array and band geometry must be foldable literals; they are
    * extracted at bind time so the per-row path is primitive loops. */
  val builder: Seq[Expression] => Expression = args => {
    require(args.length == 4,
      "sign_lsh_buckets(v, signs_flat, numBands, bitsPerBand)")
    def foldInt(e: Expression, what: String): Int = {
      require(e.foldable, s"sign_lsh_buckets: $what must be a literal")
      e.eval().asInstanceOf[Number].intValue()
    }
    val signs = args(1) match {
      case e if e.foldable && e.dataType.isInstanceOf[ArrayType] =>
        e.eval().asInstanceOf[ArrayData].toDoubleArray().map(_.toLong)
      case _ => throw new IllegalArgumentException(
        "sign_lsh_buckets: signs must be a foldable array<double> literal")
    }
    SignLshBuckets(args(0), signs,
      foldInt(args(2), "numBands"), foldInt(args(3), "bitsPerBand"))
  }
}
