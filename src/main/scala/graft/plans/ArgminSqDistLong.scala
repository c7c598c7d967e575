package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Integer-exact nearest-centroid assignment of an `array<long>`
  * quantized vector: argmin over centroids of the squared L2 distance,
  * FIRST-WINS ties (lowest table index), all arithmetic in longs.
  *
  * VALUE-IDENTICAL to the `least(k composite distance expressions)`
  * form it replaces in `Similarity.semanticClusters` (the composite
  * `d·k + j` argmin with `% k` tie-break selects the lowest index among
  * minimal distances — exactly strict-< first-wins here), including the
  * ragged-length convention inherited from ArrayDot's min-length dot:
  * for m = min(|w|, |c|), d = Σ_{i<m}(w_i−c_i)² + Σ_{m≤i<|w|} w_i² +
  * Σ_{m≤i<|c|} c_i². Under semanticClusters' magnitude guard
  * (dim·max|w|² < 2^52) every term and sum is far below 2^63 — long
  * math is exact where the double identity was merely exact-in-range.
  *
  * The centroid table rides along as runtime REFERENCE objects
  * (ctx.addReferenceObj), not source literals — the generated code is
  * byte-identical across centroid values, so Lloyd iterations with
  * fresh centroids hit the codegen cache instead of recompiling. The
  * `least(k exprs)` form measured ~3.7 s per iteration at k = 64 on an
  * 8.5k-row corpus, nearly all Janino recompilation (fresh literals =
  * fresh source every iteration); this form compiles once per query
  * shape regardless of k.
  */
case class ArgminSqDistLong(child: Expression, flat: Array[Long],
                            offs: Array[Int], dims: Array[Int])
  extends UnaryExpression with ExpectsInputTypes {

  require(offs.nonEmpty && offs.length == dims.length,
    "argmin_sqdist_long: malformed centroid table")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmin_sqdist_long"

  override def nullSafeEval(v: Any): Any =
    ArgminSqDistLong.compute(v.asInstanceOf[ArrayData], flat, offs, dims)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("flat", flat, "long[]")
    val offsRef = ctx.addReferenceObj("offs", offs, "int[]")
    val dimsRef = ctx.addReferenceObj("dims", dims, "int[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.plans.ArgminSqDistLong.compute($a, $flatRef, $offsRef, $dimsRef)")
  }

  // content equality over the arrays so canonicalized plans with equal
  // centroid tables compare equal (exchange/subtree reuse depends on it)
  override def equals(o: Any): Boolean = o match {
    case ArgminSqDistLong(c, fl, of, di) =>
      c == child && java.util.Arrays.equals(fl, flat) &&
        java.util.Arrays.equals(of, offs) && java.util.Arrays.equals(di, dims)
    case _ => false
  }
  override def hashCode(): Int =
    (31 * child.hashCode() + java.util.Arrays.hashCode(flat)) * 31 +
      java.util.Arrays.hashCode(dims)

  override protected def withNewChildInternal(newChild: Expression): ArgminSqDistLong =
    copy(child = newChild)
}

object ArgminSqDistLong {

  /** The index of the centroid nearest to `a` in squared L2, first-wins
    * ties; centroid i is flat[offs_i, offs_i + dims_i). */
  def compute(a: ArrayData, flat: Array[Long], offs: Array[Int], dims: Array[Int]): Int = {
    val len = a.numElements()
    var best = 0
    var bestD = Long.MaxValue
    var i = 0
    while (i < offs.length) {
      val dim = dims(i)
      val off = offs(i)
      val m = math.min(dim, len)
      var d = 0L
      var j = 0
      while (j < m) { val t = a.getLong(j) - flat(off + j); d += t * t; j += 1 }
      while (j < len) { val t = a.getLong(j); d += t * t; j += 1 }
      var jc = m
      while (jc < dim) { val t = flat(off + jc); d += t * t; jc += 1 }
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Build from the driver-side centroid table (index order = table
    * order; the result is the INDEX of the winning centroid). */
  def fromCentroids(child: Expression,
                    centroids: Array[Array[Long]]): ArgminSqDistLong = {
    require(centroids.nonEmpty, "argmin_sqdist_long: empty centroid table")
    val dims = centroids.map(_.length)
    val offs = dims.scanLeft(0)(_ + _).init
    ArgminSqDistLong(child, centroids.flatten, offs, dims)
  }


  /** SQL/`call_function` form: argmin_sqdist_long(w, vecs) with vecs a
    * foldable array<array<bigint>> literal, unpacked at bind time into
    * reference objects (the generated code carries no literals). */
  val builder: Seq[Expression] => Expression = args => {
    require(args.length == 2, "argmin_sqdist_long(w, vecs)")
    val vecsExpr = args(1)
    require(vecsExpr.foldable && vecsExpr.dataType.isInstanceOf[ArrayType],
      "argmin_sqdist_long: vecs must be a foldable array literal")
    val vecsData = vecsExpr.eval().asInstanceOf[ArrayData]
    val vecs = (0 until vecsData.numElements()).map(i =>
      vecsData.getArray(i).toLongArray()).toArray
    fromCentroids(args(0), vecs)
  }
}
