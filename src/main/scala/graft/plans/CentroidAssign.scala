package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Nearest-centroid assignment of an `array<double>` vector: argmax over
  * centroids of dot(v, c_i)·invNorm_i, first-wins ties, sequential
  * accumulation — VALUE-IDENTICAL to the closure UDF it replaces
  * (`Similarity.assignToCentroids`'s old form): same op order, same
  * multiply-by-inverse, same strict-> comparison, so k-means iterations
  * and the IVF probe assign identically.
  *
  * The centroid table rides along as runtime REFERENCE objects
  * (ctx.addReferenceObj), not source literals — the generated code is
  * byte-identical across centroid values, so k-means iterations with
  * fresh centroids hit the codegen cache instead of recompiling (the
  * concern that originally justified the UDF). Last ScalaUDF removed
  * from the similarity hot paths (SURVEY §7.3 preference order).
  */
case class CentroidAssign(child: Expression, cids: Array[Int],
                          flat: Array[Double], offs: Array[Int],
                          dims: Array[Int], invNorms: Array[Double])
  extends UnaryExpression with ExpectsInputTypes {

  require(cids.nonEmpty && cids.length == offs.length &&
    cids.length == dims.length && cids.length == invNorms.length,
    "centroid_assign: malformed centroid table")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "centroid_assign"

  override def nullSafeEval(v: Any): Any =
    CentroidAssign.compute(v.asInstanceOf[ArrayData], cids, flat, offs, dims, invNorms)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cids, "int[]")
    val flatRef = ctx.addReferenceObj("flat", flat, "double[]")
    val offsRef = ctx.addReferenceObj("offs", offs, "int[]")
    val dimsRef = ctx.addReferenceObj("dims", dims, "int[]")
    val invRef = ctx.addReferenceObj("invNorms", invNorms, "double[]")
    defineCodeGen(ctx, ev, a => s"graft.plans.CentroidAssign.compute(" +
      s"$a, $cidsRef, $flatRef, $offsRef, $dimsRef, $invRef)")
  }

  // content equality over the arrays so canonicalized plans with equal
  // centroid tables compare equal (exchange/subtree reuse depends on it)
  override def equals(o: Any): Boolean = o match {
    case CentroidAssign(c, ci, fl, of, di, in) =>
      c == child && java.util.Arrays.equals(ci, cids) &&
        java.util.Arrays.equals(fl, flat) && java.util.Arrays.equals(of, offs) &&
        java.util.Arrays.equals(di, dims) && java.util.Arrays.equals(in, invNorms)
    case _ => false
  }
  override def hashCode(): Int =
    (31 * child.hashCode() + java.util.Arrays.hashCode(flat)) * 31 +
      java.util.Arrays.hashCode(cids)

  override protected def withNewChildInternal(newChild: Expression): CentroidAssign =
    copy(child = newChild)
}

object CentroidAssign {

  /** The id of the centroid with the largest dot(a, c_i)·invNorms_i,
    * first-wins ties; centroid i is flat[offs_i, offs_i + dims_i). */
  def compute(a: ArrayData, cids: Array[Int], flat: Array[Double], offs: Array[Int],
              dims: Array[Int], invNorms: Array[Double]): Int = {
    val len = a.numElements()
    var best = Int.MinValue
    var bestS = Double.NegativeInfinity
    var i = 0
    while (i < cids.length) {
      val n = math.min(dims(i), len)
      val off = offs(i)
      var s = 0.0
      var j = 0
      while (j < n) { s += a.getDouble(j) * flat(off + j); j += 1 }
      s *= invNorms(i)
      if (s > bestS) { bestS = s; best = cids(i) }
      i += 1
    }
    best
  }

  /** Build from the driver-side centroid table. */
  def fromCentroids(child: Expression,
                    centroids: Array[(Int, Array[Double])]): CentroidAssign = {
    require(centroids.nonEmpty, "centroid_assign: empty centroid table")
    val cids = centroids.map(_._1)
    val dims = centroids.map(_._2.length)
    val offs = dims.scanLeft(0)(_ + _).init
    val flat = centroids.flatMap(_._2)
    val invNorms = centroids.map { case (_, cv) =>
      val s = math.sqrt(cv.map(x => x * x).sum); if (s == 0) 1.0 else 1.0 / s
    }
    CentroidAssign(child, cids, flat, offs, dims, invNorms)
  }


  /** SQL/`call_function` form: centroid_assign(v, cids, vecs) with cids a
    * foldable array<int> literal and vecs a foldable array<array<double>>
    * literal, unpacked at bind time. */
  val builder: Seq[Expression] => Expression = args => {
    require(args.length == 3, "centroid_assign(v, cids, vecs)")
    def folded(e: Expression, what: String): ArrayData = {
      require(e.foldable && e.dataType.isInstanceOf[ArrayType],
        s"centroid_assign: $what must be a foldable array literal")
      e.eval().asInstanceOf[ArrayData]
    }
    val cids = folded(args(1), "cids").toIntArray()
    val vecsData = folded(args(2), "vecs")
    val vecs = (0 until vecsData.numElements()).map(i =>
      vecsData.getArray(i).toDoubleArray()).toArray
    require(cids.length == vecs.length,
      "centroid_assign: cids and vecs must have equal length")
    fromCentroids(args(0), cids.zip(vecs))
  }
}
