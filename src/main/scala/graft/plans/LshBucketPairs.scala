package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Every id-ordered pair of one LSH bucket, scored in one primitive loop:
  * the rows a self-join of the banded rows on (band, bucket) filtered to
  * `id_a < id_b` would give (`LshBucketPairsSpec` keeps that join as the
  * reference).
  *
  * Input: one bucket's members as `array<struct<id, v, n, bks, carry…>>`,
  * fields read by name:
  *  - `id` (int or bigint, required). A member with a null id emits
  *    nothing, and neither does a pair of equal ids (the join's
  *    `isnotnull` and `id_a < id_b`);
  *  - `v` (`array<float>` or `array<double>`, the element type fixed per
  *    plan) with `n`, its precomputed L2 norm (double), optional. When
  *    present each pair carries `cos` =
  *    [[graft.operators.Similarity.cosineFromNorms]] of
  *    `array_dot_float`/`array_dot`: a sequential double sum over the
  *    common prefix skipping null elements, -1.0 where na·nb = 0, null
  *    for a null vector — the same operations in the same order, so the
  *    same bits;
  *  - `bks` (optional): the band buckets, one packed `bigint` (band i's
  *    `bitsPerBand` bits at [i·b, (i+1)·b)) or an `array<bigint>`. When
  *    present each pair carries `band_collisions`, the number of the
  *    `numBands` bands where both members agree;
  *  - any other field is carried: output `<field>_a`, `<field>_b`.
  *
  * Output: (id_a, id_b, [cos], [band_collisions], <carry>_a, <carry>_b …),
  * one row per member pair — a pair colliding in k buckets is emitted
  * once per bucket, as the join emitted it.
  *
  * Each member's vector is decoded once per bucket into a primitive
  * array, the dot product takes a null-free fast path, and rows are
  * emitted through one reused [[SpecificInternalRow]] that the consuming
  * `GenerateExec` copies before asking for the next. The caller bounds
  * the member count (the banded window cap): this expression holds one
  * bucket in memory.
  */
case class LshBucketPairs(child: Expression, numBands: Int, bitsPerBand: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  override def prettyName: String = "lsh_bucket_pairs"

  private def memberType: Option[StructType] = child.dataType match {
    case ArrayType(st: StructType, _) => Some(st)
    case _ => None
  }
  private def field(name: String): Option[(Int, DataType)] = memberType.flatMap { st =>
    val i = st.fieldNames.indexOf(name)
    if (i < 0) None else Some((i, st.fields(i).dataType))
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"$prettyName: $msg")
    if (memberType.isEmpty) fail(s"needs array<struct<id, …>>, got ${child.dataType.simpleString}")
    else if (!field("id").exists(f => f._2 == LongType || f._2 == IntegerType))
      fail("member field `id` must be int or bigint")
    else if (field("v").isDefined != field("n").isDefined)
      fail("member fields `v` and `n` come together")
    else if (field("v").exists(f => !(f._2 match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      })))
      fail("member field `v` must be array<float> or array<double>")
    else if (field("n").exists(_._2 != DoubleType)) fail("member field `n` must be double")
    else field("bks").map(_._2) match {
      case Some(LongType) if numBands < 1 || bitsPerBand < 1 || numBands * bitsPerBand > 64 =>
        fail(s"a packed `bks` needs 1 <= numBands·bitsPerBand <= 64 (got $numBands, $bitsPerBand)")
      case Some(ArrayType(LongType, _)) if numBands < 1 => fail("`bks` needs numBands >= 1")
      case Some(LongType) | Some(ArrayType(LongType, _)) | None => TypeCheckResult.TypeCheckSuccess
      case Some(t) => fail(s"member field `bks` must be bigint or array<bigint>, got ${t.simpleString}")
    }
  }

  @transient private lazy val st = memberType.get
  @transient private lazy val idIdx = st.fieldIndex("id")
  @transient private lazy val idIsLong = st.fields(idIdx).dataType == LongType
  @transient private lazy val vIdx = field("v").map(_._1).getOrElse(-1)
  @transient private lazy val nIdx = field("n").map(_._1).getOrElse(-1)
  @transient private lazy val vIsFloat = field("v").exists(_._2.asInstanceOf[ArrayType].elementType == FloatType)
  @transient private lazy val bksIdx = field("bks").map(_._1).getOrElse(-1)
  @transient private lazy val bksPacked = field("bks").exists(_._2 == LongType)
  @transient private lazy val carryIdx: Array[Int] = st.fields.indices
    .filterNot(i => Set("id", "v", "n", "bks")(st.fields(i).name)).toArray

  override def elementSchema: StructType = memberType match {
    case None => new StructType()
    case Some(_) =>
      val idT = st.fields(idIdx).dataType
      StructType(Seq(StructField("id_a", idT, nullable = false),
          StructField("id_b", idT, nullable = false)) ++
        (if (vIdx >= 0) Seq(StructField("cos", DoubleType)) else Nil) ++
        (if (bksIdx >= 0) Seq(StructField("band_collisions", IntegerType, nullable = false)) else Nil) ++
        carryIdx.toSeq.flatMap { i =>
          val f = st.fields(i)
          Seq(StructField(f.name + "_a", f.dataType), StructField(f.name + "_b", f.dataType))
        })
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val members = child.eval(input).asInstanceOf[ArrayData]
    if (members == null) Iterator.empty else pairs(members)
  }

  /** One bucket decoded into primitive columns, then its pairs lazily. */
  private def pairs(members: ArrayData): Iterator[InternalRow] = {
    val nf = st.length
    val total = members.numElements()
    val rows = new Array[InternalRow](total)
    var m = 0
    var i = 0
    while (i < total) {
      if (!members.isNullAt(i)) {
        val r = members.getStruct(i, nf)
        if (!r.isNullAt(idIdx)) { rows(m) = r; m += 1 }
      }
      i += 1
    }
    if (m < 2) return Iterator.empty
    val ids = new Array[Long](m)
    val vecs = if (vIdx >= 0) new Array[Array[Double]](m) else null
    val nulls = if (vIdx >= 0) new Array[Array[Boolean]](m) else null
    val norms = if (vIdx >= 0) new Array[Double](m) else null
    val packed = if (bksIdx >= 0 && bksPacked) new Array[Long](m) else null
    i = 0
    while (i < m) {
      val r = rows(i)
      ids(i) = if (idIsLong) r.getLong(idIdx) else r.getInt(idIdx).toLong
      if (vIdx >= 0 && !r.isNullAt(vIdx) && !r.isNullAt(nIdx)) {
        val a = r.getArray(vIdx)
        val len = a.numElements()
        val x = new Array[Double](len)
        var nl: Array[Boolean] = null
        var j = 0
        while (j < len) {
          if (a.isNullAt(j)) {
            if (nl == null) nl = new Array[Boolean](len)
            nl(j) = true
          } else x(j) = if (vIsFloat) a.getFloat(j).toDouble else a.getDouble(j)
          j += 1
        }
        vecs(i) = x; nulls(i) = nl; norms(i) = r.getDouble(nIdx)
      }
      if (packed != null && !r.isNullAt(bksIdx)) packed(i) = r.getLong(bksIdx)
      i += 1
    }
    // a null bucket word or element agrees with nothing (the join's
    // `when(a = b, 1)` on a null comparison)
    def collisions(a: Int, b: Int): Int =
      if (rows(a).isNullAt(bksIdx) || rows(b).isNullAt(bksIdx)) 0
      else if (packed != null)
        LshBucketPairs.packedCollisions(packed(a), packed(b), numBands, bitsPerBand)
      else LshBucketPairs.collisions(rows(a).getArray(bksIdx), rows(b).getArray(bksIdx), numBands)

    val out = new SpecificInternalRow(elementSchema.fields.map(_.dataType).toIndexedSeq)
    val cosAt = 2
    val bcAt = if (vIdx >= 0) 3 else 2
    val carryAt = bcAt + (if (bksIdx >= 0) 1 else 0)
    val carryGet = carryIdx.map(c => InternalRow.getAccessor(st.fields(c).dataType, nullable = false))
    val carrySet = carryIdx.indices.flatMap { k =>
      val t = st.fields(carryIdx(k)).dataType
      Seq(InternalRow.getWriter(carryAt + 2 * k, t), InternalRow.getWriter(carryAt + 2 * k + 1, t))
    }.toArray
    def setId(at: Int, id: Long): Unit =
      if (idIsLong) out.setLong(at, id) else out.setInt(at, id.toInt)
    def setCarry(k: Int, side: Int, r: InternalRow): Unit = {
      val c = carryIdx(k)
      if (r.isNullAt(c)) out.setNullAt(carryAt + 2 * k + side)
      else carrySet(2 * k + side)(out, carryGet(k)(r, c))
    }

    new Iterator[InternalRow] {
      // the next member pair (p, q), p < q, to emit
      private var p = 0
      private var q = 1
      private def advance(): Unit =
        while (p < m - 1 && (q >= m || ids(p) == ids(q))) {
          if (q >= m) { p += 1; q = p + 1 } else q += 1
        }
      advance()
      override def hasNext: Boolean = p < m - 1 && q < m
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val lo = ids(p) < ids(q)
        val a = if (lo) p else q
        val b = if (lo) q else p
        setId(0, ids(a)); setId(1, ids(b))
        if (vIdx >= 0) {
          if (vecs(a) == null || vecs(b) == null) out.setNullAt(cosAt)
          else out.setDouble(cosAt,
            LshBucketPairs.cosine(vecs(a), nulls(a), norms(a), vecs(b), nulls(b), norms(b)))
        }
        if (bksIdx >= 0) out.setInt(bcAt, collisions(a, b))
        var k = 0
        while (k < carryIdx.length) {
          setCarry(k, 0, rows(a)); setCarry(k, 1, rows(b))
          k += 1
        }
        q += 1
        advance()
        out
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketPairs =
    copy(child = newChild)
}

object LshBucketPairs {
  /** lsh_bucket_pairs(members, numBands, bitsPerBand); the band geometry
    * is read only to count the collisions of a packed `bks`. */
  val builder: Seq[Expression] => Expression = args => {
    require(args.length == 3, "lsh_bucket_pairs(members, numBands, bitsPerBand)")
    def foldInt(e: Expression, what: String): Int = {
      require(e.foldable, s"lsh_bucket_pairs: $what must be a literal")
      e.eval().asInstanceOf[Number].intValue()
    }
    LshBucketPairs(args(0), foldInt(args(1), "numBands"), foldInt(args(2), "bitsPerBand"))
  }

  /** `array_dot(_float)` over decoded vectors: the common prefix, null
    * elements (marked in `na`/`nb`, null when the vector has none)
    * skipped, accumulated in order. */
  def dot(a: Array[Double], na: Array[Boolean], b: Array[Double], nb: Array[Boolean]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    if (na == null && nb == null) {
      while (i < n) { s += a(i) * b(i); i += 1 }
    } else {
      while (i < n) {
        if ((na == null || !na(i)) && (nb == null || !nb(i))) s += a(i) * b(i)
        i += 1
      }
    }
    s
  }

  /** `Similarity.cosineFromNorms(dot(a, b), normA, normB)`. */
  def cosine(a: Array[Double], na: Array[Boolean], normA: Double,
             b: Array[Double], nb: Array[Boolean], normB: Double): Double = {
    val denom = normA * normB
    if (denom == 0.0) -1.0 else dot(a, na, b, nb) / denom
  }

  /** Bands where two packed bucket words agree. */
  def packedCollisions(a: Long, b: Long, numBands: Int, bitsPerBand: Int): Int = {
    val mask = (1L << bitsPerBand) - 1L
    var c = 0
    var i = 0
    while (i < numBands) {
      if (((a >>> (i * bitsPerBand)) & mask) == ((b >>> (i * bitsPerBand)) & mask)) c += 1
      i += 1
    }
    c
  }

  /** Bands where two bucket arrays agree (a null element agrees with
    * nothing). */
  def collisions(a: ArrayData, b: ArrayData, numBands: Int): Int = {
    val n = math.min(numBands, math.min(a.numElements(), b.numElements()))
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}
