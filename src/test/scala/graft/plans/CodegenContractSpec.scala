package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every custom codegen Expression must actually COMPILE in whole-stage
  * codegen: Spark's default is to catch generated-code compile errors
  * and silently fall back to interpreted execution, so a doGenCode bug
  * costs a plan-wide codegen fence in production while every ordinary
  * test stays green. This spec disables the fallback and executes each
  * expression against a known answer, and requires each kernel's
  * interpreted path (`Expression.eval`) to return bit-equal results to
  * its generated code on the same edge-case inputs.
  */
class CodegenContractSpec extends SparkSpec {
  import spark.implicits._

  // spark.range keeps the stage a real codegen stage (literal relations
  // constant-fold to LocalTableScan and prove nothing)
  test("array_dot compiles and evaluates") { withCodegenOnly {
    val out = spark.range(20)
      .select(call_function("array_dot",
        array(col("id").cast("double"), lit(2.0)),
        array(lit(3.0), col("id").cast("double"))).as("d"))
      .collect().map(_.getDouble(0))
    assert(out.zipWithIndex.forall { case (d, i) => d == 3.0 * i + 2.0 * i })
  }}

  test("array_dot_float compiles and equals dot-after-cast bit-for-bit") {
    withCodegenOnly {
      // float→double widening is exact, so the float kernel must produce
      // the IDENTICAL double as casting the arrays first — the contract
      // that lets LSH vectors ride the banded exchange un-widened (r12)
      val df = spark.range(50).select(
        array((0 until 7).map(i =>
          (sin(col("id") * (i + 1)) * 1.37f).cast("float")): _*).as("v"))
      val out = df.select(
        call_function("array_dot_float", col("v"), col("v")).as("f"),
        call_function("array_dot", col("v").cast("array<double>"),
          col("v").cast("array<double>")).as("d"))
        .collect()
      assert(out.forall(r => r.getDouble(0) == r.getDouble(1)))
    }
  }

  test("array_dot_float null elements and ragged lengths match the double kernel") {
    withCodegenOnly {
      // contract parity with ArrayDot: null elements contribute 0, ragged
      // lengths dot the common prefix — the float kernel must not diverge
      // first element rides the id column so the arrays cannot
      // constant-fold away from the codegen stage
      val df = spark.range(1).select(
        call_function("array_dot_float",
          array((col("id") + 2).cast("float"), lit(null).cast("float"),
            lit(3.0f)),
          array(lit(4.0f), lit(5.0f), lit(6.0f), lit(7.0f))).as("f"),
        call_function("array_dot",
          array((col("id") + 2).cast("double"), lit(null).cast("double"),
            lit(3.0)),
          array(lit(4.0), lit(5.0), lit(6.0), lit(7.0))).as("d"))
      val r = df.collect().head
      assert(r.getDouble(0) == 26.0 && r.getDouble(1) == 26.0)
    }
  }

  test("levenshtein_within compiles and evaluates") { withCodegenOnly {
    val out = spark.range(20)
      .select(call_function("levenshtein_within",
        concat(lit("abc"), col("id").cast("string")),
        concat(lit("abd"), col("id").cast("string")), lit(1)).as("b"))
      .collect().map(_.getBoolean(0))
    assert(out.forall(identity)) // one substitution → within 1
  }}

  test("jaccard_sorted compiles and evaluates") { withCodegenOnly {
    val out = spark.range(20)
      .select(call_function("jaccard_sorted",
        array(col("id"), col("id") + 1),
        array(col("id") + 1, col("id") + 2)).as("j"))
      .collect().map(_.getDouble(0))
    assert(out.forall(_ == 1.0 / 3.0))
  }}

  test("bucket_index compiles and evaluates") { withCodegenOnly {
    val out = spark.range(20)
      .select(call_function("bucket_index",
        col("id").cast("double"), array(lit(5.0), lit(10.0), lit(15.0))).as("b"))
      .collect().map(_.getLong(0))
    // boundaries [5,10,15): ids 0..4 → 0, 5..9 → 1, 10..14 → 2, 15+ → 3
    assert(out.toSeq == (0 until 20).map(i => ((i / 5) min 3).toLong))
  }}

  test("sign_lsh_buckets compiles and evaluates") { withCodegenOnly {
    // 1 band × 2 bits, planes (+1,+1) and (+1,-1) over dim 2: for
    // v = (i, 1): bit0 = sign(1000i + 1000) = 1 (always), bit1 =
    // sign(1000i - 1000) = 1 iff i >= 1 → bucket 1 for i=0, 3 otherwise
    val out = spark.range(20)
      .select(call_function("sign_lsh_buckets",
        array(col("id").cast("double"), lit(1.0)),
        array(lit(1.0), lit(1.0), lit(1.0), lit(-1.0)),
        lit(1), lit(2)).as("b"))
      .collect().map(_.getSeq[Long](0))
    assert(out.forall(_.length == 1))
    assert(out.map(_.head).toSeq == (0 until 20).map(i => if (i == 0) 1L else 3L))
  }}

  test("word_gram_hashes compiles and evaluates") { withCodegenOnly {
    val out = spark.range(20)
      .select(call_function("word_gram_hashes",
        array(col("id").cast("string"), lit("a"), lit("b")), lit(2)).as("g"))
      .collect().map(_.getSeq[Long](0))
    assert(out.forall(_.length == 2))
    assert(out.map(_.last).distinct.length == 1) // shared ("a","b") gram
  }}

  // ---- interpreted ≡ generated, every scalar kernel in plans/ ----

  /** Bit-level view of a result: doubles by their (NaN-canonical) bits,
    * so 0.0 vs -0.0 and NaN placement count as differences. */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case o => o
  }

  /** Evaluates `name(args(columns))` over `rows` two ways and requires
    * bit-equal results: `Expression.eval` on InternalRows (the
    * UnsafeRows the scan hands the codegen stage, and their generic
    * form) against a whole-stage-codegen stage with the fallback off.
    * The rows come from an RDD so the projection cannot fold into a
    * local relation and run interpreted. */
  private def parity(name: String, schema: StructType, rows: Seq[Row])(
      args: Seq[Column] => Seq[Column]): Unit = withCodegenOnly {
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val df = in.select(call_function(name, args(schema.fieldNames.toSeq.map(col)): _*).as("r"))
    val generated = df.collect().map(r => bits(r.get(0))).toSeq
    val stages = finalNodes(df.queryExecution.executedPlan).collect {
      case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.child.exists(_.expressions.exists(_.exists(_.prettyName == name)))),
      s"$name did not run in a whole-stage codegen stage:\n${df.queryExecution.executedPlan}")
    val Project(Seq(Alias(kernel, _)), child) = df.queryExecution.analyzed
    val bound = BindReferences.bindReference(kernel, child.output)
    def eval(r: InternalRow) = bits(CatalystTypeConverters.convertToScala(bound.eval(r), kernel.dataType))
    val unsafeRows = in.queryExecution.toRdd.map(_.copy()).collect().toSeq
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val genericRows = rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])
    for ((rowsOf, what) <- Seq((unsafeRows, "UnsafeRow"), (genericRows, "generic row"))) {
      val interpreted = rowsOf.map(eval)
      rows.indices.foreach { i =>
        assert(interpreted(i) == generated(i),
          s"$name on ${rows(i)} ($what): interpreted ${interpreted(i)} vs generated ${generated(i)}")
      }
    }
  }

  private def schemaOf(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  private val cols: Seq[Column] => Seq[Column] = identity

  private val doubleVecs = Seq[Seq[Any]](
    Seq(1.0, null, 3.0), Seq(4.0, 5.0, 6.0, 7.0, 8.0), Seq(), Seq(2.5),
    Seq(Double.NaN, 1.0, 2.0), Seq(-0.0, 0.0, -0.0), Seq(0.1, 0.2, 0.3),
    Seq(1e308, 1e308, -3.0), Seq(Double.PositiveInfinity, -1.0, 0.5),
    Seq(-0.0004, 0.0005, -1.2345, 9.9996), Seq(0.5, Double.NaN, Double.NegativeInfinity))
  private val longVecs = Seq[Seq[Any]](
    Seq(1L, 2L, 3L), Seq(2L, 3L, 4L, 5L, 6L), Seq(), Seq(7L), Seq(1L, null, 3L),
    Seq(0L, 0L, 0L), Seq(3L, 1L, 2L), Seq(Long.MinValue, -1L, Long.MaxValue),
    Seq(-5L, 5L))

  private def pairs[A](xs: Seq[A]): Seq[Row] =
    (for (a <- xs; b <- xs) yield Row(a, b)) ++ Seq(Row(null, xs.head), Row(xs.head, null))

  test("parity: array_dot and array_dot_float") {
    parity("array_dot", schemaOf("a" -> ArrayType(DoubleType), "b" -> ArrayType(DoubleType)),
      pairs(doubleVecs))(cols)
    val floatVecs = doubleVecs.map(_.map {
      case d: Double => d.toFloat
      case o => o
    })
    parity("array_dot_float", schemaOf("a" -> ArrayType(FloatType), "b" -> ArrayType(FloatType)),
      pairs(floatVecs))(cols)
  }

  test("parity: jaccard_sorted") {
    parity("jaccard_sorted", schemaOf("a" -> ArrayType(LongType), "b" -> ArrayType(LongType)),
      pairs(longVecs))(cols)
  }

  test("parity: bucket_index") {
    val xs = Seq[Any](Double.NegativeInfinity, -1.0, -0.0, 0.0, 0.5, 5.0, 7.0,
      10.0, 15.0, 99.0, Double.PositiveInfinity, Double.NaN, null)
    parity("bucket_index", schemaOf("x" -> DoubleType), xs.map(Row(_)))(c =>
      Seq(c.head, array(lit(0.0), lit(5.0), lit(5.0), lit(10.0), lit(15.0))))
  }

  test("parity: sign_lsh_buckets (vectors shorter and longer than the planes)") {
    // 2 bands x 2 bits over dimension 3
    val signs = Seq(1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0)
    parity("sign_lsh_buckets", schemaOf("v" -> ArrayType(DoubleType)),
      (doubleVecs :+ null).map(Row(_)))(c =>
      Seq(c.head, array(signs.map(lit): _*), lit(2), lit(2)))
  }

  test("parity: centroid_assign (vectors shorter and longer than the centroids)") {
    parity("centroid_assign", schemaOf("v" -> ArrayType(DoubleType)),
      (doubleVecs :+ null).map(Row(_)))(c =>
      Seq(c.head, array(lit(7), lit(3), lit(5)),
        array(array(lit(1.0), lit(0.0)), array(lit(0.0), lit(1.0), lit(0.0)),
          array(lit(-1.0), lit(-1.0), lit(1.0), lit(0.5)))))
  }

  test("parity: argmin_sqdist_long (vectors shorter and longer than the centroids)") {
    parity("argmin_sqdist_long", schemaOf("v" -> ArrayType(LongType)),
      (longVecs :+ null).map(Row(_)))(c =>
      Seq(c.head, array(array(lit(1L), lit(2L)), array(lit(0L), lit(0L), lit(0L)),
        array(lit(5L)), array(lit(2L), lit(3L), lit(4L), lit(5L)))))
  }

  test("parity: fast_round (ties, |y| >= 2^52, scales -1/0/2/22/23)") {
    val xs = Seq[Any](1.005, 2.675, -2.675, 0.5, 1.5, 2.5, -0.5, -0.004, 123.456,
      0.125, 4.503599627370496e15, 4.6e15, 1e14, -1e16, 1e300, -1e-300,
      Double.MinPositiveValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, -0.0, 15.0, 25.0, null)
    for (s <- Seq(-1, 0, 2, 22, 23))
      parity("fast_round", schemaOf("x" -> DoubleType), xs.map(Row(_)))(c =>
        Seq(c.head, lit(s)))
  }

  test("parity: word_gram_hashes and gram_roll_hashes (n <= 0, n > length)") {
    val toks = Seq[Seq[Any]](Seq("a", "b", "c", "d"), Seq("a", null, "c"), Seq(),
      Seq("x"), Seq("\u00c9cole", "b", "", "b"))
    val ns = Seq[Any](-1, 0, 1, 2, 3, 5, null)
    parity("word_gram_hashes", schemaOf("t" -> ArrayType(StringType), "n" -> IntegerType),
      (for (t <- toks :+ null; n <- ns) yield Row(t, n)))(cols)
    parity("gram_roll_hashes", schemaOf("h" -> ArrayType(LongType), "n" -> IntegerType),
      (for (h <- longVecs :+ null; n <- ns) yield Row(h, n)))(cols)
  }

  test("parity: the string kernels") {
    val texts = Seq[Any]("", "  ", "the cat sat on the mat", "Hello  World\tX",
      "\u00c9COLE \u00e9cole", "a\u000bb c", "one", "a b a", null)
    parity("ws_token_hashes", schemaOf("s" -> StringType), texts.map(Row(_)))(cols)
    parity("hashed_shingles", schemaOf("s" -> StringType, "n" -> IntegerType),
      for (s <- texts; n <- Seq(1, 2, 4)) yield Row(s, n))(cols)
    parity("delete_neighborhood_hashes", schemaOf("s" -> StringType, "k" -> IntegerType),
      for (s <- texts; k <- Seq(0, 1, 2, 3)) yield Row(s, k))(cols)
    parity("space_term_counts", schemaOf("s" -> StringType, "q" -> ArrayType(StringType)),
      for (s <- texts; q <- Seq(Seq("a", "b"), Seq("the", ""), Seq())) yield Row(s, q))(cols)
    parity("levenshtein_within",
      schemaOf("a" -> StringType, "b" -> StringType, "k" -> IntegerType),
      Seq(Row("kitten", "sitting", 3), Row("kitten", "sitting", 2), Row("", "", 0),
        Row("a", "", -1), Row("\u00e9", "e", 1), Row("abc", "abd", 1),
        Row("abc", null, 1), Row("", "abc", 3)))(cols)
  }

  test("parity: minhash_band_buckets") {
    parity("minhash_band_buckets",
      schemaOf("h" -> ArrayType(LongType), "nh" -> IntegerType, "nb" -> IntegerType),
      for (h <- longVecs :+ null; (nh, nb) <- Seq((8, 4), (6, 3), (4, 4))) yield Row(h, nh, nb))(cols)
  }
}
