package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Every custom codegen Expression must actually COMPILE in whole-stage
  * codegen: Spark's default is to catch generated-code compile errors
  * and silently fall back to interpreted execution, so a doGenCode bug
  * costs a plan-wide codegen fence in production while every ordinary
  * test stays green. This spec disables the fallback and executes each
  * expression against a known answer.
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
}
