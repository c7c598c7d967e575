package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class WordGramHashesSpec extends SparkSpec {
  import spark.implicits._

  /** Reference computation: hash each token, combine each window with
    * the same rolling polynomial — written WITHOUT the rolling update so
    * a drop-term bug in the O(1) update would diverge from it. */
  private def reference(tokens: Seq[String], n: Int): Seq[Long] = {
    if (n <= 0 || tokens.length < n) return Seq.empty
    val th = tokens.map(t => WordGramHashes.fnv64(UTF8String.fromString(t)))
    (0 to tokens.length - n).map { i =>
      th.slice(i, i + n).foldLeft(0L)((h, x) => h * WordGramHashes.P + x)
    }
  }

  test("rolling hashes match the direct polynomial on random tokens") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(100)(Seq.fill(rnd.nextInt(20))(
      rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString))
    val got = rows.toDF("w")
      .select(call_function("word_gram_hashes", col("w"), lit(3)))
      .collect().map(_.getSeq[Long](0))
    rows.zip(got).foreach { case (toks, g) =>
      assert(g == reference(toks, 3), s"tokens=$toks")
    }
  }

  test("multi-byte UTF-8 tokens hash over their full byte sequence") {
    // fnv64 walks numBytes() of the UTF8String — multi-byte code points
    // (2-4 bytes) must round-trip identically between the interpreted
    // reference and the expression, and distinct tokens must not
    // collide by byte-prefix truncation
    val toks = Seq("héllo", "héllö", "日本語", "日本", "🙂🙃", "a")
    val got = Seq(toks).toDF("w")
      .select(call_function("word_gram_hashes", col("w"), lit(2)))
      .head().getSeq[Long](0)
    assert(got == reference(toks, 2))
    assert(got.distinct.length == got.length) // neighboring grams all differ
  }

  test("short inputs and degenerate n yield empty arrays") {
    val df = Seq(Seq("a", "b"), Seq.empty[String]).toDF("w")
    assert(df.select(call_function("word_gram_hashes", col("w"), lit(3)))
      .collect().forall(_.getSeq[Long](0).isEmpty))
    assert(Seq(Seq("a", "b")).toDF("w")
      .select(call_function("word_gram_hashes", col("w"), lit(0)))
      .head().getSeq[Long](0).isEmpty)
  }

  test("distinct grams collide iff the token windows are equal") {
    val out = Seq(Seq("x", "y", "x", "y", "x")).toDF("w")
      .select(array_distinct(call_function("word_gram_hashes", col("w"), lit(2))))
      .head().getSeq[Long](0)
    // windows: (x,y), (y,x), (x,y), (y,x) → 2 distinct
    assert(out.length == 2)
  }

  test("null tokens hash as the empty string in both paths (no NPE)") {
    // ADVICE r4 (5694f23:ADVICE.md): ArrayType(StringType) admits containsNull, so SQL
    // callers can pass array('a', NULL) — both eval and codegen must
    // treat the null token as the empty string instead of crashing
    val expected = {
      val th = Seq(WordGramHashes.fnv64(UTF8String.fromString("a")),
        WordGramHashes.EmptyHash,
        WordGramHashes.fnv64(UTF8String.fromString("b")))
      th.sliding(2).map(_.foldLeft(0L)((h, x) => h * WordGramHashes.P + x)).toSeq
    }
    val viaSql = spark.sql(
      "SELECT word_gram_hashes(array('a', CAST(NULL AS STRING), 'b'), 2) AS g")
      .head().getSeq[Long](0)
    assert(viaSql == expected)
    val viaCodegen = withCodegenOnly {
      // non-foldable first element (column ref) so constant folding
      // cannot collapse the call before the codegen stage runs
      Seq("a").toDF("t")
        .select(call_function("word_gram_hashes",
          array(col("t"), lit(null).cast("string"), lit("b")), lit(2)).as("g"))
        .head().getSeq[Long](0)
    }
    assert(viaCodegen == expected)
  }

  test("codegen and interpreted paths agree") {
    // compile-or-fail coverage lives in CodegenContractSpec; here the
    // generated code's VALUES are checked against the interpreted eval
    // on a real codegen stage
    val viaCodegen = withCodegenOnly {
      spark.range(50).select(
        array(concat(lit("t"), col("id").cast("string")),
          lit("a"), lit("b"), lit("c")).as("w"))
        .select(call_function("word_gram_hashes", col("w"), lit(2)).as("g"))
        .collect().map(_.getSeq[Long](0)).toSeq
    }
    val viaEval = (0 until 50).map(i =>
      reference(Seq(s"t$i", "a", "b", "c"), 2))
    assert(viaCodegen == viaEval)
  }
}
