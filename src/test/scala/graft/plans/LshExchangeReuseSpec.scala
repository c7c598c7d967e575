package graft.plans

import graft.SparkSpec

/** Runtime proof of the single-pass banding designs: every consumer of
  * the banded rows (the window skew cap, the bucket-pair kernel or a
  * self-join's two sides) reads ONE materialized shuffle of them. The
  * static plan cannot show this — AQE performs exchange reuse while
  * materializing query stages — so the contract is asserted on the
  * FINAL adaptive plan after execution.
  */
class LshExchangeReuseSpec extends SparkSpec {

  private def finalPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    df.collect()
    // AdaptiveSparkPlanExec prints "== Final Plan ==" then
    // "== Initial Plan ==" — only the final section reflects what ran
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("cosine-LSH pairs come from lsh_bucket_pairs on one banded exchange") {
    val plan = finalPlan("dedup_embedding_cosine_lsh")
    // the banding subtree (explode of the kernel output) materialized once
    val explodes = "posexplode".r.findAllIn(plan).size
    assert(explodes == 1,
      s"banded subtree executed $explodes times (want 1):\n$plan")
    // the banding kernel is the codegen sign_lsh_buckets expression — a
    // ScalaUDF anywhere in this plan means the hot map stage regressed
    // to boxed per-row interpretation (round-4 verdict finding #1)
    assert(!plan.contains("UDF") && plan.contains("sign_lsh_buckets"),
      s"banding stage is not the codegen kernel:\n$plan")
    // each bucket's pairs come from the pair kernel, not a self-join
    assert(plan.contains("lsh_bucket_pairs") && !plan.contains("SortMergeJoin"),
      s"bucket pairs are not generated by lsh_bucket_pairs:\n$plan")
    // vectors ride the banded exchange UN-WIDENED as array<float>: the
    // cast to double feeds the banding kernel below the exchange only
    val lines = plan.split("\n")
    val banded = lines.indexWhere(_.contains("Exchange hashpartitioning(band"))
    assert(banded > 0, s"no banded exchange:\n$plan")
    assert(!lines.take(banded).exists(_.contains("array<double>")),
      s"a double-array vector is carried above the banded exchange:\n$plan")
  }

  test("minhash band join reuses the banded exchange at runtime") {
    val plan = finalPlan("dedup_minhash_pairs")
    assert(plan.contains("ReusedExchange"),
      s"expected the second join side to reuse the banded shuffle:\n$plan")
    val explodes = "posexplode".r.findAllIn(plan).size
    assert(explodes == 1,
      s"banded subtree executed $explodes times (want 1):\n$plan")
  }

  test("bigram LM scale form derives V from the reused pair exchange (one corpus scan)") {
    // r11: with vocabFromPairs=true (the 100 TB form; the local default
    // keeps the shadowed second scan, measured faster here) the
    // vocabulary count is a second consumer of the same explicit
    // repartition(__a) exchange the c1/c2 windows sit on; the
    // prune-guard conditional keeps both consumers' subtrees
    // canonically identical so ReuseExchange fires and the corpus is
    // scanned + exploded exactly once
    val df = graft.operators.TextAnalysis.bigramLmScores(
      graft.Engine.table(spark, "/root/testdata/sf0.001", "documents"),
      "doc_id", "text", alpha = 0.1, vocabFromPairs = true)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("ReusedExchange"),
      s"expected the vocab branch to reuse the pair shuffle:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1,
      s"corpus scanned $scans times in the final plan (want 1):\n$plan")
    // and the two formulations compute the identical result
    val viaScan = graft.operators.TextAnalysis.bigramLmScores(
      graft.Engine.table(spark, "/root/testdata/sf0.001", "documents"),
      "doc_id", "text", alpha = 0.1)
    assert(df.collect().map(_.toString).sorted.toSeq ==
      viaScan.collect().map(_.toString).sorted.toSeq)
  }
}
