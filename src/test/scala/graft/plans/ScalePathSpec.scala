package graft.plans

import graft.SparkSpec

/** Plan contract for the scale-path dedup/similarity queries: none of
  * them may run a BroadcastNestedLoopJoin or CartesianProduct — their
  * entire point is replacing the quadratic product with a key shuffle.
  * Each query is run, and its AQE-final plan is read from the same
  * QueryExecution (AQE may re-plan a join after the first stages).
  * (The deliberate exact baselines — dedup_fuzzy_names,
  * dedup_embedding_cosine, dedup_ngram_jaccard — are NOT in this list;
  * each has a scale-path twin that is.)
  */
class ScalePathSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private val scalePaths = Seq(
    "dedup_exact", "dedup_minhash_pairs", "dedup_prefix_filter",
    "dedup_simhash", "dedup_fuzzy_names_blocked",
    "dedup_embedding_cosine_lsh", "sim_lsh_ann",
    "dedup_components", "pipeline_end2end",
    // auto range-join planning: written as PLAIN inequality joins, the
    // optimizer rule must supply the bucketed shape with no conf set
    "join_interval_overlap", "join_range_autoplan")

  for (name <- scalePaths) {
    test(s"$name plans without BNLJ or cartesian product") {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val quadratic = finalNodes(plan).map(_.nodeName)
        .filter(n => n == "BroadcastNestedLoopJoin" || n == "CartesianProduct")
      assert(quadratic.isEmpty, s"$name ran ${quadratic.mkString(", ")}:\n$plan")
    }
  }
}
