package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def points = (1 to 500).map(i => (i.toLong, i * 0.37)).toDF("pid", "x")
  private def ranges = (1 to 60).map(i => (i.toLong, i * 2.0, i * 2.0 + 7.0)).toDF("rid", "lo", "hi")

  private def bandJoin() = points.join(ranges,
    col("x") > col("lo") && col("x") <= col("hi"))

  test("rule rewrites a pure band join to a bucketed equi-join") {
    val baseline = bandJoin().select("pid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "8.0")
    try {
      val rewritten = bandJoin()
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("__graft_pbucket") || plan.contains("hashpartitioning") ||
        plan.contains("BroadcastHashJoin"), plan)
      val got = rewritten.select("pid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == baseline)
      assert(got.nonEmpty)
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("rule bails out on non-numeric band columns (no silent wrong results)") {
    // string band: Cast(_, Double) would be null on both bucket keys and
    // the equi-join would silently drop every match — rule must not fire
    val sPoints = Seq(("p1", "m"), ("p2", "c")).toDF("pid", "s")
    val sRanges = Seq(("r1", "a", "f"), ("r2", "k", "z")).toDF("rid", "slo", "shi")
    val j = () => sPoints.join(sRanges, col("s") > col("slo") && col("s") <= col("shi"))
    val baseline = j().select("pid", "rid").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(baseline == Set("p1" -> "r2", "p2" -> "r1"))
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "8.0")
    try {
      val got = j()
      assert(!got.queryExecution.optimizedPlan.toString.contains("__graft_pbucket"))
      assert(got.select("pid", "rid").collect().map(r => (r.getString(0), r.getString(1))).toSet == baseline)
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("inverted intervals (hi < lo) match nothing instead of throwing") {
    val badRanges = Seq((1L, 10.0, 5.0), (2L, 20.0, 27.0)).toDF("rid", "lo", "hi")
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "8.0")
    try {
      val got = points.join(badRanges, col("x") > col("lo") && col("x") <= col("hi"))
      assert(got.queryExecution.optimizedPlan.toString.contains("__graft_pbucket"))
      val rids = got.select("rid").distinct().as[Long].collect().toSet
      assert(rids == Set(2L)) // rid 1 is inverted: contributes no rows, no error
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("rule leaves equi-joins and disabled sessions alone") {
    // fully disabled (auto off, no width): BNLJ stays
    spark.conf.set("spark.graft.rangeJoin.auto", "false")
    try {
      val plan0 = bandJoin().queryExecution.executedPlan.toString
      assert(plan0.contains("NestedLoopJoin") || plan0.contains("CartesianProduct"), plan0)
    } finally spark.conf.unset("spark.graft.rangeJoin.auto")
    // enabled but equi conjunct present: native hash join keeps priority
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "8.0")
    try {
      val equi = points.join(ranges, col("pid") === col("rid") && col("x") > col("lo") / 8)
      val plan1 = equi.queryExecution.executedPlan.toString
      assert(!plan1.contains("__graft_pbucket"), plan1)
      assert(equi.count() > 0)
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("auto mode rewrites a band join with NO conf set (quantile buckets)") {
    spark.conf.set("spark.graft.rangeJoin.auto", "false")
    val baseline =
      try bandJoin().select("pid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("spark.graft.rangeJoin.auto")
    // default session state: no width conf, auto defaults to true
    assert(spark.conf.getOption("spark.graft.rangeJoin.bucketWidth").isEmpty)
    val rewritten = bandJoin()
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_pbucket"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val got = rewritten.select("pid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == baseline && got.nonEmpty)
  }

  test("auto mode rewrites a two-sided interval-overlap join exactly once per pair") {
    // intervals on BOTH sides; include an inverted left "interval"
    // (lo > hi) that still satisfies the raw predicate against rid=1 —
    // the rewrite must preserve predicate semantics, not interval ones
    // (900, lo=2, hi=-1) is inverted yet matches rid=1 ([-1, 6]):
    // 2 <= 6 and -1 <= -1 — raw predicate semantics, no interval reading
    val lhs = (Seq((900L, 2.0, -1.0)) ++ (1 to 300).map(i =>
      (i.toLong, i * 0.7, i * 0.7 + 5.0))).toDF("lid", "l_lo", "l_hi")
    val rhs = (1 to 80).map(i =>
      (i.toLong, i * 2.0 - 3.0, i * 2.0 + 4.0)).toDF("rid", "r_lo", "r_hi")
    def overlap() = lhs.join(rhs,
      col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))
    spark.conf.set("spark.graft.rangeJoin.auto", "false")
    val baseline =
      try overlap().select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      finally spark.conf.unset("spark.graft.rangeJoin.auto")
    assert(baseline.exists(_._1 == 900L), "inverted-interval row must match in the baseline")
    val rewritten = overlap()
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_lbucket"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val got = rewritten.select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once: compare as multisets (no dedup shuffle in the plan)
    assert(got.groupBy(identity).view.mapValues(_.length).toMap ==
      baseline.groupBy(identity).view.mapValues(_.length).toMap)
  }

  test("single inequality rewrites to a bucketed join when neither side broadcasts") {
    val small = (1 to 400).map(i => (i.toLong, i * 0.31)).toDF("sid", "sv")
    val big = (1 to 90).map(i => (i.toLong, i * 1.4)).toDF("bid", "bv")
    def j() = small.join(big, col("sv") < col("bv"))
    spark.conf.set("spark.graft.rangeJoin.auto", "false")
    val baseline =
      try j().select("sid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("spark.graft.rangeJoin.auto")
    // neither-side-broadcastable regime (the case the rewrite exists for)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val rewritten = j()
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_bbucket"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      val got = rewritten.select("sid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, "pair emitted more than once")
      assert(got.toSet == baseline && got.nonEmpty)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("single inequality keeps the broadcast NL plan when a side is small") {
    // with the default broadcast threshold these tiny frames broadcast —
    // the BNL plan is cheaper there, so the rewrite must NOT fire
    val small = (1 to 50).map(i => (i.toLong, i * 0.31)).toDF("sid", "sv")
    val big = (1 to 20).map(i => (i.toLong, i * 1.4)).toDF("bid", "bv")
    val j = small.join(big, col("sv") < col("bv"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_bbucket"), plan)
    assert(j.count() > 0)
  }

  test("concurrent sessions drive the plan-time stats job without deadlock") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // two child sessions, two threads, fresh (uncached) plans on each —
    // both hit quantileBounds' plan-time job concurrently; the thread-
    // local re-entrancy guard must keep the nested optimizer activations
    // no-ops and both queries must complete
    val futures = (1 to 2).map { k =>
      Future {
        val child = spark.newSession()
        import child.implicits._
        val pts = (1 to 300).map(i => (i.toLong, i * (0.3 + k))).toDF("pid", "x")
        val rng = (1 to 40).map(i => (i.toLong, i * 2.0, i * 2.0 + 9.0 * k))
          .toDF("rid", "lo", "hi")
        val out = pts.join(rng, col("x") > col("lo") && col("x") <= col("hi"))
          .select("pid", "rid").collect()
        val plan = pts.join(rng, col("x") > col("lo") && col("x") <= col("hi"))
          .queryExecution.optimizedPlan.toString
        (out.length, plan.contains("__graft_pbucket"))
      }
    }
    val results = Await.result(Future.sequence(futures), 120.seconds)
    results.foreach { case (n, rewrote) =>
      assert(n > 0)
      assert(rewrote, "auto rewrite did not fire in the child session")
    }
  }

  test("bucket_index expression: boundary semantics, null, codegen parity") {
    val df = Seq[java.lang.Double](-5.0, 0.0, 0.5, 1.0, 7.3, null)
      .toDF("x")
      .selectExpr("x", "bucket_index(x, array(0.0D, 1.0D, 5.0D)) AS b")
    val got = df.collect().map(r => if (r.isNullAt(1)) null else r.getLong(1))
    // #bounds <= x: -5→0, 0→1, 0.5→1, 1→2, 7.3→3, null→null
    assert(got.toSeq == Seq(0L, 1L, 1L, 2L, 3L, null))
    // probe side stays inside whole-stage codegen (no ScalaUDF / BatchEval)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEval"), plan)
  }
}
