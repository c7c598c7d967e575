package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r19 pins for the boilerplateGrams SortAggregate kill (VERDICT r18
  * next-round #1) and the shouldBinRefine memo (VERDICT r18 #6).
  *
  * MinPairOrd must agree with `min(struct(doc, pos))` VALUE-FOR-VALUE —
  * including null fields (struct ordering is null-first per field) and
  * the empty-group null — because boilerplateGrams' sample picks, tie
  * order, and therefore its top-k rows all ride on that ordering.
  */
class MinPairOrdSpec extends SparkSpec {

  import org.apache.spark.sql.execution.SparkPlan

  private def planNodes(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    df.collect()
    finalNodes(df.queryExecution.executedPlan)
  }

  private def pairsDf(rows: Seq[(Int, java.lang.Long, java.lang.Long)]) = {
    import spark.implicits._
    rows.toDF("g", "doc", "pos")
  }

  private def bothWays(rows: Seq[(Int, java.lang.Long, java.lang.Long)]): Unit = {
    val df = pairsDf(rows)
    val ref = df.groupBy("g")
      .agg(min(struct(col("doc"), col("pos"))).as("s"))
      .select(col("g"), col("s").getField("doc").as("d"),
        col("s").getField("pos").as("p"))
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
    val got = df.groupBy("g")
      .agg(call_function("min_pair_ord", col("doc"), col("pos")).as("s"))
      .select(col("g"), col("s").getField("doc").as("d"),
        col("s").getField("pos").as("p"))
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
    assert(got == ref, s"min_pair_ord diverged from min(struct): $got vs $ref")
  }

  test("min_pair_ord == min(struct) on plain values, ties on doc") {
    bothWays(Seq(
      (1, 5L, 9L), (1, 5L, 2L), (1, 7L, 0L),
      (2, 100L, 1L), (2, 3L, 50L),
      (3, 0L, 0L)))
  }

  test("min_pair_ord == min(struct) with null doc / null pos (null-first)") {
    bothWays(Seq(
      (1, null, 4L), (1, 2L, 1L),            // null doc wins the group
      (2, 2L, null), (2, 2L, 0L),            // equal docs, null pos wins
      (3, null, null), (3, null, 7L),        // both-null vs null-doc
      (4, 1L, 1L)))
  }

  test("min_pair_ord is codegen-clean (no interpreted fallback)") {
    withCodegenOnly {
      bothWays(Seq((1, 5L, 9L), (1, 5L, 2L), (2, null, 3L), (2, 1L, null)))
    }
  }

  test("boilerplateGrams per-gram aggregate plans HashAggregate, no SortAggregate") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec, ObjectHashAggregateExec}
    val df = graft.SparkEntry.queries("text_boilerplate_topk")(
      spark, "/root/testdata/sf0.001")
    val nodes = planNodes(df)
    val sorts = nodes.collect { case s: SortAggregateExec => s }
    val objs = nodes.collect { case o: ObjectHashAggregateExec => o }
    val hashes = nodes.collect { case h: HashAggregateExec => h }
    assert(sorts.isEmpty,
      s"boilerplate per-gram aggregate regressed to SortAggregate:\n${sorts.headOption.getOrElse("")}")
    assert(objs.isEmpty,
      s"boilerplate per-gram aggregate regressed to ObjectHashAggregate (128-key sort fallback class):\n${objs.headOption.getOrElse("")}")
    assert(hashes.nonEmpty, "expected the per-gram min-pair HashAggregate in the plan")
  }

  /** boilerplateGrams recomputed with `min(struct(id, pos))`, inlined
    * from the pre-r19 shape: the reference every id type must match. */
  private def minStructReference(docs: org.apache.spark.sql.DataFrame) = {
    val n = 10
    val pos = docs
      .select(col("doc_id"), call_function("ws_token_hashes", col("text")).as("__th"))
      .select(col("doc_id"),
        posexplode(call_function("gram_roll_hashes", col("__th"), lit(n))))
      .withColumnsRenamed(Map("pos" -> "__p", "col" -> "__g"))
    val perDoc = pos.groupBy(col("__g"), col("doc_id"))
      .agg(min(col("__p")).as("__p0"))
    val topkRef = perDoc.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col("doc_id"), col("__p0"))).as("__s"))
      .filter(col("n_docs") >= 2)
      .select(col("__g"), col("n_docs"),
        col("__s").getField("doc_id").as("sample_doc"),
        col("__s").getField("__p0").cast("long").as("sample_pos"))
      .orderBy(col("n_docs").desc, col("sample_doc"), col("sample_pos"))
      .limit(20)
    docs
      .select(col("doc_id").as("sample_doc"),
        filter(split(lower(col("text")), "\\s+"), x => x =!= "").as("__w"))
      .join(broadcast(topkRef), Seq("sample_doc"))
      .select(
        array_join(slice(col("__w"), col("sample_pos").cast("int") + 1, lit(n)), " ")
          .as("gram"),
        col("n_docs"), col("sample_doc"), col("sample_pos"))
      .orderBy(col("n_docs").desc, col("sample_doc"), col("sample_pos"))
      .collect().toSeq
  }

  test("boilerplateGrams output unchanged by the MinPairOrd rewrite (vs min(struct) reference)") {
    val docs = graft.Engine.table(spark, "/root/testdata/sf0.001", "documents")
    val ref = minStructReference(docs)
    val got = graft.operators.Curation.boilerplateGrams(
        docs, "doc_id", "text", n = 10, k = 20)
      .collect().toSeq
    assert(got == ref,
      s"boilerplateGrams rows changed under MinPairOrd:\n got=$got\n ref=$ref")
  }

  test("boilerplateGrams with string doc ids matches the min(struct) reference") {
    // numeric strings order differently from their numbers ("10" < "9"),
    // and a cast to long would NULL any non-numeric id — string ids
    // must take the exact min(struct) path
    val docs = graft.Engine.table(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("doc_id", col("doc_id").cast("string"))
    val ref = minStructReference(docs)
    val got = graft.operators.Curation.boilerplateGrams(
        docs, "doc_id", "text", n = 10, k = 20)
      .collect().toSeq
    assert(ref.nonEmpty, "the fixture must mine at least one shared gram")
    assert(got == ref, s"string-id boilerplateGrams diverged:\n got=$got\n ref=$ref")
  }

  test("min_pair_ord rejects non-integral arguments instead of casting them") {
    import spark.implicits._
    val df = Seq(("a", 1.5, 2)).toDF("s", "d", "i")
    for (bad <- Seq(Seq(col("s"), col("i")), Seq(col("d"), col("i")), Seq(col("i"), col("d")))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.agg(call_function("min_pair_ord", bad: _*)).collect()
      }
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), e.getMessage)
    }
    // integral arguments of any width widen to long
    val r = df.agg(call_function("min_pair_ord", col("i"), col("i").cast("short")).as("m"))
      .select(col("m").getField("doc"), col("m").getField("pos")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
  }

  test("shouldBinRefine memo: repeat probe runs zero jobs") {
    val li = graft.Engine.table(spark, "/root/testdata/sf0.001", "lineitem")
    // distinct crossover value → guaranteed cold key for this test
    val xo = 123457L
    graft.operators.ExactQuantile.shouldBinRefine(li, "l_returnflag", xo)
    // count only jobs submitted under this test's own job group: other
    // suites' jobs in the shared SparkContext must not fail it
    val group = s"min-pair-ord-memo-${java.util.UUID.randomUUID()}"
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          counter.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "memoized shouldBinRefine probe")
      val v = try graft.operators.ExactQuantile.shouldBinRefine(li, "l_returnflag", xo)
        finally spark.sparkContext.clearJobGroup()
      // listener delivery is async; a memoized probe submits no job, so
      // a short settle window is enough for any stray submission to land
      Thread.sleep(300)
      assert(counter.get() == 0,
        s"memoized shouldBinRefine still ran ${counter.get()} job(s)")
      assert(!v) // sf0.001 lineitem is far below any 123457-row group
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
