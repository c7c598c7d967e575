package graft

import org.apache.spark.sql.functions._

/** Invariants of the round-4 training-data curation queries beyond the
  * oracle hash compare (which pins exact values at sf0.01): packing
  * conserves docs and produces contiguous sequence ids, quota sampling
  * is exact and deterministic, decontamination broadcasts the eval side.
  */
class CurationOpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("pipeline_pack_sequences conserves docs and numbers sequences contiguously") {
    val out = SparkEntry.queries("pipeline_pack_sequences")(spark, dir).cache()
    val totalDocs = Engine.table(spark, dir, "documents").count()
    assert(out.agg(sum("n_docs")).head().getLong(0) == totalDocs)
    // per (source, shard): seq_ids are 0..max with no gaps, and every
    // sequence holds at least one doc with a positive token count
    val bad = out.groupBy("source", "shard")
      .agg(min("seq_id").as("lo"), max("seq_id").as("hi"), count(lit(1)).as("n"))
      .filter(col("lo") =!= 0 || col("hi") =!= col("n") - 1)
    assert(bad.isEmpty, bad.collect().mkString(", "))
    assert(out.filter(col("n_tokens") <= 0).isEmpty)
    out.unpersist()
  }

  test("pipeline_quota_sample takes exactly min(10, stratum size) per source, deterministically") {
    val docs = Engine.table(spark, dir, "documents")
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val run1 = SparkEntry.queries("pipeline_quota_sample")(spark, dir).collect()
    val run2 = SparkEntry.queries("pipeline_quota_sample")(spark, dir).collect()
    assert(run1.toSeq == run2.toSeq, "quota sample is not deterministic")
    run1.foreach { r =>
      val src = r.getString(0)
      assert(r.getLong(1) == math.min(10L, sizes(src)),
        s"$src sampled ${r.getLong(1)} of ${sizes(src)}")
    }
  }

  test("text_decontaminate broadcasts the eval gram set (corpus side never shuffles for the probe)") {
    val plan = SparkEntry.queries("text_decontaminate")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("text_decontaminate flags a planted contaminated doc and nothing clean") {
    import spark.implicits._
    // synthetic corpus written through the same query path: src0 = eval
    val mk = (id: Long, src: String, text: String) => (id, text, "en", src, text.length.toLong)
    val eval1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val clean = "one two three four five six seven eight nine ten eleven twelve"
    val tmp = java.nio.file.Files.createTempDirectory("decontam").toString
    Seq(
      mk(1L, "src0", eval1),
      mk(2L, "srcA", eval1 + " lambda mu"), // contains every eval 8-gram window start
      mk(3L, "srcA", clean)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("text_decontaminate")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.contains(2L) && out(2L) >= 3, s"planted dup not flagged: $out")
    assert(!out.contains(3L), s"clean doc flagged: $out")
  }

  test("lcgHash is injective and overflow-safe over a wide id range") {
    import spark.implicits._
    // ADVICE r4 (5694f23:ADVICE.md): the old mod-1000003 pre-reduction gave ~1e6 distinct
    // values (ties biased quota samples toward low ids). The CRT-composed
    // form must be collision-free, nonneg (sortable identically by any
    // engine), and match a driver-side replay of the same formula.
    val ids = (0L until 20000L) ++ Seq(1000003L, 2000006L, 2147483646L,
      2147483647L, 2147483648L, 4.6e18.toLong)
    val got = ids.toDF("id")
      .select(col("id"), graft.operators.Curation.lcgHash(col("id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    def ref(i: Long): Long = {
      val p1 = 2147483647L; val p2 = 2147483629L
      ((i % p1) * 48271L + 12345L) % p1 * p2 + ((i % p2) * 16807L + 67890L) % p2
    }
    got.foreach { case (i, h) =>
      assert(h == ref(i) && h >= 0L, s"id=$i h=$h ref=${ref(i)}")
    }
    assert(got.map(_._2).distinct.length == ids.length, "hash collision")
    // residue classes of the old formula no longer tie
    assert(ref(0L) != ref(1000003L) && ref(1000003L) != ref(2000006L))
  }

  test("mixToBudget hits per-source token budgets with epoch repetition") {
    import spark.implicits._
    // source a: 100 tokens total, weighted to 300 -> ~3 epochs;
    // source b: 1000 tokens, weighted to 100 -> downsampled prefix;
    // source c: unweighted -> excluded
    val docs = ((0L until 10L).map(i => (i, "a", 10L)) ++
      (100L until 200L).map(i => (i, "b", 10L)) ++
      (500L until 510L).map(i => (i, "c", 10L))).toDF("id", "src", "tok")
    val out = graft.operators.Curation.mixToBudget(docs, "id", "src", "tok",
      Map("a" -> 0.75, "b" -> 0.25), totalTokens = 400L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(!out.exists(_._2 == "c"), "unweighted source leaked in")
    val a = out.filter(_._2 == "a"); val b = out.filter(_._2 == "b")
    // a: target 300 of 100 available = 3 full epochs, remainder 0
    assert(a.map(_._3).sum == 300L, s"a tokens: ${a.map(_._3).sum}")
    assert(a.map(_._4).max == 2L && a.map(_._4).min == 0L)
    assert(a.map(_._1).distinct.length == 10, "full epochs must cover every doc")
    // b: target 100 of 1000 = 10-doc prefix, epoch 0 only
    assert(b.map(_._3).sum == 100L, s"b tokens: ${b.map(_._3).sum}")
    assert(b.map(_._4).forall(_ == 0L) && b.map(_._1).distinct.length == 10)
    // deterministic: same inputs, same selection
    val out2 = graft.operators.Curation.mixToBudget(docs, "id", "src", "tok",
      Map("a" -> 0.75, "b" -> 0.25), totalTokens = 400L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.sortBy(t => (t._1, t._4)).toSeq == out2.sortBy(t => (t._1, t._4)).toSeq)
    // invalid weights refuse loudly
    intercept[IllegalArgumentException] {
      graft.operators.Curation.mixToBudget(docs, "id", "src", "tok",
        Map("a" -> -1.0), 100L)
    }
  }

  test("leakageSafeSplit keeps every near-dup cluster in one split") {
    import spark.implicits._
    // 100 docs, near-dup clusters {1,2,3}, {10,11}, {50,51,52,53}; the
    // split must move each cluster as a unit and cover every document
    val docs = (0L until 100L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (50L, 51L), (51L, 52L),
      (52L, 53L)).toDF("id_a", "id_b")
    val out = graft.operators.Curation.leakageSafeSplit(docs, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 100)
    val byId = out.map(t => t._1 -> t).toMap
    // cluster members share canonical id AND split
    for (cluster <- Seq(Seq(1L, 2L, 3L), Seq(10L, 11L), Seq(50L, 51L, 52L, 53L))) {
      val rows = cluster.map(byId)
      assert(rows.map(_._2).distinct.length == 1, s"canonical split in $cluster")
      assert(rows.map(_._3).distinct.length == 1, s"split leaked in $cluster")
      assert(rows.head._2 == cluster.min, "canonical must be the minimum id")
    }
    // singletons keep their own id
    assert(byId(42L)._2 == 42L)
    // all three splits materialize on 100 ids and ratios are sane
    val hist = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(hist.keySet == Set("train", "val", "test"), s"splits: $hist")
    assert(hist("train") > 60 && hist("train") < 95, s"train share off: $hist")
    // invalid percentages refuse loudly
    intercept[IllegalArgumentException] {
      graft.operators.Curation.leakageSafeSplit(docs, "doc_id", pairs,
        pctTrain = 90, pctVal = 15)
    }
  }

  test("epochShuffle emits one full 0..n-1 permutation per epoch") {
    import spark.implicits._
    val docs = (0L until 200L).toDF("doc_id")
    val out = graft.operators.Curation.epochShuffle(docs, "doc_id", epochs = 3, numShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 600)
    for (e <- 0L until 3L) {
      val epoch = out.filter(_._2 == e)
      assert(epoch.map(_._3).sorted.toSeq == (0L until 200L).toSeq,
        s"epoch $e positions are not a permutation")
    }
    // epochs are genuinely different orders, not shifts of one another
    val ord0 = out.filter(_._2 == 0L).sortBy(_._3).map(_._1).toSeq
    val ord1 = out.filter(_._2 == 1L).sortBy(_._3).map(_._1).toSeq
    assert(ord0 != ord1, "epoch 0 and 1 produced the same order")
    assert(ord0 != ord0.sorted, "epoch 0 left ids in sorted order — not shuffled")
  }

  test("epochShuffle order is numShards-invariant (range buckets, not hash mod)") {
    import spark.implicits._
    val docs = (0L until 157L).toDF("doc_id")
    def run(s: Int) = graft.operators.Curation.epochShuffle(docs, "doc_id", 2, s)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(run(1) == run(8), "numShards changed the permutation")
    assert(run(8) == run(64), "numShards changed the permutation")
  }

  test("duplicateSpans finds planted cross-doc spans, merges islands, ignores intra-doc repeats") {
    import spark.implicits._
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"${tag}_$i")
    val boiler = (0 until 12).map(i => s"b$i")         // 12-token shared span
    val rep = (0 until 10).map(i => s"r$i")            // intra-doc repeat only
    val c = (0 until 10).map(i => s"c$i")              // shared 10-token span
    val d = (0 until 10).map(i => s"d$i")              // second shared span
    val docs = Seq(
      (1L, (uniq("a", 10) ++ boiler ++ uniq("e", 10)).mkString(" ")),   // 32 toks
      (2L, (uniq("f", 5) ++ boiler ++ uniq("g", 7)).mkString(" ")),     // 24 toks
      (3L, uniq("h", 30).mkString(" ")),                                // clean
      (4L, (rep ++ uniq("i", 5) ++ rep).mkString(" ")),                 // intra only
      (5L, (uniq("j", 5) ++ c ++ uniq("k", 15) ++ d ++ uniq("l", 3)).mkString(" ")), // 43
      (6L, (uniq("m", 2) ++ c ++ uniq("n", 12) ++ d).mkString(" "))     // 34
    ).toDF("doc_id", "text")
    val out = graft.operators.Curation.duplicateSpans(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // the 12-token boiler = 3 consecutive dup gram starts = ONE island of
    // 12 covered tokens; the two disjoint 10-token spans stay 2 islands;
    // doc 3 (clean) and doc 4 (repeat within one doc) never flag
    assert(out == Map(
      1L -> ((1L, 12L, 32L, 0.375)),
      2L -> ((1L, 12L, 24L, 0.5)),
      5L -> ((2L, 20L, 43L, 0.465116)),
      6L -> ((2L, 20L, 34L, 0.588235))), out.toString)
  }

  test("saltBuckets escape hatch: exact same answers, no gram/context window in the plan") {
    import spark.implicits._
    // hot-gram corpus: 40 docs share one 14-token boilerplate block
    val boiler = (0 until 14).map(i => s"hot$i")
    val docs = (0L until 40L).map { id =>
      val tail = (0 until 8).map(i => s"u${id}_$i")
      (id, (boiler ++ tail).mkString(" "))
    }.toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val spansPlain = graft.operators.Curation.duplicateSpans(docs, "doc_id", "text")
    val spansSalt = graft.operators.Curation.duplicateSpans(
      docs, "doc_id", "text", saltBuckets = 8)
    assert(canon(spansPlain) == canon(spansSalt))
    val lmPlain = graft.operators.TextAnalysis.bigramLmScores(docs, "doc_id", "text")
    val lmSalt = graft.operators.TextAnalysis.bigramLmScores(
      docs, "doc_id", "text", saltBuckets = 8)
    assert(canon(lmPlain) == canon(lmSalt))
    // structural claim: the salted plans drop the hot-key COUNT
    // windows (spans keeps only its per-document island window; the LM
    // keeps only the 1-row vocab first-marker window, which both
    // variants share) — the count tables aggregate two-level and join
    // back
    def windows(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      "\\bWindow\\b".r.findAllIn(df.queryExecution.executedPlan.toString).size
    }
    assert(windows(spansSalt) < windows(spansPlain))
    assert(windows(lmSalt) < windows(lmPlain))
  }

  test("removeDuplicateSpans strips exactly the flagged islands, leaves clean docs alone") {
    import spark.implicits._
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"${tag}_$i")
    val boiler = (0 until 12).map(i => s"b$i")
    val docs = Seq(
      (1L, (uniq("a", 10) ++ boiler ++ uniq("e", 10)).mkString(" ")),
      (2L, (uniq("f", 5) ++ boiler ++ uniq("g", 7)).mkString(" ")),
      (3L, uniq("h", 30).mkString(" "))
    ).toDF("doc_id", "text")
    val out = graft.operators.Curation
      .removeDuplicateSpans(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the shared 12-token block vanishes; the unique flanks survive in order
    assert(out(1L) == ((32L, 12L, (uniq("a", 10) ++ uniq("e", 10)).mkString(" "))))
    assert(out(2L) == ((24L, 12L, (uniq("f", 5) ++ uniq("g", 7)).mkString(" "))))
    // the clean doc passes through byte-identically (normalized stream)
    assert(out(3L) == ((30L, 0L, uniq("h", 30).mkString(" "))))
  }

  test("semDedup keeps the lowest id of a planted near-group and everything isolated") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.999f, 0.02f)),  // cos ~ 0.9998 with id 1 → pruned
      (3L, Array(0.0f, 1.0f)),     // orthogonal → kept
      (4L, Array(0.01f, 0.998f))   // cos ~ 0.999 with id 3 → pruned
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .semDedup(vecs, "vec_id", "embedding", k = 1, iterations = 0, tau = 0.9)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 3L), s"survivors: $out")
  }

  test("semDedup survivors: no same-cluster pair within tau, and survivor+pruned partition the corpus") {
    import org.apache.spark.sql.functions._
    val tau = 0.35
    val out = SparkEntry.queries("pipeline_semdedup")(spark, dir).cache()
    val all = Engine.table(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * 1000.0 + 0.5)).cast("array<double>").as("wd"))
      .withColumn("nn", sqrt(graft.operators.Similarity.dot(col("wd"), col("wd"))))
    def side(p: String) = out.join(all, Seq("vec_id"))
      .select(col("vec_id").as(s"id$p"), col("cid").as(s"cid$p"),
        col("wd").as(s"wd$p"), col("nn").as(s"nn$p"))
    // greedy rule ⇒ NO survivor pair (either order) in one cluster sits
    // within tau: the higher id would have been pruned by the lower
    val close = side("a").join(side("b"),
        col("cida") === col("cidb") && col("idb") < col("ida"))
      .filter(graft.operators.Similarity.dot(col("wda"), col("wdb")) /
        (col("nna") * col("nnb")) >= tau)
    assert(close.isEmpty, close.collect().take(3).mkString(", "))
    val pruned = all.join(out.select(col("vec_id")), Seq("vec_id"), "left_anti")
    assert(out.count() + pruned.count() == all.count())
    out.unpersist()
  }

  test("boilerplateGrams surfaces planted shared spans with reconstructed text, skips intra-doc repeats") {
    import spark.implicits._
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"${tag}_$i")
    val boiler = (0 until 12).map(i => s"b$i")
    val rep = (0 until 10).map(i => s"r$i")
    val c = (0 until 10).map(i => s"c$i")
    val d = (0 until 10).map(i => s"d$i")
    val docs = Seq(
      (1L, (uniq("a", 10) ++ boiler ++ uniq("e", 10)).mkString(" ")),
      (2L, (uniq("f", 5) ++ boiler ++ uniq("g", 7)).mkString(" ")),
      (3L, uniq("h", 30).mkString(" ")),
      (4L, (rep ++ uniq("i", 5) ++ rep).mkString(" ")),  // one doc only → excluded
      (5L, (uniq("j", 5) ++ c ++ uniq("k", 15) ++ d ++ uniq("l", 3)).mkString(" ")),
      (6L, (uniq("m", 2) ++ c ++ uniq("n", 12) ++ d).mkString(" "))
    ).toDF("doc_id", "text")
    val out = graft.operators.Curation.boilerplateGrams(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (boiler.slice(0, 10).mkString(" "), 2L, 1L, 10L),
      (boiler.slice(1, 11).mkString(" "), 2L, 1L, 11L),
      (boiler.slice(2, 12).mkString(" "), 2L, 1L, 12L),
      (c.mkString(" "), 2L, 5L, 5L),
      (d.mkString(" "), 2L, 5L, 30L)), out.mkString(", "))
  }

  test("bigramLmScores matches hand-computed add-alpha cross-entropy; fluent scores below word-salad") {
    import spark.implicits._
    // corpus: "x y x y" + "x y" → c2(x,y)=3, c2(y,x)=1, c1(x)=3,
    // c1(y)=1, V = |contexts| = 2, alpha=0.1:
    //   P(y|x) = 3.1/3.2, P(x|y) = 1.1/1.2
    //   doc1 = -(2 ln(3.1/3.2) + ln(1.1/1.2))/3 = 0.0502 (4 dp)
    //   doc2 = -ln(3.1/3.2) = 0.0317
    val out = graft.operators.TextAnalysis.bigramLmScores(
        Seq((1L, "x y x y"), (2L, "x y")).toDF("doc_id", "text"),
        "doc_id", "text", alpha = 0.1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map(1L -> ((3L, 0.0502)), 2L -> ((1L, 0.0317))), out.toString)
    // semantic contract: a doc of corpus-common bigrams scores LOWER
    // cross-entropy than one of bigrams seen nowhere else
    val docs2 = (Seq.tabulate(10)(i => (i.toLong, "the cat sat here")) :+
      (99L, "zq wv kx jm")).toDF("doc_id", "text")
    val s2 = graft.operators.TextAnalysis.bigramLmScores(docs2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s2(0L) < s2(99L), s"fluent ${s2(0L)} !< salad ${s2(99L)}")
  }

  test("duplicateSpans is one corpus scan, no join: in-partition min/max window, no count-distinct") {
    val df = SparkEntry.queries("text_dup_spans")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.toLowerCase.contains("distinct"),
      s"cross-doc test should be min<>max, not count-distinct:\n$plan")
    assert(!plan.contains("Join"),
      s"duplication must be decided inside the gram partition, not a probe join:\n$plan")
    val explodes = "posexplode".r.findAllIn(plan).size
    assert(explodes == 1,
      s"gram subtree executed $explodes times (want 1 — the corpus is scanned once):\n$plan")
  }
}
