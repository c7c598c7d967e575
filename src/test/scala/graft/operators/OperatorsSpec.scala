package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactKeepFirst keeps lowest order value per key") {
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y")).toDF("id", "k")
    val out = Dedup.exactKeepFirst(df, Seq("k"), "id")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "x"), (2L, "y")))
  }

  test("shingles builds distinct word n-grams") {
    val df = Seq("a b c d", "a a a a", "short").toDF("t")
    val out = df.select(Dedup.shingles(col("t"), 3).as("sh")).collect()
      .map(_.getSeq[String](0).toSet)
    assert(out(0) == Set("a b c", "b c d"))
    assert(out(1) == Set("a a a"))
    assert(out(2) == Set.empty) // fewer words than n → no shingles
  }

  test("jaccardSets exact") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccardSets(col("x"), col("y"))).head().getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("minhashCandidates finds a planted near-duplicate") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val nearDup = base.replace("today", "tomorrow")
    val docs = (Seq(base, nearDup) ++ (1 to 20).map(i =>
      s"completely different text number $i with other words entirely unrelated $i"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 0L && b == 1L && j > 0.5 })
  }

  test("dedupAgainst finds planted cross-corpus pairs; novelAgainst drops exactly those batch rows") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val nearDup = base.replace("today", "tomorrow")
    // history: base + distinct filler; batch: the near-dup + fresh docs
    val hist = (Seq(base) ++ (1 to 20).map(i =>
      s"completely different history text number $i with other words entirely unrelated $i"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val batch = Seq((100L, nearDup),
      (101L, "a genuinely novel document about volcanic rocks and river sediments"),
      (102L, "another novel entry describing medieval trade routes across mountains"))
      .toDF("doc_id", "text")
    val pairs = Dedup.dedupAgainst(hist, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (b, h, j) => b == 100L && h == 0L && j > 0.5 },
      s"planted cross pair missing from ${pairs.toSeq}")
    // no pair may link the two genuinely novel docs to anything at 0.5
    assert(!pairs.exists { case (b, _, j) => b != 100L && j >= 0.5 })
    val novel = Dedup.novelAgainst(hist, batch, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(novel === Set(101L, 102L))
  }

  test("dedupAgainst never caps the batch side: hot batch bucket keeps all its candidates") {
    // Regression (round-8 ADVICE, 83b9da8:ADVICE.md): a batch-side (band, bucket) group
    // exceeding maxBucket must NOT be dropped — the cap applies to the
    // persisted HISTORY index only, keeping batch answers identical to
    // the streaming twin by construction. 150 byte-identical batch
    // docs (every band bucket holds all 150, far over maxBucket = 100)
    // probing a history that contains the same text: every batch doc
    // must surface its history pair at jaccard 1.0.
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val hist = Seq((0L, txt), (1L, "unrelated words about something else entirely here"))
      .toDF("doc_id", "text")
    val batch = (100L until 250L).map(i => (i, txt)).toDF("doc_id", "text")
    val hits = Dedup.dedupAgainst(hist, batch, "doc_id", "text", maxBucket = 100)
      .filter(col("jaccard") >= 0.99)
      .select("batch_id").distinct().count()
    assert(hits == 150L, s"expected all 150 hot-bucket batch docs to match, got $hits")
  }

  test("codegen shingle/banding/neighborhood kernels match their UDF reference semantics") {
    // The dedup hot paths now run codegen expressions (HashedShingles,
    // MinhashBands, DeleteNeighborhoodHashes); the ScalaUDF forms stay
    // as the executable reference semantics. hashed_shingles hashes
    // UTF-8 BYTES where the UDF hashes UTF-16 chars, so its VALUES are
    // compared structurally (set sizes + pairwise jaccard identical);
    // the banding and neighborhood kernels must match value-for-value
    // on ASCII input.
    withCodegenOnly {
      val texts = Seq(
        "the quick brown fox jumps over the lazy dog",
        "a b c", "ab", "", "one", "x y z w v u t s",
        "café naïve résumé words here") // multi-byte chars
        .toDF("t")
      val both = texts.select(
        Dedup.hashedShinglesUdf(col("t"), lit(3)).as("u"),
        call_function("hashed_shingles", col("t"), lit(3)).as("c"))
      both.collect().foreach { r =>
        val u = r.getSeq[Long](0); val c = r.getSeq[Long](1)
        assert(u.length == c.length, s"shingle count diverged: $u vs $c")
        assert(c == c.sorted && c.distinct == c, "codegen shingles not sorted-distinct")
      }
      // pairwise jaccard invariance: hash choice must not change set overlap
      val t2 = Seq(
        ("the quick brown fox jumps over the lazy dog today and more words",
         "the quick brown fox jumps over the lazy dog tomorrow and more words"))
        .toDF("a", "b")
      val js = t2.select(
        call_function("jaccard_sorted",
          Dedup.hashedShinglesUdf(col("a"), lit(3)),
          Dedup.hashedShinglesUdf(col("b"), lit(3))).as("ju"),
        call_function("jaccard_sorted",
          call_function("hashed_shingles", col("a"), lit(3)),
          call_function("hashed_shingles", col("b"), lit(3))).as("jc")).head()
      assert(math.abs(js.getDouble(0) - js.getDouble(1)) < 1e-12)
      // banding: value-identical on the SAME input set
      val sets = Seq(Seq(1L, 5L, 99L, 1234567L), Seq.empty[Long]).toDF("sh")
      val bands = sets.select(
        Dedup.minhashBandBucketsUdf(col("sh"), lit(16), lit(8)).as("u"),
        call_function("minhash_band_buckets", col("sh"), lit(16), lit(8)).as("c"))
      bands.collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), "banding kernels diverged")
      }
      // delete neighborhood: value-identical on ASCII, char-unit on unicode
      val names = Seq("smith", "jo", "", "café").toDF("s")
      val nb = names.select(col("s"),
        Dedup.hashedDeleteNeighborhoodUdf(col("s"), lit(2)).as("u"),
        call_function("delete_neighborhood_hashes", col("s"), lit(2)).as("c"))
      nb.collect().foreach { r =>
        val u = r.getSeq[Long](1).toSet; val c = r.getSeq[Long](2).toSet
        if (r.getString(0).forall(_ < 128)) assert(u == c,
          s"ASCII neighborhood diverged for '${r.getString(0)}'")
        else assert(u.size == c.size,
          s"unicode neighborhood cardinality diverged for '${r.getString(0)}'")
      }
    }
  }

  test("dedup hot paths carry no ScalaUDF: minhash and fuzzy plans are fully codegen") {
    val docs = graft.Engine.table(spark, "/root/testdata/sf0.001", "documents")
    val minhashPlan = Dedup.minhashCandidates(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, numBands = 8)
      .queryExecution.executedPlan.toString
    assert(!minhashPlan.contains("ScalaUDF"),
      "minhashCandidates physical plan still contains a ScalaUDF node")
    val names = docs.select(col("doc_id"),
      substring(col("text"), 1, 12).as("s"))
    val fuzzyPlan = Dedup.fuzzyPairs(names, "doc_id", "s", maxDist = 2)
      .queryExecution.executedPlan.toString
    assert(!fuzzyPlan.contains("ScalaUDF"),
      "fuzzyPairs physical plan still contains a ScalaUDF node")
    // materialize = false: the production default checkpoints the
    // shingle stage into separate jobs, which would hollow out this
    // assert — the inline form exposes the full pipeline's plan (r18)
    val prefixPlan = Dedup.jaccardThresholdPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.8, materialize = false)
      .queryExecution.executedPlan.toString
    assert(!prefixPlan.contains("ScalaUDF"),
      "jaccardThresholdPairs physical plan still contains a ScalaUDF node")
  }

  test("minhash oracle region: banding is analytically sound on THIS corpus, and recalls it") {
    // The dedup_minhash_pairs oracle asserts recall 1 vs a brute-force
    // Jaccard join at threshold 0.8, but banding is PROBABILISTIC: with
    // 16 hashes / 8 bands (2 rows per band) a pair at similarity j is
    // missed with prob (1 - j^2)^8 — ~3e-4 at exactly j = 0.8. The
    // oracle is sound only while the CORPUS keeps its true pairs well
    // above the threshold. This spec turns that assumption into an
    // explicit red test: it measures the actual over-threshold pairs
    // (currently all at jac >= 0.88) and asserts the UNION-BOUND miss
    // probability of the whole oracle region is < 1e-3. If a future
    // test-data generator plants pairs near 0.8, THIS fails with a
    // re-threshold instruction — the oracle going intermittently red
    // would be corpus drift, not an engine bug.
    val docs = graft.Engine.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), Dedup.hashedShinglesUdf(col("text"), lit(3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.jaccardSortedCol(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(exact.nonEmpty, "corpus lost its planted near-dup tier")
    // (1 - j^2)^bands per pair; union bound over the whole oracle region
    val unionBound = exact.map(t => math.pow(1 - t._3 * t._3, 8)).sum
    assert(unionBound < 1e-3,
      f"ORACLE REGION NO LONGER SOUND: union-bound miss prob $unionBound%.2e " +
        f"(min jac ${exact.map(_._3).min}%.3f over ${exact.length} pairs) — " +
        "re-threshold the dedup_minhash_pairs oracle region upward " +
        "before blaming the banding plan")
    // and the recall contract itself on the actual pairs
    val banded = Dedup.minhashCandidates(
      graft.Engine.table(spark, "/root/testdata/sf0.001", "documents"),
      "doc_id", "text", shingleN = 3, numHashes = 16, numBands = 8)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact.map(t => (t._1, t._2)).toSet -- banded
    assert(missed.isEmpty, s"banding missed true pairs: $missed")
  }

  test("minhash banding rejects band layouts that would collapse recall") {
    // ADVICE r4 (5694f23:ADVICE.md): numBands > numHashes makes rows-per-band 0 (every doc
    // collides into one bucket, then the skew cap drops everything —
    // silent recall 0); non-divisible layouts silently ignore trailing
    // signature slots. Both must fail loudly instead.
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidates(docs, "doc_id", "text", numHashes = 8, numBands = 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidates(docs, "doc_id", "text", numHashes = 10, numBands = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashBandBuckets(Seq(1L, 2L), numHashes = 4, numBands = 0)
    }
  }

  test("simhash near-identical texts have small hamming distance") {
    val a = Dedup.simhash64("the quick brown fox jumps over the lazy dog repeatedly every day")
    val b = Dedup.simhash64("the quick brown fox jumps over the lazy dog repeatedly every night")
    val c = Dedup.simhash64("zebra xylophone quartz jigsaw vortex blitz nymph dwarf glyph")
    assert(Dedup.simhashDistance(a, a) == 0)
    assert(Dedup.simhashDistance(a, b) < Dedup.simhashDistance(a, c))
  }

  test("deleteNeighborhood intersects iff within edit distance (spot cases)") {
    val d1 = Dedup.deleteNeighborhood("abc", 1).toSet
    assert(d1 == Set("abc", "bc", "ac", "ab"))
    // substitution, insertion, deletion, and a 2-edit pair all intersect at k=2
    for ((a, b) <- Seq(("abcdef", "abxdef"), ("abcdef", "abcxdef"),
      ("abcdef", "abdef"), ("abcdef", "axcdyf"))) {
      assert(Dedup.deleteNeighborhood(a, 2).toSet
        .intersect(Dedup.deleteNeighborhood(b, 2).toSet).nonEmpty, s"$a ~ $b")
    }
  }

  test("hashedDeleteNeighborhood ≡ FNV of the string neighborhood") {
    def fnv(v: String): Long = {
      var h = 0xcbf29ce484222325L
      v.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
      h
    }
    for (s <- Seq("abc", "aabbaa", "Supplier#000000001", "x", "")) {
      for (k <- 0 to 2) {
        assert(Dedup.hashedDeleteNeighborhood(s, k).toSet ==
          Dedup.deleteNeighborhood(s, k).map(fnv).toSet, s"s=$s k=$k")
      }
    }
  }

  test("fuzzyPairs matches brute-force levenshtein join exactly") {
    val names = Seq("Supplier#000000001", "Supplier#000000002", "Supplier#000000012",
      "Supplier#000000991", "Acme Corp", "Acme Co", "Acme Inc", "Widgets R Us",
      "completely different", "Supplier#000000100")
    val df = names.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "name")
    val blocked = Dedup.fuzzyPairs(df, "id", "name", 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val a = df.select(col("id").as("ia"), col("name").as("na"))
    val b = df.select(col("id").as("ib"), col("name").as("nb"))
    val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("d", levenshtein(col("na"), col("nb"))).filter(col("d") <= 2)
      .select("ia", "ib", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty && blocked == brute)
  }

  test("jaccardThresholdPairs (prefix filter) equals brute-force exactly") {
    val base = "the quick brown fox jumps over the lazy dog again and again today ok"
    val docs = (Seq(base, base.replace("today", "tomorrow"),
      base.replace("quick", "slow").replace("dog", "cat")) ++
      (1 to 30).map(i => s"totally different text number $i with other unrelated words $i here"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    val pf = pairs(Dedup.jaccardThresholdPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b", "jaccard"))
    val sh = docs.select(col("doc_id"), Dedup.hashedShinglesUdf(col("text"), lit(3)).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val brute = pairs(a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.jaccardSortedLongsUdf(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= 0.5))
    assert(brute.nonEmpty && pf == brute)
  }

  test("jaccardThresholdPairs: materialize = true returns the inline plan's pairs and scores") {
    // the two localCheckpoints are a plan-shape choice only: the same
    // pairs with bit-equal jaccard, on the corpus the registry runs
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = graft.Engine.table(spark, s"/root/testdata/$sf", "documents")
      def pairs(materialize: Boolean) = Dedup.jaccardThresholdPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.8, materialize = materialize)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
      val inline = pairs(materialize = false)
      val checkpointed = pairs(materialize = true)
      assert(inline.nonEmpty, sf)
      assert(inline.length == inline.distinct.length, sf)
      assert(checkpointed.sorted.toSeq == inline.sorted.toSeq, sf)
    }
  }

  test("cosineLshCandidates recovers planted near-dup pairs (exact refine equivalence)") {
    val rng = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(64)(rng.nextGaussian())
    // 20 planted near-dup pairs (tiny noise → cos ≈ 0.99) + 160 random rows
    val planted = (0 until 20).map { i =>
      val base = vec()
      val noisy = base.map(_ + rng.nextGaussian() * 0.05)
      Seq((i.toLong * 2, base.toSeq), (i.toLong * 2 + 1, noisy.toSeq))
    }.flatten
    val noise = (0 until 160).map(i => ((100 + i).toLong, vec().toSeq))
    val df = (planted ++ noise).toDF("id", "v")
    val planes = graft.queries.Pipeline.lshPlanes
    val cand = Dedup.cosineLshCandidates(df, "id", "v", planes,
      numBands = 8, bitsPerBand = 8, maxBucket = 250)
    val va = df.select(col("id").as("id_a"), col("v").as("va"))
    val vb = df.select(col("id").as("id_b"), col("v").as("vb"))
    def cos = Similarity.dot(col("va"), col("vb")) /
      (Similarity.norm(col("va")) * Similarity.norm(col("vb")))
    val found = cand.join(va, "id_a").join(vb, "id_b")
      .filter(cos >= 0.9).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = va.crossJoin(vb).filter(col("id_a") < col("id_b")).filter(cos >= 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 20, s"expected >=20 planted pairs, got ${exact.size}")
    assert(found == exact, "LSH + exact refine must reproduce the brute-force answer")
  }

  test("weighted LSH scored pairs: verify mode checks the per-pair precondition") {
    // verifyCollisions asserts per PAIR that surviving rows ==
    // band_collisions (the exactness precondition for L/collisions
    // weighting). On an uncapped corpus it must pass and return the
    // same rows as the default path; the invariant firing is exercised
    // by construction in the expression (assert_true), so here we pin
    // the pass-through contract.
    val rng = new scala.util.Random(11)
    val df = (0 until 120).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian()).toSeq)).toDF("id", "v")
    val planes = graft.queries.Pipeline.lshPlanes
    def run(verify: Boolean) =
      Dedup.cosineLshScoredPairsWeighted(df, "id", "v", planes,
        numBands = 8, bitsPerBand = 8, maxBucket = 250,
        verifyCollisions = verify)
        .select("id_a", "id_b", "band_collisions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(run(verify = true) == run(verify = false))
  }

  test("weighted LSH float carry: bit-identical to the double-cast form, verify-mode clean") {
    // r12: the banded exchange carries array<float> un-widened with the
    // ArrayDotFloat kernel at the join output, and the bucket array
    // packed into one long. The double-cast form of the SAME data must
    // produce identical rows (float->double widening is exact), and
    // verify mode must hold (packedBandEq counting masked bit fields ==
    // actual per-pair surviving rows — a wrong byte extraction would
    // fire the in-plan assert_true).
    val rng = new scala.util.Random(13)
    val rows = (0 until 150).map { i =>
      val v = Array.fill(64)(rng.nextGaussian().toFloat)
      (i.toLong, v.toSeq)
    } ++ (0 until 10).map { i => // exact duplicates force multi-band collisions
      (200L + i, (0 until 64).map(j => ((i * 64 + j) % 7 - 3).toFloat))
    } ++ (0 until 10).map { i =>
      (300L + i, (0 until 64).map(j => ((i * 64 + j) % 7 - 3).toFloat))
    }
    val fdf = rows.toDF("id", "v")
    val ddf = fdf.select(col("id"), col("v").cast("array<double>").as("v"))
    val planes = graft.queries.Pipeline.lshPlanes
    def run(df: org.apache.spark.sql.DataFrame, verify: Boolean) =
      Dedup.cosineLshScoredPairsWeighted(df, "id", "v", planes,
        numBands = 8, bitsPerBand = 8, maxBucket = 250,
        verifyCollisions = verify)
        .select(col("id_a"), col("id_b"), col("band_collisions"), col("cos"))
        .collect().map(_.toString).sorted.toSeq
    val f = run(fdf, verify = true)
    assert(f.nonEmpty && f == run(ddf, verify = false),
      "float carry must be bit-identical to the double-cast form")
    // the duplicate blocks collide in ALL 8 bands — the full packed long
    // (including band 7's top bits at 56..63) must compare equal
    val full = Dedup.cosineLshScoredPairsWeighted(fdf, "id", "v", planes,
      numBands = 8, bitsPerBand = 8, maxBucket = 250)
      .filter(col("id_a") >= 200 && col("id_b") >= 300 &&
        col("id_b") - col("id_a") === 100)
      .select("band_collisions").collect().map(_.getInt(0))
    // the weighted form emits k rows per pair (one per surviving band):
    // 10 identical pairs x 8 bands = 80 rows, every one counting 8 —
    // band 7's bucket rides bits 56..63 of the packed long, so this
    // pins the top-byte extraction too
    assert(full.length == 80 && full.forall(_ == 8),
      s"identical vectors must collide in all 8 bands: ${full.length} rows, ${full.distinct.toSeq}")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 2.0), Seq(2.0, 4.0)))
      .toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(sims(0) - 0.0) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
  }

  test("cosineTopK ranks the aligned vector first") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)), (4L, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(corpus, corpus.filter($"vec_id" === 1), "vec_id", "embedding", 2)
      .orderBy("rn").collect()
    assert(out(0).getAs[Long]("nid") == 2L)
  }

  test("ivfTopK finds planted-cluster neighbors") {
    // three well-separated clusters of 20 vectors each
    val rng = new scala.util.Random(3)
    val dirs = Seq(Seq(10.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0), Seq(0.0, 0.0, 10.0))
    val rows = for (c <- 0 until 3; i <- 0 until 20) yield {
      val base = dirs(c)
      ((c * 20 + i).toLong, base.map(x => (x + rng.nextGaussian() * 0.3).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(corpus, corpus.filter($"vec_id" === 0L),
      "vec_id", "embedding", numCells = 3, nProbe = 1, k = 5, trainIterations = 4)
      .collect()
    assert(out.length == 5)
    // all neighbors of vector 0 (cluster 0) come from cluster 0
    assert(out.forall(_.getAs[Long]("nid") < 20L))
    // and agree with brute force on the same data
    val brute = Similarity.cosineTopK(corpus, corpus.filter($"vec_id" === 0L),
      "vec_id", "embedding", 5).collect().map(_.getAs[Long]("nid")).toSet
    val ivf = out.map(_.getAs[Long]("nid")).toSet
    assert((ivf & brute).size >= 4) // ≥80% recall on planted clusters
  }

  test("ivfRecallReport equals the ivfTopK + cosineTopK + join composition") {
    // the fused serving path (one scan + one exchange) must report the
    // SAME per-query (n_results, recall_ok) the operator composition
    // does — candidate sets, rankings, and tie-breaks all replicated
    val docs = graft.Engine.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = docs.filter($"vec_id" < 5)
    val centroids = Similarity.kmeansCentroids(docs, "vec_id", "embedding", 16, 3)
    val fused = Similarity.ivfRecallReport(docs, "vec_id", "embedding",
      q.select($"vec_id", $"embedding".cast("array<double>")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1),
      centroids, nProbe = 4, k = 10, minHits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    val ivf = Similarity.ivfTopK(docs, q, "vec_id", "embedding",
      numCells = 16, nProbe = 4, k = 10)
    val exact = Similarity.cosineTopK(docs, q, "vec_id", "embedding", 10)
    val hits = ivf.select($"qid", $"nid")
      .join(exact.select($"qid", $"nid"), Seq("qid", "nid"))
      .groupBy($"qid").agg(count(lit(1)).as("n_hits"))
    val composed = ivf.groupBy($"qid").agg(count(lit(1)).as("n_results"))
      .join(hits, Seq("qid"), "left")
      .select($"qid", $"n_results",
        (coalesce($"n_hits", lit(0L)) >= 6).as("recall_ok"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(fused.toSeq == composed.toSeq,
      s"fused ${fused.toSeq} != composed ${composed.toSeq}")
  }

  test("a zero vector scores DuckDB's -1.0 in cosineTopK, ivfRecallReport and cosineLshScoredPairs") {
    // DuckDB 1.0: list_cosine_similarity([0,0],[1,2]) = -1.0, and so is
    // ([0,0],[0,0]); a bare divide by the zero norm fails under ANSI
    val corpus = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 2.0)), (3L, Seq(2.0, 1.0)),
      (4L, Seq(1.0, 2.0)), (5L, Seq(0.0, 0.0))).toDF("vec_id", "embedding")
    val topk = Similarity.cosineTopK(corpus, corpus.filter($"vec_id" <= 2), "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 1L), (2L, 5L)).forall(topk(_) == -1.0), topk)
    assert(math.abs(topk((2L, 4L)) - 1.0) < 1e-12 && math.abs(topk((2L, 3L)) - 0.8) < 1e-12, topk)

    val queries = Array((1L, Array(0.0, 0.0)), (2L, Array(1.0, 2.0)))
    val centroids = Array((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)))
    val sims = Similarity.ivfScored(corpus, "vec_id", "embedding", queries, centroids, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sims.size == 8 && sims.filter(_._1._1 == 1L).values.forall(_ == -1.0) &&
      sims((2L, 1L)) == -1.0 && sims((2L, 5L)) == -1.0 && math.abs(sims((2L, 4L)) - 1.0) < 1e-12, sims)
    val report = Similarity.ivfRecallReport(corpus, "vec_id", "embedding",
      queries, centroids, nProbe = 1, k = 2, minHits = 1).collect()
    assert(report.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))

    // one plane (1, 1): every vector here hashes to the same bucket
    val pairs = Dedup.cosineLshScoredPairs(corpus, "vec_id", "embedding",
      Array(Array(1.0, 1.0)), numBands = 1, bitsPerBand = 1, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.size == 10 && pairs((1L, 5L)) == -1.0 && pairs((2L, 5L)) == -1.0 &&
      pairs((1L, 3L)) == -1.0 && math.abs(pairs((2L, 4L)) - 1.0) < 1e-12, pairs)
  }

  test("ivfRecallReport's per-task top-k equals the unpruned window ranking") {
    // the unpruned formulation: every (qid, nid) pair crosses the (qid)
    // exchange and one sort ranks them; the report prunes to each map
    // task's top-k first, which must not change a count
    import org.apache.spark.sql.expressions.Window
    def unpruned(scored: org.apache.spark.sql.DataFrame, k: Int) = {
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid".asc)
      scored.withColumn("exact_rank", row_number().over(w))
        .withColumn("cand_rank", sum(when($"is_cand", 1).otherwise(0))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"qid")
        .agg(count(when($"is_cand" && $"cand_rank" <= k, 1)).as("n_results"),
          count(when($"is_cand" && $"cand_rank" <= k && $"exact_rank" <= k, 1)).as("n_hits"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).sortBy(_._1).toSeq
    def check(corpus: org.apache.spark.sql.DataFrame, queries: Array[(Long, Array[Double])],
              centroids: Array[(Int, Array[Double])], nProbe: Int, k: Int, minHits: Int): Unit = {
      val scored = Similarity.ivfScored(corpus, "vec_id", "embedding", queries, centroids, nProbe)
      val want = rows(unpruned(scored, k))
      assert(want.nonEmpty)
      assert(rows(Similarity.ivfRecallCounts(scored, k)) == want)
      val report = rows(Similarity.ivfRecallReport(corpus, "vec_id", "embedding",
        queries, centroids, nProbe, k, minHits))
      assert(report == want.map { case (q, n, h) => (q, n, h.asInstanceOf[Long] >= minHits) })
    }
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = graft.Engine.table(spark, s"/root/testdata/$sf", "embeddings")
      val queries = docs.filter($"vec_id" < 5)
        .select($"vec_id", $"embedding".cast("array<double>")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      val centroids = Similarity.kmeansCentroids(docs, "vec_id", "embedding", 16, 3)
      check(docs, queries, centroids, nProbe = 4, k = 10, minHits = 6)
    }
    // crafted: sim ties broken by nid (1.0 ×6; 0.0 against -0.0), a NaN
    // sim (ranks above every number), a null sim (ranks last), fewer
    // than k candidates, spread over 3 map tasks so buffers merge.
    val vecs = Seq(1.0, 2.0, 3.0, 0.5, 4.0, 7.0).map(c => Seq(c, 0.0)) ++
      Seq(Seq(Double.NaN, 1.0), null, Seq(0.0, 1.0), Seq(-0.0, -1.0),
        Seq(-1.0, 0.0), Seq(1.0, 1.0), Seq(1.0, -1.0), Seq(-1.0, 2.0))
    val corpus = vecs.zipWithIndex.map { case (v, i) => (i.toLong + 1, v) }
      .toDF("vec_id", "embedding").repartition(3)
    val centroids = Array((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)), (2, Array(-1.0, 0.0)))
    // query 102 probes cell 1 only: its sim ties straddle candidates
    // and non-candidates, so the nid tie-break decides n_hits
    val queries = Array((1L, Array(1.0, 0.0)), (100L, Array(0.0, 1.0)),
      (101L, Array(-1.0, 0.0)), (102L, Array(1.0, 1.0)))
    for (k <- Seq(3, 10); nProbe <- Seq(1, 2)) check(corpus, queries, centroids, nProbe, k, 2)
  }

  test("centroid assignment plans with no exchange, no UDF, compiles under codegen-only") {
    withCodegenOnly {
      val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
        (3L, Seq(0.6, 0.8)), (4L, Seq.empty[Double])).toDF("id", "v")
      val centroids = Array((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)))
      val assigned = Similarity.assignToCentroids(vecs, centroids)
      val plan = assigned.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"assignment stage must be shuffle-free:\n$plan")
      assert(!plan.contains("UDF"), s"assignment must be the codegen expression:\n$plan")
      val byId = assigned.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(byId(1L) == 0 && byId(2L) == 1 && byId(3L) == 1)
      // empty vector: every score is 0 * invNorm = 0; first centroid wins
      assert(byId(4L) == 0)
    }
  }

  test("lshNearNeighbors caps degenerate buckets (no quadratic blowup)") {
    // all-identical vectors land in ONE bucket; with maxBucket below the
    // corpus size that bucket must be dropped, not self-joined 500²
    val corpus = (0 until 500).map(i => (i.toLong, Seq(1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.lshNearNeighbors(corpus, "vec_id", "embedding",
      numPlanes = 8, dim = 3, k = 3, maxBucket = 100)
    assert(out.count() == 0L)
    // sanity: distinct vectors below the cap still produce neighbors
    val rng = new scala.util.Random(7)
    val ok = (0 until 50).map(i => (i.toLong,
      Seq.fill(3)((1.0 + rng.nextGaussian() * 0.05).toFloat))).toDF("vec_id", "embedding")
    assert(Similarity.lshNearNeighbors(ok, "vec_id", "embedding",
      numPlanes = 8, dim = 3, k = 3, maxBucket = 100).count() > 0L)
  }

  test("lshBucket groups aligned vectors") {
    val planes = Similarity.hyperplanes(8, 3)
    val df = Seq((1L, Seq(1.0, 0.1, 0.0)), (2L, Seq(0.9, 0.11, 0.01)), (3L, Seq(-1.0, -0.1, 0.0)))
      .toDF("id", "v")
    val buckets = df.select(col("id"), Similarity.lshBucket(col("v"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(1L) == buckets(2L))
    assert(buckets(1L) != buckets(3L))
  }

  test("semanticClusters recovers planted clusters; assignment is map-only") {
    // three tight, well-separated blobs; init = the 3 lowest ids, one in
    // each blob (ids interleaved across blobs so the k seeds differ)
    val rng = new scala.util.Random(11)
    val dirs = Seq(Seq(10.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0), Seq(0.0, 0.0, 10.0))
    val rows = for (i <- 0 until 60) yield {
      val c = i % 3
      (i.toLong, dirs(c).map(x => (x + rng.nextGaussian() * 0.3).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val out = Similarity.semanticClusters(corpus, "vec_id", "embedding",
      k = 3, iterations = 2)
    // each planted blob maps to exactly one output cluster
    val byBlob = out.collect().map(r => (r.getLong(0) % 3, r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byBlob.values.forall(_.size == 1), s"blob split across clusters: $byBlob")
    assert(byBlob.values.toSet.size == 3, s"clusters collapsed: $byBlob")
    // the final assignment pass never shuffles the corpus
    val plan = Similarity.semanticClusters(corpus, "vec_id", "embedding",
      k = 3, iterations = 0).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must be map-only:\n$plan")
  }

  test("semanticClusters rejects inputs outside the exact-arithmetic envelope") {
    // ADVICE r4 (5694f23:ADVICE.md): the bit-exactness claim holds only while dim·max|w|² <
    // 2^52 — unnormalized embeddings (or an oversized `scale`) must fail
    // loudly, not silently drop low bits cross-engine.
    val huge = Seq((1L, Seq(1e9, 1e9)), (2L, Seq(-1e9, 1e9)))
      .toDF("id", "v")
    intercept[IllegalArgumentException] {
      Similarity.semanticClusters(huge, "id", "v", k = 1, iterations = 1)
    }
    // seed rows in range but later rows out of range: the up-front
    // guard pass scans the FULL corpus, so this must fail identically
    // (and with iterations = 0, where no aggregate pass would run)
    val mixed = Seq((1L, Seq(0.1, 0.2)), (2L, Seq(1e9, 1e9)))
      .toDF("id", "v")
    intercept[IllegalArgumentException] {
      Similarity.semanticClusters(mixed, "id", "v", k = 1, iterations = 1)
    }
    intercept[IllegalArgumentException] {
      Similarity.semanticClusters(mixed, "id", "v", k = 1, iterations = 0)
    }
  }

  test("semanticClusters keeps a centroid when its cell empties") {
    // k=3 over two distinct points: one centroid never wins a row but
    // the iteration must not crash or emit its id
    val corpus = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.semanticClusters(corpus, "vec_id", "embedding",
      k = 3, iterations = 2).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(0L) == out(1L))
    assert(out(0L) != out(2L))
  }

  test("centroid memo never collides two in-memory corpora with equal schema") {
    // Regression: LocalRelation canonicalizes WITHOUT its rows, so a
    // plan-text memo key would serve corpus A's centroids to corpus B.
    // Two same-schema corpora whose cluster structure is orthogonal:
    // each must get ITS OWN assignment (A splits ids {0,1} vs {2};
    // B groups {10,12} vs {11} on the opposite axis).
    val a = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val b = Seq((10L, Seq(0.0f, 5.0f)), (11L, Seq(5.0f, 0.0f)),
      (12L, Seq(0.1f, 4.9f))).toDF("vec_id", "embedding")
    val outA = Similarity.semanticClusters(a, "vec_id", "embedding",
      k = 2, iterations = 3).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val outB = Similarity.semanticClusters(b, "vec_id", "embedding",
      k = 2, iterations = 3).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(outA(0L) == outA(1L) && outA(0L) != outA(2L))
    assert(outB(10L) == outB(12L) && outB(10L) != outB(11L))
    // same shape for the IVF quantizer memo: B must be trained on B
    val cA = Similarity.kmeansCentroidsCached(a, "vec_id", "embedding",
      k = 1, iterations = 2)
    val cB = Similarity.kmeansCentroidsCached(b, "vec_id", "embedding",
      k = 1, iterations = 2)
    assert(!java.util.Arrays.equals(cA(0)._2, cB(0)._2))
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("quality features on known text") {
    val df = Seq((1L, "the cat sat on a mat")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityFeatures(df, "text").head()
    assert(r.getAs[Long]("n_tokens") == 6L)
    assert(math.abs(r.getAs[Double]("stop_ratio") - 2.0 / 6.0) < 1e-6)
    assert(r.getAs[Double]("digit_ratio") == 0.0)
  }

  test("langId: script detection and legacy behaviors") {
    assert(TextAnalysis.langIdHeuristic("你好世界你好世界") == "zh")
    assert(TextAnalysis.langIdHeuristic("これはとても面白い本です") == "ja") // kana beats han
    assert(TextAnalysis.langIdHeuristic("안녕하세요 오늘 날씨가 좋네요") == "ko")
    assert(TextAnalysis.langIdHeuristic("сегодня хорошая погода на улице") == "ru")
    assert(TextAnalysis.langIdHeuristic("the cat is on the mat") == "en")
    assert(TextAnalysis.langIdHeuristic("el perro y la casa que de") == "es")
    assert(TextAnalysis.langIdHeuristic("") == "und")
    assert(TextAnalysis.langIdHeuristic("12345 !!! ???") == "und")
  }

  test("langId: >=95% accuracy on clean sentences across the supported set") {
    // fixture sentences deliberately DISJOINT from the embedded seed
    // prose — ordinary written language, 5 per latin-script language
    val fixture: Seq[(String, String)] = Seq(
      "en" -> "she opened the window because the room was too warm",
      "en" -> "our neighbors bought a new car last week and they love it",
      "en" -> "the museum closes early on sundays during the winter months",
      "en" -> "he could not remember where he had left his keys",
      "en" -> "many students prefer studying together before difficult exams",
      "es" -> "ella abrio la ventana porque la habitacion estaba demasiado calida",
      "es" -> "nuestros vecinos compraron un coche nuevo la semana pasada",
      "es" -> "el museo cierra temprano los domingos durante el invierno",
      "es" -> "no podia recordar donde habia dejado sus llaves",
      "es" -> "muchos estudiantes prefieren estudiar juntos antes de los examenes",
      "fr" -> "elle a ouvert la fenetre parce que la piece etait trop chaude",
      "fr" -> "nos voisins ont achete une nouvelle voiture la semaine derniere",
      "fr" -> "le musee ferme tot le dimanche pendant les mois d hiver",
      "fr" -> "il ne pouvait pas se rappeler ou il avait laisse ses cles",
      "fr" -> "beaucoup d etudiants preferent etudier ensemble avant les examens",
      "de" -> "sie offnete das fenster weil das zimmer zu warm war",
      "de" -> "unsere nachbarn haben letzte woche ein neues auto gekauft",
      "de" -> "das museum schliesst sonntags im winter immer sehr fruh",
      "de" -> "er konnte sich nicht erinnern wo er seine schlussel gelassen hatte",
      "de" -> "viele studenten lernen lieber zusammen vor schweren prufungen",
      "it" -> "lei ha aperto la finestra perche la stanza era troppo calda",
      "it" -> "i nostri vicini hanno comprato una macchina nuova la settimana scorsa",
      "it" -> "il museo chiude presto la domenica durante i mesi invernali",
      "it" -> "non riusciva a ricordare dove aveva lasciato le sue chiavi",
      "it" -> "molti studenti preferiscono studiare insieme prima degli esami",
      "pt" -> "ela abriu a janela porque o quarto estava quente demais",
      "pt" -> "os nossos vizinhos compraram um carro novo na semana passada",
      "pt" -> "o museu fecha cedo aos domingos durante os meses de inverno",
      "pt" -> "ele nao conseguia lembrar onde tinha deixado as suas chaves",
      "pt" -> "muitos estudantes preferem estudar juntos antes das provas",
      "nl" -> "zij opende het raam omdat de kamer veel te warm was",
      "nl" -> "onze buren hebben vorige week een nieuwe auto gekocht",
      "nl" -> "het museum sluit s winters op zondag altijd heel vroeg",
      "nl" -> "hij kon zich niet herinneren waar hij zijn sleutels had gelaten",
      "nl" -> "veel studenten leren liever samen voor moeilijke examens",
      "sv" -> "hon oppnade fonstret eftersom rummet var alldeles for varmt",
      "sv" -> "vara grannar kopte en ny bil forra veckan och de alskar den",
      "sv" -> "museet stanger tidigt pa sondagar under vintermanaderna",
      "sv" -> "han kunde inte minnas var han hade lagt sina nycklar",
      "sv" -> "manga studenter foredrar att plugga tillsammans infor svara prov",
      "pl" -> "ona otworzyla okno poniewaz w pokoju bylo za goraco",
      "pl" -> "nasi sasiedzi kupili w zeszlym tygodniu nowy samochod",
      "pl" -> "muzeum zamyka sie wczesnie w niedziele w miesiacach zimowych",
      "pl" -> "nie mogl sobie przypomniec gdzie zostawil swoje klucze",
      "pl" -> "wielu studentow woli uczyc sie razem przed trudnymi egzaminami",
      "ro" -> "ea a deschis fereastra pentru ca in camera era prea cald",
      "ro" -> "vecinii nostri au cumparat o masina noua saptamana trecuta",
      "ro" -> "muzeul se inchide devreme duminica in lunile de iarna",
      "ro" -> "el nu isi putea aminti unde isi lasase cheile",
      "ro" -> "multi studenti prefera sa invete impreuna inaintea examenelor grele",
      "id" -> "dia membuka jendela karena kamar itu terlalu panas",
      "id" -> "tetangga kami membeli mobil baru minggu lalu dan mereka menyukainya",
      "id" -> "museum itu tutup lebih awal pada hari minggu selama musim dingin",
      "id" -> "dia tidak ingat di mana dia meninggalkan kuncinya",
      "id" -> "banyak pelajar lebih suka belajar bersama sebelum ujian yang sulit",
      // r11: Cyrillic-script (ru/uk/bg) and Arabic-script (ar/fa)
      // separation via the same trigram recipe
      "ru" -> "она открыла окно потому что в комнате было слишком жарко",
      "ru" -> "наши соседи купили новую машину на прошлой неделе",
      "ru" -> "музей закрывается рано по воскресеньям в зимние месяцы",
      "ru" -> "он не мог вспомнить где оставил свои ключи",
      "ru" -> "многие студенты предпочитают заниматься вместе перед трудными экзаменами",
      "uk" -> "вона відчинила вікно бо в кімнаті було надто спекотно",
      "uk" -> "наші сусіди купили нову машину минулого тижня",
      "uk" -> "музей зачиняється рано в неділю взимку",
      "uk" -> "він не міг згадати де залишив свої ключі",
      "uk" -> "багато студентів воліють навчатися разом перед важкими іспитами",
      "bg" -> "тя отвори прозореца защото в стаята беше твърде горещо",
      "bg" -> "нашите съседи купиха нова кола миналата седмица",
      "bg" -> "музеят затваря рано в неделя през зимните месеци",
      "bg" -> "той не можеше да си спомни къде е оставил ключовете си",
      "bg" -> "много студенти предпочитат да учат заедно преди трудните изпити",
      "ar" -> "فتحت النافذة لأن الغرفة كانت حارة جدا",
      "ar" -> "اشترى جيراننا سيارة جديدة الأسبوع الماضي",
      "ar" -> "يغلق المتحف مبكرا أيام الأحد في أشهر الشتاء",
      "ar" -> "لم يستطع أن يتذكر أين ترك مفاتيحه",
      "ar" -> "يفضل كثير من الطلاب الدراسة معا قبل الامتحانات الصعبة",
      "fa" -> "او پنجره را باز کرد چون اتاق خیلی گرم بود",
      "fa" -> "همسایه های ما هفته گذشته یک ماشین نو خریدند",
      "fa" -> "موزه در روزهای یکشنبه در ماه های زمستان زود بسته می شود",
      "fa" -> "او نمی توانست به یاد بیاورد کلیدهایش را کجا گذاشته است",
      "fa" -> "بسیاری از دانشجویان ترجیح می دهند قبل از امتحان های سخت با هم درس بخوانند",
      // r12: Devanagari (hi) and Thai (th) script decisions; tr/vi/cs/da/fi
      // join the Latin trigram group
      "hi" -> "उसने खिड़की खोली क्योंकि कमरा बहुत गरम था",
      "hi" -> "हमारे पड़ोसियों ने पिछले हफ्ते एक नई कार खरीदी",
      "hi" -> "संग्रहालय सर्दियों में रविवार को जल्दी बंद हो जाता है",
      "hi" -> "उसे याद नहीं आ रहा था कि उसने अपनी चाबियां कहां छोड़ी थीं",
      "hi" -> "कई छात्र कठिन परीक्षाओं से पहले साथ पढ़ना पसंद करते हैं",
      "bn" -> "সে জানালা খুলে দিল কারণ ঘরটা খুব গরম ছিল",
      "bn" -> "আমাদের প্রতিবেশীরা গত সপ্তাহে একটি নতুন গাড়ি কিনেছে",
      "bn" -> "জাদুঘরটি শীতকালে রবিবারে তাড়াতাড়ি বন্ধ হয়ে যায়",
      "bn" -> "সে মনে করতে পারছিল না চাবিগুলো কোথায় রেখেছে",
      "bn" -> "অনেক ছাত্র কঠিন পরীক্ষার আগে একসাথে পড়তে পছন্দ করে",
      "th" -> "เธอเปิดหน้าต่างเพราะห้องร้อนเกินไป",
      "th" -> "เพื่อนบ้านของเราซื้อรถใหม่เมื่อสัปดาห์ที่แล้ว",
      "th" -> "พิพิธภัณฑ์ปิดเร็วในวันอาทิตย์ช่วงฤดูหนาว",
      "th" -> "เขาจำไม่ได้ว่าวางกุญแจไว้ที่ไหน",
      "th" -> "นักเรียนหลายคนชอบอ่านหนังสือด้วยกันก่อนสอบยาก",
      "tr" -> "kadın oda çok sıcak olduğu için pencereyi açtı",
      "tr" -> "komşularımız geçen hafta yeni bir araba satın aldılar",
      "tr" -> "müze kış aylarında pazar günleri erken kapanır",
      "tr" -> "anahtarlarını nerede bıraktığını hatırlayamıyordu",
      "tr" -> "birçok öğrenci zor sınavlardan önce birlikte çalışmayı tercih eder",
      "vi" -> "cô ấy mở cửa sổ vì căn phòng quá nóng",
      "vi" -> "hàng xóm của chúng tôi đã mua một chiếc xe mới vào tuần trước",
      "vi" -> "bảo tàng đóng cửa sớm vào chủ nhật trong những tháng mùa đông",
      "vi" -> "anh ấy không thể nhớ mình đã để chìa khóa ở đâu",
      "vi" -> "nhiều sinh viên thích học cùng nhau trước những kỳ thi khó",
      "cs" -> "otevřela okno protože v pokoji bylo příliš horko",
      "cs" -> "naši sousedé si minulý týden koupili nové auto",
      "cs" -> "muzeum zavírá v neděli během zimních měsíců brzy",
      "cs" -> "nemohl si vzpomenout kde nechal své klíče",
      "cs" -> "mnoho studentů se raději učí společně před těžkými zkouškami",
      "da" -> "hun åbnede vinduet fordi værelset var alt for varmt",
      "da" -> "vores naboer købte en ny bil i sidste uge",
      "da" -> "museet lukker tidligt om søndagen i vintermånederne",
      "da" -> "han kunne ikke huske hvor han havde lagt sine nøgler",
      "da" -> "mange studerende foretrækker at læse sammen før svære eksamener",
      "fi" -> "hän avasi ikkunan koska huone oli aivan liian kuuma",
      "fi" -> "naapurimme ostivat uuden auton viime viikolla",
      "fi" -> "museo sulkeutuu aikaisin sunnuntaisin talvikuukausina",
      "fi" -> "hän ei muistanut minne oli jättänyt avaimensa",
      "fi" -> "monet opiskelijat opiskelevat mieluummin yhdessä ennen vaikeita kokeita",
      // r13: four more Indic scripts (ta/te/kn/ml — single-script
      // decisions like bn), Urdu in the Arabic-script trigram group,
      // and sk/no/hu in the Latin group (adversarially close to the
      // already-supported cs and da)
      "ta" -> "அறை மிகவும் சூடாக இருந்ததால் அவள் ஜன்னலைத் திறந்தாள்",
      "ta" -> "எங்கள் அண்டை வீட்டார் போன வாரம் ஒரு புதிய கார் வாங்கினார்கள்",
      "ta" -> "குளிர்கால மாதங்களில் ஞாயிற்றுக்கிழமைகளில் அருங்காட்சியகம் சீக்கிரம் மூடப்படும்",
      "ta" -> "தன் சாவிகளை எங்கே வைத்தான் என்று அவனுக்கு நினைவில்லை",
      "ta" -> "பல மாணவர்கள் கடினமான தேர்வுகளுக்கு முன் ஒன்றாகப் படிக்க விரும்புகிறார்கள்",
      "te" -> "గది చాలా వేడిగా ఉన్నందున ఆమె కిటికీ తెరిచింది",
      "te" -> "మా పొరుగువారు గత వారం కొత్త కారు కొన్నారు",
      "te" -> "శీతాకాలంలో ఆదివారాల్లో మ్యూజియం త్వరగా మూసివేస్తారు",
      "te" -> "తన తాళాలు ఎక్కడ పెట్టాడో అతనికి గుర్తు రాలేదు",
      "te" -> "చాలా మంది విద్యార్థులు కష్టమైన పరీక్షల ముందు కలిసి చదవడానికి ఇష్టపడతారు",
      "kn" -> "ಕೋಣೆ ತುಂಬಾ ಬಿಸಿಯಾಗಿದ್ದರಿಂದ ಅವಳು ಕಿಟಕಿ ತೆರೆದಳು",
      "kn" -> "ನಮ್ಮ ನೆರೆಹೊರೆಯವರು ಕಳೆದ ವಾರ ಹೊಸ ಕಾರು ಖರೀದಿಸಿದರು",
      "kn" -> "ಚಳಿಗಾಲದಲ್ಲಿ ಭಾನುವಾರಗಳಂದು ವಸ್ತುಸಂಗ್ರಹಾಲಯ ಬೇಗ ಮುಚ್ಚುತ್ತದೆ",
      "kn" -> "ತನ್ನ ಕೀಲಿಗಳನ್ನು ಎಲ್ಲಿ ಇಟ್ಟಿದ್ದೇನೆಂದು ಅವನಿಗೆ ನೆನಪಾಗಲಿಲ್ಲ",
      "kn" -> "ಅನೇಕ ವಿದ್ಯಾರ್ಥಿಗಳು ಕಠಿಣ ಪರೀಕ್ಷೆಗಳ ಮೊದಲು ಒಟ್ಟಿಗೆ ಓದಲು ಇಷ್ಟಪಡುತ್ತಾರೆ",
      "ml" -> "മുറി വളരെ ചൂടായിരുന്നതിനാൽ അവൾ ജനൽ തുറന്നു",
      "ml" -> "ഞങ്ങളുടെ അയൽക്കാർ കഴിഞ്ഞ ആഴ്ച ഒരു പുതിയ കാർ വാങ്ങി",
      "ml" -> "തണുപ്പുകാലത്ത് ഞായറാഴ്ചകളിൽ മ്യൂസിയം നേരത്തെ അടയ്ക്കും",
      "ml" -> "താക്കോലുകൾ എവിടെ വെച്ചെന്ന് അവന് ഓർമ്മ വന്നില്ല",
      "ml" -> "പല വിദ്യാർത്ഥികളും കഠിനമായ പരീക്ഷകൾക്ക് മുമ്പ് ഒരുമിച്ച് പഠിക്കാൻ ഇഷ്ടപ്പെടുന്നു",
      "ur" -> "کمرہ بہت گرم تھا اس لیے اس نے کھڑکی کھول دی",
      "ur" -> "ہمارے پڑوسیوں نے پچھلے ہفتے ایک نئی گاڑی خریدی",
      "ur" -> "سردیوں کے مہینوں میں عجائب گھر اتوار کو جلدی بند ہو جاتا ہے",
      "ur" -> "اسے یاد نہیں آ رہا تھا کہ اس نے اپنی چابیاں کہاں چھوڑی تھیں",
      "ur" -> "بہت سے طالب علم مشکل امتحانوں سے پہلے مل کر پڑھنا پسند کرتے ہیں",
      "sk" -> "otvorila okno pretože v izbe bolo príliš horúco",
      "sk" -> "naši susedia si minulý týždeň kúpili nové auto",
      "sk" -> "múzeum sa v zime v nedeľu zatvára veľmi skoro",
      "sk" -> "nevedel si spomenúť kde nechal svoje kľúče",
      "sk" -> "mnohí študenti sa radšej učia spolu pred ťažkými skúškami",
      "no" -> "hun åpnet vinduet fordi rommet var altfor varmt",
      "no" -> "naboene våre kjøpte en ny bil i forrige uke",
      "no" -> "museet stenger tidlig om søndagene i vintermånedene",
      "no" -> "han kunne ikke huske hvor han hadde lagt nøklene sine",
      "no" -> "mange studenter foretrekker å lese sammen før vanskelige eksamener",
      "hu" -> "kinyitotta az ablakot mert a szoba túl meleg volt",
      "hu" -> "a szomszédaink múlt héten új autót vettek",
      "hu" -> "a múzeum télen vasárnaponként korán zár be",
      "hu" -> "nem emlékezett rá hogy hol hagyta a kulcsait",
      "hu" -> "sok diák szívesebben tanul együtt a nehéz vizsgák előtt")
    // script-dominance thresholds: a Devanagari/Thai/Bengali sentence
    // with a few embedded Latin tokens (brand names, numbers-as-words)
    // must still take the script decision — letters of the script stay
    // the majority
    assert(graft.operators.LangId.classify(
      "उसने spark नाम का software कल download किया और उसे अच्छा लगा") == "hi")
    assert(graft.operators.LangId.classify(
      "เขาใช้ spark ทำงานข้อมูลทุกวันและมันเร็วมาก") == "th")
    assert(graft.operators.LangId.classify(
      "সে প্রতিদিন spark দিয়ে কাজ করে এবং এটি খুব দ্রুত") == "bn")
    // r13 abugidas: the mixed-script dominance rule must hold for the
    // four new Indic scripts too (their vowel signs are combining
    // marks — the r12 script-unit counting is what keeps the script
    // dominant over embedded Latin tokens)
    assert(graft.operators.LangId.classify(
      "அவன் spark மூலம் data வேலை செய்கிறான் அது மிக வேகமாக உள்ளது") == "ta")
    assert(graft.operators.LangId.classify(
      "అతను ప్రతి రోజు spark తో data పని చేస్తాడు అది చాలా వేగంగా ఉంది") == "te")
    assert(graft.operators.LangId.classify(
      "ಅವನು ಪ್ರತಿದಿನ spark ಬಳಸಿ data ಕೆಲಸ ಮಾಡುತ್ತಾನೆ ಅದು ತುಂಬಾ ವೇಗವಾಗಿದೆ") == "kn")
    assert(graft.operators.LangId.classify(
      "അവൻ എല്ലാ ദിവസവും spark ഉപയോഗിച്ച് data ജോലി ചെയ്യുന്നു അത് വളരെ വേഗമാണ്") == "ml")
    val wrong = fixture.filter { case (lang, s) =>
      graft.operators.LangId.classify(s) != lang }
    val acc = 1.0 - wrong.size.toDouble / fixture.size
    assert(acc >= 0.95, s"accuracy $acc; misclassified: " + wrong.map { case (l, s) =>
      s"[$l->${graft.operators.LangId.classify(s)}] $s" }.mkString("; "))
  }

  test("qualityFilter names exactly the failed rules") {
    val docs = Seq(
      (1L, "the cat sat on a mat and it is fine for all of us to see"), // clean
      (2L, "word"),                                    // too_short (+ no stopwords)
      (3L, "1234 5678 9999 0000 1111 2222"),           // digits: alpha+digit+stopwords
      (4L, "the " + "pneumonoultramicroscopic " * 9)   // token_len (avg > 12)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(3)))).toMap
    assert(out(1L) == ((true, "")))
    assert(!out(2L)._1 && out(2L)._2.contains("too_short"))
    assert(!out(3L)._1 && out(3L)._2.contains("high_digit") &&
      out(3L)._2.contains("low_alpha") && out(3L)._2.contains("low_stopwords"))
    assert(!out(4L)._1 && out(4L)._2.contains("token_len"))
  }

  test("fingerprint is whitespace/case normalized") {
    val df = Seq("A  B c", "a b C").toDF("t")
    val fps = df.select(TextAnalysis.fingerprint(col("t"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("extractFeatures runs partition-parallel and is deterministic") {
    val ds = Seq(
      Multimodal.MediaRecord(1L, "hello world".getBytes("UTF-8"), "image/fake", 8, 8),
      Multimodal.MediaRecord(2L, Array.emptyByteArray, "image/fake", 8, 8))
      .toDS().repartition(2)
    val feats = Multimodal.extractFeatures(ds).collect().sortBy(_.id)
    assert(feats(0).nBytes == 11L)
    assert(feats(0).thumbnail.length == 64)
    assert(feats(1).nBytes == 0L && feats(1).entropyBits == 0.0)
    val again = Multimodal.extractFeatures(ds).collect().sortBy(_.id)
    assert(feats(0).meanByte == again(0).meanByte)
  }

  test("sampleFrames strides over payload chunks") {
    val ds = Seq(Multimodal.MediaRecord(1L, (0 until 100).map(_.toByte).toArray, "video/fake", 0, 0)).toDS()
    val frames = Multimodal.sampleFrames(ds, frameBytes = 10, stride = 2).collect()
    assert(frames.length == 5) // chunks 0,2,4,6,8
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("decodeImage round-trips a grayscale PNG exactly (raw samples, no sRGB)") {
    val img = new java.awt.image.BufferedImage(
      6, 4, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 4; x <- 0 until 6)
      img.getRaster.setSample(x, y, 0, (y * 6 + x) * 11 % 256)
    val Some((px, w, h)) = Multimodal.decodeImage(pngBytes(img))
    assert(w == 6 && h == 4)
    // TYPE_BYTE_GRAY via getRGB would corrupt these (128 -> ~186); the
    // raw-sample path must return the written values verbatim
    assert(px.zipWithIndex.forall { case (b, i) => (b & 0xff) == i * 11 % 256 })
    // MmLab r17: decode must run with MEMORY stream caches — the default
    // disk cache creates one tmpdir file per image and made the row's
    // wall-clock hostage to host tmpdir state (1114 vs 338 ms at sf0.1)
    assert(!javax.imageio.ImageIO.getUseCache)
  }

  test("decodeImage converts RGB PNG by integer luminance; junk returns None") {
    val img = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // pure red
    img.setRGB(1, 0, 0x4080c0) // mixed
    val Some((px, w, h)) = Multimodal.decodeImage(pngBytes(img))
    assert(w == 2 && h == 1)
    assert((px(0) & 0xff) == (299 * 255 + 500) / 1000)
    assert((px(1) & 0xff) ==
      (299 * 0x40 + 587 * 0x80 + 114 * 0xc0 + 500) / 1000)
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("resize decodes real PNG payloads with dims from the image, not metadata") {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 8; x <- 0 until 8)
      img.getRaster.setSample(x, y, 0, (y * 8 + x) * 3 % 256)
    // declared -1×-1: the real path must take 8×8 from the decode
    val ds = Seq(Multimodal.MediaRecord(
      1L, pngBytes(img), "image/png", -1, -1)).toDS()
    val out = Multimodal.resize(ds, 4, 4).collect().head
    // nearest-neighbor picks src(2y*8 + 2x) = ((16y + 2x)*3) % 256
    val expect = (for (y <- 0 until 4; x <- 0 until 4)
      yield ((16 * y + 2 * x) * 3 % 256).toLong).sum
    assert(out.checksum == expect && out.pixels.length == 16)
    // a JPEG payload decodes too (lossy values, but real dims)
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jbos)
    val Some((_, jw, jh)) = Multimodal.decodeImage(jbos.toByteArray)
    assert(jw == 8 && jh == 8)
  }

  test("decodeImage round-trips BMP exactly too (second lossless JDK codec)") {
    val img = new java.awt.image.BufferedImage(
      5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 5) {
      val v = (y * 5 + x) * 17 % 256
      img.setRGB(x, y, (v << 16) | (v << 8) | v) // gray via RGB: lum == v
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    val Some((px, w, h)) = Multimodal.decodeImage(bos.toByteArray)
    assert(w == 5 && h == 3)
    // integer luminance of r=g=b=v is exactly v
    assert(px.zipWithIndex.forall { case (b, i) => (b & 0xff) == i * 17 % 256 })
  }

  test("decodeWavPcm16 round-trips PCM samples exactly; features match by hand") {
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 5, -5, 0)
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      bytes(2 * i) = (v & 0xff).toByte
      bytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val Some((dec, rate, ch)) = Multimodal.decodeWavPcm16(bos.toByteArray)
    assert(rate == 8000 && ch == 1 && dec.toSeq == samples.toSeq)
    val ds = Seq(Multimodal.MediaRecord(
      7L, bos.toByteArray, "audio/wav", -1, -1)).toDS()
    val f = Multimodal.extractAudioFeatures(ds).collect().head
    assert(f.nSamples == 8 && f.peakAbs == 32768L)
    assert(f.sumSquares == samples.map(v => v.toLong * v).sum)
    // sign flips: 1000->-1000, -1000->32767, 32767->-32768, -32768->5,
    // 5->-5, -5->0  (0 counts as non-negative)
    assert(f.zeroCrossings == 6)
    // junk payload falls back to signed-8-bit-byte samples, never throws
    val junk = Multimodal.extractAudioFeatures(Seq(Multimodal.MediaRecord(
      8L, Array[Byte](1, -1), "audio/raw", 0, 0)).toDS()).collect().head
    assert(junk.nSamples == 2 && junk.sampleRate == 0 && junk.zeroCrossings == 1)
  }

  test("resize handles metadata larger than the old fixed decode buffer (r11 OOB fix)") {
    // 16×16 declared dims: the pre-r11 fakeDecode returned 64 bytes and
    // resize indexed src(sy*16+sx) up to 255 — executor AIOOBE
    val ds = Seq(
      Multimodal.MediaRecord(1L, "some payload bytes".getBytes("UTF-8"), "image/fake", 16, 16),
      Multimodal.MediaRecord(2L, "x".getBytes("UTF-8"), "image/fake", 64, 32))
      .toDS().repartition(2)
    val out = Multimodal.resize(ds, 4, 4).collect().sortBy(_.id)
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.outW == 4 && r.outH == 4 && r.pixels.length == 16 && r.nBytes == 16L)
    }
    // deterministic
    val again = Multimodal.resize(ds, 4, 4).collect().sortBy(_.id)
    assert(out.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
  }
}

class RecursionSpec extends SparkSpec {
  import spark.implicits._

  test("fixpoint computes transitive closure") {
    val edges = Seq((1, 2), (2, 3), (3, 4)).toDF("src", "dst")
    val seed = edges
    val closure = Recursion.fixpoint(seed, f =>
      f.as("f").join(edges.as("e"), col("f.dst") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("dst")), 10)
    val got = closure.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == Set((1, 2), (2, 3), (3, 4), (1, 3), (2, 4), (1, 4)))
  }

  test("fixpoint local tier spills to the distributed loop at the row limit") {
    val seed = Seq(1L).toDF("i")
    val step = (f: org.apache.spark.sql.DataFrame) =>
      f.filter(col("i") < 50).select((col("i") + 1).as("i"))
    // limit 5 forces the mid-flight handoff; result must be identical
    val spilled = Recursion.fixpoint(seed, step, maxIterations = 60, localRowLimit = 5)
      .as[Long].collect().sorted
    assert(spilled.toSeq == (1L to 50L))
    val localOnly = Recursion.fixpoint(seed, step, maxIterations = 60)
      .as[Long].collect().sorted
    assert(localOnly.toSeq == (1L to 50L))
  }

  test("fixpoint spill tier runs with session parallelism and AQE, not the local pin") {
    // Record the confs the step callback observes: the distributed loop
    // builds (and eagerly materializes) its plans while the loop runs, so
    // the confs seen here are the ones its shuffles execute under.
    val observed = collection.mutable.ArrayBuffer.empty[(String, String)]
    val step = (f: org.apache.spark.sql.DataFrame) => {
      observed += ((spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled")))
      f.filter(col("i") < 30).select((col("i") + 1).as("i"))
    }
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions")

    // localRowLimit=0 → immediate spill: every step runs in the
    // distributed tier and must see >1 shuffle partitions + AQE on.
    observed.clear()
    val seed = Seq(1L).toDF("i")
    val res = Recursion.fixpoint(seed, step, maxIterations = 40, localRowLimit = 0)
      .as[Long].collect().sorted
    assert(res.toSeq == (1L to 30L))
    assert(observed.nonEmpty)
    assert(observed.forall { case (p, aqe) => p == defaultParts && aqe == "true" },
      s"spill tier saw pinned confs: $observed")
    assert(defaultParts.toInt > 1)

    // confs restored after the run
    assert(spark.conf.get("spark.sql.shuffle.partitions") == defaultParts)
  }
}
