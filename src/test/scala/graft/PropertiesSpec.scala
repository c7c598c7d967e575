package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Metamorphic properties — the analog of the reference's
  * StatementVerifier (duckdb-internal.hpp:49453: N independent
  * evaluation paths must agree).
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic generator sampling (raw scalacheck, no scalatestplus
    * bridge in the offline cache). */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def forAll[A](g: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    samples(g, n).foreach(body)

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 5)(body: (A, B) => Unit): Unit =
    samples(ga, n).zip(samples(gb, n)).foreach { case (a, b) => body(a, b) }

  private val smallDoubles = Gen.listOfN(30, Gen.chooseNum(-1000.0, 1000.0))
  private val keys = Gen.listOfN(30, Gen.chooseNum(0, 5))

  test("codegen hashed_shingles ≡ UDF reference over random ASCII texts") {
    // two independent evaluation paths (compiled byte kernel vs the
    // Scala char UDF) must produce SAME-CARDINALITY sorted-distinct
    // sets AND identical pairwise jaccard on arbitrary ASCII input —
    // spaces, empties, repeats, and degenerate one-word texts included
    val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val text = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    forAll(Gen.listOfN(12, text), n = 4) { texts =>
      if (texts.nonEmpty) {
        val df = texts.toDF("t")
        df.select(
          graft.operators.Dedup.hashedShinglesUdf(col("t"), lit(2)).as("u"),
          call_function("hashed_shingles", col("t"), lit(2)).as("c"))
          .collect().foreach { r =>
            val u = r.getSeq[Long](0); val c = r.getSeq[Long](1)
            assert(u.length == c.length, s"cardinality: $u vs $c")
            assert(c == c.sorted && c.distinct == c)
          }
        val pairs = df.as("a").crossJoin(df.as("b"))
          .select(
            call_function("jaccard_sorted",
              graft.operators.Dedup.hashedShinglesUdf(col("a.t"), lit(2)),
              graft.operators.Dedup.hashedShinglesUdf(col("b.t"), lit(2))).as("ju"),
            call_function("jaccard_sorted",
              call_function("hashed_shingles", col("a.t"), lit(2)),
              call_function("hashed_shingles", col("b.t"), lit(2))).as("jc"))
          .collect()
        pairs.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
          "pairwise jaccard diverged between hash kernels"))
      }
    }
  }

  test("space_term_counts ≡ split/count reference over random texts (r13 BM25 kernel)") {
    // the fused one-byte-pass kernel must equal the naive semantics —
    // split(text, " ", -1) length in slot 0, per-term byte-equality
    // counts in slots 1..n — including empty tokens from consecutive
    // spaces, leading/trailing spaces, empty text, duplicated terms in
    // the query list, terms absent from the text, and multi-byte UTF-8
    val word = Gen.oneOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
      Gen.const(""), Gen.const("naïve"), Gen.const("東京"))
    val text = Gen.chooseNum(0, 14).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val terms = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("a", "ab", "naïve", "東京", "", "zzz")))
    forAll2(Gen.listOfN(10, text), terms, n = 4) { (texts, q) =>
      if (texts.nonEmpty) {
        val rows = texts.toDF("t")
          .select(col("t"), call_function("space_term_counts", col("t"),
            array(q.map(lit): _*)).as("c"))
          .collect()
        rows.foreach { r =>
          val t = r.getString(0)
          val got = r.getSeq[Long](1)
          val toks = t.split(" ", -1).toSeq
          val want = toks.length.toLong +: q.map(term => toks.count(_ == term).toLong)
          assert(got == want, s"text=<$t> terms=$q got=$got want=$want")
        }
      }
    }
  }

  test("codegen delete_neighborhood_hashes ≡ UDF over random short ASCII strings") {
    val s = Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
    forAll(Gen.listOfN(20, s), n = 4) { strs =>
      if (strs.nonEmpty) {
        strs.toDF("s").select(
          graft.operators.Dedup.hashedDeleteNeighborhoodUdf(col("s"), lit(2)).as("u"),
          call_function("delete_neighborhood_hashes", col("s"), lit(2)).as("c"))
          .collect().foreach { r =>
            assert(r.getSeq[Long](0).toSet == r.getSeq[Long](1).toSet,
              "neighborhood key sets diverged on ASCII input")
          }
      }
    }
  }

  test("filter(a && b) == filter(a).filter(b)") {
    forAll(smallDoubles) { xs =>
      if (xs.nonEmpty) {
        val df = xs.toDF("x").cache()
        val both = df.filter(col("x") > 0 && col("x") < 500).count()
        val chained = df.filter(col("x") > 0).filter(col("x") < 500).count()
        assert(both == chained)
      }
    }
  }

  test("partial+final aggregation equals single-pass (sum via two-level grouping)") {
    forAll2(smallDoubles, keys) { (xs, ks) =>
      if (xs.nonEmpty && ks.nonEmpty) {
        val df = xs.zipAll(ks, 0.0, 0).toDF("x", "k").cache()
        val direct = df.agg(sum("x")).head().getDouble(0)
        val twoLevel = df.groupBy("k").agg(sum("x").as("s"))
          .agg(sum("s")).head().getDouble(0)
        assert(math.abs(direct - twoLevel) < 1e-6)
      }
    }
  }

  test("join of split halves == filter (union partitioning invariance)") {
    forAll(keys) { ks =>
      if (ks.nonEmpty) {
        val df = ks.zipWithIndex.toDF("k", "id").cache()
        val lo = df.filter(col("k") < 3); val hi = df.filter(col("k") >= 3)
        assert(lo.unionAll(hi).count() == df.count())
      }
    }
  }

  test("jaccard is symmetric and bounded") {
    val gen = Gen.listOfN(8, Gen.alphaLowerStr.map(_.take(6)))
    forAll2(gen, gen, n = 20) { (a, b) =>
      val x = a.mkString(" "); val y = b.mkString(" ")
      val j1 = graft.operators.Dedup.jaccardSortedLongs(
        graft.operators.Dedup.hashedShingles(x, 2).toSeq,
        graft.operators.Dedup.hashedShingles(y, 2).toSeq)
      val j2 = graft.operators.Dedup.jaccardSortedLongs(
        graft.operators.Dedup.hashedShingles(y, 2).toSeq,
        graft.operators.Dedup.hashedShingles(x, 2).toSeq)
      assert(j1 == j2 && j1 >= 0.0 && j1 <= 1.0)
      assert(graft.operators.Dedup.jaccardSortedLongs(
        graft.operators.Dedup.hashedShingles(x, 2).toSeq,
        graft.operators.Dedup.hashedShingles(x, 2).toSeq) == 1.0)
    }
  }

  test("strftime round-trips through strptime (r16 hand formatters)") {
    val fmts = Seq("%Y-%m-%d %H:%M:%S", "%Y/%m/%d", "%d-%m-%Y %H:%M")
    val df = Seq("2020-06-15 13:45:30").toDF("s")
      .select(to_timestamp(col("s")).as("ts")).cache()
    fmts.foreach { f =>
      val back = df.select(
        call_function("strptime",
          call_function("strftime", col("ts"), lit(f)), lit(f)).as("rt"),
        date_trunc("minute", col("ts")).as("truncated")).head()
      // round-trip preserves everything the format itself encodes
      assert(back.getTimestamp(0) != null)
      if (f.contains("%M")) {
        val rt = back.getTimestamp(0).toInstant
        val tr = back.getTimestamp(1).toInstant
        assert(rt.getEpochSecond / 60 == tr.getEpochSecond / 60)
      }
    }
  }

  test("sort is total: orderBy twice equals orderBy once") {
    forAll(smallDoubles, n = 3) { xs =>
      if (xs.nonEmpty) {
        val df = xs.toDF("x")
        val once = df.orderBy("x").collect().map(_.getDouble(0)).toSeq
        val twice = df.orderBy("x").orderBy("x").collect().map(_.getDouble(0)).toSeq
        assert(once == twice && once == xs.sorted)
      }
    }
  }

  test("codegen argmin_sqdist_long ≡ independent scala argmin over random tables") {
    // two independent evaluation paths for the k-means assignment: the
    // fused codegen expression vs a plain-Scala argmin replaying the
    // documented semantics (min-length diff + tail squares, first-wins
    // ties). Random dims INCLUDING ragged vectors shorter/longer than
    // the centroid dim, duplicate centroids (tie exercise), k up to 65.
    val vecGen = Gen.chooseNum(1, 9).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-2000L, 2000L)))
    val tableGen = for {
      k <- Gen.chooseNum(1, 65)
      base <- Gen.listOfN(k, vecGen)
    } yield (base ++ base.take(2)).map(_.toArray).toArray // dup head rows → ties
    def reference(w: Seq[Long], cs: Array[Array[Long]]): Int = {
      val ds = cs.map { c =>
        val m = math.min(c.length, w.length)
        var d = 0L
        for (j <- 0 until m) { val t = w(j) - c(j); d += t * t }
        for (j <- m until w.length) d += w(j) * w(j)
        for (j <- m until c.length) d += c(j) * c(j)
        d
      }
      ds.zipWithIndex.minBy { case (d, j) => (d, j) }._2
    }
    forAll2(Gen.listOfN(40, vecGen), tableGen, n = 4) { (vecs, table) =>
      if (vecs.nonEmpty) {
        val vecsLit = typedLit(table.map(_.toSeq).toSeq)
        val got = vecs.toDF("w")
          .select(col("w"), call_function("argmin_sqdist_long", col("w"), vecsLit))
          .collect()
        got.foreach { r =>
          val w = r.getSeq[Long](0)
          assert(r.getInt(1) == reference(w, table),
            s"argmin diverged for w=$w (k=${table.length})")
        }
      }
    }
  }

  test("duplicateSpans ≡ brute-force string-gram reference over random tiny-vocab corpora") {
    // independent paths: the operator rides 64-bit rolling-hash grams,
    // a gram-partition window, and a gaps-and-islands merge; the
    // reference compares STRING grams with driver-side set logic. A
    // 6-word vocabulary forces dense cross-doc gram sharing, adjacent
    // and overlapping islands, and sub-n documents.
    val n = 3
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.chooseNum(0, 15).flatMap(l =>
      Gen.listOfN(l, word).map(_.mkString(" ")))
    def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, Double)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
      def grams(id: Long) = {
        val w = toks(id)
        if (w.length < n) Seq.empty
        else (0 to w.length - n).map(p => p -> w.slice(p, p + n).mkString(" "))
      }
      val docsPerGram = docs.flatMap { case (id, _) =>
        grams(id).map { case (_, g) => g -> id } }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
      docs.flatMap { case (id, _) =>
        val starts = grams(id).collect {
          case (p, g) if docsPerGram(g) >= 2 => p }
        if (starts.isEmpty) None else {
          val islands = starts.foldLeft(List.empty[(Int, Int)]) {
            case (Nil, p) => List((p, p))
            case ((lo, hi) :: rest, p) =>
              if (p - hi <= n) (lo, p) :: rest else (p, p) :: (lo, hi) :: rest
          }
          val dupTok = islands.map { case (lo, hi) => hi - lo + n }.sum.toLong
          val nt = toks(id).length.toLong
          val frac = BigDecimal(dupTok.toDouble / nt)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Some(id -> ((islands.size.toLong, dupTok, nt, frac)))
        }
      }.toMap
    }
    forAll(Gen.listOfN(8, doc), n = 4) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val out = graft.operators.Curation
        .duplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      assert(out == reference(docs), s"corpus: $docs")
    }
  }

  test("boilerplateGrams ≡ brute-force reference over random tiny-vocab corpora") {
    val n = 2; val k = 5
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val doc = Gen.chooseNum(0, 8).flatMap(l =>
      Gen.listOfN(l, word).map(_.mkString(" ")))
    def reference(docs: Seq[(Long, String)]): Seq[(String, Long, Long, Long)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
      val perDoc = toks.flatMap { case (id, w) =>
        (0 to w.length - n).map(p => (w.slice(p, p + n).mkString(" "), id, p))
      }.groupBy(x => (x._1, x._2))
        .map { case ((g, id), xs) => (g, id, xs.map(_._3).min) }.toSeq
      perDoc.groupBy(_._1).toSeq
        .map { case (g, xs) =>
          val (sd, sp) = xs.map(x => (x._2, x._3)).min
          (g, xs.size.toLong, sd, sp.toLong) }
        .filter(_._2 >= 2)
        .sortBy { case (_, nd, sd, sp) => (-nd, sd, sp) }
        .take(k)
    }
    forAll(Gen.listOfN(7, doc), n = 4) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      import spark.implicits._
      val out = graft.operators.Curation
        .boilerplateGrams(docs.toDF("doc_id", "text"), "doc_id", "text", n, k)
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(out == reference(docs), s"corpus: $docs")
    }
  }

  test("bigramLmScores ≡ driver reference (exact counts, 1e-3-tolerant entropy) on random corpora") {
    val word = Gen.oneOf("aa", "bb", "cc")
    val doc = Gen.chooseNum(0, 8).flatMap(l =>
      Gen.listOfN(l, word).map(_.mkString(" ")))
    val alpha = 0.1
    def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Double)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
      val pairs = toks.flatMap { case (id, w) =>
        w.zip(w.drop(1)).map { case (a, b) => (id, a, b) } }
      val c2 = pairs.groupBy(x => (x._2, x._3)).view.mapValues(_.size.toLong).toMap
      val c1 = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val v = c1.size
      toks.collect { case (id, w) if w.length >= 2 =>
        val ps = w.zip(w.drop(1))
        val x = -ps.map { case (a, b) =>
          math.log((c2((a, b)) + alpha) / (c1(a) + alpha * v)) }.sum / ps.size
        id -> ((ps.size.toLong, x))
      }.toMap
    }
    forAll(Gen.listOfN(6, doc), n = 4) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      import spark.implicits._
      val out = graft.operators.TextAnalysis.bigramLmScores(
          docs.toDF("doc_id", "text"), "doc_id", "text", alpha)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val ref = reference(docs)
      assert(out.keySet == ref.keySet, s"docs differ: $out vs $ref")
      out.foreach { case (id, (nb, x)) =>
        assert(nb == ref(id)._1, s"doc $id n_bigrams $nb vs ${ref(id)._1}")
        assert(math.abs(x - ref(id)._2) < 1e-3,
          s"doc $id xent $x vs ${ref(id)._2}")
      }
    }
  }
}
