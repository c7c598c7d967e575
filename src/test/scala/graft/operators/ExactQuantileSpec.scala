package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r16: the bin-refinement exact quantile (verdict r15 #4 — promote
  * the lab prototype to an engine operator). Equality is asserted
  * against Spark's buffered exact `percentile` on the real lineitem
  * data at sf0.001 and sf0.01, plus adversarial shapes the refinement
  * must survive: tiny tailLimit (forces multiple passes), values AT
  * bin boundaries, all-equal groups (degenerate cells), NULLs, and an
  * empty group result.
  */
class ExactQuantileSpec extends SparkSpec {

  private def li(sf: String) =
    spark.read.parquet(s"/root/testdata/$sf/lineitem.parquet")

  private def pctOracle(sf: String, vcol: String, qs: Seq[Double]) =
    li(sf).groupBy("l_returnflag")
      .agg(expr(s"percentile($vcol, array(${qs.mkString(",")}))").as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap

  private def binRefine(sf: String, vcol: String, qs: Seq[Double],
      tailLimit: Long = 1L << 20, bins: Int = 1024) =
    ExactQuantile.quantiles(li(sf), "l_returnflag", vcol, qs,
      bins = bins, tailLimit = tailLimit)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap

  test("equals exact percentile on lineitem prices (sf0.001 + sf0.01)") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val want = pctOracle(sf, "l_extendedprice", Seq(0.25, 0.5, 0.75))
      val got = binRefine(sf, "l_extendedprice", Seq(0.25, 0.5, 0.75))
      assert(got.keySet == want.keySet)
      want.foreach { case (g, ws) =>
        ws.zip(got(g)).foreach { case (w, v) =>
          assert(v == w, s"$sf/$g: bin-refine $v != percentile $w")
        }
      }
    }
  }

  test("multi-pass refinement (tiny tailLimit) stays exact") {
    // tailLimit 50 forces the 600-row sf0.001 groups through several
    // bin passes with small bins — every boundary-bookkeeping error
    // shows up as an off-by-one order statistic here
    val want = pctOracle("sf0.001", "l_extendedprice", Seq(0.1, 0.25, 0.75, 0.9))
    val got = binRefine("sf0.001", "l_extendedprice", Seq(0.1, 0.25, 0.75, 0.9),
      tailLimit = 50, bins = 8)
    want.foreach { case (g, ws) =>
      ws.zip(got(g)).foreach { case (w, v) =>
        assert(v == w, s"$g: multi-pass $v != percentile $w")
      }
    }
  }

  test("integer-valued column (values at bin boundaries) stays exact") {
    val want = pctOracle("sf0.01", "l_quantity", Seq(0.0, 0.5, 1.0))
    val got = binRefine("sf0.01", "l_quantity", Seq(0.0, 0.5, 1.0),
      tailLimit = 100, bins = 7)
    want.foreach { case (g, ws) =>
      ws.zip(got(g)).foreach { case (w, v) =>
        assert(v == w, s"$g: boundary case $v != percentile $w")
      }
    }
  }

  test("degenerate cells, NULLs, and empty groups") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Double)](
      ("a", 5.0), ("a", 5.0), ("a", 5.0), ("a", 5.0), // all-equal group
      ("b", 1.0), ("b", null), ("b", 3.0),            // nulls ignored
      ("c", null)                                     // all-null group
    ).toDF("g", "v")
    val got = ExactQuantile.quantiles(df, "g", "v", Seq(0.5),
      tailLimit = 1, bins = 4, maxPasses = 4)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    assert(got("a") == Seq(5.0), "all-equal group (degenerate cell)")
    assert(got("b") == Seq(2.0), "median interpolates over non-nulls")
    assert(got("c") == null, "all-null group yields NULL")
  }

  test("the agg_quantile row matches itself under the binRefine conf") {
    val off = graft.SparkEntry.queries("agg_quantile")(
      spark, "/root/testdata/sf0.01").collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    spark.conf.set("spark.graft.exactQuantile.binRefine", "true")
    try {
      val on = graft.SparkEntry.queries("agg_quantile")(
        spark, "/root/testdata/sf0.01").collect()
        .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(on == off, s"conf path diverged:\noff=$off\non=$on")
    } finally spark.conf.set("spark.graft.exactQuantile.binRefine", "auto")
  }

  // ---- r18: discrete mode + the counts+window engine ----------------

  private def discOracle(sf: String, gcol: String, vcol: String, qs: Seq[Double]) =
    li(sf).groupBy(gcol)
      .agg(qs.map(q => expr(
        s"percentile_disc($q) WITHIN GROUP (ORDER BY $vcol)")).head,
        qs.tail.map(q => expr(
          s"percentile_disc($q) WITHIN GROUP (ORDER BY $vcol)")): _*)
      .collect().map(r => r.getString(0) ->
        qs.indices.map(i => r.getDouble(i + 1))).toMap

  test("discrete bin refinement equals percentile_disc (sf0.001 + sf0.01)") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val qs = Seq(0.0, 0.1, 0.5, 0.9, 1.0)
      val want = discOracle(sf, "l_returnflag", "l_extendedprice", qs)
      val got = ExactQuantile.quantiles(li(sf), "l_returnflag",
        "l_extendedprice", qs, tailLimit = 100, bins = 16, discrete = true)
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (g, ws) =>
        ws.zip(got(g)).foreach { case (w, v) =>
          assert(v == w, s"$sf/$g: disc bin-refine $v != percentile_disc $w")
        }
      }
    }
  }

  test("counts+window engine equals percentile AND percentile_disc") {
    import ExactQuantile.QSpec
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val qs = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0)
      val wantC = pctOracle(sf, "l_extendedprice", qs)
      val wantD = discOracle(sf, "l_returnflag", "l_extendedprice", qs)
      val specs =
        qs.zipWithIndex.map { case (q, i) =>
          QSpec("l_extendedprice", q, discrete = false, s"c$i") } ++
        qs.zipWithIndex.map { case (q, i) =>
          QSpec("l_extendedprice", q, discrete = true, s"d$i") }
      val got = ExactQuantile.quantilesByCounts(li(sf), "l_returnflag", specs)
        .collect().map(r => r.getString(0) ->
          (1 to 2 * qs.size).map(r.getDouble)).toMap
      wantC.foreach { case (g, ws) =>
        ws.zip(got(g).take(qs.size)).foreach { case (w, v) =>
          assert(v == w, s"$sf/$g cont: counts engine $v != percentile $w")
        }
      }
      wantD.foreach { case (g, ws) =>
        ws.zip(got(g).drop(qs.size)).foreach { case (w, v) =>
          assert(v == w, s"$sf/$g disc: counts engine $v != percentile_disc $w")
        }
      }
    }
  }

  test("counts+window engine: duplicates, NULLs, all-null and 1-row groups") {
    import spark.implicits._
    import ExactQuantile.QSpec
    val df = Seq[(String, java.lang.Double)](
      ("a", 5.0), ("a", 5.0), ("a", 5.0), ("a", 5.0),
      ("b", 1.0), ("b", null), ("b", 3.0),
      ("c", null),
      ("d", 7.5),
      ("e", 2.0), ("e", 2.0), ("e", 4.0), ("e", 4.0) // tie spans the median
    ).toDF("g", "v")
    val specs = Seq(
      QSpec("v", 0.5, discrete = false, "c"),
      QSpec("v", 0.5, discrete = true, "d"),
      QSpec("v", 0.0, discrete = true, "d0"),
      QSpec("v", 1.0, discrete = true, "d1"))
    val want = df.groupBy("g").agg(
      expr("percentile(v, 0.5)").as("c"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("d"),
      expr("percentile_disc(0.0) WITHIN GROUP (ORDER BY v)").as("d0"),
      expr("percentile_disc(1.0) WITHIN GROUP (ORDER BY v)").as("d1"))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val got = ExactQuantile.quantilesByCounts(df, "g", specs)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(got == want, s"want=$want\ngot =$got")
  }

  test("modeByCounts equals mode() on tie-free data; NULLs never win") {
    import spark.implicits._
    val want = li("sf0.01").groupBy("l_returnflag")
      .agg(mode(col("l_linestatus")).as("m"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val got = ExactQuantile.modeByCounts(
      li("sf0.01"), "l_returnflag", "l_linestatus", "m")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == want)
    val df = Seq[(String, java.lang.Double)](
      ("a", 1.0), ("a", 1.0), ("a", null), ("a", null), ("a", null),
      ("b", null)).toDF("g", "v")
    val edge = ExactQuantile.modeByCounts(df, "g", "v", "m")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(edge("a") == 1.0, "null count never outvotes a real value")
    assert(edge("b") == null, "all-null group yields NULL")
  }

  test("agg_quantile_disc_sem and agg_mad match themselves under the conf") {
    for (row <- Seq("agg_quantile_disc_sem", "agg_mad")) {
      spark.conf.set("spark.graft.exactQuantile.binRefine", "false")
      val off =
        try graft.SparkEntry.queries(row)(spark, "/root/testdata/sf0.01")
          .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
        finally spark.conf.set("spark.graft.exactQuantile.binRefine", "auto")
      val auto = graft.SparkEntry.queries(row)(spark, "/root/testdata/sf0.01")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      spark.conf.set("spark.graft.exactQuantile.binRefine", "true")
      val on =
        try graft.SparkEntry.queries(row)(spark, "/root/testdata/sf0.01")
          .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
        finally spark.conf.set("spark.graft.exactQuantile.binRefine", "auto")
      assert(auto == off, s"$row: auto diverged from buffered:\noff=$off\nauto=$auto")
      assert(on == off, s"$row: forced refine diverged from buffered:\noff=$off\non=$on")
    }
  }

  test("null group key survives the mad-shaped <=> recomposition (r19, VERDICT r18 #5)") {
    // The agg_mad refine branch recomposes counts ⋈ median per group;
    // r18 used a plain USING join there, which silently DROPPED a NULL
    // group (the buffered branch keeps it). r19 switched the join to
    // <=> — this pins the pattern on a frame with a NULL group key.
    import spark.implicits._
    import ExactQuantile.QSpec
    val df = Seq[(String, java.lang.Double)](
      ("a", 1.0), ("a", 3.0), ("a", 10.0),
      (null, 2.0), (null, 8.0), (null, 14.0)).toDF("g", "v")
    val want = {
      val med = df.groupBy("g").agg(expr("percentile(v, 0.5)").as("med"))
      df.join(med, df("g") <=> med("g")).drop(med("g")).groupBy("g")
        .agg(expr("percentile(abs(v - med), 0.5)").as("mad"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val counts = df.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val med = ExactQuantile.quantilesFromCounts(counts, "g", "v", "c",
      Seq(QSpec("v", 0.5, discrete = false, "med")))
    val devCounts = counts
      .join(med, counts("g") <=> med("g")).drop(med("g"))
      .select(col("g"), abs(col("v") - col("med")).as("v"), col("c"))
      .groupBy(col("g"), col("v")).agg(sum(col("c")).as("c"))
    val got = ExactQuantile.quantilesFromCounts(devCounts, "g", "v", "c",
        Seq(QSpec("v", 0.5, discrete = false, "mad")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet.contains(null), "the NULL group must survive recomposition")
    assert(got == want, s"want=$want got=$got")
  }

  test("auto self-selects on MEASURED rows/group vs the documented crossover (r17)") {
    val li = graft.Engine.table(spark, "/root/testdata/sf0.001", "lineitem")
    // sf0.001 lineitem: ~600 rows in the largest l_returnflag group —
    // far below the 10M crossover, so the default stays buffered
    assert(ExactQuantile.maxGroupRows(li, "l_returnflag") < 10000L)
    assert(!ExactQuantile.shouldBinRefine(li, "l_returnflag"))
    // ...and a forced-low crossover engages the refinement operator
    assert(ExactQuantile.shouldBinRefine(li, "l_returnflag", crossover = 100L))
    val buffered = ExactQuantile.auto(li, "l_returnflag", "l_extendedprice",
      Seq(0.25, 0.75)) // default crossover → buffered Percentile
    assert(buffered.queryExecution.analyzed.toString.contains("percentile"),
      "below crossover the plan is the buffered Percentile aggregate")
    val refined = ExactQuantile.auto(li, "l_returnflag", "l_extendedprice",
      Seq(0.25, 0.75), crossover = 100L) // forced over → bin refinement
    assert(!refined.queryExecution.analyzed.toString.contains("percentile"),
      "over crossover the plan is the operator's assembled frame")
    // both paths produce BIT-identical quantiles
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(m(buffered) == m(refined))
  }

  test("shouldBinRefine re-routes when files are appended to the table directory") {
    // the analyzed plan of a re-read directory hashes the same before
    // and after an append (the file index compares by root path), so a
    // plan-hash-only memo key kept the stale routing
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("refine_append").toString + "/t.parquet"
    Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("g", "v").write.parquet(path)
    val xo = 5L
    assert(!ExactQuantile.shouldBinRefine(spark.read.parquet(path), "g", xo))
    (1 to 4).map(i => ("a", i.toDouble)).toDF("g", "v")
      .write.mode("append").parquet(path)
    assert(ExactQuantile.shouldBinRefine(spark.read.parquet(path), "g", xo),
      "group a now holds 6 rows, past the crossover of 5")
  }
}
