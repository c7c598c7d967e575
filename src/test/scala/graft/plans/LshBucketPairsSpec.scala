package graft.plans

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[LshBucketPairs]] pinned to the formulation it replaced: a window
  * count cap over the banded rows, a sort-merge self-join on (band,
  * bucket) filtered to `id_a < id_b`, `array_dot_float`/`array_dot` +
  * `Similarity.cosineFromNorms` at the join output and an unrolled count
  * of equal packed band fields. Every public LSH pair path must return
  * the same multiset of rows, doubles compared by their bits.
  */
class LshBucketPairsSpec extends SparkSpec {

  // ---- the naive formulation (the self-join form, kept here only) ----

  private def packedBks(bks: Column, numBands: Int, bitsPerBand: Int): Column =
    (0 until numBands).map(i => shiftleft(bks.getItem(i), i * bitsPerBand)).reduce(_ bitwiseOR _)

  private def packedBandEq(a: Column, b: Column, band: Int, bitsPerBand: Int): Column = {
    val mask = lit((1L << bitsPerBand) - 1L)
    shiftright(a, band * bitsPerBand).bitwiseAND(mask) ===
      shiftright(b, band * bitsPerBand).bitwiseAND(mask)
  }

  private def naiveCappedBands(df: DataFrame, vecCol: String, planes: Array[Array[Double]],
                               numBands: Int, bitsPerBand: Int, maxBucket: Int,
                               keep: Seq[(String, Column)], keepBks: Boolean = false,
                               packBks: Boolean = false): DataFrame = {
    val bandIn =
      if (Dedup.vecIsFloat(df, vecCol)) col(vecCol).cast("array<double>") else col(vecCol)
    df.select(col("id") +: keep.map { case (n, c) => c.as(n) } :+
        Dedup.signLshBucketsCol(bandIn, planes, numBands, bitsPerBand).as("bks"): _*)
      .select((col("id") +: keep.map { case (n, _) => col(n) }) ++
        (if (keepBks) Seq(col("bks")) else Nil) ++
        (if (packBks) Seq(packedBks(col("bks"), numBands, bitsPerBand).as("__bksp")) else Nil) ++
        Seq(posexplode_outer(col("bks")).as(Seq("band", "bucket"))): _*)
      .filter(col("band").isNotNull)
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bsize") <= maxBucket)
      .drop("bsize")
  }

  private def naiveCandidates(df: DataFrame, planes: Array[Array[Double]], numBands: Int,
                              bitsPerBand: Int, maxBucket: Int): DataFrame = {
    val capped = naiveCappedBands(df, "v", planes, numBands, bitsPerBand, maxBucket, Nil)
    capped.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(capped.select(col("band"), col("bucket"), col("id").as("id_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  private def naiveScoredJoin(df: DataFrame, planes: Array[Array[Double]], numBands: Int,
                              bitsPerBand: Int, maxBucket: Int, carry: Seq[String],
                              collisions: Boolean): DataFrame = {
    val isF = Dedup.vecIsFloat(df, "v")
    val dotFn = if (isF) Similarity.dotF _ else Similarity.dot _
    val normC = if (isF) Similarity.normF(col("v")) else Similarity.norm(col("v"))
    val packed = numBands * bitsPerBand <= 64
    val capped = naiveCappedBands(df, "v", planes, numBands, bitsPerBand, maxBucket,
      carry.map(c => c -> col(c)) :+ ("__v" -> col("v")) :+ ("__n" -> normC),
      keepBks = collisions && !packed, packBks = collisions && packed)
    val bksCol = if (packed) "__bksp" else "bks"
    def side(sfx: String) =
      capped.select(Seq(col("band"), col("bucket"), col("id").as(s"id$sfx"),
        col("__v").as(s"__v$sfx"), col("__n").as(s"__n$sfx")) ++
        (if (collisions) Seq(col(bksCol).as(s"__bks$sfx")) else Nil) ++
        carry.map(c => col(c).as(s"$c$sfx")): _*)
    val bandCount =
      (0 until numBands).map(i =>
        when(if (packed) packedBandEq(col("__bks_a"), col("__bks_b"), i, bitsPerBand)
             else col("__bks_a").getItem(i) === col("__bks_b").getItem(i), 1)
          .otherwise(0)).reduce(_ + _).as("band_collisions")
    side("_a").hint("SHUFFLE_MERGE").join(side("_b"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(Seq(col("id_a"), col("id_b"),
        Similarity.cosineFromNorms(dotFn(col("__v_a"), col("__v_b")),
          col("__n_a"), col("__n_b")).as("cos")) ++
        (if (collisions) Seq(bandCount) else Nil) ++
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  private def naiveWeighted(df: DataFrame, planes: Array[Array[Double]], numBands: Int,
                            bitsPerBand: Int, maxBucket: Int, carry: Seq[String],
                            verify: Boolean): DataFrame = {
    val scored = naiveScoredJoin(df, planes, numBands, bitsPerBand, maxBucket, carry, collisions = true)
    if (!verify) scored
    else scored
      .withColumn("__pair_rows", count(lit(1)).over(Window.partitionBy(col("id_a"), col("id_b"))))
      .withColumn("__chk", assert_true(col("__pair_rows") === col("band_collisions"),
        lit("LSH weighted pair-dedup precondition violated")))
      .filter(col("__chk").isNull)
      .drop("__pair_rows", "__chk")
  }

  private def naiveNearNeighbors(corpus: DataFrame, numPlanes: Int, dim: Int, k: Int,
                                 maxBucket: Int): DataFrame = {
    val planes = Similarity.hyperplanes(numPlanes, dim)
    val b = corpus.select(col("id"), col("v").cast("array<double>").as("v"))
      .withColumn("bucket", Similarity.lshBucket(col("v"), planes))
      .withColumn("n", Similarity.norm(col("v")))
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("bsize") <= maxBucket)
      .drop("bsize")
    val l = b.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a"))
    val r = b.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b"))
    l.join(r, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineFromNorms(Similarity.dot(col("v_a"), col("v_b")),
          col("n_a"), col("n_b")).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id_a")).orderBy(col("sim").desc, col("id_b").asc)))
      .filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  // ---- comparison ----

  private def canon(df: DataFrame): (Seq[String], Seq[String]) = {
    val rows = df.collect().map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
      case null => "null"
      case x => x.toString
    }.mkString("|")).sorted.toSeq
    (df.columns.toSeq, rows)
  }

  /** Rows of `got` equal `want`'s, or both fail alike; true when rows compared. */
  private def same(what: String, got: => DataFrame, want: => DataFrame): Boolean = {
    val g = scala.util.Try(canon(got))
    val w = scala.util.Try(canon(want))
    (g, w) match {
      case (scala.util.Success(a), scala.util.Success(b)) =>
        assert(a._1 == b._1, s"$what: columns ${a._1} != ${b._1}")
        assert(a._2 == b._2, s"$what: ${a._2.size} rows vs ${b._2.size}\n" +
          s"only kernel: ${a._2.diff(b._2).take(5)}\nonly join: ${b._2.diff(a._2).take(5)}")
        true
      case (scala.util.Failure(a), scala.util.Failure(b)) =>
        assert(Seq(a, b).forall(e => String.valueOf(e).contains("precondition violated") ||
          String.valueOf(e.getCause).contains("precondition violated")), s"$what: $a / $b")
        false
      case _ => fail(s"$what: kernel $g, join $w")
    }
  }

  private def checkAll(tag: String, df: DataFrame, planes: Array[Array[Double]], numBands: Int,
                       bitsPerBand: Int, maxBucket: Int, carry: Seq[String]): Int = {
    val t = s"$tag bands=$numBands bits=$bitsPerBand cap=$maxBucket"
    same(s"$t candidates",
      Dedup.cosineLshCandidates(df, "id", "v", planes, numBands, bitsPerBand, maxBucket),
      naiveCandidates(df, planes, numBands, bitsPerBand, maxBucket))
    // dropDuplicates keeps any one row of a pair, and the rows of a pair
    // differ when an id repeats: each kept row must be one of the join's
    // rows for its pair, one row per pair
    val scored = canon(Dedup.cosineLshScoredPairs(df, "id", "v", planes, numBands,
      bitsPerBand, maxBucket, carry))
    val joined = canon(naiveScoredJoin(df, planes, numBands, bitsPerBand, maxBucket, carry,
      collisions = false))
    assert(scored._1 == joined._1, s"$t scored: columns")
    def pair(r: String) = r.split('|').take(2).mkString("|")
    val byPair = joined._2.groupBy(pair)
    assert(scored._2.map(pair).sorted == byPair.keys.toSeq.sorted, s"$t scored: pairs")
    scored._2.foreach(r => assert(byPair(pair(r)).contains(r), s"$t scored: $r"))
    Seq(false, true).count { verify =>
      same(s"$t weighted verify=$verify",
        Dedup.cosineLshScoredPairsWeighted(df, "id", "v", planes, numBands, bitsPerBand,
          maxBucket, carry, verifyCollisions = verify),
        naiveWeighted(df, planes, numBands, bitsPerBand, maxBucket, carry, verify))
    }
  }

  test("lsh_bucket_pairs equals the self-join formulation on the sf0.001 and sf0.01 embeddings") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = graft.Engine.table(spark, s"/root/testdata/$sf", "embeddings")
        .select(col("vec_id").as("id"), col("label").cast("long").as("label"),
          col("embedding").as("v"))
      val planes = graft.queries.Pipeline.lshPlanes
      var compared = 0
      // the registry's two geometries, then a coarse one whose hot
      // buckets overflow the cap
      compared += checkAll(sf, e, planes, 8, 8, 250, Seq("label"))
      compared += checkAll(sf, e, Similarity.hyperplanes(12, 64), 1, 12, 250, Nil)
      compared += checkAll(sf, e, planes, 8, 2, 140, Seq("label"))
      assert(compared >= 2, s"$sf: every weighted run failed its precondition")
      same(s"$sf lshNearNeighbors",
        Similarity.lshNearNeighbors(e, "id", "v", numPlanes = 6, dim = 64, k = 3, maxBucket = 40),
        naiveNearNeighbors(e, numPlanes = 6, dim = 64, k = 3, maxBucket = 40))
    }
  }

  test("lsh_bucket_pairs equals the self-join formulation on crafted edge cases") {
    val inf = Double.PositiveInfinity
    val nan = Double.NaN
    val special: Seq[(Any, Seq[Any])] = Seq(
      (1L, Seq(1.0, null, 0.5, 0.25)), // a null element …
      (2L, Seq(-0.5, inf, -1.0, -2.0)), // … against +Inf at that index
      (3L, Seq(0.25, -inf, 2.0, 1.0)),
      (4L, Seq(nan, 1.0, 1.0, 1.0)),
      (5L, Seq(0.0, 0.0, 0.0, 0.0)),   // zero vector: -1.0
      (5L, Seq(1.0, 2.0, 3.0, 4.0)),   // duplicate id
      (null, Seq(1.0, 1.0, 1.0, 1.0)), // null id
      (6L, null),                       // null vector
      (7L, Seq(1.0, 2.0)),              // ragged lengths
      (8L, Seq(2.0, 1.0, 0.5, 0.25, 9.0)),
      (9L, Seq(1.0, null, null, 1.0)),
      (10L, Seq(-0.0, 1.0, 1.0, 1.0)),
      (11L, Seq.empty))
    val rng = new scala.util.Random(5)
    // negative-sum spread vectors and 12 copies of one vector (one bucket
    // in every band): with the plane (1,1,1,1) they fill the negative
    // bucket past a cap of 20, the special rows the positive one
    val spread = (20L until 40L).map(i => (i, Seq.fill(4)(-math.abs(rng.nextGaussian()))))
    val hot = (50L until 62L).map(i => (i, Seq(-1.0, -2.0, -0.5, -1.5)))
    val rows = (special ++ spread ++ hot).zipWithIndex.map { case ((i, v), k) =>
      Row(i, v, k.toLong % 3, if (k % 4 == 0) null else s"t$k")
    }
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(DoubleType)),
      StructField("label", LongType), StructField("tag", StringType)))
    val dbl = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val flt = dbl.withColumn("v", col("v").cast("array<float>"))
    var compared = 0
    for ((tag, df) <- Seq("double" -> dbl, "float" -> flt)) {
      compared += checkAll(tag, df, Array(Array(1.0, 1.0, 1.0, 1.0)), 1, 1, 20, Seq("label", "tag"))
      val planes = Similarity.hyperplanes(72, 4, seed = 3L)
      compared += checkAll(tag, df, planes, 8, 1, 100, Seq("label", "tag"))  // packed bks
      compared += checkAll(tag, df, planes, 8, 1, 18, Seq("label"))          // capped bands
      compared += checkAll(tag, df, planes, 8, 9, 100, Seq("tag"))           // array bks (72 bits)
      same(s"$tag lshNearNeighbors",
        Similarity.lshNearNeighbors(df, "id", "v", numPlanes = 2, dim = 4, k = 4, maxBucket = 10),
        naiveNearNeighbors(df, numPlanes = 2, dim = 4, k = 4, maxBucket = 10))
    }
    assert(compared >= 4, "every weighted run failed its precondition")
    // the edge cases reach the kernel: the null element is skipped
    // against +Inf (reading it as 0.0 would give NaN), a NaN element
    // scores NaN, a zero vector -1.0, and equal ids pair with nothing
    val cos = Dedup.cosineLshScoredPairs(dbl, "id", "v", Array(Array(1.0, 1.0, 1.0, 1.0)), 1, 1, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.get(2)).toMap
    assert(cos((1L, 2L)) != null && !cos((1L, 2L)).asInstanceOf[Double].isNaN, cos)
    assert(cos((4L, 7L)).asInstanceOf[Double].isNaN && cos((5L, 7L)) == -1.0, cos)
    assert(cos.exists(_._2 == -1.0) && !cos.keys.exists { case (a, b) => a == b }, cos)
  }
}
