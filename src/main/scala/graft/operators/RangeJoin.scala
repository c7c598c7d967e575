package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range-join strategies (reference: PhysicalPiecewiseMergeJoin
  * duckdb-3.cpp:17261, PhysicalIEJoin duckdb-3.cpp:15445).
  *
  * Spark plans a bare inequality join as broadcast-nested-loop — fine for
  * a small side, quadratic disaster at scale. `pointInRange` converts a
  * bounded-width interval join into an equi-join: bucket the point side,
  * explode the interval side over the buckets it spans, shuffle both on
  * the bucket key, refine exactly. One hash-partition shuffle instead of
  * an O(n·m) loop — the 100 TB plan shape.
  */
object RangeJoin {

  /** `spark.sql.shuffle.partitions` may be "auto" under some AQE configs —
    * fall back to the scheduler's default parallelism instead of throwing. */
  private def defaultBuckets(spark: org.apache.spark.sql.SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** bucket(x) = #boundaries <= x, as the codegen'd
    * [[graft.plans.BucketIndex]] expression (a Scala UDF here would block
    * whole-stage codegen for the entire probe-side stage). The boundary
    * array folds into the plan as a literal. */
  private def bucketCol(bounds: Array[Double])(x: Column): Column =
    call_function("bucket_index", x.cast("double"), lit(bounds))

  /** Join `points` rows to `ranges` rows whose [loCol, hiCol] interval
    * contains the point, via bucketed equi-join.
    *
    * @param bucketWidth ≥ the maximum interval width (each range row
    *   explodes to (width/bucketWidth)+1 buckets — keep it comparable to
    *   the typical interval so the explode factor stays ~2).
    * @param refine exact predicate (point, lo, hi) => boolean, applied
    *   after the bucket equi-join (default: lo < point ≤ hi).
    */
  def pointInRange(points: DataFrame, pointCol: String,
                   ranges: DataFrame, loCol: String, hiCol: String,
                   bucketWidth: Double,
                   refine: (Column, Column, Column) => Column =
                     (p, lo, hi) => p > lo && p <= hi): DataFrame = {
    val pb = points.withColumn("__bucket",
      floor(col(pointCol) / bucketWidth).cast("long"))
    // inverted/empty intervals (hi < lo) match nothing; without the guard
    // Sequence(start > stop, step 1) throws at runtime
    val rb = ranges.filter(col(loCol) <= col(hiCol)).withColumn("__bucket",
      explode(sequence(floor(col(loCol) / bucketWidth).cast("long"),
        floor(col(hiCol) / bucketWidth).cast("long"))))
    pb.join(rb, Seq("__bucket"))
      .filter(refine(col(pointCol), col(loCol), col(hiCol)))
      .drop("__bucket")
  }

  /** Data-adaptive interval join: like [[pointInRange]] but with NO
    * bucket-width parameter — bucket boundaries are the approximate
    * quantiles of the point distribution, so it handles unbounded /
    * highly variable interval widths and skewed point distributions
    * (the general IEJoin case, reference duckdb-3.cpp:15445).
    *
    * Plan shape: each bucket holds ~1/nb of the points by construction;
    * a range row replicates only to the buckets its interval overlaps —
    * an interval spanning many buckets genuinely meets that many points,
    * so the replication is proportional to output work. One equi-join
    * shuffle; the exact predicate refines after.
    */
  def pointInRangeAdaptive(points: DataFrame, pointCol: String,
                           ranges: DataFrame, loCol: String, hiCol: String,
                           numBuckets: Int = 0,
                           refine: (Column, Column, Column) => Column =
                             (p, lo, hi) => p > lo && p <= hi): DataFrame = {
    val spark = points.sparkSession
    val nb = if (numBuckets > 0) numBuckets else defaultBuckets(spark)
    // one pass over the point column (sampled sketch) for the boundaries
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val bounds = points.stat
      .approxQuantile(pointCol, probs, 0.001).distinct.sorted
    // bucket(x) = #boundaries <= x (codegen binary search; monotonic, so
    // an interval spans a contiguous run)
    val bucketU = bucketCol(bounds) _
    val pb = points.withColumn("__bucket", bucketU(col(pointCol)))
    val rb = ranges.filter(col(loCol) <= col(hiCol)).withColumn("__bucket",
      explode(sequence(bucketU(col(loCol)), bucketU(col(hiCol)))))
    pb.join(rb, Seq("__bucket"))
      .filter(refine(col(pointCol), col(loCol), col(hiCol)))
      .drop("__bucket")
  }

  /** Interval-overlap join — the full two-sided IEJoin shape
    * (`l.lo <= r.hi AND r.lo <= l.hi`, reference PhysicalIEJoin,
    * duckdb-3.cpp:15445) with intervals on BOTH sides, as a single
    * equi-join shuffle:
    *
    *  - bucket boundaries = quantiles of the union of both sides' lower
    *    endpoints (balanced regardless of distribution);
    *  - each interval replicates to every bucket it overlaps;
    *  - a pair that overlaps in several buckets is emitted exactly once:
    *    only in the bucket containing max(l.lo, r.lo), which any
    *    overlapping pair shares — no dedup shuffle needed.
    */
  def intervalOverlap(left: DataFrame, llo: String, lhi: String,
                      right: DataFrame, rlo: String, rhi: String,
                      numBuckets: Int = 0): DataFrame = {
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty,
      s"intervalOverlap needs distinct column names on the two sides " +
        s"(shared: ${dup.mkString(", ")}) — alias one side before joining")
    val spark = left.sparkSession
    val nb = if (numBuckets > 0) numBuckets else defaultBuckets(spark)
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val endpoints = left.select(col(llo).cast("double").as("__x"))
      .unionAll(right.select(col(rlo).cast("double").as("__x")))
    val bounds = endpoints.stat.approxQuantile("__x", probs, 0.001).distinct.sorted
    val bucketU = bucketCol(bounds) _
    def span(df: DataFrame, lo: String, hi: String): DataFrame =
      df.filter(col(lo) <= col(hi)).withColumn("__bucket",
        explode(sequence(bucketU(col(lo)), bucketU(col(hi)))))
    span(left, llo, lhi).join(span(right, rlo, rhi), Seq("__bucket"))
      .filter(col(llo) <= col(rhi) && col(rlo) <= col(lhi) &&
        col("__bucket") === bucketU(greatest(col(llo), col(rlo))))
      .drop("__bucket")
  }
}
