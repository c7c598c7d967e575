package graft

import org.apache.spark.sql.functions._

/** Scan splits of `Engine.session` on `local[4]`: a table of a few large
  * files plus many tiny ones feeds every core (the reference's morsel
  * scan, `ParallelSource`), a single-row-group file still reads in one
  * task, and a small file stays one split. Rows per split are counted
  * on the scan's own RDD (one partition per `FilePartition`, no shuffle).
  */
class ScanSplitSpec extends SparkSpec {

  private val root = java.nio.file.Paths.get("target", "scan_split_spec")
    .toAbsolutePath.toString

  // ~130 bytes of hex per row: parquet cannot compress it away, so 10,000
  // rows make a file of about 1.3 MB in one row group
  private def rows(n: Long, from: Long = 0L) = spark.range(from, from + n)
    .select(col("id"), sha2(col("id").cast("string"), 256).as("a"),
      sha2(concat(col("id").cast("string"), lit("b")), 256).as("b"))

  private def write(df: org.apache.spark.sql.DataFrame, name: String,
                    parts: Int, append: Boolean = false): Unit =
    df.repartition(parts).write.mode(if (append) "append" else "overwrite")
      .parquet(s"$root/$name.parquet")

  /** Rows read by each split of `name`'s scan. */
  private def splitRows(name: String): Seq[Int] =
    Engine.table(spark, root, name).queryExecution.toRdd
      .mapPartitions(it => Iterator(it.size)).collect().toSeq

  test("4 large files + 16 tiny files: no split reads more than 30% of the rows") {
    write(rows(40000), "skewed", 4)
    write(rows(800, 40000), "skewed", 16, append = true)
    val files = new java.io.File(s"$root/skewed.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 20)
    assert(files.map(_.length).sorted.takeRight(4).forall(_ > 1000000L))
    val split = splitRows("skewed")
    assert(split.sum == 40800)
    assert(split.max <= 0.30 * split.sum,
      s"one split holds ${split.max} of ${split.sum} rows: $split")
  }

  test("a single-file, single-row-group table has exactly one non-empty split") {
    write(rows(40000), "one_group", 1)
    val split = splitRows("one_group")
    assert(split.count(_ > 0) == 1, s"$split")
    assert(split.sum == 40000)
  }

  test("a table under 128 KiB stays one split") {
    write(spark.range(1000).toDF("id"), "small", 1)
    val bytes = new java.io.File(s"$root/small.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(bytes < 128 * 1024)
    assert(splitRows("small") == Seq(1000))
  }
}
