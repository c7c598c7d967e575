package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `agg_distinct` recomposes three per-column distinct legs with
  * null-safe joins on the group key. All legs come from one lineitem
  * frame, so unless each leg renames its key the join condition
  * resolves to one attribute on both sides, folds to TRUE, and the query
  * returns the 3×3 cross product. Pinned here against the
  * single-aggregate formulation the rewrite replaced, including a NULL
  * group key, and on the executed plan's join shape.
  */
class AggDistinctSpec extends SparkSpec {

  private val query = SparkEntry.queries("agg_distinct")
  private val sf0001 = "/root/testdata/sf0.001"

  private def singleAggregate(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag")).agg(
      countDistinct(col("l_partkey")).as("nd_part"),
      countDistinct(col("l_suppkey")).as("nd_supp"),
      round(sum_distinct(col("l_quantity")), 2).as("sum_d_qty"))

  private def rows(df: DataFrame): Seq[Row] =
    df.select("l_returnflag", "nd_part", "nd_supp", "sum_d_qty")
      .collect().toSeq.sortBy(_.toString)

  test("agg_distinct equals the single-aggregate countDistinct/sum_distinct (sf0.001)") {
    val got = rows(query(spark, sf0001))
    val want = rows(singleAggregate(Engine.table(spark, sf0001, "lineitem")))
    assert(got.size == 3, s"expected one row per l_returnflag, got ${got.size}:\n$got")
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("agg_distinct keeps a NULL group key") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("agg_distinct_nulls").toString
    Seq[(String, java.lang.Long, java.lang.Long, java.lang.Double)](
      ("A", 1L, 10L, 1.0), ("A", 1L, 11L, 2.0), ("A", 2L, 10L, 2.0),
      ("R", 3L, 12L, 5.0), ("R", null, 12L, null),
      (null, 4L, 13L, 7.0), (null, 4L, 14L, 7.0), (null, 5L, null, 8.5))
      .toDF("l_returnflag", "l_partkey", "l_suppkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = rows(query(spark, dir))
    val want = rows(singleAggregate(Engine.table(spark, dir, "lineitem")))
    assert(got.size == 3 && got.exists(_.isNullAt(0)),
      s"expected groups A, R and NULL, got:\n$got")
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("agg_distinct's executed plan has no nested-loop or cartesian join") {
    val ops = Engine.explainAnalyze(spark, query(spark, sf0001))
      .collect().map(_.getString(2)).toSeq
    val crosses = ops.filter(o =>
      o.startsWith("BroadcastNestedLoopJoin") || o.startsWith("CartesianProduct"))
    assert(crosses.isEmpty, s"cross-product join in the executed plan: ${ops.mkString(", ")}")
  }
}
