package graft.plans

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._

class JaccardSortedSpec extends SparkSpec {
  import spark.implicits._

  private def viaExpr(pairs: Seq[(Array[Long], Array[Long])]): Seq[Double] = {
    val df = pairs.toDF("a", "b")
    df.select(call_function("jaccard_sorted", col("a"), col("b"))).collect().map(_.getDouble(0)).toSeq
  }

  test("matches the compiled Scala kernel on random sorted sets") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(200) {
      def set() = Array.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong)
        .distinct.sorted
      (set(), set())
    }
    val got = viaExpr(pairs)
    val want = pairs.map { case (a, b) => Dedup.jaccardSortedLongs(a, b) }
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("edge cases: empty-empty is 1.0, empty-nonempty is 0.0, identity is 1.0") {
    val got = viaExpr(Seq(
      (Array.emptyLongArray, Array.emptyLongArray),
      (Array.emptyLongArray, Array(1L, 2L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L))))
    assert(got == Seq(1.0, 0.0, 1.0))
  }

  test("stays inside whole-stage codegen") {
    // a literal relation would constant-fold to LocalTableScan; Range
    // gives a real codegen stage to land in
    val df = spark.range(10).select(
      array(col("id"), col("id") + 1).as("a"),
      array(col("id") + 1, col("id") + 2).as("b"))
    val out = df.select(call_function("jaccard_sorted", col("a"), col("b")).as("j"))
    val top = out.queryExecution.executedPlan
    assert(top.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec],
      s"expected WholeStageCodegenExec root, got:\n$top")
    assert(out.collect().map(_.getDouble(0)).forall(_ == 1.0 / 3.0))
  }
}
