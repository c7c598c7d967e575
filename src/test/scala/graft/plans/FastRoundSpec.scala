package graft.plans

import graft.{Engine, SparkSpec}
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.functions._

/** fast_round must be BIT-IDENTICAL to Spark's round(double, s) — the
  * oracle hash-compares doubles, so "close" is not enough. The guard
  * band falls back to the exact BigDecimal path near decimal half-ties;
  * everything else takes the arithmetic fast path. Differential check
  * over adversarial tie-adjacent values, sign/scale sweeps, and random
  * magnitudes, all inside whole-stage codegen (fallback disabled).
  */
class FastRoundSpec extends SparkSpec {
  import spark.implicits._

  // Spark's own Round, evaluated directly: in a plan, FastRoundRule
  // would turn a DataFrame round() into fast_round and compare it with
  // itself
  private val sparkRound = udf((x: Double, s: Int) =>
    Round(Literal(x), Literal(s)).eval().asInstanceOf[Double])

  private def diffCount(xs: Seq[Double], scale: Int): Long = withCodegenOnly {
    xs.toDF("x")
      .select(col("x"), sparkRound(col("x"), lit(scale)).as("r"),
        call_function("fast_round", col("x"), lit(scale)).as("fr"))
      .filter(!(col("r") <=> col("fr")))
      .count()
  }

  test("tie-adjacent grid: i/1000 at scale 2 (true decimal half-points)") {
    // every x.xx5 in [-100, 100] — the exact-tie class where the shortest
    // decimal repr decides (1.005 stores below the tie but rounds UP)
    val xs = (-100000 to 100000).map(_ / 1000.0)
    assert(diffCount(xs, 2) === 0)
  }

  test("scale sweep on mixed-precision grid") {
    val xs = (-20000 to 20000).map(_ / 7.0) ++
      (-20000 to 20000).map(_ / 991.0)
    // negative scales and > 22 take the reference path (10^s is not
    // binary-exact there); still bit-compared through the same plumbing
    for (s <- Seq(-4, -2, -1, 0, 1, 2, 4, 6, 8, 22, 25)) assert(diffCount(xs, s) === 0, s"scale=$s")
  }

  test("random magnitudes incl. near 2^52 boundary and specials") {
    val rnd = new scala.util.Random(20260815L)
    val xs = Seq.fill(200000)(
      (rnd.nextDouble() - 0.5) * math.pow(10.0, rnd.nextInt(20) - 4)) ++
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        0.0, -0.0, 4.5035996273704955e15, 4.503599627370496e15, 1e308,
        -1e308, Double.MinPositiveValue)
    for (s <- Seq(0, 2, 6)) assert(diffCount(xs, s) === 0, s"scale=$s")
  }

  test("interpreted eval path agrees with codegen semantics") {
    val rnd = new scala.util.Random(42L)
    val xs = Seq.fill(50000)((rnd.nextDouble() - 0.5) * 1e6) ++
      (-5000 to 5000).map(_ / 100.0)
    xs.foreach { x =>
      assert(java.lang.Double.compare(FastRound.round(x, 2),
        FastRound.slow(x, 2)) === 0, s"x=$x")
    }
  }

  test("SQL round(DOUBLE, 2) plans fast_round and is bit-equal to BigDecimal HALF_UP") {
    val dir = "/root/testdata/sf0.001"
    Engine.registerAll(spark, dir)
    val df = Engine.sql(spark,
      "SELECT o_totalprice AS x, round(o_totalprice, 2) AS r FROM orders")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("fast_round"), plan)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val x = row.getDouble(0)
      val want = java.math.BigDecimal.valueOf(x)
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(java.lang.Double.compare(row.getDouble(1), want) == 0, s"x=$x")
    }
  }
}
