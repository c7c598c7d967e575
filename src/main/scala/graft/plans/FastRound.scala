package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** `round(double, s)` with the allocation on the cold path only.
  *
  * Spark's own `Round` on DoubleType goes through
  * `BigDecimal.valueOf(x).setScale(s, HALF_UP)` per row — `valueOf`
  * stringifies the double (shortest decimal representation) and the
  * whole trip allocates three objects per value. Measured (BASELINE.md
  * "win_ignore_nulls: lab-decomposed and rebuilt"): the four
  * `round(_, 2)` projections of win_ignore_nulls cost ~55 ms of a
  * 248 ms row (600k rounds), the single hottest non-structural
  * component left in the window cohort.
  *
  * This expression computes the same function with double arithmetic:
  * y = x*10^s, inc = (y - floor(y)) > 0.5, result (floor(y)+inc)/10^s.
  * The rounding DECISION is identical to the BigDecimal path whenever
  * the fractional part of y is farther than a guard band from the tie
  * point 0.5: the decimal value BigDecimal sees (shortest repr of x,
  * then scaled) differs from the binary y by at most ~2 ulp(y), so any
  * fraction outside max(1e-9, 16·ulp(y)) of 0.5 decides the same way;
  * the final division of an exact integer by an exact power of ten is
  * correctly rounded in both paths (IEEE divide vs decimal→double), so
  * agreement on the integer means bit-equal output. Inside the band —
  * true decimal ties like 1.005 and values too close to call — it falls
  * back to the exact BigDecimal trip. There is NO decision boundary at
  * integer crossings (both sides of an integer round to it), so only
  * the half-point needs the guard. |y| ≥ 2^52 (ulp ≥ 1, scaling not
  * exactly invertible) and non-finite inputs also take the reference
  * path. Differential spec: FastRoundSpec, 4M adversarial + random
  * values bit-compared against Spark's round.
  */
case class FastRound(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(DoubleType, IntegerType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "fast_round"

  private lazy val scaleVal: Int = right match {
    case Literal(i: Int, IntegerType) => i
    case _ => throw new IllegalArgumentException(
      "fast_round scale must be a literal integer")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    FastRound.round(a.asInstanceOf[Double], b.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = scaleVal // fail fast at plan time if non-literal
    // s is a literal, so the scale range is decided here, once per plan
    defineCodeGen(ctx, ev, (x, _) =>
      if (FastRound.exactScale(s)) s"graft.plans.FastRound.halfUp($x, $s, ${FastRound.Pow10(s)}D)"
      else s"graft.plans.FastRound.slow($x, $s)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FastRound =
    copy(left = newLeft, right = newRight)
}

object FastRound {
  // the fast path needs 10^s binary-EXACT (s in [0, 22]) so the final
  // divide is one correctly-rounded op on exact operands; other scales
  // (negative = round to tens/…, or > 22) take the reference path
  private val Pow10: Array[Double] = Array.tabulate(23)(s => math.pow(10.0, s))

  def exactScale(s: Int): Boolean = s >= 0 && s < Pow10.length

  /** Exact reference path — what Spark's Round(DoubleType) computes. */
  def slow(x: Double, s: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  def round(x: Double, s: Int): Double =
    if (exactScale(s)) halfUp(x, s, Pow10(s)) else slow(x, s)

  /** HALF_UP at an exact scale s, with p = 10^s. */
  def halfUp(x: Double, s: Int, p: Double): Double = {
    val y = x * p
    val fl = math.floor(y)
    val f = y - fl
    if (math.abs(y) < 4.503599627370496e15 &&
        math.abs(f - 0.5) > math.max(1e-9, 16.0 * Math.ulp(y)))
      (fl + (if (f > 0.5) 1.0 else 0.0)) / p
    else slow(x, s)
  }

  val builder: Seq[Expression] => Expression = args => FastRound(args(0), args(1))
}
