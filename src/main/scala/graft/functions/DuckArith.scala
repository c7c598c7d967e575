package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Arithmetic-edge parity family (round-15 differential sweep; every
  * behavior below duck-probed verbatim on both engines — see
  * ARITH_BATTERY_r15.json for the per-case table). The reference's
  * division is non-ANSI (`x / 0` → NULL at every numeric type,
  * reference operator specializations `duckdb-5.cpp:16400+`), its `/`
  * is ALWAYS double division (ints and decimals both promote — probed
  * `typeof(5/2)`=DOUBLE, `typeof(1.5/2.5)`=DOUBLE), while overflow in
  * +,-,* and casts RAISES on both engines (Spark ANSI mode matches, so
  * those stay native). Each expression here dispatches on operand type
  * at plan time via RuntimeReplaceable, exactly like [[DuckFloorDiv]].
  */
object DuckArith {
  private[graft] def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private[graft] def isNumericish(dt: DataType): Boolean = dt match {
    case _: NumericType | NullType => true
    case _ => false
  }

  /** Wider of two integral types (the reference promotes binary ops to
    * the common width and checks overflow AT that width). */
  private[graft] def widerIntegral(a: DataType, b: DataType): DataType = {
    def w(dt: DataType) = dt match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3; case _ => 4
    }
    if (w(a) >= w(b)) a else b
  }

  private[graft] def minLiteral(dt: DataType): Literal = dt match {
    case ByteType => Literal(Byte.MinValue)
    case ShortType => Literal(Short.MinValue)
    case IntegerType => Literal(Int.MinValue)
    case _ => Literal(Long.MinValue)
  }

  private[graft] def raiseAs(msg: String, dt: DataType): Expression =
    Cast(RaiseError(Literal(UTF8String.fromString(msg), StringType)), dt)

  /** Cast a numeric (or stringly-numeric) operand pair to a common
    * type: RuntimeReplaceable replacements are built AFTER the
    * analyzer's implicit coercion has run, so BinaryArithmetic children
    * must be widened by hand (Subtract(BIGINT, INT) is unresolved). */
  private[graft] def widenPair(l: Expression, r: Expression): (Expression, Expression) = {
    val (a, b) = (l.dataType, r.dataType)
    def dec(dt: DataType): DecimalType = dt match {
      case d: DecimalType => d
      case ByteType => DecimalType(3, 0)
      case ShortType => DecimalType(5, 0)
      case IntegerType => DecimalType(10, 0)
      case _ => DecimalType(20, 0)
    }
    (a, b) match {
      case (x, y) if x == y => (l, r)
      case (x, y) if isIntegral(x) && isIntegral(y) =>
        val w = widerIntegral(x, y); (Cast(l, w), Cast(r, w))
      // BinaryArithmetic resolves mixed decimal PRECISIONS natively
      // (it computes the result decimal type) — don't degrade to double
      case (_: DecimalType, _: DecimalType) => (l, r)
      case (_: DecimalType, y) if isIntegral(y) => (l, Cast(r, dec(b)))
      case (x, _: DecimalType) if isIntegral(x) => (Cast(l, dec(a)), r)
      case (x, y) if isNumericish(x) || isNumericish(y) ||
        x == StringType || y == StringType =>
        (Cast(l, DoubleType), Cast(r, DoubleType))
      case _ => (l, r)
    }
  }

  // ---- reference float rendering (duck casts DOUBLE→VARCHAR with the
  // shortest-round-trip digits and python-repr placement rules: probed
  // 1e16→'1e+16', 1e15→'1000000000000000.0', 1e-4→'0.0001',
  // 1e-5→'1e-05', 1/3→'0.3333333333333333', inf/nan lowercase). Java's
  // Double.toString produces the same shortest digits with different
  // exponent thresholds; reformat deterministically. ----

  def pyReprD(d: Double): UTF8String = UTF8String.fromString(pyReprStr(d))
  def pyReprF(f: Float): UTF8String = {
    if (f.isNaN) return UTF8String.fromString("nan")
    if (f.isInfinite) return UTF8String.fromString(if (f > 0) "inf" else "-inf")
    if (f == 0.0f) return UTF8String.fromString(
      if (java.lang.Float.floatToRawIntBits(f) != 0) "-0.0" else "0.0")
    val (digits, exp10) = shortest(p =>
      String.format(java.util.Locale.ROOT, s"%.${p}e", java.lang.Float.valueOf(f)),
      s => java.lang.Float.parseFloat(s) == f, 8)
    UTF8String.fromString(place(f < 0, digits, exp10))
  }

  private[graft] def pyReprStr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0)
      return if (java.lang.Double.doubleToRawLongBits(d) != 0L) "-0.0" else "0.0"
    val (digits, exp10) = shortest(p =>
      String.format(java.util.Locale.ROOT, s"%.${p}e", java.lang.Double.valueOf(d)),
      s => java.lang.Double.parseDouble(s) == d, 16)
    place(d < 0, digits, exp10)
  }

  /** Lowest-precision `%.pe` rendering that round-trips (JDK 17's
    * Float/Double.toString is not always shortest — Ryū only landed in
    * JDK 19 — while the reference prints true shortest digits). The
    * round-trip property is monotone in p, so binary search. Returns
    * (digits-without-dot trailing-zero-stripped, exponent of the first
    * digit). */
  private def shortest(fmt: Int => String, ok: String => Boolean,
      maxFrac: Int): (String, Int) = {
    var lo = 0
    var hi = maxFrac
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (ok(fmt(mid))) hi = mid else lo = mid + 1
    }
    val s = fmt(lo)
    val e = s.indexOf('e')
    val mant = s.substring(0, e).replace("-", "")
    val exp = s.substring(e + 1).toInt
    var digits = mant.replace(".", "")
    var en = digits.length
    while (en > 1 && digits.charAt(en - 1) == '0') en -= 1
    (digits.substring(0, en), exp)
  }

  /** python/duck digit placement: positional for -4 ≤ exp < 16,
    * two-digit 'e±xx' scientific otherwise (probed). */
  private def place(neg: Boolean, digits: String, exp10: Int): String = {
    val sb = new StringBuilder(if (neg) "-" else "")
    if (exp10 >= -4 && exp10 < 16) {
      if (exp10 >= 0) {
        if (digits.length > exp10 + 1) {
          sb.append(digits.substring(0, exp10 + 1)).append('.')
            .append(digits.substring(exp10 + 1))
        } else {
          sb.append(digits)
          var i = digits.length
          while (i <= exp10) { sb.append('0'); i += 1 }
          sb.append(".0")
        }
      } else {
        sb.append("0.")
        var i = -1
        while (i > exp10) { sb.append('0'); i -= 1 }
        sb.append(digits)
      }
    } else {
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits.substring(1))
      sb.append('e').append(if (exp10 < 0) '-' else '+')
      val ae = math.abs(exp10)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    }
    sb.toString
  }

  // ---- factorial (reference: HUGEINT result, probed: factorial(-1)=1,
  // factorial(33) fits, factorial(34) → "Value out of range"). Modeled
  // as DECIMAL(38,0) — hugeint's range twin in Spark's type system. ----
  private val factTable: Array[Decimal] = {
    val a = new Array[Decimal](34)
    var acc = java.math.BigInteger.ONE
    a(0) = Decimal(new java.math.BigDecimal(acc), 38, 0)
    var i = 1
    while (i < 34) {
      acc = acc.multiply(java.math.BigInteger.valueOf(i))
      a(i) = Decimal(new java.math.BigDecimal(acc), 38, 0)
      i += 1
    }
    a
  }

  def factorial(n: Long): Decimal =
    if (n <= 1L) factTable(0)
    else if (n >= 34L) throw new ArithmeticException(
      "Out of Range Error: Value out of range")
    else factTable(n.toInt)

  def truncD(d: Double): Double = if (d < 0) math.ceil(d) else math.floor(d)
}

/** duck `a / b`: ALWAYS double division for numeric operands, NULL on a
  * zero divisor (probed: `5/0`, `5.0/0.0`, `dec/dec 0` all NULL;
  * `typeof(5/2)`=DOUBLE, `typeof(dec/dec)`=DOUBLE). Non-numeric
  * operands (interval arithmetic) keep Spark's own Divide resolution. */
case class DuckDiv(left: Expression, right: Expression)
  extends BinaryExpression with RuntimeReplaceable {
  import DuckArith._

  override lazy val replacement: Expression =
    if (isNumericish(left.dataType) && isNumericish(right.dataType)) {
      val l = Cast(left, DoubleType)
      val r = Cast(right, DoubleType)
      If(EqualTo(r, Literal(0.0)), Literal.create(null, DoubleType), Divide(l, r))
    } else Divide(left, right)

  override def prettyName: String = "duck_div"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DuckDiv =
    copy(left = l, right = r)
}

object DuckDiv {
  val builder: Seq[Expression] => Expression = a => DuckDiv(a(0), a(1))
}

/** duck `a % b` / `mod(a,b)`: NULL on zero divisor, operand types kept
  * (decimal % decimal stays DECIMAL — probed), and the reference's
  * per-width `min % -1` overflow error (probed at INT8/16/32/64:
  * "Overflow in division of <min> / -1"), which Java's remainder — and
  * therefore Spark — silently evaluates to 0. */
case class DuckMod(left: Expression, right: Expression)
  extends BinaryExpression with RuntimeReplaceable {
  import DuckArith._

  override lazy val replacement: Expression =
    if (isIntegral(left.dataType) && isIntegral(right.dataType)) {
      val w = widerIntegral(left.dataType, right.dataType)
      val l = Cast(left, w)
      val r = Cast(right, w)
      val minL = minLiteral(w)
      If(And(EqualTo(l, minL), EqualTo(r, Cast(Literal(-1), w))),
        raiseAs(s"Out of Range Error: Overflow in division of ${minL.value} / -1", w),
        new TryMod(l, r))
    } else {
      val (l2, r2) = widenPair(left, right)
      new TryMod(l2, r2)
    }

  override def prettyName: String = "duck_mod"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DuckMod =
    copy(left = l, right = r)
}

object DuckMod {
  val builder: Seq[Expression] => Expression = a => DuckMod(a(0), a(1))
}

/** duck CAST to an integral type (probed): DOUBLE/FLOAT round HALF TO
  * EVEN (`2.5::DOUBLE`→2, `3.5`→4 — C++ nearbyint), DECIMAL rounds
  * HALF AWAY FROM ZERO (`CAST(2.5 AS INT)`→3, `-2.5`→-3), VARCHAR
  * takes the exact integral parse when possible ('9223372036854775807'
  * stays exact) and otherwise parses as a number and rounds half-away
  * ('3.7'→4, '2.5'→3, '1e5'→100000). Range overflow raises on both
  * engines (Spark ANSI cast keeps that). */
case class DuckICast(child: Expression, target: DataType)
  extends UnaryExpression with RuntimeReplaceable {

  override lazy val replacement: Expression = child.dataType match {
    case DoubleType | FloatType =>
      Cast(Rint(Cast(child, DoubleType)), target)
    case _: DecimalType =>
      Cast(new Round(child), target)
    case StringType =>
      Coalesce(Seq(
        Cast(child, target, None, EvalMode.TRY),
        Cast(new Round(Cast(child, DecimalType(38, 18))), target)))
    case _ => Cast(child, target)
  }

  override def prettyName: String = "duck_icast"
  override protected def withNewChildInternal(c: Expression): DuckICast =
    copy(child = c)
}

object DuckICast {
  private[graft] val targets: Map[String, DataType] = Map(
    "tinyint" -> ByteType, "int1" -> ByteType,
    "smallint" -> ShortType, "int2" -> ShortType, "short" -> ShortType,
    "integer" -> IntegerType, "int" -> IntegerType, "int4" -> IntegerType,
    "signed" -> IntegerType,
    "bigint" -> LongType, "int8" -> LongType, "long" -> LongType,
    "hugeint" -> DecimalType(38, 0))

  private def t(e: Expression): DataType = e match {
    case Literal(s: UTF8String, StringType) => targets(s.toString.toLowerCase)
    case _ => throw new IllegalArgumentException(
      "duck_icast expects a literal type name")
  }
  val builder: Seq[Expression] => Expression = a => DuckICast(a(0), t(a(1)))
  val tryBuilder: Seq[Expression] => Expression =
    a => TryEval(DuckICast(a(0), t(a(1))))
}

/** duck CAST(x AS VARCHAR): DOUBLE/FLOAT render with the reference's
  * shortest-round-trip format ([[DuckArith.pyReprStr]]); everything
  * else keeps Spark's string cast. Also fixes the surface bug that
  * Spark rejects the bare VARCHAR type name entirely. */
case class DuckStrCast(child: Expression)
  extends UnaryExpression with RuntimeReplaceable {

  override lazy val replacement: Expression = child.dataType match {
    case DoubleType | FloatType => DuckFloatStr(child)
    case _: DayTimeIntervalType | _: YearMonthIntervalType |
         CalendarIntervalType => DuckIntervalStr(child)
    // complex types render with the reference's list/struct/map text
    // (r17 BATTERY7: '[1, NULL, 3]' / "{'a': 1}" / '{k=v}' — Spark's
    // cast spells nulls lowercase and drops struct keys)
    case _: ArrayType | _: StructType | _: MapType => DuckRenderStr(child)
    // timestamp/date casts are timezone-aware and this replacement is
    // built AFTER ResolveTimeZone ran — set the zone explicitly
    case _ => Cast(child, StringType,
      Option(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
  }

  override def prettyName: String = "duck_str"
  override protected def withNewChildInternal(c: Expression): DuckStrCast =
    copy(child = c)
}

object DuckStrCast {
  val builder: Seq[Expression] => Expression = a => DuckStrCast(a(0))
  val tryBuilder: Seq[Expression] => Expression = a => TryEval(DuckStrCast(a(0)))
}

/** Codegen shortest-round-trip float rendering (see [[DuckArith]]). */
case class DuckFloatStr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  private val isFloat = child.dataType == FloatType

  override protected def nullSafeEval(v: Any): Any =
    if (isFloat) DuckArith.pyReprF(v.asInstanceOf[Float])
    else DuckArith.pyReprD(v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "pyReprF" else "pyReprD"
    defineCodeGen(ctx, ev, c => s"graft.functions.DuckArith.$fn($c)")
  }

  override def prettyName: String = "duck_fstr"
  override protected def withNewChildInternal(c: Expression): DuckFloatStr =
    copy(child = c)
}

/** Domain-checked math (probed: the reference RAISES on sqrt(-1),
  * ln/log10/log2 of zero or negatives, asin/acos outside [-1,1],
  * gamma/lgamma of zero — while NaN inputs pass through as NaN).
  * Spark returns NaN/NULL silently on all of these. */
case class DuckMathErr(child: Expression, op: String)
  extends UnaryExpression with RuntimeReplaceable {
  import DuckArith.raiseAs

  override lazy val replacement: Expression = {
    val x = Cast(child, DoubleType)
    op match {
      case "sqrt" =>
        If(LessThan(x, Literal(0.0)),
          raiseAs("Out of Range Error: cannot take square root of a negative number", DoubleType),
          Sqrt(x))
      case "ln" | "log10" | "log2" =>
        val base: Expression = op match {
          case "ln" => Log(x); case "log10" => Log10(x); case _ => Log2(x)
        }
        If(LessThanOrEqual(x, Literal(0.0)),
          If(EqualTo(x, Literal(0.0)),
            raiseAs("Out of Range Error: cannot take logarithm of zero", DoubleType),
            raiseAs("Out of Range Error: cannot take logarithm of a negative number", DoubleType)),
          base)
      case "asin" | "acos" =>
        val base: Expression = if (op == "asin") Asin(x) else Acos(x)
        If(Or(LessThan(x, Literal(-1.0)), GreaterThan(x, Literal(1.0))),
          raiseAs(s"Invalid Input Error: ${op.toUpperCase} is undefined outside [-1,1]", DoubleType),
          base)
      case _ => throw new IllegalStateException(op)
    }
  }

  override def prettyName: String = s"duck_$op"
  override protected def withNewChildInternal(c: Expression): DuckMathErr =
    copy(child = c)
}

object DuckMathErr {
  def builder(op: String): Seq[Expression] => Expression =
    a => DuckMathErr(a(0), op)
}

/** duck `a << b` (probed): result keeps the left operand's width;
  * negative shift amounts and shift ≥ width raise; a negative left
  * operand raises; shifting a bit past the SIGNED max of the width
  * raises ("Overflow in left shift"). Spark's native shiftleft wraps
  * silently at Java semantics. */
case class DuckShiftLeft(left: Expression, right: Expression)
  extends BinaryExpression with RuntimeReplaceable {
  import DuckArith._

  override lazy val replacement: Expression = {
    val dt = if (isIntegral(left.dataType)) left.dataType else LongType
    val w = dt match {
      case ByteType => 8; case ShortType => 16; case IntegerType => 32; case _ => 64
    }
    val maxL = dt match {
      case ByteType => Literal(Byte.MaxValue.toLong)
      case ShortType => Literal(Short.MaxValue.toLong)
      case IntegerType => Literal(Int.MaxValue.toLong)
      case _ => Literal(Long.MaxValue)
    }
    val l = Cast(left, LongType)
    val r = Cast(right, LongType)
    If(LessThan(r, Literal(0L)),
      raiseAs("Out of Range Error: Cannot left-shift by negative number", dt),
      If(GreaterThanOrEqual(r, Literal(w.toLong)),
        raiseAs("Out of Range Error: Left-shift value is out of range", dt),
        If(LessThan(l, Literal(0L)),
          raiseAs("Out of Range Error: Cannot left-shift negative number", dt),
          If(GreaterThan(l, ShiftRight(maxL, Cast(r, IntegerType))),
            raiseAs("Out of Range Error: Overflow in left shift", dt),
            Cast(ShiftLeft(l, Cast(r, IntegerType)), dt)))))
  }

  override def prettyName: String = "duck_lshift"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DuckShiftLeft =
    copy(left = l, right = r)
}

object DuckShiftLeft {
  val builder: Seq[Expression] => Expression = a => DuckShiftLeft(a(0), a(1))
}

/** duck `a >> b` (probed): arithmetic shift keeping the left width;
  * negative amounts and amounts ≥ width yield 0 (no error — probed
  * `8 >> -1` = 0, `8 >> 70` = 0). */
case class DuckShiftRight(left: Expression, right: Expression)
  extends BinaryExpression with RuntimeReplaceable {
  import DuckArith._

  override lazy val replacement: Expression = {
    val dt = if (isIntegral(left.dataType)) left.dataType else LongType
    val w = dt match {
      case ByteType => 8; case ShortType => 16; case IntegerType => 32; case _ => 64
    }
    val l = Cast(left, LongType)
    val r = Cast(right, LongType)
    If(Or(LessThan(r, Literal(0L)), GreaterThanOrEqual(r, Literal(w.toLong))),
      Cast(Literal(0L), dt),
      Cast(ShiftRight(l, Cast(r, IntegerType)), dt))
  }

  override def prettyName: String = "duck_rshift"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DuckShiftRight =
    copy(left = l, right = r)
}

object DuckShiftRight {
  val builder: Seq[Expression] => Expression = a => DuckShiftRight(a(0), a(1))
}

/** duck factorial (HUGEINT → DECIMAL(38,0); probed: negatives → 1,
  * ≥ 34 → "Value out of range"; `5!` postfix is not in the oracle's
  * surface so only the call form registers). */
case class DuckFactorial(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DecimalType(38, 0)
  override protected def nullSafeEval(v: Any): Any =
    DuckArith.factorial(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DuckArith.factorial($c)")
  override def prettyName: String = "factorial"
  override protected def withNewChildInternal(c: Expression): DuckFactorial =
    copy(child = c)
}

object DuckFactorial {
  val builder: Seq[Expression] => Expression =
    a => DuckFactorial(Cast(a(0), LongType))
}

/** Floor (or ceiling) as double (Spark's Floor/Ceil return BIGINT,
  * which overflows on big doubles and cannot hold ±inf or NaN; the
  * reference's fdiv and 1-arg floor/ceil stay DOUBLE). */
case class FloorD(child: Expression, ceil: Boolean = false) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(v: Any): Any = {
    val d = v.asInstanceOf[Double]
    if (ceil) math.ceil(d) else math.floor(d)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Math.${if (ceil) "ceil" else "floor"}($c)")
  override def prettyName: String = if (ceil) "ceil_d" else "floor_d"
  override protected def withNewChildInternal(c: Expression): FloorD =
    copy(child = c)
}

/** duck 1-arg ceil/floor (probed DuckDB 1.0): FLOAT stays FLOAT,
  * DECIMAL(p,s) gives DECIMAL(p,0), every other numeric input DOUBLE
  * (`typeof(floor(1::int))` = DOUBLE). */
case class DuckCeilFloor(child: Expression, ceil: Boolean)
  extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.dataType match {
    case dt: DecimalType =>
      Cast(if (ceil) Ceil(child) else Floor(child), DecimalType(dt.precision, 0))
    case FloatType => Cast(FloorD(Cast(child, DoubleType), ceil), FloatType)
    case _ => FloorD(Cast(child, DoubleType), ceil)
  }
  override def prettyName: String = if (ceil) "ceil" else "floor"
  override protected def withNewChildInternal(c: Expression): DuckCeilFloor =
    copy(child = c)
}

/** Truncate-toward-zero as double (duck's 1-arg trunc on floats). */
case class TruncD(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(v: Any): Any =
    DuckArith.truncD(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DuckArith.truncD($c)")
  override def prettyName: String = "trunc_d"
  override protected def withNewChildInternal(c: Expression): TruncD =
    copy(child = c)
}

/** duck fdiv(x,y) = FLOOR division as DOUBLE, NULL divisor-zero
  * (probed: fdiv(-7,2) = -4.0 — floor, not the `//` truncation). */
case class DuckFdiv(left: Expression, right: Expression)
  extends BinaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = {
    val l = Cast(left, DoubleType)
    val r = Cast(right, DoubleType)
    If(EqualTo(r, Literal(0.0)), Literal.create(null, DoubleType),
      FloorD(Divide(l, r)))
  }
  override def prettyName: String = "fdiv"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DuckFdiv =
    copy(left = l, right = r)
}

/** duck fmod(x,y) = FLOOR-mod as DOUBLE (pairs with fdiv — probed:
  * fmod(-7,2)=1, fmod(7,-2)=-1, the remainder takes the DIVISOR's
  * sign), NULL on a zero divisor. */
case class DuckFmod(left: Expression, right: Expression)
  extends BinaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = {
    val l = Cast(left, DoubleType)
    val r = Cast(right, DoubleType)
    If(EqualTo(r, Literal(0.0)), Literal.create(null, DoubleType),
      Subtract(l, Multiply(FloorD(Divide(l, r)), r)))
  }
  override def prettyName: String = "fmod"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DuckFmod =
    copy(left = l, right = r)
}

/** duck 1-arg trunc: truncation toward zero, keeping DOUBLE for float
  * inputs (probed typeof DOUBLE) and integral values otherwise. */
case class DuckTrunc1(child: Expression)
  extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.dataType match {
    case DoubleType | FloatType => TruncD(Cast(child, DoubleType))
    case _: DecimalType => Cast(child, LongType)
    case _ => child
  }
  override def prettyName: String = "trunc"
  override protected def withNewChildInternal(c: Expression): DuckTrunc1 =
    copy(child = c)
}

/** duck sign(): TINYINT result, sign(NaN) = 0 (probed — Spark's signum
  * propagates NaN). */
case class DuckSign(child: Expression)
  extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = {
    val d = Cast(child, DoubleType)
    Cast(If(IsNaN(d), Literal(0.0), Signum(d)), ByteType)
  }
  override def prettyName: String = "sign"
  override protected def withNewChildInternal(c: Expression): DuckSign =
    copy(child = c)
}

/** isinf / isfinite (reference math fns absent from Spark). */
case class DuckIsInf(child: Expression)
  extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = {
    val d = Cast(child, DoubleType)
    Or(EqualTo(d, Literal(Double.PositiveInfinity)),
      EqualTo(d, Literal(Double.NegativeInfinity)))
  }
  override def prettyName: String = "isinf"
  override protected def withNewChildInternal(c: Expression): DuckIsInf =
    copy(child = c)
}

case class DuckIsFinite(child: Expression)
  extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = {
    val d = Cast(child, DoubleType)
    Not(Or(IsNaN(d), Or(EqualTo(d, Literal(Double.PositiveInfinity)),
      EqualTo(d, Literal(Double.NegativeInfinity)))))
  }
  override def prettyName: String = "isfinite"
  override protected def withNewChildInternal(c: Expression): DuckIsFinite =
    copy(child = c)
}

/** duck CAST(x AS BOOLEAN) from strings (probed): exactly
  * 'true'/'false'/'t'/'f'/'1'/'0' case-insensitive, NO trimming
  * (' true ' raises) — Spark is laxer (y/yes/n/no, trimmed). Other
  * source types keep Spark's cast (numeric ≠ 0 matches). */
case class DuckBCast(child: Expression)
  extends UnaryExpression with RuntimeReplaceable {

  override lazy val replacement: Expression = child.dataType match {
    case StringType =>
      val lower = Lower(child)
      CaseWhen(Seq(
        (In(lower, Seq(Literal("true"), Literal("t"), Literal("1"))),
          Literal(true)),
        (In(lower, Seq(Literal("false"), Literal("f"), Literal("0"))),
          Literal(false))),
        DuckArith.raiseAs(
          "Conversion Error: Could not convert string to BOOL", BooleanType))
    case _ => Cast(child, BooleanType)
  }

  override def prettyName: String = "duck_bcast"
  override protected def withNewChildInternal(c: Expression): DuckBCast =
    copy(child = c)
}

/** avg() argument shim: the reference's avg is DOUBLE even over
  * decimals (probed typeof(avg(1.5))=DOUBLE); Spark keeps decimal. */
case class DuckAvgArg(child: Expression)
  extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.dataType match {
    case _: DecimalType => Cast(child, DoubleType)
    case _ => child
  }
  override def prettyName: String = "duck_avg_arg"
  override protected def withNewChildInternal(c: Expression): DuckAvgArg =
    copy(child = c)
}
