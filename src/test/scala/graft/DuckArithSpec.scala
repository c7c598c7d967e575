package graft

/** r15 arithmetic-edge differential-sweep pins — every value below
  * duck-probed (DuckDB 1.0, the oracle engine) on the same statement
  * text; the full per-case table is ARITH_BATTERY_r15.json. Covers the
  * sweep's divergence classes: zero-divisor NULLs, always-double `/`,
  * per-width `min % -1` overflow, exponentiation operators, domain-
  * checked math errors, duck cast rounding (half-even for floats,
  * half-away for decimals, exact-first for strings), VARCHAR float
  * rendering, range-checked shifts, factorial, default NULLS LAST
  * ordering, and the named operator functions. */
class DuckArithSpec extends SparkSpec {

  private def one(sql: String) = SqlDialect.sql(spark, sql).head()
  private def fails(sql: String): String =
    intercept[Throwable](SqlDialect.sql(spark, sql).collect()).toString

  test("/ is always-double and NULL on zero divisors (all numeric types)") {
    val r = one("SELECT 5 / 0 AS a, 5.0 / 0.0 AS b, CAST(5 AS DOUBLE) / 0 AS c, " +
      "5 / 2 AS d, CAST(1.00 AS DECIMAL(4,2)) / CAST(3.00 AS DECIMAL(4,2)) AS e, " +
      "1 / (-0.0) AS f")
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(5))
    assert(r.getDouble(3) == 2.5, "int/int is DOUBLE division (duck-probed)")
    assert(math.abs(r.getDouble(4) - 1.0 / 3.0) < 1e-15,
      "decimal/decimal is DOUBLE division (duck-probed typeof=DOUBLE)")
  }

  test("% is NULL on zero, keeps types, and raises on min % -1 per width") {
    val r = one("SELECT 5 % 0 AS a, 5.5 % 0.0 AS b, (-7) % 3 AS c, 7.5 % 2.0 AS d, " +
      "mod(7, 0) AS e")
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(4))
    assert(r.getInt(2) == -1)
    assert(r.getDecimal(3).doubleValue == 1.5)
    // duck raises "Overflow in division of <min> / -1" where Java's %
    // silently returns 0 — probed at every width
    assert(fails("SELECT (-9223372036854775807 - 1) % -1").contains("Overflow"))
    assert(fails("SELECT CAST(-2147483648 AS INTEGER) % CAST(-1 AS INTEGER)")
      .contains("Overflow"))
    // and // takes the same per-width guard (duck-probed r15)
    assert(fails("SELECT CAST(-2147483648 AS INTEGER) // CAST(-1 AS INTEGER)")
      .contains("Overflow"))
  }

  test("** and ^ are exponentiation with duck precedence; @ is prefix abs") {
    val r = one("SELECT 2 ^ 3 AS a, 2 * 3 ** 2 AS b, -2 ** 2 AS c, " +
      "2 ** -2 AS d, 2 ** 3 ** 2 AS e, 2 - 3 ** 2 AS f, @(-5) AS g, @ -5.5 AS h")
    assert(r.getDouble(0) == 8.0, "^ is POWER, not xor (duck-probed)")
    assert(r.getDouble(1) == 18.0, "** binds tighter than *")
    assert(r.getDouble(2) == 4.0, "unary sign binds into the left operand")
    assert(r.getDouble(3) == 0.25)
    assert(r.getDouble(4) == 64.0, "left-associative")
    assert(r.getDouble(5) == -7.0, "binary minus stays outside")
    assert(r.getInt(6) == 5)
    assert(r.getDecimal(7).doubleValue == 5.5)
  }

  test("domain-checked math raises like the reference; NaN passes through") {
    assert(fails("SELECT sqrt(-1)").contains("square root"))
    assert(fails("SELECT ln(0)").contains("logarithm of zero"))
    assert(fails("SELECT log10(-1)").contains("negative"))
    assert(fails("SELECT log2(0)").contains("zero"))
    assert(fails("SELECT asin(2)").contains("ASIN"))
    assert(fails("SELECT acos(-2)").contains("ACOS"))
    assert(fails("SELECT gamma(0)").contains("gamma of zero"))
    assert(fails("SELECT lgamma(0)").contains("log gamma of zero"))
    val r = one("SELECT sqrt(float('nan')) AS a, ln(float('nan')) AS b, " +
      "gamma(-1.0) AS c, gamma(-0.5) AS d")
    assert(r.getDouble(0).isNaN && r.getDouble(1).isNaN)
    assert(r.getDouble(2).isNaN, "negative-integer gamma poles are NaN (probed)")
    assert(math.abs(r.getDouble(3) - -3.5449077018110318) < 1e-12)
  }

  test("1-arg log() is LOG10 like the reference; 2-arg keeps log(b, x)") {
    val r = one("SELECT log(100) AS a, log(2, 8) AS b, ln(100) AS c")
    assert(r.getDouble(0) == 2.0, "duck log() is log10 — Spark's ln is silent-wrong")
    assert(r.getDouble(1) == 3.0)
    assert(math.abs(r.getDouble(2) - math.log(100)) < 1e-15)
  }

  test("casts to int: half-even for floats, half-away for decimals, exact-first for strings") {
    val r = one("SELECT CAST(2.5::DOUBLE AS INTEGER) AS a, CAST(3.5::DOUBLE AS INTEGER) AS b, " +
      "CAST(2.5 AS INTEGER) AS c, CAST(-2.5 AS INTEGER) AS d, " +
      "CAST('3.7' AS INTEGER) AS e, CAST('9223372036854775807' AS BIGINT) AS f, " +
      "CAST('1e5' AS INTEGER) AS g, TRY_CAST('2.5' AS INTEGER) AS h, " +
      "TRY_CAST(300 AS TINYINT) AS i, CAST(0.5::DOUBLE AS INTEGER) AS j")
    assert(r.getInt(0) == 2 && r.getInt(1) == 4, "float→int rounds half to EVEN")
    assert(r.getInt(2) == 3 && r.getInt(3) == -3, "decimal→int rounds half AWAY")
    assert(r.getInt(4) == 4, "fractional strings parse and round")
    assert(r.getLong(5) == Long.MaxValue, "integral strings stay exact")
    assert(r.getInt(6) == 100000, "scientific strings accepted")
    assert(r.getInt(7) == 3)
    assert(r.isNullAt(8), "TRY_CAST overflow is NULL")
    assert(r.getInt(9) == 0)
    assert(fails("SELECT CAST(300 AS TINYINT)").contains("CAST_OVERFLOW") ||
      fails("SELECT CAST(300 AS TINYINT)").toLowerCase.contains("overflow"))
    assert(fails("SELECT CAST('abc' AS INTEGER)").nonEmpty)
  }

  test("casts to VARCHAR render doubles with the reference format") {
    val r = one("SELECT CAST(1.5::DOUBLE AS VARCHAR) AS a, (1e16)::DOUBLE::VARCHAR AS b, " +
      "CAST(1e15::DOUBLE AS VARCHAR) AS c, CAST(1e-7::DOUBLE AS VARCHAR) AS d, " +
      "CAST(123456789.123::DOUBLE AS VARCHAR) AS e, CAST(0.0001::DOUBLE AS VARCHAR) AS f, " +
      "CAST(0.00001::DOUBLE AS VARCHAR) AS g, CAST(float('nan') AS VARCHAR) AS h, " +
      // -0.0 via an EXPRESSION: duck parses -0.0::DOUBLE as -(0.0::DOUBLE)
      // = -0.0 while Spark lexes the sign into the DECIMAL literal (no
      // negative zero) — a documented parse divergence on that literal
      // shape only; the double value itself renders with its sign
      "CAST(0.1::FLOAT AS VARCHAR) AS i, CAST(-(0.0::DOUBLE) AS VARCHAR) AS j, " +
      "CAST(1.0/3.0 AS TEXT) AS k")
    assert(r.getString(0) == "1.5")
    assert(r.getString(1) == "1e+16")
    assert(r.getString(2) == "1000000000000000.0")
    assert(r.getString(3) == "1e-07")
    assert(r.getString(4) == "123456789.123")
    assert(r.getString(5) == "0.0001")
    assert(r.getString(6) == "1e-05")
    assert(r.getString(7) == "nan")
    assert(r.getString(8) == "0.1")
    assert(r.getString(9) == "-0.0")
    assert(r.getString(10) == "0.3333333333333333")
  }

  test("boolean casts accept exactly the reference's literal set") {
    val r = one("SELECT CAST('true' AS BOOLEAN) AS a, CAST('F' AS BOOLEAN) AS b, " +
      "CAST('1' AS BOOLEAN) AS c, TRY_CAST('yes' AS BOOLEAN) AS d, 't'::BOOL AS e")
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(4))
    assert(r.isNullAt(3), "'yes' is NOT a duck boolean")
    assert(fails("SELECT CAST('yes' AS BOOLEAN)").contains("BOOL"))
  }

  test("shifts are range-checked like the reference") {
    val r = one("SELECT 1 << 30 AS a, 8 >> -1 AS b, 8 >> 70 AS c, " +
      "1 + 1 << 2 AS d, 3 & 1 << 1 AS e, -8 >> 1 AS f")
    assert(r.getInt(0) == 1073741824)
    assert(r.getInt(1) == 0 && r.getInt(2) == 0, ">> out-of-range yields 0")
    assert(r.getInt(3) == 8, "+ binds tighter than <<")
    assert(r.getInt(4) == 2, "<< binds tighter than &")
    assert(r.getInt(5) == -4, "arithmetic right shift")
    assert(fails("SELECT 1 << 31").contains("Overflow"))
    assert(fails("SELECT 1 << 70").contains("out of range"))
    assert(fails("SELECT 1 << -1").contains("negative"))
    assert(fails("SELECT (-1) << 2").contains("negative"))
    assert(fails("SELECT CAST(1 AS TINYINT) << 7").contains("Overflow"))
  }

  test("factorial matches HUGEINT behavior; named operator fns registered") {
    val r = one("SELECT factorial(-1) AS a, CAST(factorial(21) AS VARCHAR) AS b, " +
      "divide(7, 2) AS c, add(2, 3) AS d, subtract(5, 2) AS e, multiply(3, 4) AS f, " +
      "fdiv(-7, 2) AS g, fmod(-7, 2) AS h, fdiv(5, 0) AS i, " +
      "isinf(float('inf')) AS j, isfinite(1.0) AS k, xor(5, 3) AS l, " +
      "trunc(-1.7::DOUBLE) AS m, sign(float('nan')) AS n, sign(-3.2) AS o")
    assert(r.getDecimal(0).longValue == 1, "factorial of negatives is 1 (probed)")
    assert(r.getString(1) == "51090942171709440000", "factorial(21) exceeds BIGINT")
    assert(r.getLong(2) == 3, "named divide() is INTEGER division")
    assert(r.getInt(3) == 5 && r.getInt(4) == 3 && r.getInt(5) == 12)
    assert(r.getDouble(6) == -4.0, "fdiv FLOORS (not truncates)")
    assert(r.getDouble(7) == 1.0, "fmod is FLOOR-mod — fmod(-7,2)=1 (probed)")
    assert(r.isNullAt(8))
    assert(r.getBoolean(9) && r.getBoolean(10))
    assert(r.getInt(11) == 6)
    assert(r.getDouble(12) == -1.0, "1-arg trunc truncates toward zero as DOUBLE")
    assert(r.getByte(13) == 0, "sign(NaN) = 0 as TINYINT (probed)")
    assert(r.getByte(14) == -1)
    assert(fails("SELECT factorial(34)").contains("out of range"))
  }

  test("default null ordering is NULLS LAST in both directions") {
    val asc = SqlDialect.sql(spark,
      "SELECT x FROM (VALUES (1), (NULL), (2)) t(x) ORDER BY x LIMIT 2")
      .collect().map(_.get(0))
    assert(asc.toSeq == Seq(1, 2), "ASC default must be NULLS LAST (duck-probed)")
    val win = SqlDialect.sql(spark,
      "SELECT x, row_number() OVER (ORDER BY x) rn " +
        "FROM (VALUES (1), (NULL), (2)) t(x) ORDER BY rn")
      .collect().map(r => (r.get(0), r.getInt(1)))
    assert(win.toSeq == Seq((1, 1), (2, 2), (null, 3)),
      "window ORDER BY ranks NULL last")
    // explicit modifiers survive; DESC untouched; ordinals accepted
    val exp = SqlDialect.sql(spark,
      "SELECT x FROM (VALUES (1), (NULL), (2)) t(x) ORDER BY 1 DESC LIMIT 2")
      .collect().map(_.get(0))
    assert(exp.toSeq == Seq(2, 1))
    val nf = SqlDialect.sql(spark,
      "SELECT x FROM (VALUES (1), (NULL)) t(x) ORDER BY x NULLS FIRST LIMIT 1")
      .collect().map(_.get(0))
    assert(nf.toSeq == Seq(null))
  }

  test("FILTER without WHERE; decimal avg is DOUBLE; sum overflow is a LOUD guardrail") {
    val r = one("SELECT count(*) FILTER (x > 1) AS a, sum(x) AS b, avg(y) AS c " +
      "FROM (VALUES (1, 1.5), (2, 2.5)) t(x, y)")
    assert(r.getLong(0) == 1)
    assert(r.getLong(1) == 3, "sum keeps Spark's BIGINT accumulator (see " +
      "DuckFunctions — the registry would re-type the API's functions.sum too)")
    assert(r.getDouble(2) == 2.0, "decimal avg is DOUBLE (duck-probed typeof)")
    // past 2^63 the reference continues in HUGEINT; graft raises the
    // NAMED ANSI overflow — a guardrail, never silently wrong
    assert(fails("SELECT sum(x) AS s FROM (VALUES (9223372036854775807), (1)) t(x)")
      .toLowerCase.contains("overflow"))
  }

  test("dialect rewrites stay out of strings, comments, and interval arithmetic") {
    val r = one("SELECT '5/0' AS a, 'a^b' AS b, length('x%y') AS c, " +
      "DATE '1994-01-01' + 1 AS d")
    assert(r.getString(0) == "5/0" && r.getString(1) == "a^b" && r.getLong(2) == 3L)
    // interval division keeps Spark's own resolution (capture guard)
    val iv = one("SELECT INTERVAL '4' HOUR / 2 AS h")
    assert(iv.get(0) != null)
  }
}
