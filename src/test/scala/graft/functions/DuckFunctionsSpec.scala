package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Pure-function unit tests (no Spark session). Expected values cross-
  * checked against the reference engine's behavior. */
class DuckFunctionsSpec extends AnyFunSuite {

  test("stripAccents removes combining marks") {
    assert(DuckFunctions.stripAccents("café étude") == "cafe etude")
    assert(DuckFunctions.stripAccents("naïve Ångström") == "naive Angstrom")
    assert(DuckFunctions.stripAccents(null) == null)
  }

  test("unicode codepoint") {
    assert(DuckFunctions.unicodeCodepoint("A") == 65)
    assert(DuckFunctions.unicodeCodepoint("€x") == 8364)
    assert(DuckFunctions.unicodeCodepoint("") == -1)
  }

  test("hamming counts differing positions") {
    assert(DuckFunctions.hamming("abcde", "abcdf") == 1L)
    assert(DuckFunctions.hamming("aaaa", "aaaa") == 0L)
    intercept[IllegalArgumentException](DuckFunctions.hamming("ab", "abc"))
  }

  test("jaccard over character sets (reference semantics)") {
    // verified against the oracle: jaccard('hello','world') = 2/7
    assert(math.abs(DuckFunctions.jaccardChars("hello", "world") - 2.0 / 7.0) < 1e-12)
    assert(DuckFunctions.jaccardChars("abc", "abd") == 0.5)
    assert(DuckFunctions.jaccardChars("", "") == 1.0)
  }

  test("jaro_winkler matches reference values") {
    // verified against the oracle: 0.9611…, 0.84
    assert(math.abs(DuckFunctions.jaroWinkler("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(DuckFunctions.jaroWinkler("DWAYNE", "DUANE") - 0.84) < 1e-12)
    assert(DuckFunctions.jaroWinkler("same", "same") == 1.0)
    // 1-char strings: match window must clamp to 0, not -1
    assert(DuckFunctions.jaroWinkler("a", "a") == 1.0)
    assert(DuckFunctions.jaroWinkler("a", "b") == 0.0)
    assert(DuckFunctions.jaroWinkler("ab", "ab") == 1.0)
  }

  test("strftime hand formatter (r16 — replaced the Java-pattern translation)") {
    import org.apache.spark.unsafe.types.UTF8String
    def f(us: Long, fmt: String): String =
      DuckStrFns.strftimeMicros(us, UTF8String.fromString(fmt)).toString
    val us = java.time.LocalDateTime.of(2020, 6, 15, 13, 45, 30)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(f(us, "%Y-%m-%d") == "2020-06-15")
    assert(f(us, "%H:%M:%S") == "13:45:30")
    assert(f(us, "%Y/%m/%d %H:%M") == "2020/06/15 13:45")
    assert(f(us, "%a %B %d") == "Mon June 15")
  }

  test("math long tail: nextafter, signbit, gamma, lgamma") {
    assert(DuckFunctions.nextafter(1.0, 2.0) > 1.0)
    assert(DuckFunctions.signbit(-0.0) && !DuckFunctions.signbit(0.0))
    assert(DuckFunctions.signbit(-3.5) && !DuckFunctions.signbit(3.5))
    assert(math.abs(DuckFunctions.gammaFn(5.0) - 24.0) < 1e-9)
    assert(math.abs(DuckFunctions.gammaFn(0.5) - math.sqrt(math.Pi)) < 1e-12)
    assert(math.abs(DuckFunctions.lgamma(10.0) - math.log(362880.0)) < 1e-9)
  }

  test("bit-string helpers") {
    assert(DuckFunctions.getBit("0110", 1) == 1)
    assert(DuckFunctions.getBit("0110", 0) == 0)
    assert(DuckFunctions.setBit("0110", 0, 1) == "1110")
    assert(DuckFunctions.bitPosition("11", "0110") == 2L)
    assert(DuckFunctions.bitPosition("111", "0110") == 0L)
  }

  test("session-info and string-distance registrations") {
    val spark = graft.TestSession.spark
    val cafe = "café" // decomposed accent: 5 codepoints, 4 graphemes
    val r = spark.sql(
      s"""SELECT graft_version() AS v, current_database() AS db,
         |  current_schema() AS sc, current_schemas()[0] AS sc0,
         |  txid_current() AS tx,
         |  mismatches('abc', 'abd') AS mm,
         |  jaro_similarity('MARTHA', 'MARHTA') AS js,
         |  length_grapheme('$cafe') AS lg,
         |  left_grapheme('$cafe', 4) AS leftg,
         |  substring_grapheme('${cafe}xyz', 4, 2) AS subg""".stripMargin)
      .head()
    assert(r.getString(0).contains("graft"))
    assert(r.getString(1) == "memory" && r.getString(2) == "main" && r.getString(3) == "main")
    assert(r.getLong(4) == 0L && r.getLong(5) == 1L)
    assert(math.abs(r.getDouble(6) - 0.9444444444444445) < 1e-12)
    assert(r.getLong(7) == 4L)
    assert(r.getString(8) == cafe)
    assert(r.getString(9) == "éx") // grapheme 4 = e+combining accent, then x
  }

  test("glob to regex") {
    assert(DuckFunctions.globToRegex("a*") == "^a.*$")
    assert(DuckFunctions.globToRegex("*.csv") == "^.*\\.csv$")
    assert("file1.csv".matches(DuckFunctions.globToRegex("file?.csv")))
    assert(!"file12.csv".matches(DuckFunctions.globToRegex("file?.csv")))
  }
}
