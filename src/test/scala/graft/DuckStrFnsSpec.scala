package graft

/** r15 battery-tranche-3 pins — the SQL-surface function layer; every
  * value duck-probed (DuckDB 1.0) on the same statement text
  * (BATTERY3_r15.json). The tranche's silent-wrong finds: raw vs
  * escaped string literals, trim-family argument order, left/right
  * negatives, regexp_extract's default group, regexp_replace's
  * replace-all default, split's regex-vs-literal delimiter. */
class DuckStrFnsSpec extends SparkSpec {

  private def one(sql: String) = SqlDialect.sql(spark, sql).head()
  private def fails(sql: String): String =
    intercept[Throwable](SqlDialect.sql(spark, sql).collect()).toString

  test("string literals are RAW like the reference ('\\d' keeps its backslash)") {
    val r = one("""SELECT regexp_extract('ab12cd', '(\d+)', 1) AS a, """ +
      """regexp_extract('ab12cd', '\d+') AS b, """ +
      """regexp_extract_all('a1b22c', '\d+') AS c, """ +
      """regexp_split_to_array('a1b22c', '\d+') AS d""")
    assert(r.getString(0) == "12")
    assert(r.getString(1) == "12", "2-arg regexp_extract defaults to group 0 (probed)")
    assert(r.getSeq[String](2) == Seq("1", "22"))
    assert(r.getSeq[String](3) == Seq("a", "b", "c"))
  }

  test("regexp_replace replaces FIRST by default; flags argument works") {
    val r = one("SELECT regexp_replace('aaa', 'a', 'b') AS a, " +
      "regexp_replace('aaa', 'a', 'b', 'g') AS b, " +
      "regexp_replace('AaA', 'a', 'x', 'gi') AS c, " +
      "regexp_matches('hello', 'ell') AS d")
    assert(r.getString(0) == "baa", "replace-FIRST default (Spark replaces all)")
    assert(r.getString(1) == "bbb")
    assert(r.getString(2) == "xxx")
    assert(r.getBoolean(3))
  }

  test("trim family takes (string, characters); left/right accept negatives") {
    val r = one("SELECT trim('xxhixx', 'x') AS a, ltrim('xxhi', 'x') AS b, " +
      "rtrim('hixx', 'x') AS c, left('hello', -2) AS d, right('hello', -2) AS e, " +
      "left('hello', 2) AS f")
    assert(r.getString(0) == "hi" && r.getString(1) == "hi" && r.getString(2) == "hi")
    assert(r.getString(3) == "hel", "negative count = all but |n| from the end")
    assert(r.getString(4) == "llo")
    assert(r.getString(5) == "he")
  }

  test("split/string_split use LITERAL delimiters; regex twins registered") {
    val r = one("SELECT split('a.b', '.') AS a, string_split('a,b,,c', ',') AS b, " +
      "string_split_regex('a1b22c', '\\d+') AS c")
    assert(r.getSeq[String](0) == Seq("a", "b"),
      "a '.' delimiter is LITERAL (Spark's regex split would shatter)")
    assert(r.getSeq[String](1) == Seq("a", "b", "", "c"))
    assert(r.getSeq[String](2) == Seq("a", "b", "c"))
  }

  test("list function family maps onto the array builtins") {
    val r = one("SELECT list_sort([3,1,NULL,2]) AS a, list_reverse_sort([3,1,NULL,2]) AS b, " +
      "list_distinct([1,2,2,NULL,1]) AS c, list_unique([1,2,2,NULL]) AS d, " +
      "list_filter([1,2,3], x -> x > 1) AS e, list_transform([1,2], x -> x * 10) AS f, " +
      "list_value(1,2) AS g, list_append([1,2], 3) AS h, list_prepend(0, [1,2]) AS i, " +
      "list_position([4,5,6], 5) AS j, list_reverse([1,2,3]) AS k, " +
      "array_to_string([1,2,3], '-') AS l")
    assert(r.getSeq[Any](0) == Seq(1, 2, 3, null), "nulls LAST (probed)")
    assert(r.getSeq[Any](1) == Seq(3, 2, 1, null))
    assert(r.getSeq[Int](2).toSet == Set(1, 2), "NULLs dropped; order unspecified on the reference")
    assert(r.getLong(3) == 2)
    assert(r.getSeq[Int](4) == Seq(2, 3))
    assert(r.getSeq[Int](5) == Seq(10, 20))
    assert(r.getSeq[Int](6) == Seq(1, 2))
    assert(r.getSeq[Int](7) == Seq(1, 2, 3))
    assert(r.getSeq[Int](8) == Seq(0, 1, 2), "list_prepend is (element, list)")
    assert(r.getLong(9) == 2)
    assert(r.getSeq[Int](10) == Seq(3, 2, 1))
    assert(r.getString(11) == "1-2-3")
  }

  test("scalar range is end-exclusive; generate_series inclusive (probed)") {
    val r = one("SELECT range(1, 5) AS a, range(5) AS b, range(1, 10, 3) AS c, " +
      "generate_series(1, 3) AS d")
    assert(r.getSeq[Long](0) == Seq(1L, 2L, 3L, 4L))
    assert(r.getSeq[Long](1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(r.getSeq[Long](2) == Seq(1L, 4L, 7L))
    assert(r.getSeq[Long](3) == Seq(1L, 2L, 3L))
  }

  test("json extraction: quoted JSON text vs unquoted strings; arrows") {
    val r = one("""SELECT json_extract('{"a": {"b": 7}}', '$.a.b') AS a, """ +
      """json_extract('{"a": "x"}', '$.a') AS b, """ +
      """json_extract_string('{"a": "x"}', '$.a') AS c, """ +
      """'{"a": 5}' -> 'a' AS d, '{"a": "x"}' ->> 'a' AS e, """ +
      """json_valid('{"a":1}') AS f, json_valid('nope') AS g""")
    assert(r.getString(0) == "7")
    assert(r.getString(1) == "\"x\"", "json_extract keeps JSON quoting (probed)")
    assert(r.getString(2) == "x")
    assert(r.getString(3) == "5")
    assert(r.getString(4) == "x")
    assert(r.getBoolean(5) && !r.getBoolean(6))
  }

  test("strftime/strptime/week/yearweek/format/printf and friends") {
    val r = one("SELECT strftime(DATE '1994-05-03', '%Y/%m/%d') AS a, " +
      "CAST(strptime('03.05.1994', '%d.%m.%Y') AS DATE) AS b, " +
      "week(DATE '1994-01-01') AS c, yearweek(DATE '1994-01-01') AS d, " +
      "format('{} + {} = {}', 1, 2, 3) AS e, printf('%d-%s', 7, 'x') AS f, " +
      "strpos('hello', 'll') AS g, starts_with('hello', 'he') AS h, " +
      "sha256('abc') AS i, to_base(255, 16) AS j, " +
      "length(CAST(gen_random_uuid() AS VARCHAR)) AS k")
    assert(r.getString(0) == "1994/05/03")
    assert(r.getDate(1).toString == "1994-05-03")
    assert(r.getInt(2) == 52, "ISO week of 1994-01-01 is 52 (probed)")
    assert(r.getInt(3) == 199352, "yearweek carries the ISO year")
    assert(r.getString(4) == "1 + 2 = 3")
    assert(r.getString(5) == "7-x")
    assert(r.getLong(6) == 3L)
    assert(r.getBoolean(7))
    assert(r.getString(8) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(r.getString(9) == "FF")
    assert(r.getLong(10) == 36L)
  }

  test("frame EXCLUDE: NO OTHERS strips; active exclusions carry a named error") {
    val ok = SqlDialect.sql(spark,
      "SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND CURRENT ROW " +
        "EXCLUDE NO OTHERS) AS s FROM (VALUES (1),(2)) t(x) ORDER BY x")
      .collect().map(_.getLong(1))
    assert(ok.toSeq == Seq(1L, 3L))
    assert(fails("SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND " +
      "1 FOLLOWING EXCLUDE CURRENT ROW) FROM (VALUES (1)) t(x)")
      .contains("EXCLUDE CURRENT ROW"))
  }
}
