package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Engine
import graft.functions.DuckFunctions

/** Scalar-function surface (SURVEY.md §2.8): string, math, trig,
  * date/time, conditional/cast, nested list/struct expression queries.
  * Everything stays in Catalyst builtins except the [custom] UDFs from
  * [[graft.functions.DuckFunctions]] (strip_accents, jaccard,
  * jaro_winkler, hamming, unicode).
  */
object ScalarFns {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  /** list_aggregate(name) dynamic dispatch (reference:
    * duckdb-5.cpp:16351 nested list; the name selects the aggregate). */
  def listAggregate(arr: Column, name: String): Column = name match {
    case "sum" => aggregate(arr, lit(0.0), (a, x) => a + x)
    case "avg" => aggregate(arr, lit(0.0), (a, x) => a + x) / size(arr)
    case "min" => array_min(arr)
    case "max" => array_max(arr)
    case "count" => size(arr).cast("long")
    case other => throw new IllegalArgumentException(s"unsupported list aggregate: $other")
  }

  /** bar(x, min, max, width): unicode bar chart (duckdb-5.cpp:12022
    * generic list) — full blocks + one partial block char, right-padded
    * with spaces to `width` UTF-8 BYTES (reference quirk: the pad target
    * counts bytes, so multi-byte block chars usually exceed it; verified
    * char-exact vs the reference over a 400-value sweep). */
  def bar(x: Double, lo: Double, hi: Double, width: Double): String = {
    if (x.isNaN || hi <= lo) return ""
    // Mirror the oracle's fp operation order exactly: w = width*(x-lo)/(hi-lo)
    // clamped to [0,width], then eighth-blocks from int(w*8) — a different
    // order can pick a different partial-block char at boundary values.
    val w = math.max(0.0, math.min(width, width * (x - lo) / (hi - lo)))
    val wi = (w * 8).toInt
    val full = wi / 8
    val rem = wi % 8
    val partials = " ▏▎▍▌▋▊▉"
    val s = "█" * full + (if (rem > 0) partials(rem).toString else "")
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    s + " " * math.max(0, width.toInt - bytes)
  }

  private val hand: Map[String, Build] = Map(

    "fn_string_similarity" -> ((s, dir) => {
      // levenshtein native; jaccard/jaro_winkler/hamming/strip_accents are
      // graft UDFs (reference: duckdb-6.cpp:5993-6041)
      t(s, dir, "part").filter(col("p_partkey") <= 300).select(
        col("p_partkey"),
        levenshtein(col("p_brand"), lit("Brand#13")).cast("long").as("lev"),
        round(callUDF("jaccard", col("p_brand"), col("p_type")), 6).as("jac"),
        round(callUDF("jaro_winkler_similarity", col("p_name"), col("p_type")), 6).as("jw"),
        callUDF("hamming", expr("left(p_name, 5)"), expr("left(p_type, 5)")).as("ham"),
        callUDF("strip_accents", col("p_name")).as("plain"),
        callUDF("unicode", col("p_name")).cast("long").as("cp0"),
        md5(col("p_name")).as("md5h"),
        base64(encode(col("p_name"), "UTF-8")).as("b64"))
    }),

    "fn_string_pattern" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "([A-Z]+) ([A-Z]+)", 2).as("second_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        col("p_type").rlike("^STANDARD").as("re_std"),
        col("p_type").like("%BRASS%").as("like_brass"),
        col("p_type").ilike("%brass%").as("ilike_brass"),
        col("p_name").rlike(DuckFunctions.globToRegex("a*")).as("glob_a"),
        size(split(col("p_name"), " ", -1)).cast("long").as("n_tokens"))
    }),

    "fn_datetime" -> ((s, dir) => {
      val ts = col("o_orderdate")
      t(s, dir, "orders").filter(col("o_orderkey") <= 500).select(
        col("o_orderkey"),
        year(ts).cast("long").as("y"),
        month(ts).cast("long").as("mo"),
        dayofmonth(ts).cast("long").as("d"),
        quarter(ts).cast("long").as("q"),
        hour(ts).cast("long").as("h"),
        minute(ts).cast("long").as("mi"),
        second(ts).cast("long").as("sec"),
        (dayofweek(ts) - 1).cast("long").as("dow"),          // Sunday=0 (reference semantics)
        (weekday(ts) + 1).cast("long").as("isodow"),          // Monday=1
        dayofyear(ts).cast("long").as("doy"),
        weekofyear(ts).cast("long").as("wk"),
        ts.cast("timestamp").cast("double").as("epoch_s"),
        to_date(date_trunc("month", ts)).as("trunc_month"),
        date_trunc("hour", ts).as("trunc_hour"),
        last_day(ts.cast("date")).as("lastday"),
        datediff(lit("1998-01-01").cast("date"), ts.cast("date")).cast("long").as("ddiff"),
        date_format(ts, "EEEE").as("dname"),
        date_format(ts, "MMMM").as("mname"),
        DuckFunctions.strftime(ts, "%Y/%m/%d %H:%M").as("fmt"),
        (ts + expr("INTERVAL 3 MONTH")).as("plus3mo"),
        DuckFunctions.timeBucket(86400L * 7, ts).as("wbucket"))
    }),

    "fn_conditional" -> ((s, dir) => {
      // Kept by measurement: its SQL twin ran slower (sf0.1 Bench median
      // 0.382 s here vs 0.620 s as the SQL; cause not isolated)
      t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 150000, "mid")
          .otherwise("small").as("size_class"),
        nullif(col("o_orderstatus"), lit("O")).as("nn_status"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("coal"),
        greatest(col("o_totalprice"), lit(150000.0)).as("gr"),
        least(col("o_totalprice"), lit(150000.0)).as("le"),
        (col("o_orderstatus") === "F" || col("o_totalprice") < 1000).as("flag"),
        round(col("o_totalprice")).cast("long").as("price_int"),
        col("o_orderkey").cast("string").as("key_str"),
        // TRY_CAST over MIXED parse outcomes (10% unparseable): Spark's
        // TRY cast handles a string→int parse FAILURE by catching a
        // per-row exception (~7 µs each, measured — an all-failing
        // column cost 1.08 s alone at sf0.1, 20× the rest of this
        // projection combined). The mixed column keeps both semantic
        // paths covered at a representative failure rate; production
        // guidance for high-failure-rate columns is a cheap rlike guard
        // in front of the cast.
        expr("try_cast(CASE WHEN o_orderkey % 10 = 0 THEN o_orderstatus " +
          "ELSE CAST(o_orderkey % 100 AS STRING) END AS INT)").as("bad_cast"),
        col("o_totalprice").cast("int").cast("double").as("price_trunc"))
    }),

    "fn_nested_list" -> ((s, dir) => {
      // nested/HOF surface; list outputs are rendered with array_join —
      // the driver's canonical compare cannot sort list columns
      val base = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(sort_array(collect_set(col("l_linenumber").cast("long"))).as("arr"))
      base.select(
        col("l_returnflag"), array_join(col("arr"), ",").as("arr_s"),
        array_join(transform(col("arr"), x => x * 2), ",").as("arr2"),
        array_join(filter(col("arr"), x => x % 2 === 0), ",").as("evens"),
        array_join(slice(col("arr"), 2, 3), ",").as("sl"),
        array_contains(col("arr"), 3L).as("has3"),
        array_position(col("arr"), 4L).cast("long").as("pos4"),
        element_at(col("arr"), 2).as("el2"),
        array_join(flatten(array(col("arr"), array(lit(99L)))), ",").as("flat"),
        aggregate(col("arr"), lit(0L), (a, x) => a + x).as("tot"),
        size(col("arr")).cast("long").as("sz"),
        array_join(sequence(lit(1L), lit(5L)), ",").as("seq"))
    }),

    "fn_struct" -> ((s, dir) => {
      // struct_pack + struct_extract round-trip; final columns are the
      // extracted scalars (driver compare cannot sort struct columns)
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(min(col("n_name")).as("lo"), max(col("n_name")).as("hi"),
          count(lit(1)).as("n"))
        .select(col("r_name"),
          struct(col("lo"), col("hi"), col("n")).as("s"))
        .select(col("r_name"),
          col("s").getField("lo").as("s_lo"),
          col("s").getField("hi").as("s_hi"),
          col("s").getField("n").as("s_n"))
    }),

    "fn_datetime_make" -> ((s, dir) => {
      val ts = col("o_orderdate")
      t(s, dir, "orders").filter(col("o_orderkey") <= 300).select(
        col("o_orderkey"),
        make_date(year(ts), month(ts), dayofmonth(ts)).as("made_date"),
        make_timestamp(year(ts), month(ts), dayofmonth(ts),
          hour(ts), minute(ts), lit(0).cast("decimal(8,6)")).as("made_ts"),
        unix_millis(ts.cast("timestamp")).as("epoch_ms"),
        date_add(ts.cast("date"), 30).as("plus30d"),
        (ts - expr("INTERVAL 90 DAY")).as("minus90d"),
        // month-boundary count (reference date_diff('month') semantics,
        // NOT months_between's fractional months)
        ((lit(1998) - year(ts)) * 12 + (lit(1) - month(ts))).cast("long").as("months_to_98"))
    }),

    "fn_time" -> ((s, dir) => {
      // TIME as a queryable surface (reference dtime_t, duckdb.hpp:914)
      // under the documented LongType micros-since-midnight encoding:
      // make_time, +/- INTERVAL with the 24 h wrap, hour/minute/second
      // extracts, comparison, and ordering (min/max over the long
      // encoding must equal DuckDB's min/max over native TIME — the
      // order-isomorphism check). TIME_TZ: fn_time_tz.
      import graft.functions.TypeHelpers._
      val k = col("o_orderkey")
      val t0 = makeTime(pmod(k, lit(24)), pmod(k * 7, lit(60)), pmod(k * 13, lit(60)))
      val rows = t(s, dir, "orders").filter(k <= 500).select(k, t0.as("__t"))
      val perRow = rows.select(k,
        timeToString(col("__t")).as("t_str"),
        timeToString(timeAdd(col("__t"), lit(90L * 60L * 1000000L))).as("plus90m"),
        timeToString(timeAdd(col("__t"), lit(-2L * 3600L * 1000000L))).as("minus2h"),
        timePart("hour", col("__t")).as("t_hour"),
        timePart("minute", col("__t")).as("t_min"),
        timePart("second", col("__t")).as("t_sec"),
        (col("__t") < makeTime(lit(12), lit(0), lit(0))).as("before_noon"))
      val agg = rows.agg(
        timeToString(min(col("__t"))).as("min_t"),
        timeToString(max(col("__t"))).as("max_t"),
        countDistinct(col("__t")).as("n_times"))
      perRow.crossJoin(broadcast(agg))
    }),

    "fn_typeof" -> ((s, dir) => {
      // typeof (generic fn list, duckdb-5.cpp:12022) via schema
      // reflection, reported in the reference's type names
      def duckName(dt: org.apache.spark.sql.types.DataType): String = dt.sql match {
        case "STRING" => "VARCHAR"
        case "INT" => "INTEGER"
        case "TIMESTAMP_NTZ" => "TIMESTAMP"
        case other => other
      }
      val l = t(s, dir, "lineitem")
      val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      import s.implicits._
      cols.map(c => (c, duckName(l.schema(c).dataType))).toDF("col_name", "type_name")
    }),

    "fn_like_escape" -> ((s, dir) => {
      // LIKE … ESCAPE (reference like_escape, duckdb-6.cpp:5993)
      t(s, dir, "part").select(
        col("p_partkey"),
        expr("p_type LIKE '%!%%' ESCAPE '!'").as("has_pct"),
        expr("p_name LIKE '%a!_%' ESCAPE '!'").as("has_underscore"),
        expr("p_type LIKE 'STANDARD%'").as("std"))
    }),

    "fn_list_aggregate" -> ((s, dir) => {
      val base = t(s, dir, "lineitem").filter(col("l_orderkey") <= 2000)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity"))).as("arr"))
      base.select(
        col("l_orderkey"),
        round(listAggregate(col("arr"), "sum"), 2).as("l_sum"),
        round(listAggregate(col("arr"), "avg"), 6).as("l_avg"),
        listAggregate(col("arr"), "min").as("l_min"),
        listAggregate(col("arr"), "max").as("l_max"),
        listAggregate(col("arr"), "count").as("l_n"))
    }),

    "fn_union_type" -> ((s, dir) => {
      // UNION tagged sum type over the sparse-struct encoding
      // (SURVEY §1.2; union_value/extract/tag, duckdb-5.cpp:16371) —
      // tag names aligned with the reference's union_tag output
      import graft.functions.TypeHelpers._
      val members = Seq("num", "str")
      val n = t(s, dir, "nation")
      val u = when(col("n_nationkey") % 2 === 0,
        unionValue(0, members, col("n_nationkey").cast("int")))
        .otherwise(unionValue(1, members, col("n_name")))
      n.select(col("n_nationkey").cast("long").as("nk"), u.as("u"))
        .select(col("nk"),
          when(unionTag(col("u")) === 0, "num").otherwise("str").as("tag"),
          unionExtract(col("u"), "num").cast("long").as("num_val"),
          unionExtract(col("u"), "str").cast("string").as("str_val"))
    }),

    "fn_long_tail" -> ((s, dir) => {
      // remaining reference scalar surface: interval constructors
      // (to_days/to_hours/…, duckdb-5.cpp), bit_length,
      // regexp_full_match (anchored rlike), jaro_similarity, and the
      // grapheme-cluster family (BreakIterator ≙ utf8proc clusters);
      // é is built decomposed (e + U+0301) on both sides
      val ts = lit("1996-03-05 07:08:09").cast("timestamp")
      val cafe = concat(lit("cafe"), lit("\u0301"))
      s.range(1).select(
        (ts + expr("INTERVAL 5 DAYS")).as("d5"),
        (ts + expr("INTERVAL 30 HOURS")).as("h30"),
        (ts + expr("INTERVAL 90 MINUTES")).as("m90"),
        (ts + expr("INTERVAL 3661 SECONDS")).as("s3661"),
        (ts + expr("INTERVAL 14 MONTHS")).as("mo14"),
        (ts + expr("INTERVAL 2 YEARS")).as("y2"),
        bit_length(lit("abc")).cast("long").as("bl"),
        lit("banana").rlike("^(?:b.n.*)$").as("rfm1"),
        lit("banana").rlike("^(?:an)$").as("rfm2"),
        round(callUDF("jaro_similarity", lit("MARTHA"), lit("MARHTA")), 6).as("js"),
        callUDF("length_grapheme", cafe).cast("long").as("lg"),
        callUDF("left_grapheme", cafe, lit(4)).as("leftg"),
        callUDF("right_grapheme", cafe, lit(2)).as("rightg"),
        callUDF("substring_grapheme", concat(cafe, lit("xyz")), lit(4), lit(2)).as("subg"))
    }),

    "fn_string_predicates" -> ((s, dir) => {
      // prefix/suffix/contains/starts_with + mismatches (hamming) +
      // editdist3 (levenshtein alias) — reference duckdb-2.cpp string
      // predicate and distance registrations
      t(s, dir, "supplier").select(
        col("s_suppkey"),
        col("s_name").startsWith("Supplier").as("p"),
        col("s_name").endsWith("1").as("sx"),
        col("s_name").contains("#00").as("c"),
        col("s_name").startsWith("Supp").as("sw"),
        callUDF("mismatches", col("s_name"), lit("Supplier#000000000"))
          .cast("long").as("mm"),
        levenshtein(col("s_name"), lit("Supplier#000000000")).cast("long").as("ed"))
    }),

    "fn_bitstring" -> ((s, dir) => {
      // BIT-string surface (reference BIT type duckdb.hpp:932, bit fns
      // duckdb-5.cpp): bit_count/get_bit/set_bit/bit_position plus
      // bitwise AND/NOT/XOR — Spark side over 0/1 strings + integer
      // bitwise ops; oracle uses DuckDB's native BIT type
      val b = bin(col("id"))
      s.range(5, 200).select(
        col("id").as("i"),
        b.as("b"),
        (length(b) - length(translate(b, "1", ""))).cast("long").as("n_ones"),
        substring(b, 1, 1).cast("int").as("first_bit"),
        overlay(b, lit("1"), lit(1), lit(1)).as("set0"),
        instr(b, "101").cast("long").as("pos101"),
        // bit_position carries the reference's no-backtrack streaming
        // semantics (r11 — was the one named scalar-function hole)
        call_udf("bit_position", lit("101"), b).as("bp101"),
        call_udf("bit_position", lit("0110"), b).as("bp0110"),
        lpad(bin(col("id").bitwiseAND(col("id") + 1)), 8, "0").as("band"),
        lpad(bin(col("id").bitwiseXOR(lit(255))), 8, "0").as("bnot"),
        lpad(bin(col("id").bitwiseXOR(col("id") + 1)), 8, "0").as("bxor"))
    }),

    "fn_blob" -> ((s, dir) => {
      // BLOB surface (reference blob casts duckdb-5.cpp + base64/hex
      // functions): encode/decode round-trip, base64, hex, octet_length
      t(s, dir, "documents").select(
        col("doc_id"),
        // Spark base64 emits MIME 76-char line chunking; strip to the
        // unchunked canonical form
        regexp_replace(base64(col("text").cast("binary")), "[\\r\\n]", "").as("b64"),
        md5(col("text").cast("binary")).as("m5"),
        expr("octet_length(text)").cast("long").as("nbytes"),
        upper(hex(substring(col("text"), 1, 4).cast("binary"))).as("hx"),
        (unbase64(base64(col("text").cast("binary"))).cast("string") === col("text")).as("rt"))
    }),

    "fn_json_wide" -> ((s, dir) => {
      // JSON function long tail beyond fn_json_props: nested-path
      // extraction, array length, validity — over a constructed
      // integer-only document (float rendering differs cross-engine)
      val j = concat(
        lit("{\"a\": {\"b\": "), (col("event_id") % 97).cast("string"),
        lit("}, \"arr\": [1, 2, "), (col("event_id") % 10).cast("string"),
        lit("]}"))
      // ONE from_json per document: get_json_object re-parses the whole
      // string per path (and json_array_length(get_json_object(..))
      // parsed the array twice more) — 4 parses/row became 2
      // (measured 0.89 s -> see bench; same JSON exercise, the parse is
      // still real)
      Engine.spread(s, dir, "events",
          t(s, dir, "events").select(col("event_type"), col("event_id"), col("props")))
        .withColumn("j", j)
        .withColumn("js",
          from_json(col("j"), "a STRUCT<b: BIGINT>, arr ARRAY<BIGINT>",
            Map.empty[String, String]))
        .withColumn("pk",
          from_json(col("props"), "k STRING", Map.empty[String, String])("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("js")("a")("b")).as("sum_b"),
          sum(size(col("js")("arr")).cast("long")).as("sum_arr_len"),
          sum(when(col("pk").isNotNull, 1L).otherwise(0L)).as("n_valid"),
          sum(col("pk").cast("long")).as("sum_k"))
        .orderBy(col("event_type"))
    }),

    "fn_list_setops" -> ((s, dir) => {
      // list set algebra + regexp_extract_all (order-normalized: Spark
      // preserves first-argument order where DuckDB's list_intersect is
      // unordered — both sides sort before rendering)
      val a = array((col("event_id") % 5).cast("int"),
        (col("event_id") % 7).cast("int"), (col("event_id") % 11).cast("int"))
      val b = array((col("event_id") % 3).cast("int"),
        (col("event_id") % 7).cast("int"), lit(4).cast("int"))
      val txt = concat(lit("a"), col("event_id").cast("string"),
        lit(" b"), (col("event_id") % 7).cast("string"))
      t(s, dir, "events")
        .filter(col("event_id") < 2000)
        .select(col("event_id"), a.as("a"), b.as("b"), txt.as("txt"))
        .select(
          col("event_id"),
          array_join(array_sort(array_intersect(col("a"), col("b"))), ",").as("inter"),
          array_join(array_sort(array_except(col("a"), col("b"))), ",").as("exc"),
          array_join(array_sort(array_distinct(concat(col("a"), col("b")))), ",").as("uni"),
          arrays_overlap(col("a"), col("b")).as("has_any"),
          forall(col("b"), x => array_contains(col("a"), x)).as("has_all"),
          array_join(regexp_extract_all(col("txt"), lit("[0-9]+"), lit(0)), ",").as("nums"))
        .orderBy(col("event_id"))
    }),

    "fn_collate" -> ((s, dir) => {
      // NOCASE collation (reference collation registry
      // duckdb-5.cpp:5156) as expression rewrite + strip_accents
      t(s, dir, "nation").agg(
        countDistinct(lower(col("n_name"))).as("n_nocase"),
        min(struct(lower(col("n_name")).as("k"), col("n_name").as("v")))
          .getField("v").as("first_name"),
        first(callUDF("strip_accents", lit("Málagà"))).as("stripped"))
    }),

    "fn_time_tz" -> ((s, dir) => {
      // TIME_TZ (reference dtime_tz_t, duckdb.hpp:931) under the packed
      // (local-micros << 24 | MaxOffset − offset) LongType encoding:
      // literal parse, rendering, and the order isomorphism — local
      // time ascending then offset DESCENDING on ties, verified by
      // ranking against DuckDB's native TIMETZ sort. The string is
      // built from order keys, parsed by timeTzFromString (the packed
      // key is never compared as text), and re-rendered for the hash.
      import graft.functions.TypeHelpers._
      val k = col("o_orderkey")
      val offs = array(lit("+00"), lit("+01"), lit("+05:30"), lit("-08"),
        lit("+02"), lit("-01"), lit("+00:30"))
      val sCol = concat(
        lpad(pmod(k, lit(24)).cast("string"), 2, "0"), lit(":"),
        lpad(pmod(k * 7, lit(60)).cast("string"), 2, "0"), lit(":"),
        lpad(pmod(k * 13, lit(60)).cast("string"), 2, "0"),
        element_at(offs, (pmod(k * 11, lit(7)) + 1).cast("int")))
      val rows = t(s, dir, "orders").filter(k <= 500)
        .select(k, timeTzFromString(sCol).as("__tz"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("__tz"), k)
      val perRow = rows.select(k,
        timeTzToString(col("__tz")).as("tz_str"),
        row_number().over(w).cast("long").as("rk"),
        timePart("hour", timeTzTime(col("__tz"))).as("local_hour"),
        (timeTzOffset(col("__tz")) / 60L).cast("long").as("offset_min"))
      val agg = rows.agg(
        timeTzToString(min(col("__tz"))).as("min_tz"),
        timeTzToString(max(col("__tz"))).as("max_tz"),
        countDistinct(col("__tz")).as("n_tz"))
      perRow.crossJoin(broadcast(agg))
    }),

    "fn_enum" -> ((s, dir) => {
      // ENUM categorical end-to-end (reference duckdb.hpp:944; enum
      // registration duckdb-5.cpp:11590): dictionary-order code +
      // enum_first/enum_last boundaries vs DuckDB's native ENUM type
      import graft.functions.TypeHelpers._
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("n"))
        .select(col("prio"),
          enumCode(prios, col("prio")).as("code"),
          enumFirst(prios).as("first_val"),
          enumLast(prios).as("last_val"),
          col("n"))
    })
  )

  // zero divisors are NULL (never ANSI errors), / is always-double,
  // fdiv/fmod are floor forms, divide() is integer division
  private val arithDivSql =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
      |  l_quantity / 0 AS dz, l_partkey % 0 AS mz,
      |  round(l_partkey / 7, 8) AS ddiv,
      |  l_partkey % 7 AS m7, (-l_partkey) % 7 AS m7n,
      |  round(CAST(l_quantity AS DECIMAL(12,2)) / 3, 8) AS decdiv,
      |  fdiv(l_extendedprice, 7) AS fd, fmod(-l_partkey, 7) AS fm,
      |  fdiv(l_partkey, 0) AS fd0,
      |  CAST(divide(l_partkey, 4) AS BIGINT) AS idiv,
      |  mod(l_partkey, 0) AS mz2
      |FROM lineitem WHERE l_orderkey <= 200""".stripMargin

  // ** and ^ exponentiation, @ abs, range-checked shifts, factorial,
  // log()=log10, 1-arg numeric trunc
  private val arithPowSql =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
      |  round(l_linenumber ** 2, 4) AS p2,
      |  round(2 ^ l_linenumber, 4) AS c2,
      |  round(l_quantity ** 0.5, 8) AS sq,
      |  @(25 - l_quantity) AS absq,
      |  (l_suppkey % 100) << 3 AS shl,
      |  l_suppkey >> 70 AS shr0,
      |  CAST(factorial(l_linenumber) AS BIGINT) AS fact,
      |  round(log(l_extendedprice), 8) AS lg10,
      |  trunc(l_extendedprice / 100) AS tr
      |FROM lineitem WHERE l_orderkey <= 200""".stripMargin

  // duck cast rounding: double half-even, decimal half-away, strings
  // exact-first; VARCHAR double rendering compared as exact strings
  private val arithCastSql =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
      |  CAST(l_extendedprice / 7 AS INTEGER) AS ci,
      |  CAST(CAST(l_extendedprice AS DECIMAL(14,3)) AS BIGINT) AS cd,
      |  CAST(concat(CAST(l_partkey AS VARCHAR), '.5') AS INTEGER) AS cs,
      |  CAST(l_extendedprice AS VARCHAR) AS sv,
      |  CAST(l_discount AS VARCHAR) AS sv2,
      |  TRY_CAST(CAST(l_extendedprice AS VARCHAR) AS INTEGER) AS tc
      |FROM lineitem WHERE l_orderkey <= 300""".stripMargin

  // default NULLS LAST ordering under a LIMIT and inside a window
  private val arithOrderSql =
    """SELECT x, rn FROM (
      |  SELECT CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE l_quantity END AS x,
      |    row_number() OVER (
      |      ORDER BY CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE l_quantity END,
      |               l_orderkey, l_linenumber) AS rn
      |  FROM lineitem WHERE l_orderkey <= 100
      |) ORDER BY rn LIMIT 50""".stripMargin

  val oracle: Map[String, String] = Map(
    "fn_string_basic" ->
      """SELECT p_partkey, upper(p_name) AS up_name, lower(p_brand) AS lo_brand,
        |  substring(p_name, 3, 8) AS sub_name, length(p_name) AS len_name,
        |  concat_ws('|', p_brand, p_type) AS cat,
        |  lpad(p_brand, 12, '*') AS lpadded, rpad(p_brand, 12, '#') AS rpadded,
        |  trim('  ' || p_name || '  ') AS trimmed,
        |  replace(p_type, 'BRUSHED', 'X') AS repl,
        |  translate(p_brand, '#123', '_abc') AS trans,
        |  reverse(p_name) AS rev, left(p_name, 5) AS l5, right(p_name, 4) AS r4,
        |  repeat(p_brand, 2) AS rep, instr(p_name, 'a') AS pos_a,
        |  CAST(ascii(p_name) AS BIGINT) AS first_code,
        |  starts_with(p_name, 'a') AS sw_a, contains(p_type, 'STEEL') AS has_steel
        |FROM part""".stripMargin,

    "fn_string_similarity" ->
      """SELECT p_partkey,
        |  levenshtein(p_brand, 'Brand#13') AS lev,
        |  round(jaccard(p_brand, p_type), 6) AS jac,
        |  round(jaro_winkler_similarity(p_name, p_type), 6) AS jw,
        |  hamming(left(p_name, 5), left(p_type, 5)) AS ham,
        |  strip_accents(p_name) AS plain,
        |  CAST(unicode(p_name) AS BIGINT) AS cp0,
        |  md5(p_name) AS md5h,
        |  base64(encode(p_name)) AS b64
        |FROM part WHERE p_partkey <= 300""".stripMargin,

    "fn_string_pattern" ->
      """SELECT p_partkey,
        |  regexp_extract(p_type, '([A-Z]+) ([A-Z]+)', 2) AS second_word,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  regexp_matches(p_type, '^STANDARD') AS re_std,
        |  p_type LIKE '%BRASS%' AS like_brass,
        |  p_type ILIKE '%brass%' AS ilike_brass,
        |  p_name GLOB 'a*' AS glob_a,
        |  len(string_split(p_name, ' ')) AS n_tokens
        |FROM part""".stripMargin,

    "fn_math" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  abs(l_quantity - 25) AS a,
        |  ceil(l_extendedprice / 1000) AS c, floor(l_extendedprice / 1000) AS f,
        |  round(l_extendedprice / 7, 3) AS r3,
        |  round(sqrt(l_quantity), 8) AS sq, round(exp(l_discount), 8) AS ex,
        |  round(ln(l_extendedprice), 8) AS lnp, round(log2(l_quantity), 8) AS lg2,
        |  round(log10(l_extendedprice), 8) AS lg10,
        |  round(pow(l_quantity, 2), 4) AS p2, round(cbrt(l_quantity), 6) AS cb,
        |  CAST(sign(l_quantity - 25) AS DOUBLE) AS sg,
        |  even(l_quantity / 3) AS ev,
        |  CAST(factorial(l_linenumber) AS BIGINT) AS fact,
        |  l_suppkey << 2 AS shl, l_suppkey >> 1 AS shr,
        |  l_suppkey & 255 AS band, l_suppkey | 16 AS bor,
        |  xor(l_suppkey, 85) AS bxor, ~l_suppkey AS bnot
        |FROM lineitem WHERE l_orderkey <= 200""".stripMargin,

    "fn_trig" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  round(sin(l_quantity), 8) AS sn, round(cos(l_quantity), 8) AS cs,
        |  round(tan(l_discount), 8) AS tn, round(asin(l_discount), 8) AS asn,
        |  round(acos(l_discount), 8) AS acs, round(atan(l_quantity), 8) AS atn,
        |  round(atan2(l_quantity, l_extendedprice), 8) AS at2,
        |  round(degrees(l_discount), 8) AS dg, round(radians(l_quantity), 8) AS rd,
        |  round(cot(l_quantity), 8) AS cot
        |FROM lineitem WHERE l_orderkey <= 100""".stripMargin,

    "fn_datetime" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y, month(o_orderdate) AS mo,
        |  day(o_orderdate) AS d, quarter(o_orderdate) AS q,
        |  hour(o_orderdate) AS h, minute(o_orderdate) AS mi,
        |  second(o_orderdate) AS sec,
        |  dayofweek(o_orderdate) AS dow, isodow(o_orderdate) AS isodow,
        |  dayofyear(o_orderdate) AS doy, week(o_orderdate) AS wk,
        |  epoch(o_orderdate) AS epoch_s,
        |  date_trunc('month', o_orderdate) AS trunc_month,
        |  date_trunc('hour', o_orderdate) AS trunc_hour,
        |  last_day(o_orderdate) AS lastday,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS ddiff,
        |  dayname(o_orderdate) AS dname, monthname(o_orderdate) AS mname,
        |  strftime(o_orderdate, '%Y/%m/%d %H:%M') AS fmt,
        |  o_orderdate + INTERVAL 3 MONTH AS plus3mo,
        |  CAST(to_timestamp(floor(epoch(o_orderdate) / 604800) * 604800) AS TIMESTAMP) AS wbucket
        |FROM orders WHERE o_orderkey <= 500""".stripMargin,

    "fn_conditional" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'big'
        |       WHEN o_totalprice > 150000 THEN 'mid' ELSE 'small' END AS size_class,
        |  nullif(o_orderstatus, 'O') AS nn_status,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS coal,
        |  greatest(o_totalprice, 150000.0) AS gr,
        |  least(o_totalprice, 150000.0) AS le,
        |  (o_orderstatus = 'F' OR o_totalprice < 1000) AS flag,
        |  CAST(round(o_totalprice) AS BIGINT) AS price_int,
        |  CAST(o_orderkey AS VARCHAR) AS key_str,
        |  TRY_CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_orderstatus
        |           ELSE CAST(o_orderkey % 100 AS VARCHAR) END AS INT) AS bad_cast,
        |  CAST(CAST(trunc(o_totalprice) AS INT) AS DOUBLE) AS price_trunc
        |FROM orders""".stripMargin,

    "fn_nested_list" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    list_sort(list(DISTINCT CAST(l_linenumber AS BIGINT))) AS arr
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, array_to_string(arr, ',') AS arr_s,
        |  array_to_string(list_transform(arr, x -> x * 2), ',') AS arr2,
        |  array_to_string(list_filter(arr, x -> x % 2 = 0), ',') AS evens,
        |  array_to_string(list_slice(arr, 2, 4), ',') AS sl,
        |  list_contains(arr, 3) AS has3,
        |  CAST(list_position(arr, 4) AS BIGINT) AS pos4,
        |  arr[2] AS el2,
        |  array_to_string(flatten([arr, [CAST(99 AS BIGINT)]]), ',') AS flat,
        |  CAST(list_aggregate(arr, 'sum') AS BIGINT) AS tot,
        |  len(arr) AS sz,
        |  array_to_string(generate_series(CAST(1 AS BIGINT), CAST(5 AS BIGINT)), ',') AS seq
        |FROM b""".stripMargin,

    "fn_struct" ->
      """WITH b AS (
        |  SELECT r_name,
        |    struct_pack(lo := min(n_name), hi := max(n_name), n := count(*)) AS s
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name)
        |SELECT r_name,
        |  struct_extract(s, 'lo') AS s_lo,
        |  struct_extract(s, 'hi') AS s_hi,
        |  CAST(struct_extract(s, 'n') AS BIGINT) AS s_n
        |FROM b""".stripMargin
  ,

    "fn_datetime_make" ->
      """SELECT o_orderkey,
        |  make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT),
        |    CAST(day(o_orderdate) AS INT)) AS made_date,
        |  make_timestamp(CAST(year(o_orderdate) AS BIGINT), month(o_orderdate),
        |    day(o_orderdate), hour(o_orderdate), minute(o_orderdate), 0.0) AS made_ts,
        |  epoch_ms(o_orderdate) AS epoch_ms,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30d,
        |  o_orderdate - INTERVAL 90 DAY AS minus90d,
        |  CAST(date_diff('month', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT)
        |    AS months_to_98
        |FROM orders WHERE o_orderkey <= 300""".stripMargin,

    "fn_time" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    make_time(CAST(o_orderkey % 24 AS INT), CAST((o_orderkey * 7) % 60 AS INT),
        |      CAST((o_orderkey * 13) % 60 AS DOUBLE)) AS t
        |  FROM orders WHERE o_orderkey <= 500)
        |SELECT o_orderkey,
        |  CAST(t AS VARCHAR) AS t_str,
        |  CAST(t + INTERVAL 90 MINUTE AS VARCHAR) AS plus90m,
        |  CAST(t - INTERVAL 2 HOUR AS VARCHAR) AS minus2h,
        |  CAST(extract(hour FROM t) AS BIGINT) AS t_hour,
        |  CAST(extract(minute FROM t) AS BIGINT) AS t_min,
        |  CAST(extract(second FROM t) AS BIGINT) AS t_sec,
        |  t < TIME '12:00:00' AS before_noon,
        |  min_t, max_t, n_times
        |FROM b CROSS JOIN (
        |  SELECT CAST(min(t) AS VARCHAR) AS min_t, CAST(max(t) AS VARCHAR) AS max_t,
        |    CAST(count(DISTINCT t) AS BIGINT) AS n_times
        |  FROM b)""".stripMargin,

    "fn_time_tz" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    printf('%02d:%02d:%02d', CAST(o_orderkey % 24 AS INT),
        |      CAST((o_orderkey * 7) % 60 AS INT), CAST((o_orderkey * 13) % 60 AS INT))
        |    || list_extract(['+00','+01','+05:30','-08','+02','-01','+00:30'],
        |         CAST((o_orderkey * 11) % 7 AS INT) + 1) AS s
        |  FROM orders WHERE o_orderkey <= 500),
        |c AS (SELECT o_orderkey, CAST(s AS TIMETZ) AS tz FROM b)
        |SELECT o_orderkey,
        |  CAST(tz AS VARCHAR) AS tz_str,
        |  CAST(row_number() OVER (ORDER BY tz, o_orderkey) AS BIGINT) AS rk,
        |  CAST(extract(hour FROM tz) AS BIGINT) AS local_hour,
        |  CAST(list_extract([0,60,330,-480,120,-60,30],
        |    CAST((o_orderkey * 11) % 7 AS INT) + 1) AS BIGINT) AS offset_min,
        |  min_tz, max_tz, n_tz
        |FROM c CROSS JOIN (
        |  SELECT CAST(min(tz) AS VARCHAR) AS min_tz, CAST(max(tz) AS VARCHAR) AS max_tz,
        |    CAST(count(DISTINCT tz) AS BIGINT) AS n_tz FROM c)""".stripMargin,

    "fn_json_props" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "fn_math_special" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  nextafter(l_discount, 1.0) AS nxt,
        |  signbit(l_quantity - 25.0) AS sb,
        |  round(gamma(CAST(l_linenumber AS DOUBLE)), 6) AS gam,
        |  round(lgamma(l_quantity), 8) AS lgam
        |FROM lineitem WHERE l_orderkey <= 100""".stripMargin,

    "fn_typeof" ->
      """SELECT col_name, type_name FROM (VALUES
        |  ('l_orderkey', typeof((SELECT l_orderkey FROM lineitem LIMIT 1))),
        |  ('l_linenumber', typeof((SELECT l_linenumber FROM lineitem LIMIT 1))),
        |  ('l_quantity', typeof((SELECT l_quantity FROM lineitem LIMIT 1))),
        |  ('l_returnflag', typeof((SELECT l_returnflag FROM lineitem LIMIT 1))),
        |  ('l_shipdate', typeof((SELECT l_shipdate FROM lineitem LIMIT 1)))
        |) AS v(col_name, type_name)""".stripMargin,

    "fn_string_split2" ->
      """SELECT p_partkey,
        |  array_to_string(string_split_regex(p_type, '[ ]+'), '|') AS words,
        |  len(string_split_regex(p_name, '[aeiou]+')) AS n_vowel_splits,
        |  trim(p_type, 'SD') AS trimmed_chars,
        |  ltrim(p_type, 'ST') AS ltrimmed,
        |  string_split(p_type, ' ')[1] AS first_word
        |FROM part""".stripMargin,

    "fn_printf_chr" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nk,
        |  printf('%d|%s', n_nationkey, n_name) AS tagged,
        |  chr(65 + n_nationkey % 26) AS letter,
        |  CAST(position('a' IN n_name) AS BIGINT) AS pos_a,
        |  reverse(n_name) || '!' AS rev_bang
        |FROM nation""".stripMargin,

    "fn_like_escape" ->
      """SELECT p_partkey,
        |  like_escape(p_type, '%!%%', '!') AS has_pct,
        |  like_escape(p_name, '%a!_%', '!') AS has_underscore,
        |  p_type LIKE 'STANDARD%' AS std
        |FROM part""".stripMargin,

    "fn_list_aggregate" ->
      """WITH b AS (SELECT l_orderkey, list_sort(list(l_quantity)) AS arr
        |  FROM lineitem WHERE l_orderkey <= 2000 GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  round(CAST(list_aggregate(arr, 'sum') AS DOUBLE), 2) AS l_sum,
        |  round(CAST(list_aggregate(arr, 'avg') AS DOUBLE), 6) AS l_avg,
        |  list_aggregate(arr, 'min') AS l_min,
        |  list_aggregate(arr, 'max') AS l_max,
        |  CAST(list_aggregate(arr, 'count') AS BIGINT) AS l_n
        |FROM b""".stripMargin,

    "fn_map_bar" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nk,
        |  element_at(map([n_name, 'x'], [CAST(n_regionkey AS BIGINT), 99]), n_name)[1] AS self_val,
        |  CAST(cardinality(map([n_name, 'x'], [CAST(n_regionkey AS BIGINT), 99])) AS BIGINT) AS card,
        |  array_to_string(map_keys(map([n_name, 'x'], [CAST(n_regionkey AS BIGINT), 99])), ',') AS ks,
        |  CAST(element_at(map_from_entries([{'k': n_name, 'v': n_regionkey}]), n_name)[1] AS BIGINT) AS mfe_val,
        |  bar(n_nationkey, 0, 24, 10) AS b
        |FROM nation""".stripMargin,

    "fn_union_type" ->
      """WITH u AS (
        |  SELECT n_nationkey,
        |    (CASE WHEN n_nationkey % 2 = 0
        |      THEN union_value(num := CAST(n_nationkey AS INTEGER))::UNION(num INTEGER, str VARCHAR)
        |      ELSE union_value(str := n_name)::UNION(num INTEGER, str VARCHAR) END) AS uv
        |  FROM nation)
        |SELECT CAST(n_nationkey AS BIGINT) AS nk,
        |  CAST(union_tag(uv) AS VARCHAR) AS tag,
        |  CAST(union_extract(uv, 'num') AS BIGINT) AS num_val,
        |  union_extract(uv, 'str') AS str_val
        |FROM u""".stripMargin,

    "fn_collate" ->
      """SELECT count(DISTINCT lower(n_name)) AS n_nocase,
        |  min(n_name COLLATE NOCASE) AS first_name,
        |  strip_accents('Málagà') AS stripped
        |FROM nation""".stripMargin,

    "fn_list_ops" ->
      """WITH g AS (SELECT n_regionkey,
        |             list(n_name ORDER BY n_nationkey) AS l
        |           FROM nation GROUP BY n_regionkey)
        |SELECT n_regionkey,
        |  array_to_string(list_reverse_sort(l), '|') AS rs,
        |  CAST(list_unique(list_concat(l, l)) AS BIGINT) AS uniq,
        |  array_to_string(flatten([l, l]), '|') AS fl,
        |  CAST(list_position(l, 'NATION_5') AS BIGINT) AS pos5
        |FROM g""".stripMargin,

    "fn_long_tail" ->
      """SELECT
        |  TIMESTAMP '1996-03-05 07:08:09' + to_days(5) AS d5,
        |  TIMESTAMP '1996-03-05 07:08:09' + to_hours(30) AS h30,
        |  TIMESTAMP '1996-03-05 07:08:09' + to_minutes(90) AS m90,
        |  TIMESTAMP '1996-03-05 07:08:09' + to_seconds(3661) AS s3661,
        |  TIMESTAMP '1996-03-05 07:08:09' + to_months(14) AS mo14,
        |  TIMESTAMP '1996-03-05 07:08:09' + to_years(2) AS y2,
        |  CAST(bit_length('abc') AS BIGINT) AS bl,
        |  regexp_full_match('banana', 'b.n.*') AS rfm1,
        |  regexp_full_match('banana', 'an') AS rfm2,
        |  round(jaro_similarity('MARTHA', 'MARHTA'), 6) AS js,
        |  CAST(length_grapheme('cafe' || chr(769)) AS BIGINT) AS lg,
        |  left_grapheme('cafe' || chr(769), 4) AS leftg,
        |  right_grapheme('cafe' || chr(769), 2) AS rightg,
        |  substring_grapheme('cafe' || chr(769) || 'xyz', 4, 2) AS subg""".stripMargin,

    "fn_string_predicates" ->
      """SELECT s_suppkey,
        |  prefix(s_name, 'Supplier') AS p,
        |  suffix(s_name, '1') AS sx,
        |  contains(s_name, '#00') AS c,
        |  starts_with(s_name, 'Supp') AS sw,
        |  CAST(mismatches(s_name, 'Supplier#000000000') AS BIGINT) AS mm,
        |  CAST(editdist3(s_name, 'Supplier#000000000') AS BIGINT) AS ed
        |FROM supplier""".stripMargin,

    "fn_bitstring" ->
      """SELECT i, bin(i) AS b,
        |  CAST(bit_count(CAST(bin(i) AS BIT)) AS BIGINT) AS n_ones,
        |  CAST(get_bit(CAST(bin(i) AS BIT), 0) AS INTEGER) AS first_bit,
        |  CAST(set_bit(CAST(bin(i) AS BIT), 0, 1) AS VARCHAR) AS set0,
        |  CAST(strpos(bin(i), '101') AS BIGINT) AS pos101,
        |  CAST(bit_position('101'::BIT, CAST(bin(i) AS BIT)) AS BIGINT) AS bp101,
        |  CAST(bit_position('0110'::BIT, CAST(bin(i) AS BIT)) AS BIGINT) AS bp0110,
        |  CAST(CAST(lpad(bin(i), 8, '0') AS BIT)
        |    & CAST(lpad(bin(i + 1), 8, '0') AS BIT) AS VARCHAR) AS band,
        |  CAST(~CAST(lpad(bin(i), 8, '0') AS BIT) AS VARCHAR) AS bnot,
        |  CAST(xor(CAST(lpad(bin(i), 8, '0') AS BIT),
        |           CAST(lpad(bin(i + 1), 8, '0') AS BIT)) AS VARCHAR) AS bxor
        |FROM range(5, 200) t(i)""".stripMargin,

    "fn_blob" ->
      """SELECT doc_id, base64(encode(text)) AS b64, md5(text) AS m5,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS nbytes,
        |  upper(hex(encode(substring(text, 1, 4)))) AS hx,
        |  decode(from_base64(base64(encode(text)))) = text AS rt
        |FROM documents""".stripMargin,

    "fn_json_wide" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(j, '$.a.b') AS BIGINT)) AS BIGINT) AS sum_b,
        |  CAST(sum(json_array_length(j, '$.arr')) AS BIGINT) AS sum_arr_len,
        |  CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM (SELECT event_type, props,
        |        concat('{"a": {"b": ', CAST(event_id % 97 AS VARCHAR),
        |               '}, "arr": [1, 2, ', CAST(event_id % 10 AS VARCHAR), ']}') AS j
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "fn_list_setops" ->
      """SELECT event_id,
        |  coalesce(array_to_string(list_sort(list_intersect(a, b)), ','), '') AS inter,
        |  coalesce(array_to_string(list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS exc,
        |  coalesce(array_to_string(list_sort(list_distinct(list_concat(a, b))), ','), '') AS uni,
        |  list_has_any(a, b) AS has_any,
        |  list_has_all(a, b) AS has_all,
        |  array_to_string(regexp_extract_all(txt, '[0-9]+'), ',') AS nums
        |FROM (SELECT event_id,
        |        [CAST(event_id % 5 AS INTEGER), CAST(event_id % 7 AS INTEGER),
        |         CAST(event_id % 11 AS INTEGER)] AS a,
        |        [CAST(event_id % 3 AS INTEGER), CAST(event_id % 7 AS INTEGER),
        |         CAST(4 AS INTEGER)] AS b,
        |        concat('a', CAST(event_id AS VARCHAR), ' b',
        |               CAST(event_id % 7 AS VARCHAR)) AS txt
        |      FROM events WHERE event_id < 2000)
        |ORDER BY event_id""".stripMargin,

    "fn_datetime_parts" ->
      """SELECT o_orderkey,
        |  CAST(date_part('quarter', d) AS BIGINT) AS qtr,
        |  CAST(date_part('week', d) AS BIGINT) AS wk,
        |  CAST(date_part('doy', d) AS BIGINT) AS doy,
        |  CAST(century(d) AS BIGINT) AS century,
        |  CAST(decade(d) AS BIGINT) AS decade,
        |  last_day(d) AS month_end,
        |  CAST(date_trunc('quarter', d) AS DATE) AS qtr_start
        |FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |      FROM orders WHERE o_orderkey <= 500)""".stripMargin,

    "fn_enum" ->
      """DROP TYPE IF EXISTS prio_t;
        |CREATE TYPE prio_t AS ENUM ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW');
        |SELECT CAST(p AS VARCHAR) AS prio,
        |  CAST(list_position(enum_range(NULL::prio_t), CAST(p AS VARCHAR)) - 1 AS INTEGER) AS code,
        |  enum_first(NULL::prio_t) AS first_val,
        |  enum_last(NULL::prio_t) AS last_val,
        |  n
        |FROM (SELECT CAST(o_orderpriority AS prio_t) AS p, count(*) AS n
        |      FROM orders GROUP BY 1)""".stripMargin,

    // r15 arithmetic-edge family: IDENTICAL text on both engines
    "arith_edges_div" -> arithDivSql,
    "arith_edges_pow" -> arithPowSql,
    "arith_edges_cast" -> arithCastSql,
    "arith_edges_order" -> arithOrderSql
  )

  val queries: Map[String, Build] = registry(hand, oracle)
}
