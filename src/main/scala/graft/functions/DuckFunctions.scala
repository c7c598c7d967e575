package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Add => CAdd, BitwiseXor => CBitwiseXor, Expression => CExpr, Logarithm => CLogarithm, Multiply => CMultiply, Subtract => CSubtract, TruncDate => CTruncDate}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average => CAverage}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim

/** Scalar-function parity layer.
  *
  * The reference registers its scalar functions in one master list
  * (/root/reference/duckdb-5.cpp:5130-5159). ~80% map 1:1 to Spark
  * builtins (see SURVEY.md §2.8) and need nothing here. This object holds
  * the remainder as Scala UDFs, native expressions and `Column` helpers,
  * in one [[table]] that [[graft.plans.GraftExtensions]] installs. UDFs
  * are deliberately kept OFF hot aggregation paths — bench queries use
  * Catalyst builtins; these cover the correctness long tail.
  */
object DuckFunctions {

  // ---- string similarity (reference: duckdb-6.cpp:5993-6041 registration) ----

  /** strip_accents: NFD-decompose then drop combining marks
    * (reference impl uses utf8proc, duckdb-utf8proc.cpp). */
  def stripAccents(s: String): String =
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}", "")

  /** unicode(s): codepoint of the first character, -1 for empty. */
  def unicodeCodepoint(s: String): Integer =
    if (s == null) null
    else if (s.isEmpty) Int.box(-1)
    else Int.box(s.codePointAt(0))

  /** mismatches/hamming: positions that differ (strings must be same length). */
  def hamming(a: String, b: String): java.lang.Long =
    if (a == null || b == null) null
    else {
      require(a.length == b.length, "hamming requires equal-length strings")
      Long.box(a.zip(b).count { case (x, y) => x != y }.toLong)
    }

  /** jaccard(s1,s2): Jaccard similarity of the character sets
    * (reference semantics: set-of-chars, not bigrams). */
  def jaccardChars(a: String, b: String): java.lang.Double =
    if (a == null || b == null) null
    else {
      val sa = a.toSet; val sb = b.toSet
      if (sa.isEmpty && sb.isEmpty) Double.box(1.0)
      else Double.box(sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble)
    }

  /** Jaro similarity (helper for jaro_winkler). */
  private def jaro(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    // clamp: for 1-char strings max/2-1 would be -1 and equal strings
    // would score 0 instead of 1
    val window = math.max(0, math.max(a.length, b.length) / 2 - 1)
    val bMatched = new Array[Boolean](b.length)
    val aMatched = new Array[Boolean](a.length)
    var matches = 0
    var i = 0
    while (i < a.length) {
      val lo = math.max(0, i - window)
      val hi = math.min(b.length - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!bMatched(j) && a(i) == b(j)) {
          aMatched(i) = true; bMatched(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions: compare matched chars in order
    var k = 0; var transpositions = 0
    i = 0
    while (i < a.length) {
      if (aMatched(i)) {
        while (!bMatched(k)) k += 1
        if (a(i) != b(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / a.length + m / b.length + (m - transpositions / 2.0) / m) / 3.0
  }

  /** jaro_winkler_similarity with standard p=0.1, prefix cap 4. */
  def jaroWinkler(a: String, b: String): java.lang.Double =
    if (a == null || b == null) null
    else {
      val j = jaro(a, b)
      val prefix = a.zip(b).take(4).takeWhile { case (x, y) => x == y }.size
      Double.box(j + prefix * 0.1 * (1.0 - j))
    }

  /** Plain jaro_similarity (reference duckdb-2.cpp jaro registration). */
  def jaroSimilarity(a: String, b: String): java.lang.Double =
    if (a == null || b == null) null else Double.box(jaro(a, b))

  /** mismatches/hamming (reference duckdb-2.cpp): positional diff count
    * of equal-length strings. */
  def mismatches(a: String, b: String): java.lang.Long = {
    if (a == null || b == null) return null
    require(a.length == b.length, "mismatches requires equal-length strings")
    var n = 0L; var i = 0
    while (i < a.length) { if (a.charAt(i) != b.charAt(i)) n += 1; i += 1 }
    Long.box(n)
  }

  // ---- grapheme-cluster string fns (reference *_grapheme family,
  // utf8proc-backed; here java.text.BreakIterator character instance) ----

  private def graphemeStarts(s: String): Array[Int] = {
    val it = java.text.BreakIterator.getCharacterInstance(java.util.Locale.ROOT)
    it.setText(s)
    val starts = scala.collection.mutable.ArrayBuffer[Int]()
    var b = it.first()
    while (b != java.text.BreakIterator.DONE) { starts += b; b = it.next() }
    starts.toArray // includes the end sentinel s.length
  }

  def lengthGrapheme(s: String): java.lang.Long =
    if (s == null) null else Long.box(graphemeStarts(s).length - 1L)

  def leftGrapheme(s: String, n: Int): String =
    if (s == null) null
    else {
      val g = graphemeStarts(s)
      val k = math.max(0, math.min(n, g.length - 1))
      s.substring(0, g(k))
    }

  def rightGrapheme(s: String, n: Int): String =
    if (s == null) null
    else {
      val g = graphemeStarts(s)
      val k = math.max(0, math.min(n, g.length - 1))
      s.substring(g(g.length - 1 - k))
    }

  /** substring_grapheme(s, start, len) — 1-based grapheme offsets. */
  def substringGrapheme(s: String, start: Int, len: Int): String =
    if (s == null) null
    else {
      val g = graphemeStarts(s)
      val nG = g.length - 1
      val from = math.max(0, math.min(start - 1, nG))
      val until = math.max(from, math.min(from + len, nG))
      s.substring(g(from), g(until))
    }

  // ---- math long tail (duckdb-5.cpp:16306-16344) ----

  /** nextafter(a, b): next representable double from a toward b. */
  def nextafter(a: Double, b: Double): Double = Math.nextAfter(a, b)

  /** signbit(x): true when the sign bit is set (incl. -0.0, -NaN). */
  def signbit(x: Double): Boolean = (java.lang.Double.doubleToRawLongBits(x) >>> 63) == 1L

  /** lgamma via the Lanczos approximation (g=7, n=9) — matches libm to
    * ~1e-13 relative, enough for 8-decimal parity with the reference.
    * Zero RAISES like the reference (probed r15: "cannot take log
    * gamma of zero"); NaN passes through. */
  def lgamma(x0: Double): Double = {
    if (x0 == 0.0) throw new ArithmeticException(
      "Out of Range Error: cannot take log gamma of zero")
    if (x0.isNaN || x0.isInfinite) return x0
    val g = 7.0
    val c = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x0 < 0.5) {
      // reflection: Γ(x)Γ(1-x) = π / sin(πx)
      math.log(math.Pi / math.abs(math.sin(math.Pi * x0))) - lgamma(1.0 - x0)
    } else {
      val x = x0 - 1.0
      var a = c(0)
      val t = x + g + 0.5
      var i = 1
      while (i < 9) { a += c(i) / (x + i); i += 1 }
      0.5 * math.log(2 * math.Pi) + (x + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** gamma(x) = exp(lgamma(x)) with sign handling via reflection.
    * Probed r15: zero RAISES ("cannot take gamma of zero"), negative
    * INTEGERS are NaN (poles — the float sin(πx) is only ~1e-16 there,
    * so the pole must be detected exactly, not via s == 0). */
  def gammaFn(x: Double): Double =
    if (x == 0.0) throw new ArithmeticException(
      "Out of Range Error: cannot take gamma of zero")
    else if (x > 0) math.exp(lgamma(x))
    else if (x == math.rint(x)) Double.NaN
    else {
      val s = math.sin(math.Pi * x)
      if (s == 0) Double.NaN else math.Pi / (s * math.exp(lgamma(1.0 - x)))
    }

  // ---- bit-string helpers (reference BIT type fns, duckdb-6.cpp:5993+;
  // bit strings modeled as '0'/'1' varchar, SURVEY §1.2 BIT → helpers) ----

  /** get_bit(bits, i): 0-based from the left. */
  def getBit(bits: String, i: Int): Integer =
    if (bits == null || i < 0 || i >= bits.length) null
    else Int.box(bits.charAt(i) - '0')

  /** set_bit(bits, i, v). */
  def setBit(bits: String, i: Int, v: Int): String =
    if (bits == null || i < 0 || i >= bits.length) bits
    else bits.updated(i, if (v == 0) '0' else '1')

  /** bit_position(sub, bits): the reference's exact semantics
    * (Bit::BitPosition, /root/reference/duckdb-2.cpp:3320) — a
    * NO-BACKTRACK streaming matcher: on a partial-match failure the
    * consumed bits are discarded rather than re-tried at the next start
    * position, so e.g. bit_position('0111', '1100111011110') = 8, not
    * the plain-substring 4. Differentially validated against DuckDB 1.0
    * on 3000 random (needle, haystack) pairs (r11, zero diffs). */
  def bitPosition(sub: String, bits: String): java.lang.Long =
    if (sub == null || bits == null) null
    else if (sub.isEmpty) Long.box(0L)
    else {
      var si = 0
      var i = 0
      while (i < bits.length) {
        if (bits.charAt(i) == sub.charAt(si)) {
          si += 1
          if (si == sub.length) return Long.box((i - sub.length + 2).toLong)
        } else si = 0
        i += 1
      }
      Long.box(0L)
    }

  // ---- date/time helpers ----

  /** time_bucket(width, ts) as a Column expression: floor the epoch to the
    * bucket width (reference: duckdb-5.cpp:11399+ time_bucket). Pure
    * Catalyst — stays inside whole-stage codegen.
    */
  def timeBucket(widthSeconds: Long, ts: Column): Column =
    timestamp_seconds(floor(unix_timestamp(ts) / widthSeconds) * widthSeconds)

  /** strftime(ts, cFmt) as a Column — routed through the r16 hand
    * formatter (the registered `strftime` function), which owns the
    * reference's full specifier set. */
  def strftime(ts: Column, cFmt: String): Column =
    call_function("strftime", ts, lit(cFmt))

  // ---- pattern matching ----

  /** GLOB pattern → anchored Java regex (reference: LIKE/GLOB family,
    * duckdb-6.cpp:5993+). */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append(".")
      case c if "\\.[]{}()+-^$|".contains(c) => sb.append("\\").append(c)
      case c => sb.append(c)
    }
    sb.append("$").toString
  }

  // ---- the function table ----

  /** Every graft function as one (name → builder) row, each name once.
    * [[graft.plans.GraftExtensions]] injects the table into every session
    * it is installed on, and Spark hands the extensions on to every child
    * session (`newSession()`), so no session registers anything at run
    * time (reference analog: the built-in function catalog installed at
    * database creation, duckdb-5.cpp:5130-5159). */
  val table: Seq[(String, FunctionBuilder)] = {
    val rows = Seq.newBuilder[(String, FunctionBuilder)]
    def r(name: String, b: FunctionBuilder): Unit = rows += name -> b
    // Scala UDF/UDAF rows: the builder Spark's UDF registration would
    // install (output columns keep the name, see GraftSqlShim)
    def u(name: String, f: UserDefinedFunction): Unit =
      r(name, GraftSqlShim.udfBuilder(name, f))
    u("strip_accents", udf(stripAccents _))
    u("unicode", udf(unicodeCodepoint _))
    u("hamming", udf(hamming _))
    u("jaccard", udf(jaccardChars _))
    u("jaro_winkler_similarity", udf(jaroWinkler _))
    u("jaro_similarity", udf(jaroSimilarity _))
    u("mismatches", udf(mismatches _))
    // session-info surface (reference duckdb-6.cpp system fns) —
    // values are engine-identifying by nature, so spec-checked only
    u("graft_version", udf(() => "graft 0.3 (spark 4.1.2)"))
    // sequence SQL surface (r17 BATTERY7 d02/d07): driver-side
    // counters per TypeHelpers — documented single-node semantics,
    // same as the reference's catalog sequences. Nondeterministic so
    // the optimizer never folds or duplicates a nextval call.
    u("nextval", udf((n: String) => TypeHelpers.nextval(n)).asNondeterministic())
    u("currval", udf((n: String) => TypeHelpers.currval(n)).asNondeterministic())
    u("current_database", udf(() => "memory"))
    u("current_schema", udf(() => "main"))
    u("current_schemas", udf(() => Array("main")))
    u("txid_current", udf(() => 0L))
    u("length_grapheme", udf(lengthGrapheme _))
    u("left_grapheme", udf(leftGrapheme _))
    u("right_grapheme", udf(rightGrapheme _))
    u("substring_grapheme", udf(substringGrapheme _))
    u("simhash64", udf(graft.operators.Dedup.simhash64 _))
    u("lang_id", udf(graft.operators.TextAnalysis.langIdHeuristic _))
    u("nfc_normalize", udf(TypeHelpers.nfcNormalize))
    u("bar", udf(graft.queries.ScalarFns.bar _))
    u("nextafter", udf(nextafter _))
    u("signbit", udf(signbit _))
    u("lgamma", udf(lgamma _))
    u("gamma", udf(gammaFn _))
    u("get_bit", udf(getBit _))
    u("set_bit", udf(setBit _))
    u("bit_position", udf(bitPosition _))
    u("product_agg", udaf(Aggs.ProductAgg))
    u("entropy_agg", udaf(Aggs.EntropyAgg))
    u("histogram_agg", udaf(Aggs.HistogramAgg))
    u("topk_sketch8", udaf(new Aggs.TopKSketchAgg(8)))
    // codegen'd native expressions (graft.plans); the aggregate
    // min_pair_ord's bare AggregateFunction is wrapped in an
    // AggregateExpression by the analyzer, like a built-in's
    r("array_dot", graft.plans.ArrayDot.builder)
    r("array_dot_float", graft.plans.ArrayDotFloat.builder)
    r("min_pair_ord", graft.plans.MinPairOrd.builder)
    r("levenshtein_within", graft.plans.LevenshteinWithin.builder)
    r("jaccard_sorted", graft.plans.JaccardSorted.builder)
    r("bucket_index", graft.plans.BucketIndex.builder)
    r("word_gram_hashes", graft.plans.WordGramHashes.builder)
    r("ws_token_hashes", graft.plans.WsTokenHashes.builder)
    r("gram_roll_hashes", graft.plans.GramRollHashes.builder)
    r("space_term_counts", graft.plans.SpaceTermCounts.builder)
    r("fast_round", graft.plans.FastRound.builder)
    r("sign_lsh_buckets", graft.plans.SignLshBuckets.builder)
    r("lsh_bucket_pairs", graft.plans.LshBucketPairs.builder)
    r("hashed_shingles", graft.plans.HashedShingles.builder)
    r("minhash_band_buckets", graft.plans.MinhashBands.builder)
    r("delete_neighborhood_hashes", graft.plans.DeleteNeighborhoodHashes.builder)
    r("centroid_assign", graft.plans.CentroidAssign.builder)
    r("argmin_sqdist_long", graft.plans.ArgminSqDistLong.builder)
    r("graft_fdiv", DuckFloorDiv.builder)
    r("len", DuckLen.builder)
    // ---- r15 arithmetic-edge parity family (see DuckArith.scala;
    // every behavior duck-probed — ARITH_BATTERY_r15.json) ----
    r("duck_div", DuckDiv.builder)
    r("duck_mod", DuckMod.builder)
    r("duck_icast", DuckICast.builder)
    // reference type NAMES from typeof (r16 tranche 5 — Spark's own
    // typeof renders lowercase spark names, silent text divergence).
    // duck_ prefix + dialect rename per the r15 architecture rule:
    // the registry also resolves API names, so bare overrides leak
    // into API-built plans
    r("duck_typeof", DuckTypeof.builder)
    r("duck_try_icast", DuckICast.tryBuilder)
    r("duck_str", DuckStrCast.builder)
    r("duck_try_str", DuckStrCast.tryBuilder)
    r("duck_lshift", DuckShiftLeft.builder)
    r("duck_rshift", DuckShiftRight.builder)
    r("duck_bcast", a => DuckBCast(a(0)))
    r("duck_try_bcast", a => org.apache.spark.sql.catalyst.expressions
      .TryEval(DuckBCast(a(0))))
    r("duck_acast", DuckACast.builder)
    r("duck_try_acast", a => DuckTryACast(a(0), DuckACast.elemType(a(1))))
    // r17 BATTERY7: nested-type casts — by-name struct match,
    // leaf-level TRY semantics (DuckNestedCast.scala)
    r("duck_ncast", DuckNamedCast.builder)
    r("duck_try_ncast", DuckNamedCast.tryBuilder)
    // r15 battery tranche 2 (duck-probed: 1-based subscripts with
    // NULL at 0/out-of-range, inclusive slices, DATE-DATE day
    // counts, null-skipping stringly concat, substr edges)
    r("duck_idx", a => DuckIdx(a(0), a(1)))
    r("duck_slice", a => DuckSlice(a(0), a(1), a(2)))
    r("duck_sub", a => DuckSub(a(0), a(1)))
    r("duck_concat", a => DuckConcat(a))
    r("duck_substr", a => if (a.length == 2)
      DuckSubstr(a(0), a(1),
        org.apache.spark.sql.catalyst.expressions.Literal(Int.MaxValue))
      else DuckSubstr(a(0), a(1), a(2)))
    r("epoch", a => DuckEpoch(a(0)))
    r("list_contains", a => org.apache.spark.sql.catalyst.expressions
      .ArrayContains(a(0), a(1)))
    r("list_has", a => org.apache.spark.sql.catalyst.expressions
      .ArrayContains(a(0), a(1)))
    // ---- r15 battery tranche 3: the SQL-surface function layer
    // (BATTERY3_r15.json). Same-named-but-different Spark semantics
    // register under duck_ prefixes and rename at the dialect
    // surface (SqlDialect.fnRenames); pure aliases lower onto the
    // Spark built-in by name. ----
    def alias(name: String, to: String, extra: Seq[CExpr] = Nil): Unit =
      r(name, args => org.apache.spark.sql.catalyst.analysis
        .UnresolvedFunction(Seq(to), args ++ extra, isDistinct = false))
    r("duck_trim", DuckStrFns.trimB)
    r("duck_ltrim", DuckStrFns.ltrimB)
    r("duck_rtrim", DuckStrFns.rtrimB)
    r("duck_left", DuckStrFns.leftB)
    r("duck_right", DuckStrFns.rightB)
    r("duck_regexp_extract", DuckStrFns.regexpExtractB)
    r("duck_regexp_replace", DuckStrFns.regexpReplaceB)
    // duck regexp_extract_all default group is 0 (Spark's is 1)
    r("duck_regexp_extract_all", a =>
      if (a.length > 2) org.apache.spark.sql.catalyst.expressions
        .RegExpExtractAll(a(0), a(1), a(2))
      else org.apache.spark.sql.catalyst.expressions
        .RegExpExtractAll(a(0), a(1),
          org.apache.spark.sql.catalyst.expressions.Literal(0)))
    r("duck_split", DuckStrFns.splitLiteralB)
    r("string_split", DuckStrFns.splitLiteralB)
    r("str_split", DuckStrFns.splitLiteralB)
    r("string_to_array", DuckStrFns.splitLiteralB)
    r("string_split_regex", DuckStrFns.splitRegexB)
    r("str_split_regex", DuckStrFns.splitRegexB)
    r("regexp_split_to_array", DuckStrFns.splitRegexB)
    r("format", DuckStrFns.formatB)
    r("json_extract", DuckStrFns.jsonExtractB)
    r("json_extract_string", DuckStrFns.jsonExtractStringB)
    r("json_valid", DuckStrFns.jsonValidB)
    r("strftime", DuckStrFns.strftimeB)
    r("strptime", DuckStrFns.strptimeB)
    r("yearweek", DuckStrFns.yearweekB)
    r("range", DuckStrFns.rangeB)
    r("generate_series", DuckStrFns.generateSeriesB)
    r("list_distinct", DuckStrFns.listDistinctB)
    r("list_unique", DuckStrFns.listUniqueB)
    alias("week", "weekofyear")
    r("strpos", a => org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.StringInstr(a(0), a(1)),
      org.apache.spark.sql.types.LongType))
    alias("starts_with", "startswith")
    alias("ends_with", "endswith")
    alias("regexp_matches", "rlike")
    alias("printf", "format_string")
    alias("gen_random_uuid", "uuid")
    alias("list_sort", "array_sort")
    alias("list_reverse_sort", "sort_array",
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(false)))
    // HOFs construct directly (an UnresolvedFunction alias trips
    // the lambda-only-in-higher-order-function analyzer check)
    r("list_filter", a => org.apache.spark.sql.catalyst.expressions
      .ArrayFilter(a(0), a(1)))
    r("list_transform", a => org.apache.spark.sql.catalyst.expressions
      .ArrayTransform(a(0), a(1)))
    alias("list_value", "array")
    alias("list_pack", "array")
    alias("list_append", "array_append")
    // duck list_prepend takes (element, list) — Spark's the reverse
    r("list_prepend", a => org.apache.spark.sql.catalyst.analysis
      .UnresolvedFunction(Seq("array_prepend"), Seq(a(1), a(0)),
        isDistinct = false))
    alias("array_to_string", "array_join")
    alias("list_position", "array_position")
    alias("list_indexof", "array_position")
    alias("list_zip", "arrays_zip")
    alias("list_reverse", "reverse")
    alias("sha256", "sha2",
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(256)))
    r("to_base", a => org.apache.spark.sql.catalyst.expressions.Conv(
      org.apache.spark.sql.catalyst.expressions.Cast(a(0),
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.catalyst.expressions.Literal(10), a(1)))
    // ---- r15 battery tranche 4 (BATTERY4_r15.json): date-part
    // long tail, aggregate edges, struct/map names ----
    r("duck_chr", DuckDateAgg.chrB)
    r("duck_dayname", DuckDateAgg.daynameB)
    r("duck_monthname", DuckDateAgg.monthnameB)
    r("duck_skewness", DuckDateAgg.skewSampB)
    r("duck_kurtosis", DuckDateAgg.kurtSampB)
    r("duck_date_part", DuckDateAgg.datePartB)
    r("duck_date_diff", DuckDateAgg.dateDiffB)
    r("duck_date_sub", DuckDateAgg.dateSubB)
    r("duck_date_add", DuckDateAgg.dateAddB)
    r("duck_struct_insert", DuckDateAgg.structInsertB)
    r("string_agg", DuckDateAgg.stringAggB)
    r("group_concat", DuckDateAgg.stringAggB)
    r("time_bucket", DuckDateAgg.timeBucketB)
    r("bitstring_agg", DuckDateAgg.bitstringAggB)
    r("struct_extract", DuckDateAgg.structExtractB)
    r("century", a => DuckDateAgg.century(a(0)))
    r("decade", a => DuckDateAgg.decade(a(0)))
    r("millennium", a => DuckDateAgg.millennium(a(0)))
    r("isoyear", a => DuckDateAgg.isoyear(a(0)))
    // ---- r16 battery tranche 6 (BATTERY6_r16.json): name tail +
    // same-named-but-different semantics (dialect-renamed) ----
    alias("today", "current_date")
    alias("suffix", "endswith")
    alias("prefix", "startswith")
    alias("json_keys", "json_object_keys")
    alias("list_concat", "concat")
    alias("list_cat", "concat")
    alias("array_concat", "concat")
    alias("to_base64", "base64")
    alias("from_base64", "unbase64")
    alias("to_binary", "bin")
    r("map_extract", a => DuckIdx(a(0), a(1)))
    r("list_any_value", a => new org.apache.spark.sql.catalyst.expressions
      .TryElementAt(org.apache.spark.sql.catalyst.analysis
        .UnresolvedFunction(Seq("array_compact"), Seq(a(0)),
          isDistinct = false),
      org.apache.spark.sql.catalyst.expressions.Literal(1)))
    locally { // list_reduce: seed = first element, raise on empty.
      // The empty-check rides the ZERO argument — a lambda under an
      // outer If trips the analyzer's lambda-only-in-HOF check, so
      // ArrayAggregate must stay the top node (r16)
      import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate,
        ElementAt, If => CIf, LambdaFunction, LessThanOrEqual, Literal => L,
        RaiseError, Size, Slice, UnresolvedNamedLambdaVariable}
      r("list_reduce", a => {
        val sz = Size(a(0), legacySizeOfNull = false)
        val acc = UnresolvedNamedLambdaVariable(Seq("__lr_acc"))
        val zero = CIf(LessThanOrEqual(sz, L(0)),
          RaiseError(L(org.apache.spark.unsafe.types.UTF8String.fromString(
            "Cannot perform list_reduce on an empty input list"),
            org.apache.spark.sql.types.StringType)),
          ElementAt(a(0), L(1)))
        ArrayAggregate(
          Slice(a(0), L(2), org.apache.spark.sql.catalyst.expressions
            .Greatest(Seq(org.apache.spark.sql.catalyst.expressions
              .Subtract(sz, L(1)), L(0)))),
          zero, a(1), LambdaFunction(acc, Seq(acc)))
      })
    }
    r("json_merge_patch", a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        DuckStrFns.getClass, org.apache.spark.sql.types.StringType,
        "jsonMergePatch",
        Seq(org.apache.spark.sql.catalyst.expressions.Cast(a(0),
          org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.catalyst.expressions.Cast(a(1),
            org.apache.spark.sql.types.StringType)),
        Seq(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)))
    r("json_type", a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        DuckStrFns.getClass, org.apache.spark.sql.types.StringType,
        "jsonType",
        Seq(org.apache.spark.sql.catalyst.expressions.Cast(a(0),
          org.apache.spark.sql.types.StringType)),
        Seq(org.apache.spark.sql.types.StringType)))
    r("json_structure", a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        DuckStrFns.getClass, org.apache.spark.sql.types.StringType,
        "jsonStructure",
        Seq(org.apache.spark.sql.catalyst.expressions.Cast(a(0),
          org.apache.spark.sql.types.StringType)),
        Seq(org.apache.spark.sql.types.StringType)))
    r("regexp_full_match", a => org.apache.spark.sql.catalyst.expressions
      .RLike(a(0), org.apache.spark.sql.catalyst.expressions.Concat(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal("^(?:"),
        org.apache.spark.sql.catalyst.expressions.Cast(a(1),
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.catalyst.expressions.Literal(")$")))))
    r("regexp_escape", a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        DuckStrFns.getClass, org.apache.spark.sql.types.StringType,
        "regexpEscape",
        Seq(org.apache.spark.sql.catalyst.expressions.Cast(a(0),
          org.apache.spark.sql.types.StringType)),
        Seq(org.apache.spark.sql.types.StringType)))
    r("format_bytes", a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        DuckStrFns.getClass, org.apache.spark.sql.types.StringType,
        "formatBytes",
        Seq(org.apache.spark.sql.catalyst.expressions.Cast(a(0),
          org.apache.spark.sql.types.LongType)),
        Seq(org.apache.spark.sql.types.LongType)))
    locally { // even: round away from zero to the next even number
      import org.apache.spark.sql.catalyst.expressions.{Cast => CCast,
        Ceil, Divide, GreaterThanOrEqual, If => CIf, Literal => L,
        Multiply, UnaryMinus}
      import org.apache.spark.sql.types.DoubleType
      r("even", a => {
        val x = CCast(a(0), DoubleType)
        def up(v: CExpr): CExpr =
          Multiply(CCast(Ceil(Divide(v, L(2.0))), DoubleType), L(2.0))
        CIf(GreaterThanOrEqual(x, L(0.0)), up(x), UnaryMinus(up(UnaryMinus(x))))
      })
    }
    r("duck_bit_count", a => DuckBitCount(a(0)))
    r("duck_dayofweek", a => org.apache.spark.sql.catalyst.expressions
      .Subtract(org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        Seq("dayofweek"), Seq(a(0)), isDistinct = false),
        org.apache.spark.sql.catalyst.expressions.Literal(1)))
    r("duck_date_trunc", a => DuckDateTrunc(a(0), a(1)))
    r("duck_printf", DuckStrFns.printfB)
    r("age", DuckStrFns.ageB)
    r("generate_subscripts", a => org.apache.spark.sql.catalyst.analysis
      .UnresolvedFunction(Seq("explode"),
        Seq(new org.apache.spark.sql.catalyst.expressions.Sequence(
          org.apache.spark.sql.catalyst.expressions.Literal(1L),
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Size(a(0),
              legacySizeOfNull = false),
            org.apache.spark.sql.types.LongType))),
        isDistinct = false))
    locally { // make_time → the documented TIME encoding (micros)
      import org.apache.spark.sql.catalyst.expressions.{Add => CA,
        Cast => CC, Literal => L, Multiply => CM, Round}
      import org.apache.spark.sql.types.{DoubleType, LongType}
      r("make_time", a =>
        CA(CM(CA(CM(CC(a(0), LongType), L(3600L)),
          CM(CC(a(1), LongType), L(60L))), L(1000000L)),
          CC(Round(CM(CC(a(2), DoubleType), L(1000000.0)), L(0)), LongType)))
    }
    alias("row", "struct")
    alias("arg_min", "min_by")
    alias("arg_max", "max_by")
    alias("argmin", "min_by")
    alias("argmax", "max_by")
    alias("product", "product_agg")
    alias("favg", "avg")
    alias("fsum", "sum")
    alias("to_hex", "hex")
    alias("ord", "unicode")
    // Domain-checked math + duck-typed scalars are registered
    // under duck_ prefixes ONLY, and the SQL dialect renames bare
    // calls (SqlDialect.rewriteFnNames): in Spark 4 the registry
    // also resolves the API's functions.* names, so overriding
    // `ln`/`sqrt`/`sign`/`factorial` globally would push the
    // reference's raise-on-domain / re-typed semantics into every
    // API operator in the engine (functions.log resolves to "ln").
    Seq("sqrt", "ln", "log10", "log2", "asin", "acos").foreach { op =>
      r(s"duck_$op", DuckMathErr.builder(op))
    }
    // duck's 1-arg log() is LOG10 (probed log(100)=2 — Spark's is
    // ln, a silent-wrong class); 2-arg log(b, x) matches Spark
    r("duck_log", a => if (a.length == 1) DuckMathErr(a(0), "log10")
      else CLogarithm(a(0), a(1)))
    // duck's 1-arg trunc() is numeric truncation toward zero
    // (Spark's trunc is the 2-arg date truncation — kept)
    r("duck_trunc", a => if (a.length == 1) DuckTrunc1(a(0))
      else CTruncDate(a(0), a(1)))
    r("duck_ceil", a => DuckCeilFloor(a(0), ceil = true))
    r("duck_floor", a => DuckCeilFloor(a(0), ceil = false))
    r("duck_factorial", DuckFactorial.builder)
    r("duck_sign", a => DuckSign(a(0)))
    // new names with no Spark collision register bare
    r("fdiv", a => DuckFdiv(a(0), a(1)))
    r("fmod", a => DuckFmod(a(0), a(1)))
    r("isinf", a => DuckIsInf(a(0)))
    r("isfinite", a => DuckIsFinite(a(0)))
    r("xor", a => CBitwiseXor(a(0), a(1)))
    // the reference's named operator forms (probed: divide() is
    // INTEGER division unlike the / operator; add/subtract/multiply
    // keep ANSI overflow errors, which Spark's defaults match)
    r("divide", DuckFloorDiv.builder)
    r("add", a => CAdd(a(0), a(1)))
    r("subtract", a => CSubtract(a(0), a(1)))
    r("multiply", a => CMultiply(a(0), a(1)))
    // decimal averages promote to DOUBLE (probed reference result
    // type) — dialect-renamed like the math family. sum()
    // deliberately KEEPS Spark's BIGINT accumulator: the
    // reference's HUGEINT twin would be DECIMAL(38,0), but the
    // registry also resolves the API's functions.sum, so the
    // promotion re-types every integral sum in the engine (13
    // inventory rows went decimal in the r15 dress rehearsal);
    // past 2^63 Spark raises a NAMED ANSI overflow — loud, never
    // silently wrong — recorded as a guardrail disposition in
    // ARITH_BATTERY_r15.json.
    r("duck_avg", a => CAverage(DuckAvgArg(a(0))))
    rows.result()
  }
}
