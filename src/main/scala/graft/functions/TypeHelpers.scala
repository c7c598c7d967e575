package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Encodings for reference types Spark lacks (SURVEY.md §1.2):
  * UNION (tagged sum type) and ENUM (dictionary categorical), plus
  * collation rewrites and sequences.
  */
object TypeHelpers {

  // ---- UNION type (duckdb.hpp:947; union_value/extract/tag,
  // duckdb-5.cpp:16371-16373) as sparse struct {tag, member_0..n} ----

  /** union_value: build a single-member union struct. */
  def unionValue(memberIndex: Int, memberNames: Seq[String], value: Column): Column = {
    val members = memberNames.zipWithIndex.map { case (n, i) =>
      (if (i == memberIndex) value else lit(null)).as(n)
    }
    struct((lit(memberIndex.toByte).as("tag") +: members): _*)
  }

  /** union_tag: which member is populated. */
  def unionTag(u: Column): Column = u.getField("tag")

  /** union_extract: member value (null if the tag doesn't match). */
  def unionExtract(u: Column, memberName: String): Column = u.getField(memberName)

  // ---- ENUM (duckdb.hpp:944) as dictionary table + code helpers ----

  /** Dictionary for an enum: ordered values → (code, value) DataFrame. */
  def enumDictionary(spark: SparkSession, name: String, values: Seq[String]): DataFrame = {
    import spark.implicits._
    val df = values.zipWithIndex.map { case (v, i) => (i, v) }.toDF("code", "value")
    df.createOrReplaceTempView(s"enum_$name")
    df
  }

  /** enum_code: value → code via the dictionary (broadcast join-free:
    * a literal CASE over the dictionary, fine for enum-sized domains). */
  def enumCode(values: Seq[String], c: Column): Column =
    values.zipWithIndex.foldLeft(lit(null).cast("int")) { case (acc, (v, i)) =>
      when(c === v, i).otherwise(acc)
    }

  /** enum_range boundary helpers. */
  def enumFirst(values: Seq[String]): Column = lit(values.head)
  def enumLast(values: Seq[String]): Column = lit(values.last)
  def enumRange(values: Seq[String]): Column = array(values.map(lit): _*)

  // ---- collations (duckdb-5.cpp:5156-5158) as expression rewrites ----

  /** NOCASE collation key. */
  def collateNocase(c: Column): Column = lower(c)

  /** NOACCENT collation key (uses the strip_accents UDF). */
  def collateNoaccent(c: Column): Column = callUDF("strip_accents", c)

  /** NFC collation key. */
  val nfcNormalize: String => String = s =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  // ---- sequences (duckdb-6.cpp:2012 nextval/currval) ----
  // Driver-side monotonic counters: documented single-driver semantics
  // (the reference's sequences are also a single-node catalog object).

  /** One sequence's state. `value` holds the LAST issued value
    * (start − inc before the first call, duck's "not yet defined"
    * window notwithstanding — documented currval leniency). Unquoted
    * names fold to lowercase at every API edge, the reference's
    * identifier rule (probed r17: `CREATE SEQUENCE CSeq` then
    * `nextval('CSEQ')` hit the SAME sequence). */
  private final class SeqState(val start: Long, val inc: Long,
                               val minV: Long, val maxV: Long,
                               val cycle: Boolean) {
    var value: Long = start - inc
  }

  private val sequences =
    new java.util.concurrent.ConcurrentHashMap[String, SeqState]()

  private def seqKey(name: String): String = name.toLowerCase

  private def seqOf(name: String): SeqState = {
    val s = sequences.get(seqKey(name))
    if (s == null) throw new IllegalArgumentException(
      s"Catalog Error: Sequence with name ${seqKey(name)} does not exist!")
    s
  }

  def createSequence(name: String, start: Long = 1L, incrementBy: Long = 1L,
                     minValue: Option[Long] = None,
                     maxValue: Option[Long] = None,
                     cycle: Boolean = false,
                     ifNotExists: Boolean = false,
                     orReplace: Boolean = false): Unit = {
    require(incrementBy != 0L, "INCREMENT BY must be non-zero")
    val key = seqKey(name)
    if (sequences.containsKey(key) && !orReplace) {
      if (ifNotExists) return // reference: no-op, counter untouched
      throw new IllegalArgumentException(
        s"""Catalog Error: Sequence with name "$key" already exists!""")
    }
    val mn = minValue.getOrElse(if (incrementBy > 0) 1L else Long.MinValue + 1)
    val mx = maxValue.getOrElse(if (incrementBy > 0) Long.MaxValue - 1 else -1L)
    sequences.put(key, new SeqState(start, incrementBy, mn, mx, cycle))
  }

  /** nextval with the reference's bound semantics (probed r17):
    * past MAXVALUE (ascending) / MINVALUE (descending) a CYCLE
    * sequence wraps to the opposite bound; a NO CYCLE one raises the
    * reference's Sequence Error. */
  def nextval(name: String): Long = {
    val s = seqOf(name)
    s.synchronized {
      val next = s.value + s.inc
      val out =
        if (s.inc > 0 && next > s.maxV) {
          if (!s.cycle) throw new IllegalArgumentException(
            s"""Sequence Error: nextval: reached maximum value of """ +
              s"""sequence "${seqKey(name)}" (${s.maxV})""")
          s.minV
        } else if (s.inc < 0 && next < s.minV) {
          if (!s.cycle) throw new IllegalArgumentException(
            s"""Sequence Error: nextval: reached minimum value of """ +
              s"""sequence "${seqKey(name)}" (${s.minV})""")
          s.maxV
        } else next
      s.value = out
      out
    }
  }

  def currval(name: String): Long = {
    val s = seqOf(name)
    s.synchronized(s.value)
  }

  def dropSequence(name: String, ifExists: Boolean): Unit = {
    val had = sequences.remove(seqKey(name)) != null
    if (!had && !ifExists) throw new IllegalArgumentException(
      s"Catalog Error: Sequence with name ${seqKey(name)} does not exist!")
  }

  /** ALTER SEQUENCE … RESTART [WITH n] — API-level helper (the SQL
    * surface raises the reference's own "Not implemented" instead,
    * BATTERY7 d08): the counter resets (to the original START when no
    * value is given), increment preserved. */
  def restartSequence(name: String, start: Option[Long]): Unit = {
    val s = seqOf(name)
    s.synchronized { s.value = start.getOrElse(s.start) - s.inc }
  }

  // ---- TIME values (duckdb.hpp:914 dtime_t) ----
  // TIME is carried as LongType microseconds-since-midnight (SURVEY
  // §1.2's documented encoding: Spark has no TIME type). The encoding
  // is order-isomorphic to the reference's dtime_t — comparisons,
  // min/max, and sorts need no adapter — and all arithmetic wraps
  // modulo 24 h exactly like TIME + INTERVAL does there. TIME_TZ
  // (duckdb.hpp:931) is carried as the packed (micros, offset) long
  // below (r10).

  private val MicrosPerDay = 86400L * 1000000L

  /** make_time(h, m, s) → micros-since-midnight (reference make_time,
    * integer seconds; fractional seconds would extend via a double
    * seconds column the same way). */
  def makeTime(h: Column, m: Column, s: Column): Column =
    ((h.cast("long") * 3600L + m.cast("long") * 60L + s.cast("long")) * 1000000L)

  /** TIME + INTERVAL micros, wrapping modulo 24 h in BOTH directions
    * (pmod, matching the reference's negative-interval wrap). */
  def timeAdd(t: Column, deltaMicros: Column): Column =
    pmod(t + deltaMicros.cast("long"), lit(MicrosPerDay))

  /** CAST(TIME AS VARCHAR): 'HH:MM:SS', with '.ffffff' (trailing zeros
    * trimmed) only when a fractional second is present — the
    * reference's rendering. */
  def timeToString(t: Column): Column = {
    val secs = t / 1000000L
    val hh = lpad((secs / 3600L).cast("long").cast("string"), 2, "0")
    val mm = lpad((pmod(secs, lit(3600L)) / 60L).cast("long").cast("string"), 2, "0")
    val ss = lpad(pmod(secs, lit(60L)).cast("long").cast("string"), 2, "0")
    val frac = pmod(t, lit(1000000L))
    val fracStr = when(frac === 0L, lit(""))
      .otherwise(concat(lit("."),
        regexp_replace(lpad(frac.cast("string"), 6, "0"), "0+$", "")))
    concat(hh, lit(":"), mm, lit(":"), ss, fracStr)
  }

  // ---- TIME_TZ values (duckdb.hpp:931 dtime_tz_t) ----
  // Packed LongType: micros-since-midnight << 24 | (MaxOffset − offset
  // seconds). Order-isomorphic to DuckDB's packed key — LOCAL time
  // ascending, then offset DESCENDING on ties (probed on the oracle
  // engine: ORDER BY puts '10:00:00+02' before '10:00:00+00' before
  // '10:00:00-03', and '01:00:00+05' < '12:00:00+00' even though its
  // UTC instant is later). Equality is the (time, offset) PAIR:
  // '10:00:00+02' <> '09:00:00+01' despite the same instant.

  private val TzOffsetMax = 57599L // ±15:59:59, the packed key's offset bound
  private val TzOffsetMask = (1L << 24) - 1L

  def makeTimeTz(t: Column, offsetSeconds: Column): Column =
    shiftleft(t.cast("long"), 24) + (lit(TzOffsetMax) - offsetSeconds.cast("long"))

  /** Local-time micros of a packed TIME_TZ. */
  def timeTzTime(v: Column): Column = shiftright(v, 24)

  /** Offset seconds of a packed TIME_TZ. */
  def timeTzOffset(v: Column): Column =
    lit(TzOffsetMax) - v.bitwiseAND(lit(TzOffsetMask))

  /** Parse 'HH:MM:SS[.ffffff]±HH[:MM[:SS]]' (the reference's TIMETZ
    * literal shape) into the packed encoding. */
  def timeTzFromString(s: Column): Column = {
    val h = regexp_extract(s, "^(\\d{1,2}):", 1).cast("long")
    val m = regexp_extract(s, "^\\d{1,2}:(\\d{2})", 1).cast("long")
    val sec = regexp_extract(s, "^\\d{1,2}:\\d{2}:(\\d{2}(?:\\.\\d+)?)", 1)
      .cast("double")
    val micros = (h * 3600L + m * 60L) * 1000000L +
      (sec * 1000000.0).cast("long")
    val sign = when(regexp_extract(s, "([+-])\\d{1,2}(?::\\d{2})?(?::\\d{2})?$", 1)
      === "-", -1L).otherwise(1L)
    val oh = coalesce(regexp_extract(s,
      "[+-](\\d{1,2})(?::\\d{2})?(?::\\d{2})?$", 1).cast("long"), lit(0L))
    val om = coalesce(nullif(regexp_extract(s,
      "[+-]\\d{1,2}:(\\d{2})(?::\\d{2})?$", 1), lit("")).cast("long"), lit(0L))
    val os = coalesce(nullif(regexp_extract(s,
      "[+-]\\d{1,2}:\\d{2}:(\\d{2})$", 1), lit("")).cast("long"), lit(0L))
    // malformed literal → NULL, not a silent +00 read (r11, ead240d:ADVICE.md —
    // the reference's TIMETZ cast raises a conversion error; a null is
    // the non-throwing analog TRY_CAST-style callers expect). A MISSING
    // offset is legal and reads +00, matching the reference (probed:
    // '12:30:00'::TIMETZ → 12:30:00+00:00, '12:30:00junk' → error,
    // '25:99:00+02' → error, '12:30:00+99' → error).
    val wellFormed = s.rlike(
      "^\\d{1,2}:\\d{2}:\\d{2}(\\.\\d+)?([+-]\\d{1,2}(:\\d{2}(:\\d{2})?)?)?$") &&
      h < 24L && m < 60L && sec < lit(60.0) && oh <= 15L && om < 60L && os < 60L
    when(wellFormed, makeTimeTz(micros, sign * (oh * 3600L + om * 60L + os)))
      .otherwise(lit(null).cast("long"))
  }

  /** CAST(TIMETZ AS VARCHAR): 'HH:MM:SS[.f]±HH[:MM[:SS]]' with offset
    * minutes/seconds rendered only when nonzero — the oracle engine's
    * rendering ('+00', '+05:30', '-08'). */
  def timeTzToString(v: Column): Column = {
    val off = timeTzOffset(v)
    val a = abs(off)
    val ohS = lpad((a / 3600L).cast("long").cast("string"), 2, "0")
    val omS = when(pmod(a, lit(3600L)) === 0L, lit(""))
      .otherwise(concat(lit(":"),
        lpad((pmod(a, lit(3600L)) / 60L).cast("long").cast("string"), 2, "0")))
    val osS = when(pmod(a, lit(60L)) === 0L, lit(""))
      .otherwise(concat(lit(":"),
        lpad(pmod(a, lit(60L)).cast("long").cast("string"), 2, "0")))
    concat(timeToString(timeTzTime(v)),
      when(off < 0L, lit("-")).otherwise(lit("+")), ohS, omS, osS)
  }

  /** extract(part FROM time) for hour/minute/second. */
  def timePart(part: String, t: Column): Column = part.toLowerCase match {
    case "hour" => (t / 1000000L / 3600L).cast("long")
    case "minute" => (pmod(t / 1000000L, lit(3600L)) / 60L).cast("long")
    case "second" => pmod(t / 1000000L, lit(60L)).cast("long")
    case other => throw new IllegalArgumentException(s"timePart: unsupported $other")
  }

  // ---- glob table function (duckdb-6.cpp:9491) ----

  /** glob('pattern'): matching file paths as a DataFrame. */
  def glob(spark: SparkSession, pattern: String): DataFrame = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(pattern)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = Option(fs.globStatus(path)).getOrElse(Array.empty)
    statuses.map(s => (s.getPath.toString, s.getLen)).toSeq.toDF("file", "size")
  }
}
