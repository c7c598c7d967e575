package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._

/** CSV source/sink with reference-style option names
  * (ReadCSVTableFunction's 30 named options, duckdb-6.cpp:10273-10299;
  * writer = PhysicalCopyToFile, duckdb-4.cpp:4689). Dialect detection is
  * a real sample-based sniffer (read_csv_auto's BufferedCSVReader
  * analog, duckdb-4.cpp:1949-3700): delimiter/quote/header are detected
  * from a driver-side sample whenever the caller doesn't pin them, then
  * Spark's schema inference types the columns. Explicit options are
  * translated 1:1; options with no DataFrameReader equivalent (`skip`,
  * `union_by_name`, `filename`, `normalize_names`) are implemented as
  * plan transforms. Remaining unknown options raise instead of silently
  * diverging.
  */
object Csv {

  /** Detected CSV dialect. `escape` follows the doubled-quote
    * convention (escape char = quote char), the reference's default. */
  final case class Dialect(delim: Char, quote: Char, header: Boolean)

  private val SniffBytes = 64 * 1024
  private val SniffRecords = 200
  // candidate search order = the reference sniffer's preference order
  // (duckdb-4.cpp:3383): on a consistency tie the earlier delim wins
  private val CandidateDelims = Seq(',', '|', ';', '\t')
  private val CandidateQuotes = Seq('"', '\'')

  /** Parse `sample` into records under (delim, quote) with doubled-quote
    * escaping — one linear state-machine pass; newlines inside quotes do
    * NOT terminate a record. The trailing record is dropped when the
    * sample ends mid-stream (truncated by the byte cap), never when the
    * text ends with a newline. */
  private[graft] def parseRecords(sample: String, delim: Char, quote: Char,
                                  truncated: Boolean): Vector[Vector[String]] = {
    val records = Vector.newBuilder[Vector[String]]
    var fields = Vector.newBuilder[String]
    val field = new StringBuilder
    var inQuote = false
    var sawAny = false
    var i = 0
    val n = sample.length
    while (i < n) {
      val c = sample.charAt(i)
      if (inQuote) {
        if (c == quote) {
          if (i + 1 < n && sample.charAt(i + 1) == quote) { field.append(quote); i += 1 }
          else inQuote = false
        } else field.append(c)
      } else c match {
        case `quote` => inQuote = true; sawAny = true
        case `delim` => fields += field.result(); field.clear(); sawAny = true
        case '\r' => // swallowed; '\n' (or EOF) closes the record
        case '\n' =>
          if (sawAny || field.nonEmpty) { fields += field.result(); records += fields.result() }
          fields = Vector.newBuilder[String]; field.clear(); sawAny = false
        case other => field.append(other); sawAny = true
      }
      i += 1
    }
    if ((sawAny || field.nonEmpty) && !truncated && !inQuote) {
      fields += field.result(); records += fields.result()
    }
    records.result()
  }

  private val LongRe = "[+-]?\\d+".r
  private val DoubleRe = "[+-]?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][+-]?\\d+)?".r
  private val DateRe = "\\d{4}-\\d{2}-\\d{2}".r
  private def typedNonVarchar(s: String): Boolean = {
    val t = s.trim
    t.nonEmpty && (LongRe.matches(t) || DoubleRe.matches(t) || DateRe.matches(t) ||
      t.equalsIgnoreCase("true") || t.equalsIgnoreCase("false"))
  }

  /** Detect (delim, quote, header) from raw sample text. Scoring follows
    * the sniffer contract: for each candidate pair, parse the sample and
    * rank primarily by the NUMBER of records agreeing on a multi-column
    * modal field count — an absolute count, not just a ratio, because a
    * wrong quote char silently swallows records into one unterminated
    * quoted field and would otherwise score a perfect ratio over one
    * surviving row — then by consistency ratio and column count, ties
    * resolved by the candidate preference order. Header detection then
    * compares the first record against the body: a column whose body
    * values all parse as a non-varchar type while the first record's
    * value does not is header evidence (the reference's type-mismatch
    * rule). */
  private[graft] def sniffText(sample: String, truncated: Boolean): Dialect = {
    final case class Cand(delim: Char, quote: Char,
                          rows: Vector[Vector[String]], score: Int,
                          consistency: Double, cols: Int)
    val cands = for (d <- CandidateDelims; q <- CandidateQuotes) yield {
      val rows = parseRecords(sample, d, q, truncated).take(SniffRecords)
      if (rows.isEmpty) Cand(d, q, rows, 0, 0.0, 1)
      else {
        val counts = rows.map(_.length)
        val modal = counts.groupBy(identity).maxBy { case (c, g) => (g.size, c) }._1
        val agreeing = counts.count(_ == modal)
        Cand(d, q, rows.filter(_.length == modal),
          if (modal > 1) agreeing else 0,
          agreeing.toDouble / counts.size, modal)
      }
    }
    val best = cands.maxBy(c => (c.score, c.consistency, c.cols,
      -CandidateDelims.indexOf(c.delim), -CandidateQuotes.indexOf(c.quote)))
    Dialect(best.delim, best.quote, looksLikeHeader(best.rows, best.cols))
  }

  /** Header detection on the modal-width records of one sample. */
  private def looksLikeHeader(rows: Vector[Vector[String]], cols: Int): Boolean =
    if (rows.length >= 2) {
      val head = rows.head
      val body = rows.tail
      (0 until cols).exists(c =>
        !typedNonVarchar(head(c)) && head(c).trim.nonEmpty &&
          body.forall(r => typedNonVarchar(r(c))))
    } else if (rows.length == 1) {
      // Single-record sample with no typed (non-varchar) field: the
      // reference sniffer's bias is header=true (duckdb-4.cpp:1949-3700,
      // all-varchar first row) — the common producer of this shape is a
      // header-only part file from an empty write partition.
      rows.head.forall(v => !typedNonVarchar(v) && v.trim.nonEmpty)
    } else false

  /** The header flag of one file's records under an already-sniffed
    * dialect (the rule [[sniffText]] applies to its sample). */
  private def sniffHeader(records: Vector[Vector[String]]): Boolean = {
    val rows = records.take(SniffRecords)
    rows.nonEmpty && {
      val modal = rows.map(_.length).groupBy(identity).maxBy { case (c, g) => (g.size, c) }._1
      looksLikeHeader(rows.filter(_.length == modal), modal)
    }
  }

  /** The data files of a path, glob or directory (a Spark-written CSV
    * sink is a directory of part files + _SUCCESS markers), in name
    * order so every choice made from them is deterministic. */
  private def dataFiles(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def under(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val fs = p.getFileSystem(conf)
      if (fs.getFileStatus(p).isFile) {
        val n = p.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty else Seq(p)
      } else fs.listStatus(p).map(_.getPath).sortBy(_.getName).toSeq.flatMap(under)
    }
    val files = globFiles(spark, path)
    require(files.nonEmpty, s"sniff: no files match $path")
    val data = files.flatMap(f => under(new org.apache.hadoop.fs.Path(f)))
    if (data.isEmpty) throw new IllegalArgumentException(s"sniff: no data files under $path")
    data
  }

  /** What the detections read of one file: its first [[SniffBytes]]
    * bytes (gzip-transparent by extension, like the reference's
    * compressed reads) after `skip` physical lines, and whether the byte
    * cap cut it short. Driver-side by design: detection reads file
    * heads regardless of dataset size — the same O(sample) cost the
    * reference pays. */
  private def readSample(spark: SparkSession, p: org.apache.hadoop.fs.Path,
                         skip: Int): (String, Boolean) = {
    val raw = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try {
      val in: java.io.InputStream =
        if (p.getName.endsWith(".gz") || p.getName.endsWith(".gzip"))
          new java.util.zip.GZIPInputStream(raw)
        else raw
      val buf = new Array[Byte](SniffBytes)
      var off = 0
      var n = 0
      while (off < SniffBytes && { n = in.read(buf, off, SniffBytes - off); n > 0 })
        off += n
      val truncated = n > 0 || off == SniffBytes
      var text = new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8)
      if (skip > 0)
        text = text.linesWithSeparators.drop(skip).mkString
      (text, truncated)
    } finally raw.close()
  }

  /** Does the sample hold a newline INSIDE a quoted field? Drives the
    * reader's multiLine switch (r17 BATTERY7 c06: Spark's default
    * line-split reader tears quoted-newline records apart — the
    * reference reader always honors quotes). Detection is
    * sample-bounded like the sniffer itself: a file whose FIRST quoted
    * newline sits past the 64 KiB head keeps the parallel line reader
    * (documented; pass an explicit quote + a head-of-file probe row to
    * force it). multiLine costs intra-file parallelism, so it engages
    * only on evidence. */
  private def hasQuotedNewline(text: String, quote: Char): Boolean = {
    var inQ = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == quote) inQ = !inQ
      else if (c == '\n' && inQ) return true
      i += 1
    }
    false
  }

  /** Reference option name → Spark CSV option (full named-parameter list:
    * ReadCSVAddNamedParameters, duckdb-6.cpp:10271-10299). */
  private val optionMap = Map(
    "sep" -> "sep", "delim" -> "sep", "quote" -> "quote",
    "escape" -> "escape", "nullstr" -> "nullValue", "header" -> "header",
    "new_line" -> "lineSep", "dateformat" -> "dateFormat",
    "timestampformat" -> "timestampFormat", "compression" -> "compression",
    "ignore_errors" -> "mode", "all_varchar" -> "inferSchema")

  /** Options handled as transforms or accepted as documented no-ops:
    *  - skip=N            drop N physical lines before the header (per
    *                      path, emulated via a line-indexed text read)
    *  - union_by_name     per-file reads + unionByName(allowMissing)
    *  - filename          append the source file path column
    *  - normalize_names   lowercase + non-alphanumeric → '_'
    *  - names=[a,b,…]     positional column rename
    *  - columns={a:T,…}   explicit schema (no inference), reference
    *                      struct syntax
    *  - hive_partitioning Spark discovers key=value directories natively
    *  - auto_detect       dialect sniffing is the DEFAULT whenever a
    *                      dialect knob is unspecified (see [[sample]])
    *  - sample_size / sample_chunk_size / sample_chunks  sniffer hints;
    *                      this sniffer reads a fixed 64 KiB head and
    *                      Spark's type inference does a full pass
    *  - max_line_size / maximum_line_size / buffer_size / parallel
    *                      reader tuning knobs; Spark sizes its own
    *                      buffers and is always parallel
    *  - decimal_separator only '.' is supported (Spark's parser has no
    *                      locale separator; a non-default value raises)
    */
  private val transformKeys =
    Set("skip", "union_by_name", "filename", "normalize_names",
      "names", "columns", "hive_partitioning", "auto_detect",
      "sample_size", "sample_chunk_size", "sample_chunks",
      "max_line_size", "maximum_line_size", "buffer_size", "parallel",
      "decimal_separator")

  private def translate(opts: Map[String, String]): Map[String, String] =
    opts.map { case (k, v) =>
      optionMap.get(k.toLowerCase) match {
        case Some("mode") => "mode" -> (if (v == "true") "DROPMALFORMED" else "FAILFAST")
        case Some("inferSchema") => "inferSchema" -> (if (v == "true") "false" else "true")
        case Some(sk) => sk -> v
        case None => throw new IllegalArgumentException(
          s"unsupported CSV option: $k (supported: ${
            (optionMap.keys ++ transformKeys).toSeq.sorted.mkString(", ")})")
      }
    }

  private def normalizeName(n: String): String =
    n.map(c => if (c.isLetterOrDigit) c.toLower else '_')

  /** read_csv / read_csv_auto: header + schema inference by default
    * (the sniffer analog — Spark samples the file for dialect/type). */
  def read(spark: SparkSession, path: String,
           options: Map[String, String] = Map.empty): DataFrame = {
    val lower = options.map { case (k, v) => k.toLowerCase -> v }
    require(lower.get("decimal_separator").forall(_ == "."),
      "decimal_separator: only '.' is supported")
    val skip = lower.get("skip").map(_.toInt).getOrElse(0)
    val unionByName = lower.get("union_by_name").exists(_.toBoolean)
    val addFilename = lower.get("filename").exists(_.toBoolean)
    val normalize = lower.get("normalize_names").exists(_.toBoolean)
    // names=[a, b] / columns={a: 'TYPE', …} — reference list/struct syntax.
    // Split bracket/quote-aware (graft.SqlDialect.splitTopLevel) and on the
    // FIRST ':' only, so parenthesized types (DECIMAL(10,2), STRUCT<…>)
    // survive instead of MatchError-ing.
    val names = lower.get("names").map(
      _.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim.stripPrefix("'").stripSuffix("'")).toSeq)
    val columns = lower.get("columns").map(c =>
      graft.SqlDialect.splitTopLevel(c.trim.stripPrefix("{").stripSuffix("}"))
        .map(_.trim).filter(_.nonEmpty).map { kv =>
          val ci = kv.indexOf(':')
          require(ci > 0, s"columns: malformed entry '$kv' (expected name: 'TYPE')")
          val n = kv.substring(0, ci).trim.stripPrefix("'").stripSuffix("'")
          val t = kv.substring(ci + 1).trim.stripPrefix("'").stripSuffix("'")
          s"$n ${duckToSparkType(t)}"
        }.mkString(", "))
    val translated = translate(lower -- transformKeys).map {
      // reference format options are strftime text (writer note at
      // [[strftimeToJava]])
      case ("dateFormat", v) => "dateFormat" -> strftimeToJava(v)
      case ("timestampFormat", v) => "timestampFormat" -> strftimeToJava(v)
      case kv => kv
    }

    // Sniff whenever the caller leaves any dialect knob open — detected
    // values fill ONLY the unspecified knobs (explicit options always
    // win via the later option fold). Escape defaults to the detected
    // quote char: the reference's doubled-quote convention, which
    // Spark's parser honors when escape == quote (its own default is
    // backslash, which would mis-read RFC-4180 files).
    require(skip == 0 || !unionByName,
      "skip cannot be combined with union_by_name (skip is applied per file " +
        "before parsing; combine them by reading each file separately)")

    val delimGiven = lower.contains("sep") || lower.contains("delim")
    // read on demand and kept: the dialect needs one sample, the
    // per-file header detection below every file's
    val samples = dataFiles(spark, path).to(LazyList)
      .map(p => p -> readSample(spark, p, skip))
    // A partitioned write routinely produces header-only part files (an
    // empty input partition still writes its header line). Sniffing one of
    // those loses the dialect, so sniff the first file whose sample holds
    // >=2 physical records; fall back to the first data file when every
    // file is that short.
    val (text, truncated) = samples
      .find(_._2._1.linesIterator.count(_.trim.nonEmpty) >= 2)
      .getOrElse(samples.head)._2
    val sniffed: Option[Dialect] =
      if (delimGiven && lower.contains("quote") && lower.contains("header")) None
      else Some(sniffText(text, truncated))

    val effQuote: Char = lower.get("quote").filter(_.nonEmpty).map(_.charAt(0))
      .orElse(sniffed.map(_.quote)).getOrElse('"')
    val quotedNewlines = hasQuotedNewline(text, effQuote)

    // an explicit header option overrides `header` in the option fold
    def reader(header: Boolean): DataFrameReader = {
      var b = spark.read.option("inferSchema", columns.isEmpty.toString)
        .option("header", header.toString)
      sniffed.foreach { d =>
        if (!delimGiven) b = b.option("sep", d.delim.toString)
        if (!lower.contains("quote")) b = b.option("quote", d.quote.toString)
        if (!lower.contains("escape")) b = b.option("escape", d.quote.toString)
      }
      if (quotedNewlines) b = b.option("multiLine", "true")
      // hive_partitioning over a glob INTO the partition dirs: pin the
      // dataset root so Spark still derives the key=value columns
      if (lower.get("hive_partitioning").exists(_.toBoolean) &&
        path.contains("/*"))
        b = b.option("basePath", path.substring(0, path.indexOf("/*")))
      val base = columns.foldLeft(b) { case (acc, ddl) => acc.schema(ddl) }
      translated.foldLeft(base) { case (acc, (k, v)) => acc.option(k, v) }
    }
    val header = sniffed.forall(_.header)

    var df =
      if (skip > 0) {
        // no reader-level skip in Spark: read each file's lines with their
        // in-file index (zipWithIndex preserves text-split order), drop
        // the preamble PER FILE — the reference skips N lines of every
        // input file, so a global line index over a glob would only skip
        // the first file's preamble — and parse each remainder as CSV
        import spark.implicits._
        val files = globFiles(spark, path)
        require(files.nonEmpty, s"skip: no files match $path")
        files.map { f =>
          val lines = spark.sparkContext.textFile(f)
            .zipWithIndex().filter(_._2 >= skip).map(_._1)
          reader(header).csv(spark.createDataset(lines))
        }.reduce(_ unionByName _)
      } else if (unionByName) {
        // schema-per-file + name-based union (reference union_by_name):
        // missing columns null-fill, like MultiFileReader's column map
        val files = globFiles(spark, path)
        require(files.nonEmpty, s"union_by_name: no files match $path")
        files.map(f => reader(header).csv(f))
          .reduce(_.unionByName(_, allowMissingColumns = true))
      } else if (lower.contains("header")) reader(header).csv(path)
      else perFileHeader(path, sniffed.get, samples, reader)

    if (addFilename) df = df.withColumn("filename", input_file_name())
    if (normalize) df = df.toDF(df.columns.map(normalizeName).toIndexedSeq: _*)
    names.foreach { ns =>
      require(ns.length <= df.columns.length, "names: more names than columns")
      df = df.toDF((ns ++ df.columns.drop(ns.length)).toIndexedSeq: _*)
    }
    df
  }

  /** Read a glob whose files may disagree on having a header, as DuckDB
    * 1.0 does: each file's header is detected on its own sample, the
    * columns are named from the first file (`_c<i>` when it has no
    * header), and a header line is never read as data. One reader over
    * the path when every file agrees; otherwise one per header flag,
    * unioned by position. */
  private def perFileHeader(path: String, d: Dialect,
                            samples: Seq[(org.apache.hadoop.fs.Path, (String, Boolean))],
                            reader: Boolean => DataFrameReader): DataFrame = {
    val parsed = samples.map { case (p, (text, cut)) =>
      (p.toString, parseRecords(text, d.delim, d.quote, cut), cut)
    }
    val headers = parsed.map(f => sniffHeader(f._2))
    if (headers.distinct.length == 1) return reader(headers.head).csv(path)
    val names = parsed.head._2.headOption.toSeq.flatMap(_.zipWithIndex.map {
      case (n, i) => if (!headers.head || n.isEmpty) s"_c$i" else n
    })
    // a whole file that is one header line adds no rows
    val data = parsed.zip(headers).collect {
      case ((f, records, cut), h) if !(h && !cut && records.length == 1) => (f, h)
    }
    data.groupBy(_._2).toSeq.sortBy(!_._1).map { case (h, fs) =>
      val df = reader(h).csv(fs.map(_._1): _*)
      val own = df.columns.toSeq
      df.toDF((names.take(own.length) ++ own.drop(names.length)): _*)
    }.reduce(_ union _)
  }

  private def globFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(p)).getOrElse(Array.empty)
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Reference type name → Spark DDL type (shared with the dialect's
    * CREATE TABLE column-definition parsing). */
  private[graft] def duckToSparkDdl(t: String): String = duckToSparkType(t)

  private def duckToSparkType(t: String): String = t.toUpperCase match {
    case "VARCHAR" | "TEXT" => "STRING"
    case "INTEGER" | "INT" | "INT4" => "INT"
    case "BIGINT" | "INT8" | "HUGEINT" => "BIGINT"
    case "DOUBLE" | "REAL" | "FLOAT8" => "DOUBLE"
    case "BOOLEAN" | "BOOL" => "BOOLEAN"
    case "DATE" => "DATE"
    case "TIMESTAMP" => "TIMESTAMP"
    case other => other
  }

  /** COPY … TO 'path' (CSV): per-partition parallel write, like the
    * reference's per-thread CSV sink. */
  def write(df: DataFrame, path: String,
            options: Map[String, String] = Map.empty,
            partitionBy: Seq[String] = Seq.empty): Unit = {
    val lower = options.map { case (k, v) => k.toLowerCase -> v }
    val forceQuote = lower.get("force_quote").exists(_.toBoolean)
    val translated = translate(lower -- transformKeys - "force_quote")
      .map {
        // the reference's format strings are strftime text; Spark's
        // writer speaks DateTimeFormatter patterns (r17 BATTERY7)
        case ("dateFormat", v) => "dateFormat" -> strftimeToJava(v)
        case ("timestampFormat", v) => "timestampFormat" -> strftimeToJava(v)
        case kv => kv
      }
    var w = df.write.mode("overwrite")
      .option("header", "true")
      // the reference writer's dialect: doubled-quote escaping (Spark's
      // default escape is backslash, which its OWN reader then needs —
      // a write/read round-trip through reference options would
      // mis-parse embedded quotes without this; r17 BATTERY7 c04)
      .option("escape", lower.getOrElse("quote", "\""))
    if (forceQuote) w = w.option("quoteAll", "true")
    w = translated.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.csv(path)
  }

  /** strftime text → DateTimeFormatter pattern, for the CSV reader's
    * and writer's dateformat/timestampformat options (the reference's
    * option values are strftime; Spark's CSV codec only takes Java
    * patterns — the full strftime surface lives in the hand formatter,
    * `DuckStrFns.strftime`, but the codec path needs the translation
    * for the COMMON specifiers; anything outside raises). */
  private[graft] def strftimeToJava(f: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < f.length) {
      val c = f.charAt(i)
      if (c == '%' && i + 1 < f.length) {
        f.charAt(i + 1) match {
          case 'Y' => b.append("yyyy")
          case 'y' => b.append("yy")
          case 'm' => b.append("MM")
          case 'd' => b.append("dd")
          case 'H' => b.append("HH")
          case 'I' => b.append("hh")
          case 'M' => b.append("mm")
          case 'S' => b.append("ss")
          case 'f' => b.append("SSSSSS")
          case 'g' => b.append("SSS")
          case 'j' => b.append("DDD")
          case 'p' => b.append("a")
          case '%' => b.append('%')
          case other => throw new IllegalArgumentException(
            s"CSV dateformat/timestampformat: unsupported strftime " +
              s"specifier %$other (codec path supports " +
              "%Y %y %m %d %H %I %M %S %f %g %j %p)")
        }
        i += 2
      } else {
        if (c.isLetter) b.append('\'').append(c).append('\'')
        else b.append(c)
        i += 1
      }
    }
    b.toString
  }
}
