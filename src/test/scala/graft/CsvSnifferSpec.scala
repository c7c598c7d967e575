package graft

import graft.sources.Csv
import org.apache.spark.sql.functions._

/** Dialect sniffer unit + end-to-end coverage (reference read_csv_auto
  * / BufferedCSVReader, duckdb-4.cpp:1949-3700). The cross-engine
  * fixture check is the `csv_sniffer` oracle row; this spec pins the
  * detection rules themselves on crafted ambiguous inputs.
  */
class CsvSnifferSpec extends SparkSpec {

  private def sniff(text: String): Csv.Dialect = Csv.sniffText(text, truncated = false)

  test("detects each candidate delimiter from consistent columns") {
    assert(sniff("a,b,c\n1,2,3\n4,5,6\n") == Csv.Dialect(',', '"', header = true))
    assert(sniff("a|b|c\n1|2|3\n4|5|6\n") == Csv.Dialect('|', '"', header = true))
    assert(sniff("a;b;c\n1;2;3\n4;5;6\n") == Csv.Dialect(';', '"', header = true))
    assert(sniff("a\tb\tc\n1\t2\t3\n4\t5\t6\n") == Csv.Dialect('\t', '"', header = true))
  }

  test("quoting hides delimiters and doubled quotes inside fields") {
    // an unquoted count would see ragged rows and reject ';'
    val d = sniff("k;v\n1;\"x;\"\"y\"\"\"\n2;\"a;b\"\n")
    assert(d == Csv.Dialect(';', '"', header = true))
    val recs = Csv.parseRecords("1;\"x;\"\"y\"\"\"\n", ';', '"', truncated = false)
    assert(recs == Vector(Vector("1", "x;\"y\"")))
  }

  test("single-quote dialect wins when double quotes would break consistency") {
    val d = sniff("k,v\n1,'a,\"b'\n2,'c,d'\n")
    assert(d.delim == ',' && d.quote == '\'')
  }

  test("header only when first row is untyped over a typed body") {
    assert(!sniff("1,2,3\n4,5,6\n").header)            // numeric first row
    assert(sniff("id,score\n1,2.5\n2,3.5\n").header)   // typed body below names
    assert(sniff("day,flag\n2024-01-02,true\n2024-01-03,false\n").header)
    assert(!sniff("a,b\nx,y\nz,w\n").header)           // all-varchar: no evidence
  }

  test("single all-varchar record defaults header=true (reference bias)") {
    // the common producer of this shape is a header-only part file from an
    // empty write partition — the reference sniffer treats an all-varchar
    // first row as a header (duckdb-4.cpp:1949-3700)
    assert(sniff("l_orderkey,l_quantity,l_tax\n").header)
    assert(!sniff("1,2,3\n").header) // a typed single record is data
  }

  test("header-only leading part file does not poison directory sniffing") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_sniff_parts_")
    // Spark writes an empty input partition as a header-only CSV part
    Files.write(dir.resolve("part-00000"), "id,qty\n".getBytes)
    Files.write(dir.resolve("part-00001"), "id,qty\n1,10\n2,20\n".getBytes)
    Files.write(dir.resolve("_SUCCESS"), Array.empty[Byte])
    val df = Csv.read(spark, dir.toString)
    assert(df.columns.toSeq == Seq("id", "qty"))
    assert(df.agg(sum(col("qty"))).head().getLong(0) == 30L)
  }

  test("a quoted newline in the sampled file is read whole behind a header-only file") {
    import java.nio.file.Files
    // the quoted-newline scan reads the sniffer's sample, which skips
    // the header-only first file
    def glob(b: String): String = {
      val dir = Files.createTempDirectory("graft_sniff_qnl_")
      Files.write(dir.resolve("a.csv"), "id,note\n".getBytes)
      Files.write(dir.resolve("b.csv"), (b + "1,\"line one\nline two\"\n2,plain\n").getBytes)
      s"$dir/*.csv"
    }
    // every file with its header: DuckDB 1.0 returns these 2 rows
    val headed = Csv.read(spark, glob("id,note\n"))
    assert(headed.columns.toSeq == Seq("id", "note"))
    assert(headed.collect().map(_.getString(1)).toSeq.sorted ==
      Seq("line one\nline two", "plain"))
    // a headerless data file: the record is not torn either
    val bare = Csv.read(spark, glob("")).collect().flatMap(_.toSeq).map(String.valueOf)
    assert(bare.contains("line one\nline two") && !bare.exists(_.contains("two\"")))
  }

  test("each file of a glob is sniffed for its own header (DuckDB 1.0)") {
    import java.nio.file.Files
    def glob(files: (String, String)*): String = {
      val dir = Files.createTempDirectory("graft_sniff_hdr_")
      files.foreach { case (n, body) => Files.write(dir.resolve(n), body.getBytes) }
      s"$dir/*.csv"
    }
    // a header-only file names the columns of a headerless one and adds
    // no row: DuckDB returns these 2 rows under id, note
    val named = Csv.read(spark,
      glob("a.csv" -> "id,note\n", "b.csv" -> "1,\"line one\nline two\"\n2,plain\n"))
    assert(named.columns.toSeq == Seq("id", "note"))
    assert(named.collect().map(r => (r.get(0).toString, r.getString(1))).toSeq.sortBy(_._1) ==
      Seq(("1", "line one\nline two"), ("2", "plain")))
    // a headed file followed by a headerless one: no header line as data
    val mixed = Csv.read(spark, glob("a.csv" -> "id,qty\n1,10\n", "b.csv" -> "2,20\n3,30\n"))
    assert(mixed.columns.toSeq == Seq("id", "qty"))
    assert(mixed.agg(sum(col("qty")), count(lit(1))).head().toSeq == Seq(60L, 3L))
  }

  test("newlines inside quoted fields do not split records") {
    val recs = Csv.parseRecords("1,\"a\nb\",2\n3,c,4\n", ',', '"', truncated = false)
    assert(recs == Vector(Vector("1", "a\nb", "2"), Vector("3", "c", "4")))
  }

  test("truncated samples drop the partial trailing record") {
    val full = Csv.parseRecords("1,2\n3,4", ',', '"', truncated = false)
    assert(full == Vector(Vector("1", "2"), Vector("3", "4")))
    val cut = Csv.parseRecords("1,2\n3,4", ',', '"', truncated = true)
    assert(cut == Vector(Vector("1", "2")))
  }

  test("end-to-end: sniffed read matches an explicit-options read") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_sniff_")
    val f = dir.resolve("auto.csv")
    Files.write(f, "id;name;score\n1;\"a;b\";2.5\n2;c;3.5\n".getBytes)
    val auto = Csv.read(spark, f.toString)
    val explicit = Csv.read(spark, f.toString,
      Map("delim" -> ";", "quote" -> "\"", "header" -> "true"))
    assert(auto.columns.toSeq == Seq("id", "name", "score"))
    assert(auto.collect().toSeq == explicit.collect().toSeq)
    assert(auto.schema("id").dataType.typeName == "integer")
    assert(auto.filter(col("name") === "a;b").count() == 1)
  }

  test("end-to-end: gzip sample is decompressed before sniffing") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_sniff_gz_")
    val f = dir.resolve("auto.csv.gz")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
    gz.write("k|v\n1|10\n2|20\n".getBytes)
    gz.close()
    val df = Csv.read(spark, f.toString)
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.agg(sum(col("v"))).head().getLong(0) == 30L)
  }
}
