package graft

import org.apache.spark.sql.functions._

class SqlDialectSpec extends SparkSpec {
  import spark.implicits._

  private def people() = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 5.0), (4L, "b", 7.0))
    .toDF("id", "grp", "v").createOrReplaceTempView("people")

  test("QUALIFY rewrites to subquery filter") {
    people()
    val out = SqlDialect.sql(spark,
      """SELECT id, grp, row_number() OVER (PARTITION BY grp ORDER BY v DESC) AS rn
        |FROM people QUALIFY rn = 1""".stripMargin)
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((2L, "a"), (4L, "b")))
  }

  test("QUALIFY with inline window expression auto-aliases") {
    people()
    val out = SqlDialect.sql(spark,
      "SELECT id, grp FROM people QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1")
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((2L, "a"), (4L, "b")))
    // output columns don't leak the injected alias
    val cols = SqlDialect.sql(spark,
      "SELECT id FROM people QUALIFY rank() OVER (ORDER BY v) <= 2").columns
    assert(cols.toSeq == Seq("id"))
  }

  test("DISTINCT ON keeps first row per key by ORDER BY") {
    people()
    val out = SqlDialect.sql(spark,
      "SELECT DISTINCT ON (grp) grp, id, v FROM people ORDER BY v DESC, id")
      .orderBy("grp").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a", 2L), ("b", 4L)))
  }

  test("LIMIT n% limits to a fraction of the result") {
    people()
    val out = SqlDialect.sql(spark, "SELECT id FROM people ORDER BY id LIMIT 50%")
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("USING SAMPLE n ROWS bounds the row count") {
    people()
    assert(SqlDialect.sql(spark, "SELECT * FROM people USING SAMPLE 3 ROWS").count() == 3)
  }

  test("star modifiers: EXCLUDE and REPLACE rewrite to EXCEPT + projection") {
    people()
    val ex = SqlDialect.sql(spark, "SELECT * EXCLUDE (v) FROM people WHERE id <= 2")
    assert(ex.columns.toSeq == Seq("id", "grp"))
    assert(ex.count() == 2)
    val rp = SqlDialect.sql(spark,
      "SELECT * REPLACE (v * 10 AS v) FROM people WHERE id = 1")
    assert(rp.columns.sorted.toSeq == Seq("grp", "id", "v"))
    assert(rp.select("v").head().getDouble(0) == 100.0)
    val both = SqlDialect.sql(spark,
      "SELECT * EXCLUDE (grp) REPLACE (round(v / 2, 1) AS v) FROM people WHERE id = 2")
    assert(both.columns.sorted.toSeq == Seq("id", "v"))
    assert(both.select("v").head().getDouble(0) == 10.0)
  }

  test("read_csv replacement scan") {
    val dir = "target/graft_csv_test/people"
    graft.sources.Csv.write(Seq((1, "x"), (2, "y")).toDF("k", "s"), dir)
    val out = SqlDialect.sql(spark, s"SELECT count(*) AS n, sum(k) AS sk FROM read_csv('$dir')")
    assert(out.head().getLong(0) == 2L)
  }
}

class CatalogDmlSpec extends SparkSpec {
  import spark.implicits._

  test("create / insert / update / delete lifecycle") {
    Engine.createTable(spark, "t_dml", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    Engine.insertInto(spark, "t_dml", Seq((3L, "c")).toDF("id", "s"))
    assert(spark.table("t_dml").count() == 3)
    Engine.updateWhere(spark, "t_dml", col("id") === 2, Map("s" -> lit("B")))
    assert(spark.table("t_dml").filter(col("s") === "B").count() == 1)
    Engine.deleteWhere(spark, "t_dml", col("id") === 1)
    assert(spark.table("t_dml").count() == 2)
    assert(spark.table("t_dml").filter(col("id") === 1).isEmpty)
  }

  test("DELETE with a NULL-evaluating predicate keeps the row (SQL semantics)") {
    Engine.createTable(spark, "t_del_null",
      Seq((1L, Some(5L)), (2L, None), (3L, Some(50L))).toDF("id", "v"))
    // v > 10 is NULL for id=2 — SQL DELETE removes only TRUE rows
    val n = Engine.sql(spark, "DELETE FROM t_del_null WHERE v > 10").head().getLong(0)
    assert(n == 1)
    assert(spark.table("t_del_null").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("tables / tableInfo / summarize introspection") {
    Engine.createTable(spark, "t_intro", Seq((1L, 2.5)).toDF("k", "v"))
    assert(Engine.tables(spark).filter(col("table_name") === "t_intro").count() == 1)
    val info = Engine.tableInfo(spark, "t_intro").collect()
    assert(info.map(_.getString(1)).toSeq == Seq("k", "v"))
    assert(info.map(_.getString(2)).toSeq == Seq("BIGINT", "DOUBLE"))
    assert(Engine.summarize(Seq(1.0, 2.0, 3.0).toDF("x")).count() > 0)
  }

  test("parameterized SQL (prepared-statement analog)") {
    Engine.createTable(spark, "t_param", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val out = spark.sql("SELECT count(*) AS n FROM t_param WHERE id > :lo",
      Map("lo" -> 1L))
    assert(out.head().getLong(0) == 1L)
  }
}

class CsvSpec extends SparkSpec {
  import spark.implicits._

  test("csv write/read roundtrip preserves values incl. doubles and nulls") {
    val df = Seq((1L, Some(1.5), "x"), (2L, None, "y,z"), (3L, Some(-0.25), null))
      .toDF("id", "v", "s")
    val dir = "target/graft_csv_test/roundtrip"
    graft.sources.Csv.write(df, dir)
    val back = graft.sources.Csv.read(spark, dir).orderBy("id").collect()
    assert(back.length == 3)
    assert(back(0).getDouble(1) == 1.5)
    assert(back(1).isNullAt(1))
    assert(back(1).getString(2) == "y,z") // quoted comma survives
    assert(back(2).getDouble(1) == -0.25)
  }

  test("reference option names translate (sep, nullstr, header)") {
    val df = Seq((1L, "a")).toDF("id", "s")
    val dir = "target/graft_csv_test/opts"
    graft.sources.Csv.write(df, dir, Map("sep" -> "|"))
    val back = graft.sources.Csv.read(spark, dir, Map("delim" -> "|")).collect()
    assert(back.head.getAs[Number]("id").longValue == 1L && back.head.getString(1) == "a")
  }

  test("unsupported reference options raise instead of silently diverging") {
    val e = intercept[IllegalArgumentException](
      graft.sources.Csv.read(spark, "target/none", Map("bogus_opt" -> "2")))
    assert(e.getMessage.contains("unsupported CSV option: bogus_opt"))
  }

  test("skip drops preamble lines before the header") {
    val p = java.nio.file.Paths.get("target/graft_csv_test/skip.csv")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      "junk1\njunk2\nid,v\n1,a\n2,b\n".getBytes)
    val back = graft.sources.Csv.read(spark, p.toString, Map("skip" -> "2"))
      .orderBy("id").collect()
    assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a"), (2, "b")))
  }

  test("skip applies per file across a glob, not once globally") {
    val dir = java.nio.file.Paths.get("target/graft_csv_test/skipglob")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("a.csv"), "junk\nid,v\n1,a\n".getBytes)
    java.nio.file.Files.write(dir.resolve("b.csv"), "junk\nid,v\n2,b\n".getBytes)
    val back = graft.sources.Csv.read(spark, dir.toString + "/*.csv",
      Map("skip" -> "1")).orderBy("id").collect()
    // a global skip would leave b.csv's preamble as a data row
    assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b")))
  }

  test("skip combined with union_by_name is rejected explicitly") {
    val e = intercept[IllegalArgumentException](graft.sources.Csv.read(
      spark, "target/none", Map("skip" -> "1", "union_by_name" -> "true")))
    assert(e.getMessage.contains("union_by_name"))
  }

  test("columns option carries parenthesized types (DECIMAL(10,2))") {
    val p = java.nio.file.Paths.get("target/graft_csv_test/dec.csv")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, "a,b\n1.25,x\n".getBytes)
    val typed = graft.sources.Csv.read(spark, p.toString,
      Map("columns" -> "{'a': 'DECIMAL(10,2)', 'b': 'VARCHAR'}"))
    assert(typed.schema.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq(("a", "decimal(10,2)"), ("b", "string")))
    assert(typed.head().getDecimal(0).toPlainString == "1.25")
  }

  test("names / columns options: rename and explicit schema") {
    val p = java.nio.file.Paths.get("target/graft_csv_test/named.csv")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, "c1,c2\n1,x\n2,y\n".getBytes)
    val renamed = graft.sources.Csv.read(spark, p.toString,
      Map("names" -> "['id','tag']"))
    assert(renamed.columns.toSeq == Seq("id", "tag"))
    val typed = graft.sources.Csv.read(spark, p.toString,
      Map("columns" -> "{'a': 'BIGINT', 'b': 'VARCHAR'}"))
    assert(typed.schema.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq(("a", "bigint"), ("b", "string")))
  }

  test("SQL read_csv with named options") {
    val p = java.nio.file.Paths.get("target/graft_csv_test/sqlopts.csv")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, "junk\nid|v\n1|a\n2|b\n".getBytes)
    val rows = graft.SqlDialect.sql(spark,
      s"SELECT id, v FROM read_csv('${p}', delim='|', skip=1, names=['id','v']) ORDER BY id")
      .collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b")))
  }

  test("union_by_name merges differing per-file schemas; filename appends path") {
    val dir = java.nio.file.Paths.get("target/graft_csv_test/ubn")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("a.csv"), "id,x\n1,10\n".getBytes)
    java.nio.file.Files.write(dir.resolve("b.csv"), "id,y\n2,20\n".getBytes)
    val back = graft.sources.Csv.read(spark, dir.toString + "/*.csv",
      Map("union_by_name" -> "true", "filename" -> "true", "normalize_names" -> "true"))
    assert(back.columns.toSet == Set("id", "x", "y", "filename"))
    val rows = back.orderBy("id").collect()
    assert(rows.length == 2 && rows(0).getAs[Any]("y") == null &&
      rows(1).getAs[Any]("x") == null)
    assert(rows.forall(_.getString(3).endsWith(".csv")))
  }

  test("pinnedSession memoizes one configured child per (parent, key)") {
    var configured = 0
    val c1 = Engine.pinnedSession(spark, "spec-key") { c =>
      configured += 1
      c.conf.set("spark.sql.shuffle.partitions", "7")
    }
    val c2 = Engine.pinnedSession(spark, "spec-key")(_ => configured += 1)
    // same key → the SAME installed child; the loser's configure never
    // re-runs on the installed instance
    assert(c1 eq c2)
    assert(configured == 1)
    assert(c1.conf.get("spark.sql.shuffle.partitions") == "7")
    // the parent's conf is untouched by the child's pin
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "7")
    // a different key gets its own child
    val c3 = Engine.pinnedSession(spark, "spec-key-2")(_ => ())
    assert(!(c3 eq c1))
    // same SparkContext underneath — a child is a session, not a cluster
    assert(c1.sparkContext eq spark.sparkContext)
  }

  test("table-provenance registry: CTAS is a table not a view; rename and view-takes-name follow (r13)") {
    Engine.registerAll(spark, "/root/testdata/sf0.001")
    def views() = Engine.viewsTable(spark).collect().map(_.getString(1)).toSet
    def tables() = Engine.tables(spark).collect().map(_.getString(0)).toSet
    SqlDialect.sql(spark, "CREATE OR REPLACE TABLE prov_a AS SELECT 1 AS x")
    assert(!views().contains("prov_a") && tables().contains("prov_a"))
    // base parquet registrations stay views (the oracle harness's shape)
    assert(views().contains("nation"))
    // rename carries the provenance
    SqlDialect.sql(spark, "ALTER TABLE prov_a RENAME TO prov_b")
    assert(!views().contains("prov_b") && tables().contains("prov_b"))
    // a CREATE VIEW over the same name flips it back to a view
    SqlDialect.sql(spark, "CREATE OR REPLACE VIEW prov_b AS SELECT 2 AS y")
    assert(views().contains("prov_b"))
    // DROP clears the mark, so a later VIEW of the same name lists
    SqlDialect.sql(spark, "CREATE OR REPLACE TABLE prov_c (z BIGINT)")
    assert(!views().contains("prov_c"))
    SqlDialect.sql(spark, "DROP TABLE prov_c")
    SqlDialect.sql(spark, "CREATE OR REPLACE VIEW prov_c AS SELECT 3 AS z")
    assert(views().contains("prov_c"))
    Seq("prov_b", "prov_c").foreach(n => SqlDialect.sql(spark, s"DROP VIEW $n"))
  }
}
