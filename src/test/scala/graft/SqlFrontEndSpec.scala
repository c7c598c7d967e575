package graft

import java.nio.file.Files

/** The token-driven statement front end ([[SqlDialect]]): string
  * literals and quoted identifiers never steer a rewrite, table-function
  * arguments bind to the balanced `)`, and a renamed table keeps its
  * declared metadata. Every expected value is DuckDB 1.0's result for the
  * same statement.
  */
class SqlFrontEndSpec extends SparkSpec {

  private def rows(sql: String): Seq[Seq[Any]] =
    SqlDialect.sql(spark, sql).collect().toSeq.map(_.toSeq).sortBy(_.toString)

  /** Statement → its rows. The `"o'clock"` identifiers hold a lone quote
    * character ahead of the clause the statement exercises. */
  private val cases: Seq[(String, Seq[Seq[Any]])] = Seq(
    "SELECT 'USING SAMPLE 5%' AS s" -> Seq(Seq("USING SAMPLE 5%")),
    "SELECT 'USING SAMPLE 3 ROWS' AS s" -> Seq(Seq("USING SAMPLE 3 ROWS")),
    "SELECT 'see duckdb_tables()' AS s" -> Seq(Seq("see duckdb_tables()")),
    "SELECT 'pragma_database_size()' AS s" -> Seq(Seq("pragma_database_size()")),
    "INSERT INTO fe_ret VALUES (1, 'a RETURNING b') RETURNING id" -> Seq(Seq(1)),
    """SELECT 1 AS "o'clock", 'abc' SIMILAR TO 'a.*' AS m""" -> Seq(Seq(1, true)),
    """INSERT INTO fe_ret SELECT 2 AS "o'clock", 'b' RETURNING id""" -> Seq(Seq(2)),
    """SELECT 1 AS "o'k" UNION ALL BY NAME SELECT 2 AS "o'k"""" -> Seq(Seq(1), Seq(2)),
    """SELECT 1 AS "o'clock", count(*) AS n FROM test_all_types()""" -> Seq(Seq(1, 3L)),
    // a signed exponent is part of its number literal
    "SELECT 10 / 1e-1" -> Seq(Seq(100.0)),
    "SELECT 3 - 1e-1" -> Seq(Seq(2.9)),
    "SELECT 2 ** 1e+1" -> Seq(Seq(1024.0)),
    "SELECT 1E-1 / 2" -> Seq(Seq(0.05)),
    "SELECT 5e-1 // 1" -> Seq(Seq(0.5)),
    "SELECT 1e-1::VARCHAR" -> Seq(Seq("0.1")),
    "SELECT 10 - 1E+1" -> Seq(Seq(0.0)),
    // a `[` after a struct literal subscripts it
    "SELECT {'a': 1}['a']" -> Seq(Seq(1)),
    "SELECT {'a': [5,6]}['a'][2]" -> Seq(Seq(6)),
    // result types: DOUBLE roundings, BIGINT lengths and positions
    "SELECT typeof(ceil(1.5::DOUBLE)), ceil(1.5::DOUBLE)" -> Seq(Seq("DOUBLE", 2.0)),
    "SELECT typeof(floor(-1.5::DOUBLE)), floor(-1.5::DOUBLE)" -> Seq(Seq("DOUBLE", -2.0)),
    "SELECT typeof(length('abc')), length('abc')" -> Seq(Seq("BIGINT", 3L)),
    "SELECT typeof(len([1, 2])), len([1, 2])" -> Seq(Seq("BIGINT", 2L)),
    "SELECT typeof(strpos('abc', 'b')), strpos('abc', 'b')" -> Seq(Seq("BIGINT", 2L)),
    "SELECT typeof(instr('abc', 'c')), instr('abc', 'c')" -> Seq(Seq("BIGINT", 3L)),
    "SELECT typeof(position('b' IN 'abc')), position('b' IN 'abc')" -> Seq(Seq("BIGINT", 2L)),
    "SELECT typeof(array_length([1, 2, 3])), array_length([1, 2, 3])" -> Seq(Seq("BIGINT", 3L)),
    // declared metadata in the reference's six columns and type names
    "CREATE OR REPLACE TABLE fe_ti (id INTEGER PRIMARY KEY, v VARCHAR NOT NULL DEFAULT 'x', " +
      "w DOUBLE); SELECT * FROM pragma_table_info('fe_ti')" -> Seq(
        Seq(0, "id", "INTEGER", true, null, true), Seq(1, "v", "VARCHAR", true, "'x'", false),
        Seq(2, "w", "DOUBLE", false, null, false)))

  for ((sql, want) <- cases) test(s"literal- and identifier-safe: $sql") {
    SqlDialect.sql(spark, "CREATE OR REPLACE TABLE fe_ret (id INTEGER, s VARCHAR)")
    assert(rows(sql) == want)
  }

  test("read_csv arguments bind to the balanced ')'") {
    val path = Files.createTempFile("fe_csv", ".csv")
    try {
      Files.writeString(path, "a,p\n1,2.50\n")
      val df = SqlDialect.sql(spark, s"SELECT * FROM read_csv('$path', header=true, " +
        "columns={'a': 'INTEGER', 'p': 'DECIMAL(10,2)'})")
      assert(df.schema.map(_.dataType.simpleString) == Seq("int", "decimal(10,2)"))
      val r = df.head()
      assert(r.getInt(0) == 1 && r.getDecimal(1) == new java.math.BigDecimal("2.50"))
    } finally Files.delete(path)
  }

  test("ALTER TABLE … RENAME TO carries keys and constraints to the new name") {
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS rn_a; DROP TABLE IF EXISTS rn_b")
    SqlDialect.sql(spark,
      "CREATE TABLE rn_a (id INTEGER PRIMARY KEY, v INTEGER NOT NULL)")
    SqlDialect.sql(spark, "INSERT INTO rn_a VALUES (1, 1)")
    SqlDialect.sql(spark, "ALTER TABLE rn_a RENAME TO rn_b")
    val nn = intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "INSERT INTO rn_b VALUES (3, NULL)"))
    assert(nn.getMessage.contains("NOT NULL constraint failed: rn_b.v"))
    val dup = intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "INSERT INTO rn_b VALUES (1, 5)"))
    assert(dup.getMessage.contains("""Duplicate key "id: 1" violates primary key"""))
    SqlDialect.sql(spark, "INSERT OR REPLACE INTO rn_b VALUES (1, 7)")
    assert(rows("SELECT id, v FROM rn_b") == Seq(Seq(1, 7)))
    assert(rows("SELECT table_name FROM duckdb_tables() WHERE table_name LIKE 'rn_%'") ==
      Seq(Seq("rn_b")))
    SqlDialect.sql(spark, "DROP TABLE rn_b")
  }

  test("ALTER TABLE … RENAME TO refuses while a FOREIGN KEY references the table") {
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS fc; DROP TABLE IF EXISTS fp")
    SqlDialect.sql(spark, "CREATE TABLE fp (id INTEGER PRIMARY KEY)")
    SqlDialect.sql(spark, "CREATE TABLE fc (pid INTEGER REFERENCES fp(id))")
    SqlDialect.sql(spark, "INSERT INTO fp VALUES (1), (2); INSERT INTO fc VALUES (1)")
    val e = intercept[IllegalArgumentException](
      SqlDialect.sql(spark, "ALTER TABLE fp RENAME TO fq"))
    assert(e.getMessage.contains(
      """Cannot alter entry "fp" because there are entries that depend on it."""))
    // the parent kept its name, so the child's key still guards it
    val del = intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "DELETE FROM fp WHERE id = 1"))
    assert(del.getMessage.contains("still referenced"))
    SqlDialect.sql(spark, "DROP TABLE fc; DROP TABLE fp")
  }
}
