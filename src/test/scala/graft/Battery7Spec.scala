package graft

import org.apache.spark.sql.functions._

/** r17 battery-tranche-7 pins (per-case table BATTERY7_r17.json): the
  * COPY option matrix, nested-type casts (by-name structs, leaf-level
  * TRY), the reference's complex→VARCHAR rendering, sequence SQL, and
  * guardrail error-text parity. Every expected value duck-probed on
  * the same statement text.
  */
class Battery7Spec extends SparkSpec {

  private def one(sql: String) = SqlDialect.sql(spark, sql).head()
  private def str(sql: String) = one(sql).getString(0)

  test("struct casts match BY NAME, case-insensitive, reordered to target (probed)") {
    val r = one("SELECT CAST({'b': 1, 'a': 2} AS STRUCT(a INT, b INT)) AS s")
      .getStruct(0)
    assert(r.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(r.getInt(0) == 2 && r.getInt(1) == 1)
    val ci = one("SELECT CAST({'A': 1} AS STRUCT(a INT)) AS s").getStruct(0)
    assert(ci.schema.fieldNames.toSeq == Seq("a") && ci.getInt(0) == 1)
  }

  test("struct cast field-set mismatches raise the reference's exact texts (probed)") {
    val size = intercept[Exception](
      one("SELECT CAST({'a': 1} AS STRUCT(a INT, b INT))")).getMessage
    assert(size.contains("Mismatch Type Error: Type STRUCT(a INTEGER) does " +
      "not match with STRUCT(a INTEGER, b INTEGER). Cannot cast STRUCTs of " +
      "different size"))
    val elem = intercept[Exception](
      one("SELECT CAST({'a': 1, 'c': 2} AS STRUCT(a INT, b INT))")).getMessage
    assert(elem.contains("""element "c" in source struct was not found"""))
  }

  test("TRY_CAST nulls the failing LEAF, not the whole value (probed n06/n14/n19)") {
    val l = one("SELECT TRY_CAST(['1','x','3'] AS INT[]) AS l").getSeq[Any](0)
    assert(l == Seq(1, null, 3))
    val s = one("SELECT TRY_CAST({'a': 'x'} AS STRUCT(a INT)) AS s").getStruct(0)
    assert(s.isNullAt(0))
    assert(one("SELECT TRY_CAST('abc' AS STRUCT(a INT)) AS s").isNullAt(0))
  }

  test("NULL casts to NULL at the struct level; :: syntax reaches nested targets") {
    assert(one("SELECT CAST(NULL AS STRUCT(a INT)) AS s").isNullAt(0))
    val s = one("SELECT {'a': 1}::STRUCT(a BIGINT) AS s").getStruct(0)
    assert(s.getLong(0) == 1L)
  }

  test("complex-to-VARCHAR renders the reference's text (probed r01-r10)") {
    assert(str("SELECT CAST([1, NULL, 3] AS VARCHAR) AS s") == "[1, NULL, 3]")
    assert(str("SELECT CAST({'a': 1, 'b': 'x'} AS VARCHAR) AS s") ==
      "{'a': 1, 'b': x}")
    assert(str("SELECT CAST([1.5::DOUBLE, 2.0::DOUBLE, 0.1::DOUBLE] AS VARCHAR) AS s") ==
      "[1.5, 2.0, 0.1]")
    assert(str("SELECT CAST(MAP([1,2],['x',NULL]) AS VARCHAR) AS s") ==
      "{1=x, 2=NULL}")
    assert(str("SELECT CAST([TIMESTAMP '2024-03-09 14:05:06.120000'] AS VARCHAR) AS s") ==
      "[2024-03-09 14:05:06.12]")
    assert(str("SELECT CAST([INTERVAL 90 MINUTE] AS VARCHAR) AS s") ==
      "[01:30:00]")
  }

  test("MAP(keys_list, values_list) is the two-LIST constructor (probed r07 find)") {
    val m = one("SELECT MAP(['a','b'],[1,2]) AS m").getMap[String, Int](0)
    assert(m == Map("a" -> 1, "b" -> 2))
  }

  test("COPY TO option matrix round-trips (HEADER false, NULL str, QUOTE)") {
    SqlDialect.sql(spark, "COPY (SELECT 1 AS k, NULL AS s UNION ALL " +
      "SELECT 2, 'v') TO 'target/b7spec/t1' (FORMAT CSV, HEADER false, NULL 'NA')")
    val back = SqlDialect.sql(spark, "SELECT * FROM read_csv(" +
      "'target/b7spec/t1', header=false, names=['k','s'], nullstr='NA') " +
      "ORDER BY k").collect()
    assert(back.map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq == Seq((1, null), (2, "v")))
  }

  test("CSV writer uses the doubled-quote dialect; quoted newlines read back whole") {
    SqlDialect.sql(spark, "COPY (SELECT 'say \"hi\"' AS s, " +
      "'l1' || chr(10) || 'l2' AS t) TO 'target/b7spec/t2' (FORMAT CSV, HEADER)")
    val r = SqlDialect.sql(spark,
      "SELECT s, length(t) AS n FROM read_csv('target/b7spec/t2', header=true)")
      .head()
    assert(r.getString(0) == "say \"hi\"")
    assert(r.getLong(1) == 5L)
  }

  test("COPY TO PARTITION_BY writes a hive layout both formats read back") {
    SqlDialect.sql(spark, "COPY (SELECT k, k % 5 AS r FROM " +
      "(SELECT CAST(x AS INT) AS k FROM range(25) t(x)) q) " +
      "TO 'target/b7spec/t3' (FORMAT PARQUET, PARTITION_BY (r))")
    val n = SqlDialect.sql(spark, "SELECT CAST(count(DISTINCT r) AS BIGINT) " +
      "AS n FROM read_parquet('target/b7spec/t3/*/*.parquet', " +
      "hive_partitioning=true)").head().getLong(0)
    assert(n == 5L)
  }

  test("sequence SQL surface: CREATE/nextval/currval/DROP + reference errors") {
    SqlDialect.sql(spark, "DROP SEQUENCE IF EXISTS b7spec_s")
    SqlDialect.sql(spark, "CREATE SEQUENCE b7spec_s START 5 INCREMENT 3")
    assert(one("SELECT CAST(nextval('b7spec_s') AS BIGINT) AS v").getLong(0) == 5L)
    assert(one("SELECT CAST(nextval('b7spec_s') AS BIGINT) AS v").getLong(0) == 8L)
    assert(one("SELECT CAST(currval('b7spec_s') AS BIGINT) AS v").getLong(0) == 8L)
    val e = intercept[Exception](
      SqlDialect.sql(spark, "ALTER SEQUENCE b7spec_s RESTART")).getMessage
    assert(e.contains("Not implemented Error: ALTER SEQUENCE option not " +
      "supported yet!"), "the reference errors here too (probed d08)")
    val miss = intercept[Exception](
      one("SELECT currval('no_such_b7spec')")).getMessage
    assert(miss.contains(
      "Catalog Error: Sequence with name no_such_b7spec does not exist!"))
    SqlDialect.sql(spark, "DROP SEQUENCE b7spec_s")
  }

  test("non-final script statements EXECUTE (side-effecting SELECTs tick, probed d07)") {
    SqlDialect.sql(spark, "DROP SEQUENCE IF EXISTS b7spec_t; " +
      "CREATE SEQUENCE b7spec_t START 1")
    val c = one("SELECT CAST(nextval('b7spec_t') AS BIGINT) AS a; " +
      "SELECT CAST(nextval('b7spec_t') AS BIGINT) AS b; " +
      "SELECT CAST(currval('b7spec_t') AS BIGINT) AS c").getLong(0)
    assert(c == 2L, "both non-final nextval statements must have run")
  }

  test("r17 review fixes: MAP inside cast TYPE TEXT survives; try-map never throws") {
    // the two-arg MAP() constructor rewrite must not fire on MAP
    // tokens inside STRUCT(…)/MAP(…) cast targets
    val s = one("SELECT CAST({'m': MAP(['a'],[1])} AS " +
      "STRUCT(m MAP(VARCHAR, DOUBLE))) AS s").getStruct(0)
    assert(s.getMap[String, Double](0) == Map("a" -> 1.0))
    // a TRY-nulled KEY is unrepresentable in a Spark map — whole map
    // NULL (documented deviation: the reference keeps a NULL key),
    // never a runtime throw from a TRY_CAST
    assert(one("SELECT TRY_CAST(MAP(['x'],[1]) AS MAP(INT, INT)) AS m")
      .isNullAt(0))
  }

  test("r17 review fixes: sequence identifier folding, IF NOT EXISTS, bounds, CYCLE") {
    SqlDialect.sql(spark, "DROP SEQUENCE IF EXISTS b7rev_c")
    SqlDialect.sql(spark, "CREATE SEQUENCE B7Rev_C") // unquoted → folds
    assert(one("SELECT CAST(nextval('B7REV_C') AS BIGINT) AS v").getLong(0) == 1L,
      "nextval folds the name too (probed: CSeq/'CSEQ' hit one sequence)")
    // IF NOT EXISTS on an existing sequence is a NO-OP (counter kept)
    SqlDialect.sql(spark, "CREATE SEQUENCE IF NOT EXISTS b7rev_c")
    assert(one("SELECT CAST(nextval('b7rev_c') AS BIGINT) AS v").getLong(0) == 2L)
    // plain CREATE on an existing name raises the reference's text
    val dup = intercept[Exception](
      SqlDialect.sql(spark, "CREATE SEQUENCE b7rev_c")).getMessage
    assert(dup.contains("""Sequence with name "b7rev_c" already exists!"""))
    // MAXVALUE enforced with the reference's Sequence Error; CYCLE wraps
    SqlDialect.sql(spark, "DROP SEQUENCE IF EXISTS b7rev_m; " +
      "CREATE SEQUENCE b7rev_m MAXVALUE 2")
    SqlDialect.sql(spark,
      "SELECT nextval('b7rev_m'); SELECT nextval('b7rev_m')").collect()
    val over = intercept[Exception](
      one("SELECT nextval('b7rev_m')")).getMessage
    assert(over.contains(
      """Sequence Error: nextval: reached maximum value of sequence "b7rev_m" (2)"""))
    SqlDialect.sql(spark, "DROP SEQUENCE IF EXISTS b7rev_y; " +
      "CREATE SEQUENCE b7rev_y MAXVALUE 2 CYCLE")
    val wrapped = SqlDialect.sql(spark,
      "SELECT nextval('b7rev_y'); SELECT nextval('b7rev_y'); " +
        "SELECT CAST(nextval('b7rev_y') AS BIGINT) AS v").head().getLong(0)
    assert(wrapped == 1L, "CYCLE wraps to MINVALUE (probed)")
    // unrecognized options raise instead of silently dropping
    intercept[Exception](
      SqlDialect.sql(spark, "CREATE SEQUENCE b7rev_z OWNED BY t"))
    Seq("b7rev_c", "b7rev_m", "b7rev_y").foreach(n =>
      SqlDialect.sql(spark, s"DROP SEQUENCE IF EXISTS $n"))
  }

  test("r17 review fixes: blob leaves render the reference's \\xNN text") {
    assert(str("SELECT CAST([BLOB 'a\\x00b'] AS VARCHAR) AS s") ==
      "[a\\x00b]")
  }

  test("guardrail error-text parity: set-op arity + PK duplicate carry duck's text") {
    val arity = intercept[Exception](
      SqlDialect.sql(spark, "SELECT 1 UNION ALL SELECT 1, 2")).getMessage
    assert(arity.contains("Binder Error: Set operations can only apply to " +
      "expressions with the same number of result columns"))
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS b7spec_pk; " +
      "CREATE TABLE b7spec_pk(a INT PRIMARY KEY); " +
      "INSERT INTO b7spec_pk VALUES (1)")
    val dup = intercept[Exception](
      SqlDialect.sql(spark, "INSERT INTO b7spec_pk VALUES (1)")).getMessage
    assert(dup.contains("""Duplicate key "a: 1" violates primary key"""))
  }
}
