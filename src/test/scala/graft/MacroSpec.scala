package graft

import org.apache.spark.sql.functions._

/** Dialect-shim rewrites, including CREATE MACRO bind-time inlining
  * (reference ScalarMacroFunction duckdb-internal.hpp:9920,
  * TableMacroFunction duckdb-internal.hpp:9955).
  */
class MacroSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("scalar macro inlines with parameter substitution") {
    SqlDialect.sql(spark, "CREATE MACRO m_add(a, b) AS a + b")
    val out = SqlDialect.sql(spark, "SELECT m_add(2, 3) AS v").head().getInt(0)
    assert(out == 5)
  }

  test("macro default and named arguments") {
    SqlDialect.sql(spark, "CREATE MACRO m_scale(x, f := 10) AS x * f")
    assert(SqlDialect.sql(spark, "SELECT m_scale(3) AS v").head().getInt(0) == 30)
    assert(SqlDialect.sql(spark, "SELECT m_scale(3, f := 2) AS v").head().getInt(0) == 6)
  }

  test("nested macros expand recursively") {
    SqlDialect.sql(spark, "CREATE MACRO m_inner(x) AS x * 2")
    SqlDialect.sql(spark, "CREATE MACRO m_outer(y) AS m_inner(y) + 1")
    assert(SqlDialect.sql(spark, "SELECT m_outer(5) AS v").head().getInt(0) == 11)
  }

  test("simultaneous substitution: argument containing another param name") {
    SqlDialect.sql(spark, "CREATE MACRO m_sub(a, b) AS a - b")
    // a := b+1, b := 2 — naive sequential replace would corrupt the first arg
    spark.range(1).createOrReplaceTempView("one_row")
    val v = SqlDialect.sql(spark,
      "SELECT m_sub(b, 2) AS v FROM (SELECT 10 AS b FROM one_row)").head().getInt(0)
    assert(v == 8)
  }

  test("macro name inside a string literal is not expanded") {
    SqlDialect.sql(spark, "CREATE MACRO m_lit(x) AS x + 1")
    val out = SqlDialect.sql(spark, "SELECT 'm_lit(9)' AS s, m_lit(1) AS v").head()
    assert(out.getString(0) == "m_lit(9)" && out.getInt(1) == 2)
  }

  test("table macro expands to a subquery in FROM") {
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "tag")
      .createOrReplaceTempView("tm_src")
    SqlDialect.sql(spark,
      "CREATE MACRO tm_top(n) AS TABLE SELECT * FROM tm_src ORDER BY id LIMIT n")
    val rows = SqlDialect.sql(spark,
      "SELECT t.id FROM tm_top(2) t ORDER BY t.id").collect().map(_.getInt(0))
    assert(rows.toSeq == Seq(1, 2))
  }

  test("UNION ALL BY NAME matches columns by name and null-fills") {
    val rows = SqlDialect.sql(spark,
      "SELECT 1 AS a, 'x' AS b UNION ALL BY NAME SELECT 'y' AS b, 2 AS a, 9 AS c")
      .orderBy("a").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows.map(_.getString(1)).toSeq == Seq("x", "y"))
    assert(rows(0).isNullAt(2) && rows(1).getInt(2) == 9)
  }

  test("UNION BY NAME (no ALL) dedups") {
    val n = SqlDialect.sql(spark,
      "SELECT 1 AS a UNION BY NAME SELECT 1 AS a UNION BY NAME SELECT 2 AS a").count()
    assert(n == 2)
  }

  test("PREPARE/EXECUTE binds $n and ? placeholders outside quotes") {
    spark.range(1).createOrReplaceTempView("one_row2")
    SqlDialect.sql(spark,
      "PREPARE p_add AS SELECT $1 + $2 AS v, '$1 ?' AS lit FROM one_row2")
    val r = SqlDialect.sql(spark, "EXECUTE p_add(3, 4)").head()
    assert(r.getInt(0) == 7 && r.getString(1) == "$1 ?")
    SqlDialect.sql(spark, "PREPARE p_pos AS SELECT ? + ? AS v FROM one_row2")
    assert(SqlDialect.sql(spark, "EXECUTE p_pos(5, 6)").head().getInt(0) == 11)
    SqlDialect.sql(spark, "DEALLOCATE p_add")
    intercept[Exception](SqlDialect.sql(spark, "EXECUTE p_add(1, 2)"))
  }

  test("EXPLAIN / SET / PRAGMA / SHOW TABLES statement surface") {
    spark.range(3).toDF("x").createOrReplaceTempView("stmt_demo")
    val ex = SqlDialect.sql(spark, "EXPLAIN SELECT x FROM stmt_demo WHERE x > 1").head()
    assert(ex.getString(0) == "physical_plan" && ex.getString(1).contains("Range"))
    SqlDialect.sql(spark, "SET spark.graft.test.knob = 'on'")
    assert(spark.conf.get("spark.graft.test.knob") == "on")
    val ti = SqlDialect.sql(spark, "PRAGMA table_info('stmt_demo')").collect()
    assert(ti.map(_.getString(1)).toSeq == Seq("x"))
    assert(SqlDialect.sql(spark, "SHOW TABLES").collect()
      .exists(_.getString(0) == "stmt_demo"))
  }

  test("duckdb_schemas/views/settings + PRAGMA database_size (r12 long tail)") {
    spark.range(3).toDF("x").createOrReplaceTempView("intro_demo")
    // schemas: Spark's default database surfaces as the reference's main
    assert(SqlDialect.sql(spark,
      "SELECT schema_name FROM duckdb_schemas()").collect()
      .exists(_.getString(0) == "main"))
    // views: temp views list under their names
    assert(SqlDialect.sql(spark,
      "SELECT view_name FROM duckdb_views() WHERE view_name = 'intro_demo'")
      .count() == 1)
    // settings: the reference's resource-setting names resolve, and the
    // session's SQL conf rides along
    val st = SqlDialect.sql(spark,
      "SELECT name FROM duckdb_settings() WHERE name IN ('threads', 'memory_limit')")
      .collect().map(_.getString(0)).sorted
    assert(st.toSeq == Seq("memory_limit", "threads"))
    // database_size: statement + table-fn forms, one well-formed row
    val ds = SqlDialect.sql(spark, "PRAGMA database_size").collect()
    assert(ds.length == 1 && ds.head.getString(0) == "graft")
    assert(SqlDialect.sql(spark,
      "SELECT database_name FROM pragma_database_size()").count() == 1)
  }

  test("EXPLAIN ANALYZE reports executed-plan operators with row counts") {
    spark.range(100).selectExpr("id % 7 AS g", "id AS v")
      .createOrReplaceTempView("ea_demo")
    val prof = SqlDialect.sql(spark,
      "EXPLAIN ANALYZE SELECT g, sum(v) AS s FROM ea_demo GROUP BY g").collect()
    assert(prof.nonEmpty)
    assert(prof.map(_.getInt(0)).toSeq == prof.indices.toSeq) // stable ids
    // the topmost operator with an output-rows metric emits the result
    // cardinality (7 groups) regardless of the physical plan chosen
    val top = prof.find(!_.isNullAt(3)).get
    assert(top.getLong(3) == 7L)
    // some operator observed the 100 scanned input rows
    assert(prof.exists(r => !r.isNullAt(3) && r.getLong(3) == 100L))
    // tree shape: child depth strictly increases from the root
    assert(prof.head.getInt(1) == 0 && prof.exists(_.getInt(1) > 0))
  }

  test("SQL DML: insert is positional, update/delete report changed rows") {
    SqlDialect.sql(spark, "CREATE OR REPLACE TABLE dml_t AS SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(k, v)")
    val ins = SqlDialect.sql(spark, "INSERT INTO dml_t VALUES (3, 'c'), (4, 'd')")
    assert(ins.head().getLong(0) == 2L)
    val upd = SqlDialect.sql(spark, "UPDATE dml_t SET v = 'z' WHERE k >= 3")
    assert(upd.head().getLong(0) == 2L)
    val del = SqlDialect.sql(spark, "DELETE FROM dml_t WHERE k = 1")
    assert(del.head().getLong(0) == 1L)
    val rows = SqlDialect.sql(spark, "SELECT k, v FROM dml_t ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((2, "b"), (3, "z"), (4, "z")))
    SqlDialect.sql(spark, "ALTER TABLE dml_t RENAME TO dml_u")
    SqlDialect.sql(spark, "ALTER TABLE dml_u ADD COLUMN extra BIGINT")
    SqlDialect.sql(spark, "ALTER TABLE dml_u DROP COLUMN extra")
    SqlDialect.sql(spark, "ALTER TABLE dml_u RENAME COLUMN v TO w")
    assert(SqlDialect.sql(spark, "SELECT w FROM dml_u WHERE k = 2").head().getString(0) == "b")
    SqlDialect.sql(spark, "DROP TABLE dml_u")
    intercept[Exception](spark.table("dml_u"))
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS dml_u") // no-throw
    assert(SqlDialect.sql(spark, "ANALYZE").isEmpty)
    assert(SqlDialect.sql(spark, "VACUUM").isEmpty)
  }

  test("CREATE TABLE AS takes a snapshot, not a live view") {
    spark.range(5).toDF("z").createOrReplaceTempView("ctas_src")
    SqlDialect.sql(spark, "CREATE OR REPLACE TABLE ctas_t AS SELECT sum(z) AS s FROM ctas_src")
    // mutate the source after the CTAS — the snapshot must not move
    spark.range(100).toDF("z").createOrReplaceTempView("ctas_src")
    assert(SqlDialect.sql(spark, "SELECT s FROM ctas_t").head().getLong(0) == 10L)
  }

  test("DESCRIBE / CHECKPOINT / BEGIN / COMMIT / ROLLBACK statements") {
    spark.range(3).toDF("y").createOrReplaceTempView("stmt_demo2")
    val d = SqlDialect.sql(spark, "DESCRIBE stmt_demo2").collect()
    assert(d.map(_.getString(1)).toSeq == Seq("y"))
    assert(SqlDialect.sql(spark, "CHECKPOINT").isEmpty)
    assert(SqlDialect.sql(spark, "FORCE CHECKPOINT").isEmpty)
    assert(SqlDialect.sql(spark, "BEGIN TRANSACTION").isEmpty)
    assert(SqlDialect.sql(spark, "COMMIT").isEmpty)
    // silently ignoring ROLLBACK would fake an undo — it must refuse
    intercept[UnsupportedOperationException] {
      SqlDialect.sql(spark, "ROLLBACK")
    }
  }

  test("DROP MACRO removes the definition") {
    SqlDialect.sql(spark, "CREATE MACRO m_gone(x) AS x")
    SqlDialect.sql(spark, "DROP MACRO m_gone")
    intercept[Exception] {
      SqlDialect.sql(spark, "SELECT m_gone(1) AS v").collect()
    }
  }

  test("known-unsupported DuckDB constructs fail with a NAMED error, not a Spark parse error") {
    val cases = Seq(
      "ATTACH 'other.db' AS other" -> "ATTACH",
      "DETACH other" -> "DETACH",
      "INSTALL httpfs" -> "INSTALL",
      "LOAD httpfs" -> "LOAD",
      "CREATE INDEX idx ON nation (n_name)" -> "CREATE INDEX",
      "DROP INDEX idx" -> "DROP INDEX")
    for ((sqlText, name) <- cases) {
      val e = intercept[UnsupportedOperationException](SqlDialect.sql(spark, sqlText))
      assert(e.getMessage.contains("unsupported DuckDB construct"), s"$sqlText: ${e.getMessage}")
      assert(e.getMessage.contains(name), s"$sqlText: ${e.getMessage}")
    }
    // the same tokens inside string literals must NOT trip the guard
    // (SIMILAR TO / RETURNING are implemented surfaces as of round 5 —
    // the literal-token check keeps covering the rewrite guards too)
    import spark.implicits._
    val ok = SqlDialect.sql(spark,
      "SELECT 'ATTACH me SIMILAR TO a RETURNING clause' AS s").as[String].head()
    assert(ok.contains("SIMILAR TO"))
  }

  test("SIMILAR TO rewrites to anchored RLIKE (full-string regex match)") {
    Engine.registerAll(spark, dir)
    import spark.implicits._
    // names are NATION_0..NATION_24 (synthetic generator)
    val n = SqlDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE n_name SIMILAR TO '.*(_1|_2).*'")
      .head().getLong(0)
    assert(n > 0)
    // the pattern must match whole-string (anchored), not substring
    val anchored = SqlDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE n_name SIMILAR TO 'ATION_1'")
      .head().getLong(0)
    assert(anchored == 0, "SIMILAR TO must match the WHOLE string")
    val neg = SqlDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE n_name NOT SIMILAR TO '.*1.*'")
      .head().getLong(0)
    val pos = SqlDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE n_name SIMILAR TO '.*1.*'")
      .head().getLong(0)
    assert(neg + pos == 25, s"NOT SIMILAR TO must complement (got $neg + $pos)")
  }

  test("FOREIGN KEY: referential checks on INSERT/UPDATE, parent DELETE blocked while referenced") {
    Engine.registerAll(spark, dir)
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS fks_child")
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS fks_parent")
    SqlDialect.sql(spark, "CREATE TABLE fks_parent (id INT PRIMARY KEY, nm VARCHAR)")
    SqlDialect.sql(spark, "INSERT INTO fks_parent VALUES (1, 'a'), (2, 'b')")
    // column-level REFERENCES with an omitted column list resolves to
    // the parent's declared PRIMARY KEY
    SqlDialect.sql(spark,
      "CREATE TABLE fks_child (cid INT PRIMARY KEY, pid INT REFERENCES fks_parent, v INT)")
    SqlDialect.sql(spark, "INSERT INTO fks_child VALUES (10, 1, 5), (11, NULL, 6)")
    // INSERT with a missing parent key raises the reference's error
    val ei = intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "INSERT INTO fks_child VALUES (12, 99, 7)"))
    assert(ei.getMessage.contains("foreign key"))
    // UPDATE moving the FK to a missing key raises; to an existing key passes
    val eu = intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "UPDATE fks_child SET pid = 42 WHERE cid = 10"))
    assert(eu.getMessage.contains("foreign key"))
    SqlDialect.sql(spark, "UPDATE fks_child SET pid = 2 WHERE cid = 10")
    // parent DELETE of a still-referenced key raises; unreferenced passes
    val ed = intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "DELETE FROM fks_parent WHERE id = 2"))
    assert(ed.getMessage.contains("still referenced"))
    SqlDialect.sql(spark, "DELETE FROM fks_parent WHERE id = 1")
    // table-level composite syntax parses and enforces too
    SqlDialect.sql(spark,
      """CREATE TABLE fks_child2 (a INT, b INT,
        |  FOREIGN KEY (a) REFERENCES fks_parent (id))""".stripMargin)
    intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "INSERT INTO fks_child2 VALUES (77, 0)"))
    SqlDialect.sql(spark, "INSERT INTO fks_child2 VALUES (2, 0)")
    // the off-switch bypasses the probe for bulk loads
    spark.conf.set("spark.graft.validateConstraints", "false")
    try SqlDialect.sql(spark, "INSERT INTO fks_child2 VALUES (500, 1)")
    finally spark.conf.unset("spark.graft.validateConstraints")
    Seq("fks_child2", "fks_child", "fks_parent").foreach(t =>
      SqlDialect.sql(spark, s"DROP TABLE $t"))
  }

  test("FOREIGN KEY: CHECK+REFERENCES order, parent UPDATE removes key, DROP dependency") {
    Engine.registerAll(spark, dir)
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS fko_child")
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS fko_parent")
    SqlDialect.sql(spark, "CREATE TABLE fko_parent (id INT PRIMARY KEY, nm VARCHAR)")
    SqlDialect.sql(spark, "INSERT INTO fko_parent VALUES (1, 'a'), (2, 'b')")
    // column constraints in EITHER order: CHECK before REFERENCES used
    // to swallow the FK into the check text (self-review r10)
    SqlDialect.sql(spark,
      "CREATE TABLE fko_child (cid INT PRIMARY KEY, pid INT CHECK (pid > 0) REFERENCES fko_parent(id))")
    SqlDialect.sql(spark, "INSERT INTO fko_child VALUES (10, 1)")
    intercept[Engine.ConstraintViolation]( // FK registered despite CHECK-first
      SqlDialect.sql(spark, "INSERT INTO fko_child VALUES (11, 99)"))
    intercept[Engine.ConstraintViolation]( // CHECK registered too
      SqlDialect.sql(spark, "INSERT INTO fko_child VALUES (12, -5)"))
    // parent UPDATE that removes a still-referenced key raises; a
    // same-key or unreferenced-key update passes
    val eu = intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "UPDATE fko_parent SET id = 77 WHERE id = 1"))
    assert(eu.getMessage.contains("still referenced"))
    SqlDialect.sql(spark, "UPDATE fko_parent SET id = 88 WHERE id = 2") // unreferenced
    SqlDialect.sql(spark, "UPDATE fko_parent SET nm = 'z' WHERE id = 1") // non-key
    // DROP of a referenced parent raises the dependency error
    val ed = intercept[IllegalArgumentException](
      SqlDialect.sql(spark, "DROP TABLE fko_parent"))
    assert(ed.getMessage.contains("depend"))
    SqlDialect.sql(spark, "DROP TABLE fko_child")
    SqlDialect.sql(spark, "DROP TABLE fko_parent") // now unreferenced
  }

  test("r11 constraint hardening: replace-dependency, FK-in-literal, self-FK delete, UPDATE key uniqueness") {
    Engine.registerAll(spark, dir)
    Seq("fkr_child", "fkr_parent", "fkr_self", "fkr_lit", "fkr_uni").foreach(t =>
      SqlDialect.sql(spark, s"DROP TABLE IF EXISTS $t"))
    // CREATE OR REPLACE TABLE of an FK-referenced parent raises the same
    // dependency error as DROP (ead240d:ADVICE.md — children would keep stale
    // resolved FKs against a vanished schema)
    SqlDialect.sql(spark, "CREATE TABLE fkr_parent (id INT PRIMARY KEY)")
    SqlDialect.sql(spark, "INSERT INTO fkr_parent VALUES (1)")
    SqlDialect.sql(spark,
      "CREATE TABLE fkr_child (cid INT, pid INT REFERENCES fkr_parent(id))")
    val er = intercept[IllegalArgumentException](SqlDialect.sql(spark,
      "CREATE OR REPLACE TABLE fkr_parent AS SELECT 9 AS id"))
    assert(er.getMessage.contains("depend"))
    val er2 = intercept[IllegalArgumentException](SqlDialect.sql(spark,
      "CREATE OR REPLACE TABLE fkr_parent (id INT PRIMARY KEY, extra INT)"))
    assert(er2.getMessage.contains("depend"))
    SqlDialect.sql(spark, "DROP TABLE fkr_child")
    SqlDialect.sql(spark, "DROP TABLE fkr_parent")
    // the word REFERENCES inside a CHECK expression's string literal is
    // NOT an FK (quote- and paren-guarded extraction)
    SqlDialect.sql(spark,
      "CREATE TABLE fkr_lit (id INT PRIMARY KEY, v VARCHAR CHECK (v <> 'references x'))")
    SqlDialect.sql(spark, "INSERT INTO fkr_lit VALUES (1, 'anything')") // no FK probe
    SqlDialect.sql(spark, "DROP TABLE fkr_lit")
    // self-referential FK: deleting a key together with every row that
    // references it is consistent (post-delete probe, ead240d:ADVICE.md)
    SqlDialect.sql(spark,
      "CREATE TABLE fkr_self (id INT PRIMARY KEY, mgr INT REFERENCES fkr_self(id))")
    SqlDialect.sql(spark, "INSERT INTO fkr_self VALUES (1, NULL), (2, 1), (3, NULL)")
    val es = intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "DELETE FROM fkr_self WHERE id = 1")) // 2 still points at 1
    assert(es.getMessage.contains("still referenced"))
    SqlDialect.sql(spark, "DELETE FROM fkr_self WHERE id <= 2") // 1 and its referencer
    assert(SqlDialect.sql(spark, "SELECT count(*) AS n FROM fkr_self")
      .head().getLong(0) == 1L)
    SqlDialect.sql(spark, "DROP TABLE fkr_self")
    // key-modifying UPDATE uniqueness (round-8 residual): rewriting a
    // key onto an existing value raises; onto a fresh value passes
    SqlDialect.sql(spark, "CREATE TABLE fkr_uni (id INT PRIMARY KEY, v INT)")
    SqlDialect.sql(spark, "INSERT INTO fkr_uni VALUES (1, 10), (2, 20)")
    val ek = intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "UPDATE fkr_uni SET id = 2 WHERE id = 1"))
    assert(ek.getMessage.contains("Duplicate key"))
    SqlDialect.sql(spark, "UPDATE fkr_uni SET id = 3 WHERE id = 1")
    assert(SqlDialect.sql(spark, "SELECT sum(id) AS s FROM fkr_uni")
      .head().getLong(0) == 5L)
    SqlDialect.sql(spark, "DROP TABLE fkr_uni")
  }

  test("quoted-ident rewrite: \"x\" folds to backticks, brackets and strings untouched") {
    Engine.registerAll(spark, dir)
    // "order" is a quoted identifier (the reference's standard form) —
    // rewritten to backticks so Spark does not read it as a string
    val r = SqlDialect.sql(spark,
      "SELECT n_nationkey AS \"order\", n_name FROM nation WHERE n_nationkey = 3")
    assert(r.columns.toSeq == Seq("order", "n_name"))
    // bracket LIST syntax and bracket text inside strings survive the
    // rewrite verbatim (self-review r11 #1: brackets are never idents)
    val kept = SqlDialect.rewriteCore(spark,
      "SELECT '[not an ident]' AS s, 1 AS x FROM nation")
    assert(kept.contains("'[not an ident]'"))
    assert(SqlDialect.sql(spark,
      "SELECT '[not an ident]' AS s FROM nation LIMIT 1").head().getString(0)
      == "[not an ident]")
  }

  test("COLLATE after CASE WHEN / in DISTINCT ON keys is not poisoned context") {
    Engine.registerAll(spark, dir)
    // a CASE earlier in the projection must not pin 'pred' on later items
    val v = SqlDialect.sql(spark,
      """SELECT CASE WHEN n_nationkey > 5 THEN 'x' ELSE 'y' END AS flag,
        |  n_name COLLATE NOCASE AS nm FROM nation WHERE n_nationkey = 1""".stripMargin)
      .head().getString(1)
    assert(v == v.toUpperCase && v.startsWith("NATION"))
    // sort context after a CASE still folds
    val sorted = SqlDialect.sql(spark,
      """SELECT n_name FROM nation
        |ORDER BY CASE WHEN n_nationkey < 0 THEN '' ELSE n_name END COLLATE NOCASE
        |LIMIT 2""".stripMargin).collect()
    assert(sorted.length == 2)
    // DISTINCT ON key position folds (comparison semantics), no raise
    val n = SqlDialect.sql(spark,
      """SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name
        |FROM nation ORDER BY n_regionkey, n_name""".stripMargin).count()
    assert(n == 5)
  }

  test("CREATE OR REPLACE TABLE AS clears the replaced table's constraint registry") {
    Engine.registerAll(spark, dir)
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS ctas_cons")
    SqlDialect.sql(spark,
      "CREATE TABLE ctas_cons (id INT PRIMARY KEY, v VARCHAR NOT NULL)")
    SqlDialect.sql(spark, "INSERT INTO ctas_cons VALUES (1, 'a')")
    intercept[Engine.ConstraintViolation](
      SqlDialect.sql(spark, "INSERT INTO ctas_cons VALUES (2, NULL)"))
    // the replacement drops the declared column entirely — stale
    // constraints on it must not outlive the old table
    SqlDialect.sql(spark,
      "CREATE OR REPLACE TABLE ctas_cons AS SELECT n_nationkey AS nk FROM nation")
    SqlDialect.sql(spark, "INSERT INTO ctas_cons VALUES (99)")
    val n = SqlDialect.sql(spark, "SELECT count(*) AS n FROM ctas_cons")
      .head().getLong(0)
    assert(n == 26)
    SqlDialect.sql(spark, "DROP TABLE ctas_cons")
  }

  test("WITH names ending in 'as' with a column list split correctly") {
    Engine.registerAll(spark, dir)
    // 'atlas' ends in AS — the CTE splitter must not treat the column
    // list paren as the CTE body (QUALIFY forces the split + rewrite)
    val rows = SqlDialect.sql(spark,
      """WITH atlas (a, b) AS (SELECT n_nationkey, n_regionkey FROM nation)
        |SELECT a, b FROM atlas QUALIFY row_number() OVER (ORDER BY a) <= 3""".stripMargin)
      .collect()
    assert(rows.length == 3 && rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    // chain: a second CTE after the column-list form
    val n = SqlDialect.sql(spark,
      """WITH atlas (a) AS (SELECT n_nationkey FROM nation),
        |     bigas AS (SELECT a FROM atlas WHERE a > 10)
        |SELECT a FROM bigas QUALIFY row_number() OVER (ORDER BY a) = 1""".stripMargin)
      .head().getInt(0)
    assert(n == 11)
  }

  test("COLLATE is position-sensitive: projected value keeps case, sort key folds, grouping raises") {
    Engine.registerAll(spark, dir)
    // projected position: the annotation must NOT change the value
    // (reference collation registry, duckdb-5.cpp:5156)
    val v = SqlDialect.sql(spark,
      "SELECT n_name COLLATE NOCASE AS nm FROM nation WHERE n_nationkey = 1")
      .head().getString(0)
    assert(v == v.toUpperCase && v.startsWith("NATION"), s"projected COLLATE mutated the value: $v")
    // sort-key position folds the KEY only
    val sorted = SqlDialect.sql(spark,
      "SELECT n_name FROM nation ORDER BY n_name COLLATE NOCASE LIMIT 3")
      .collect().map(_.getString(0))
    assert(sorted.forall(s => s == s.toUpperCase))
    // grouping / aggregate-argument positions raise the named error
    // instead of silently changing which rows group
    val eg = intercept[IllegalArgumentException](SqlDialect.sql(spark,
      "SELECT count(*) AS n FROM nation GROUP BY n_name COLLATE NOCASE"))
    assert(eg.getMessage.contains("COLLATE"))
    val ea = intercept[IllegalArgumentException](SqlDialect.sql(spark,
      "SELECT min(n_name COLLATE NOCASE) AS m FROM nation"))
    assert(ea.getMessage.contains("COLLATE"))
  }

  test("COLLATE operand spans are token-structural (r14: left-side fold, deep nesting, brackets, CASE)") {
    Engine.registerAll(spark, dir)
    // LEFT-side comparison folds both sides (duck-probed r14: the old
    // regex only saw `lhs op rhs COLLATE` and raised on this form)
    val l = SqlDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE n_name COLLATE NOCASE = 'nation_1'")
      .head().getLong(0)
    assert(l == 1L)
    // operand nesting beyond the old regex's two paren levels
    // (duck-replayed: 1)
    val d = SqlDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE " +
        "concat(substr(n_name, 1, length(n_name)), '') = 'nation_1' COLLATE NOCASE")
      .head().getLong(0)
    assert(d == 1L)
    // bracket indexing is part of the operand (the old atom shapes had
    // no bracket form at all). r15: subscripts are 1-BASED like the
    // reference (duck-probed — [0] is NULL), so the first split part
    // is [1]
    val b = SqlDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE " +
        "split(n_name, '_')[1] COLLATE NOCASE = 'NATION'").head().getLong(0)
    assert(b == 25L)
    // CASE … END is one atom: comparison fold (duck-replayed: 1) and
    // sort fold (duck-replayed: A,a,B,b — the old scanner classified
    // inside the ELSE branch and silently DROPPED the annotation)
    val c = SqlDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE " +
        "CASE WHEN n_nationkey >= 0 THEN n_name ELSE '' END = 'nation_2' COLLATE NOCASE")
      .head().getLong(0)
    assert(c == 1L)
    val s = SqlDialect.sql(spark,
      """SELECT s FROM (VALUES ('b'),('A'),('a'),('B')) v(s)
        |ORDER BY CASE WHEN 1 < 0 THEN '' ELSE s END COLLATE NOCASE, s""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(s == Seq("A", "a", "B", "b"), s"got $s")
    // a chain across :: binds the whole cast result (r15: the VARCHAR
    // cast itself now renders through duck_str — same operand span)
    val cast = SqlDialect.rewriteCore(spark,
      "SELECT * FROM t ORDER BY x::VARCHAR COLLATE NOCASE")
    assert(cast.contains("lower(duck_str(x))"), cast)
  }

  test("COLLATE comparison forms beyond binary ops (r14b, every value duck-probed)") {
    Engine.registerAll(spark, dir)
    def b(sql: String): Boolean = SqlDialect.sql(spark, sql).head().getBoolean(0)
    def i(sql: String): Int = SqlDialect.sql(spark, sql).head().getInt(0)
    // BETWEEN folds operand + both bounds (duck: true / false)
    assert(b("SELECT 'B' COLLATE NOCASE BETWEEN 'a' AND 'c' AS v"))
    assert(!b("SELECT 'B' COLLATE NOCASE NOT BETWEEN 'a' AND 'c' AS v"))
    // IN folds operand + every element; NOT IN negates (duck: true / false)
    assert(b("SELECT 'B' COLLATE NOCASE IN ('b', 'x') AS v"))
    assert(!b("SELECT 'B' COLLATE NOCASE NOT IN ('b', 'x') AS v"))
    // an ELEMENT's own annotation triggers the same whole-membership fold
    assert(b("SELECT 'B' IN ('b' COLLATE NOCASE, 'x') AS v"))
    // parenthesized operand: the annotation binds THROUGH the group
    assert(b("SELECT ('B' COLLATE NOCASE) IN ('b', 'x') AS v"))
    // IN (subquery): annotation IGNORED — byte semantics (duck probed
    // on this exact query: 0 rows; the fold would make it 1)
    assert(SqlDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE n_name COLLATE NOCASE IN " +
        "(SELECT lower(n_name) FROM nation WHERE n_nationkey = 1)")
      .head().getLong(0) == 0L)
    // IS [NOT] DISTINCT FROM folds both sides, annotation on EITHER
    // side (duck: false / true / false / true)
    assert(!b("SELECT 'B' COLLATE NOCASE IS DISTINCT FROM 'b' AS v"))
    assert(b("SELECT 'B' COLLATE NOCASE IS NOT DISTINCT FROM 'b' AS v"))
    assert(!b("SELECT 'B' IS DISTINCT FROM 'b' COLLATE NOCASE AS v"))
    assert(b("SELECT 'B' IS NOT DISTINCT FROM 'b' COLLATE NOCASE AS v"))
    // LIKE family ignores the annotation on either side (duck: false /
    // true / false) — including in PREDICATE position, where the named
    // error used to fire
    assert(!b("SELECT 'B' COLLATE NOCASE LIKE 'b%' AS v"))
    assert(b("SELECT 'B' COLLATE NOCASE NOT LIKE 'b%' AS v"))
    assert(!b("SELECT 'b' COLLATE NOCASE SIMILAR TO 'B.*' AS v"))
    assert(SqlDialect.sql(spark,
      "SELECT 1 AS v FROM nation WHERE n_name COLLATE NOCASE LIKE 'zzz%'")
      .collect().isEmpty)
    // quantified comparison vs subquery: annotation IGNORED like the
    // IN-subquery form (duck probed: byte semantics). Spark has no
    // `= ANY (subquery)` surface, so the drop is asserted on the
    // rewrite itself
    assert(SqlDialect.rewriteCollate(
      "SELECT 1 WHERE x COLLATE NOCASE = ANY (SELECT y FROM t)")
      == "SELECT 1 WHERE x = ANY (SELECT y FROM t)")
    // IS [NOT] NULL: annotation irrelevant, drops (duck: false / true)
    assert(!b("SELECT 'B' COLLATE NOCASE IS NULL AS v"))
    assert(b("SELECT 'B' COLLATE NOCASE IS NOT NULL AS v"))
    // simple-CASE operand and WHEN comparands fold as one matching
    // group (duck: 1 / 1 / 1); THEN results untouched
    assert(i("SELECT CASE 'B' COLLATE NOCASE WHEN 'b' THEN 1 ELSE 0 END AS v") == 1)
    assert(i("SELECT CASE 'B' WHEN 'b' COLLATE NOCASE THEN 1 ELSE 0 END AS v") == 1)
    assert(i("SELECT CASE 'ÄB' COLLATE NOACCENT WHEN 'AB' THEN 1 WHEN 'x' THEN 2 ELSE 0 END AS v") == 1)
    // predicate position now folds instead of raising (duck: 1 row)
    assert(SqlDialect.sql(spark,
      "SELECT n_nationkey FROM nation WHERE n_name COLLATE NOCASE IN ('NATION_1')")
      .collect().length == 1)
    // mixed collations raise the reference's binder error
    val em = intercept[IllegalArgumentException](SqlDialect.sql(spark,
      "SELECT 'B' COLLATE NOCASE IN ('b', 'X' COLLATE NOACCENT) AS v"))
    assert(em.getMessage.contains("different collation"))
    // mid-chain annotation does NOT survive concat into the comparison
    // (duck: false — byte semantics once past an operator the chain
    // walk cannot claim for the annotation site)
    assert(!b("SELECT 'a' COLLATE NOCASE || 'b' = 'AB' AS v"))
    assert(b("SELECT ('a' || 'b') COLLATE NOCASE = 'AB' AS v"))
  }

  test("macro substitution is token-scoped (r14): strings, quoted idents, dotted refs untouched") {
    Engine.registerAll(spark, dir)
    SqlDialect.sql(spark, "CREATE OR REPLACE MACRO mtok(v) AS v + 1")
    // a parameter name inside a string literal or behind a dot is not
    // the parameter; the call site expands normally
    val r = SqlDialect.sql(spark,
      "SELECT mtok(n_nationkey) AS a, 'v stays' AS s, n.n_nationkey AS v " +
        "FROM nation n WHERE n_nationkey = 1").head()
    assert(r.getAs[Number](0).longValue == 2L)
    assert(r.getString(1) == "v stays")
    assert(r.getAs[Number](2).longValue == 1L)
    // a macro NAME inside a string literal is not a call site
    val txt = SqlDialect.sql(spark,
      "SELECT 'mtok(9)' AS s FROM nation WHERE n_nationkey = 1").head().getString(0)
    assert(txt == "mtok(9)")
    // body references behind a dot stay columns: the macro can safely
    // use a param name that collides with a table column
    SqlDialect.sql(spark, "CREATE OR REPLACE MACRO mcol(n_name) AS length(n_name)")
    val c = SqlDialect.sql(spark,
      "SELECT mcol('ab') AS l FROM nation WHERE n_nationkey = 1").head()
    assert(c.getAs[Number](0).longValue == 2L)
    SqlDialect.sql(spark, "DROP MACRO mtok")
    SqlDialect.sql(spark, "DROP MACRO mcol")
  }

  test("COLLATE in scalar-function arguments is a pass-through (r12, probed)") {
    Engine.registerAll(spark, dir)
    // reference-probed: scalar calls ignore the annotation entirely —
    // upper(x COLLATE NOCASE) = upper(x), greatest is byte-ordered
    val r = SqlDialect.sql(spark,
      "SELECT upper(n_name COLLATE NOCASE) AS u, " +
        "greatest(n_name COLLATE NOCASE, 'ZZZ') AS g " +
        "FROM nation WHERE n_nationkey = 1").head()
    assert(r.getString(0) == r.getString(0).toUpperCase)
    assert(r.getString(1) == "ZZZ")
    // one expression boundary strips it even under a binding aggregate
    val m = SqlDialect.sql(spark,
      "SELECT min(concat(n_name COLLATE NOCASE, '')) AS m FROM nation").head()
    assert(m.getString(0) != null)
    // plain parens are transparent (probed: min((x COLLATE NOCASE))
    // still binds), an intervening call bounds the search
    assert(graft.SqlLex.callNameAt("SELECT min((x ), y) FROM t",
      "SELECT min((x ".length) == "min")
    assert(graft.SqlLex.callNameAt("SELECT min(concat(x , '')) FROM t",
      "SELECT min(concat(x ".length) == "concat")
    val ep = intercept[IllegalArgumentException](SqlDialect.sql(spark,
      "SELECT min((n_name COLLATE NOCASE)) AS m FROM nation"))
    assert(ep.getMessage.contains("COLLATE"))
    // sorted-aggregate internal ORDER BY drops the annotation (probed:
    // string_agg byte-ordered either way in the reference) — rewrite
    // asserted textually, since Spark cannot parse duck's agg-internal
    // ORDER BY either way; a WINDOW's ORDER BY binds it (probed:
    // row_number OVER folds); OVER frames bound the call search
    val sa = SqlDialect.rewriteCore(spark,
      "SELECT string_agg(n_name, ',' ORDER BY n_name COLLATE NOCASE) AS s FROM nation")
    assert(!sa.toLowerCase.contains("collate") && !sa.toLowerCase.contains("lower("),
      s"sorted-agg COLLATE should drop, not fold: $sa")
    assert(graft.SqlLex.callNameAt(
      "SELECT coalesce(sum(x) OVER (ORDER BY y ), 0) FROM t",
      "SELECT coalesce(sum(x) OVER (ORDER BY y ".length) == "")
    // a subquery frame bounds the search too: its ORDER BY is a real
    // sort (duck binds collation there), not a call argument
    assert(graft.SqlLex.callNameAt(
      "SELECT coalesce((SELECT x FROM t ORDER BY y LIMIT 1), '') FROM u",
      "SELECT coalesce((SELECT x FROM t ORDER BY y ".length) == "")
    val w = SqlDialect.sql(spark,
      "SELECT n_name, row_number() OVER (ORDER BY n_name COLLATE NOCASE, " +
        "n_nationkey) AS rn FROM nation WHERE n_nationkey IN (1, 2)")
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    // folded window order = lower(n_name): ARGENTINA before BRAZIL holds
    // in either collation here, but the statement must PARSE and fold
    assert(w.size == 2)
  }

  test("COPY FROM ingests a COPY TO file through the table's schema") {
    Engine.registerAll(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("copyfrom").toString
    SqlDialect.sql(spark,
      s"COPY (SELECT n_nationkey, n_name FROM nation) TO '$tmp/n.csv' (FORMAT CSV, HEADER)")
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS cf_spec")
    SqlDialect.sql(spark, "CREATE TABLE cf_spec (k BIGINT, name VARCHAR)")
    val n = SqlDialect.sql(spark,
      s"COPY cf_spec FROM '$tmp/n.csv' (FORMAT CSV, HEADER)").head().getLong(0)
    assert(n == 25)
    val total = SqlDialect.sql(spark,
      "SELECT count(*) AS n, sum(k) AS s FROM cf_spec").head()
    assert(total.getLong(0) == 25 && total.getLong(1) == (0 to 24).sum)
    // appends, not replaces (INSERT semantics, like the reference)
    SqlDialect.sql(spark, s"COPY cf_spec FROM '$tmp/n.csv' (FORMAT CSV, HEADER)")
    assert(spark.table("cf_spec").count() == 50)
  }

  test("RETURNING yields changed rows for INSERT, DELETE and UPDATE") {
    Engine.registerAll(spark, dir)
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS ret_spec")
    SqlDialect.sql(spark,
      "CREATE OR REPLACE TABLE ret_spec AS SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name FROM nation")
    val ins = SqlDialect.sql(spark,
      "INSERT INTO ret_spec VALUES (100, 'XENIA'), (101, 'YORK') RETURNING k, name")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(ins.toSeq == Seq((100L, "XENIA"), (101L, "YORK")))
    val del = SqlDialect.sql(spark,
      "DELETE FROM ret_spec WHERE k >= 100 RETURNING *").collect()
    assert(del.length == 2 && spark.table("ret_spec").count() == 25)
    val upd = SqlDialect.sql(spark,
      "UPDATE ret_spec SET k = k + 1000 WHERE k < 3 RETURNING k, name")
      .collect().map(_.getLong(0)).sorted
    assert(upd.toSeq == Seq(1000L, 1001L, 1002L), "RETURNING must see NEW values")
    // conflict-clause combination refuses loudly
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS ret_pk")
    SqlDialect.sql(spark, "CREATE TABLE ret_pk (k INTEGER PRIMARY KEY, v VARCHAR)")
    intercept[UnsupportedOperationException] {
      SqlDialect.sql(spark,
        "INSERT OR REPLACE INTO ret_pk VALUES (1, 'a') RETURNING *")
    }
    // RETURNING on a non-DML statement refuses loudly
    intercept[UnsupportedOperationException] {
      SqlDialect.sql(spark, "SELECT 1 AS x RETURNING x")
    }
  }

  test("RETURNING edge cases: zero-row DML, expressions, quoted-literal trap") {
    Engine.registerAll(spark, dir)
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS ret_edge")
    SqlDialect.sql(spark,
      "CREATE OR REPLACE TABLE ret_edge AS SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name FROM nation")
    // zero-row DELETE: empty result with the RETURNING schema, table intact
    val del0 = SqlDialect.sql(spark,
      "DELETE FROM ret_edge WHERE k > 9999 RETURNING k, name")
    assert(del0.columns.toSeq == Seq("k", "name") && del0.count() == 0)
    assert(spark.table("ret_edge").count() == 25)
    // zero-row UPDATE: same contract
    val upd0 = SqlDialect.sql(spark,
      "UPDATE ret_edge SET k = k + 1 WHERE k > 9999 RETURNING *")
    assert(upd0.count() == 0)
    assert(spark.table("ret_edge").count() == 25)
    // RETURNING computed expressions (with nested commas/parens)
    val ins = SqlDialect.sql(spark,
      "INSERT INTO ret_edge VALUES (200, 'zed') RETURNING k + 1 AS k1, concat(name, '!') AS nm")
      .collect()
    assert(ins.length == 1 && ins(0).getLong(0) == 201L && ins(0).getString(1) == "zed!")
    // the word RETURNING inside a string literal is NOT a clause
    val lit = SqlDialect.sql(spark,
      "INSERT INTO ret_edge VALUES (201, 'not RETURNING x')")
    assert(lit.columns.toSeq == Seq("count"))
    assert(spark.table("ret_edge").where("name = 'not RETURNING x'").count() == 1)
  }

  test("INSERT OR REPLACE / ON CONFLICT DO NOTHING / DO UPDATE over a declared key") {
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS oc_t")
    SqlDialect.sql(spark, "CREATE TABLE oc_t (k INTEGER PRIMARY KEY, v VARCHAR, n INTEGER)")
    SqlDialect.sql(spark, "INSERT INTO oc_t VALUES (1, 'a', 1), (2, 'b', 2)")
    // replace existing + insert fresh
    val r = SqlDialect.sql(spark,
      "INSERT OR REPLACE INTO oc_t VALUES (2, 'B', 20), (3, 'c', 3)").head().getLong(0)
    assert(r == 2)
    // conflicting row skipped, fresh row inserted — count reports INSERTED rows
    val n = SqlDialect.sql(spark,
      "INSERT INTO oc_t VALUES (1, 'zz', 99), (4, 'd', 4) ON CONFLICT DO NOTHING")
      .head().getLong(0)
    assert(n == 1)
    // DO UPDATE applies assignments with excluded.* visible
    SqlDialect.sql(spark,
      "INSERT INTO oc_t VALUES (1, 'A2', 10), (5, 'e', 5) " +
        "ON CONFLICT (k) DO UPDATE SET n = n + excluded.n, v = excluded.v")
    val got = spark.table("oc_t").orderBy("k").collect()
      .map(row => (row.getInt(0), row.getString(1), row.getInt(2))).toSeq
    assert(got == Seq((1, "A2", 11), (2, "B", 20), (3, "c", 3), (4, "d", 4), (5, "e", 5)))
    // conflict clause without a declared key refuses loudly
    SqlDialect.sql(spark, "CREATE TABLE oc_nokey AS SELECT 1 AS a")
    val e = intercept[IllegalArgumentException](SqlDialect.sql(spark,
      "INSERT OR REPLACE INTO oc_nokey VALUES (1)"))
    assert(e.getMessage.contains("no PRIMARY KEY"))
  }

  test("declared constraints reject with the reference's named errors") {
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS con_t")
    SqlDialect.sql(spark,
      "CREATE TABLE con_t (id INTEGER PRIMARY KEY, name VARCHAR NOT NULL, " +
        "tag VARCHAR UNIQUE, v INTEGER CHECK (v >= 0))")
    SqlDialect.sql(spark, "INSERT INTO con_t VALUES (1, 'a', 't1', 5)")
    // plain-INSERT duplicate key (stored row)
    val dup = intercept[Engine.ConstraintViolation](SqlDialect.sql(spark,
      "INSERT INTO con_t VALUES (1, 'x', 't9', 1)"))
    assert(dup.getMessage.contains("Duplicate key") &&
      dup.getMessage.contains("primary key"))
    // within-batch duplicate key
    val dup2 = intercept[Engine.ConstraintViolation](SqlDialect.sql(spark,
      "INSERT INTO con_t VALUES (7, 'x', 't7', 1), (7, 'y', 't8', 2)"))
    assert(dup2.getMessage.contains("primary key"))
    // UNIQUE column (not the PK)
    val uq = intercept[Engine.ConstraintViolation](SqlDialect.sql(spark,
      "INSERT INTO con_t VALUES (2, 'b', 't1', 1)"))
    assert(uq.getMessage.contains("unique"))
    // NOT NULL — raises even under OR IGNORE (reference semantics:
    // OR IGNORE forgives only key conflicts)
    val nn = intercept[Engine.ConstraintViolation](SqlDialect.sql(spark,
      "INSERT OR IGNORE INTO con_t VALUES (3, NULL, 't3', 1)"))
    assert(nn.getMessage.contains("NOT NULL constraint failed: con_t.name"))
    // NULL PK part hits the implied NOT NULL, like the reference
    val nnpk = intercept[Engine.ConstraintViolation](SqlDialect.sql(spark,
      "INSERT INTO con_t VALUES (NULL, 'n', 't4', 1)"))
    assert(nnpk.getMessage.contains("NOT NULL constraint failed: con_t.id"))
    // CHECK
    val ck = intercept[Engine.ConstraintViolation](SqlDialect.sql(spark,
      "INSERT INTO con_t VALUES (4, 'd', 't5', -1)"))
    assert(ck.getMessage.contains("CHECK constraint failed: con_t"))
    // NULL passes CHECK (SQL three-valued logic); multiple NULL tags
    // pass UNIQUE
    SqlDialect.sql(spark, "INSERT INTO con_t VALUES (5, 'e', NULL, NULL)")
    SqlDialect.sql(spark, "INSERT INTO con_t VALUES (6, 'f', NULL, 2)")
    assert(spark.table("con_t").count() == 3)
    // opt-out switch for bulk loads
    spark.conf.set("spark.graft.validateConstraints", "false")
    try {
      SqlDialect.sql(spark, "INSERT INTO con_t VALUES (1, 'dup-ok', 't1', -5)")
      assert(spark.table("con_t").count() == 4)
    } finally spark.conf.unset("spark.graft.validateConstraints")
    // rejected batches must not have been partially applied
    assert(spark.table("con_t").filter(col("id").isin(2, 3, 4, 7)).count() == 0)
  }

  test("UPDATE validates NOT NULL and CHECK on the post-assignment rows") {
    SqlDialect.sql(spark, "DROP TABLE IF EXISTS conu_t")
    SqlDialect.sql(spark,
      "CREATE TABLE conu_t (id INTEGER PRIMARY KEY, name VARCHAR NOT NULL, " +
        "v INTEGER CHECK (v >= 0))")
    SqlDialect.sql(spark, "INSERT INTO conu_t VALUES (1, 'a', 5), (2, 'b', 3)")
    val nn = intercept[Engine.ConstraintViolation](SqlDialect.sql(spark,
      "UPDATE conu_t SET name = NULL WHERE id = 1"))
    assert(nn.getMessage.contains("NOT NULL constraint failed: conu_t.name"))
    val ck = intercept[Engine.ConstraintViolation](SqlDialect.sql(spark,
      "UPDATE conu_t SET v = v - 10 WHERE id = 2"))
    assert(ck.getMessage.contains("CHECK constraint failed: conu_t"))
    // the rejected updates must not have been applied
    val rows = spark.table("conu_t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1, "a", 5), (2, "b", 3)))
    // a legal update still lands
    SqlDialect.sql(spark, "UPDATE conu_t SET v = v + 1 WHERE id = 1")
    assert(spark.table("conu_t").filter(col("id") === 1)
      .head().getInt(2) == 6)
  }

  test("system sampling: seeded, deterministic, block-granular") {
    import spark.implicits._
    val df = (1 to 20000).map(i => (i.toLong, i % 7)).toDF("id", "g")
    val s1 = graft.Engine.sampleSystem(df, 50.0, 7L).count()
    val s2 = graft.Engine.sampleSystem(df, 50.0, 7L).count()
    assert(s1 == s2, "same seed must give the same sample")
    assert(s1 > 0 && s1 < 20000)
    val s3 = graft.Engine.sampleSystem(df, 50.0, 8L).count()
    // a different seed keeps/drops different blocks (20000/2048 = ~10
    // blocks — a collision of all block decisions is ~1e-3; seed pair
    // chosen to differ)
    assert(s1 != s3 || s1 == 0)
  }
}
