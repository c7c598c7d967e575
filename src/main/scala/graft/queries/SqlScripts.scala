package graft.queries

import graft.Engine

/** Round-5 batch: the three formerly-guardrailed dialect surfaces
  * (SIMILAR TO, COPY … FROM, DML RETURNING — each verified with the
  * native DuckDB construct on the oracle side) and full catalog
  * table-function parity (duckdb_tables()/duckdb_columns()).
  *
  * Every query here is a STATEMENT SCRIPT executed identically on both
  * engines (the dialect shim routes each statement; DuckDB runs the same
  * text natively), with the last statement's result hashed by the
  * driver compare.
  */
object SqlScripts {

  /** Engine-local scratch path for the COPY round-trip (each engine
    * writes and reads its OWN file — the aggregate result is what is
    * compared, so the on-disk layout may differ: Spark writes a part-file
    * directory, DuckDB a single flat file; both live directly under /tmp
    * so neither engine needs to create parent directories). */
  private val copyPathSpark = "/tmp/graft_r5_cf_spark.csv"
  private val copyPathDuck = "/tmp/graft_r5_cf_duck.csv"

  private def copyFromStmts(out: String) = Seq(
    "CREATE OR REPLACE TABLE cf_nation (k BIGINT, name VARCHAR, rk BIGINT)",
    s"""COPY (SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name,
       |  CAST(n_regionkey AS BIGINT) AS rk FROM nation ORDER BY 1)
       |TO '$out' (FORMAT CSV, HEADER)""".stripMargin,
    s"COPY cf_nation FROM '$out' (FORMAT CSV, HEADER)",
    // append semantics: a second COPY FROM doubles the table
    s"COPY cf_nation FROM '$out' (FORMAT CSV, HEADER)",
    """SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum,
      |  min(name) AS lo_name, CAST(sum(rk) AS BIGINT) AS rk_sum
      |FROM cf_nation""".stripMargin)

  private val returningStmts = Seq(
    """CREATE OR REPLACE TABLE ret_demo AS
      |SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name,
      |  CAST(n_regionkey AS BIGINT) AS rk FROM nation""".stripMargin,
    // INSERT/DELETE RETURNING exercise the path; the driver hashes only
    // the final UPDATE's returned rows
    "INSERT INTO ret_demo VALUES (900, 'NATION_X', 9), (901, 'NATION_Y', 9) RETURNING k, name",
    "DELETE FROM ret_demo WHERE k % 7 = 3 RETURNING k",
    "UPDATE ret_demo SET rk = rk + 100 WHERE k % 2 = 0 RETURNING k, name, rk")

  private val constraintsStmts = Seq(
    // declared constraints enforced at insert (reference constraint
    // binding duckdb.hpp:20267-20272 + PhysicalInsert verification):
    // PK dup under OR IGNORE is SKIPPED on both engines while the fresh
    // row in the same statement lands; the rejection paths (plain-INSERT
    // dup key, NULL into NOT NULL, failed CHECK — each raising the
    // reference's named Constraint Error) are spec-verified in MacroSpec
    // because a failing statement would abort the oracle script
    """CREATE OR REPLACE TABLE con_demo(
      |  id INTEGER PRIMARY KEY, name VARCHAR NOT NULL,
      |  v INTEGER CHECK (v >= 0))""".stripMargin,
    "INSERT INTO con_demo VALUES (1, 'a', 5), (2, 'b', 0)",
    "INSERT OR IGNORE INTO con_demo VALUES (1, 'dup', 9)",
    "INSERT OR IGNORE INTO con_demo VALUES (3, 'c', 7)",
    """SELECT CAST(id AS BIGINT) AS id, name, CAST(v AS BIGINT) AS v
      |FROM con_demo""".stripMargin)

  private val fkStmts = Seq(
    // FOREIGN KEY referential integrity (reference ForeignKeyConstraint
    // binding, duckdb.hpp:20272): passing paths only — a violating
    // statement would abort the oracle script, so the rejection paths
    // (missing parent key on INSERT/UPDATE, still-referenced parent on
    // DELETE, each raising the reference's Constraint Error wording)
    // are spec-verified in MacroSpec. A NULL FK part skips the check
    // (MATCH SIMPLE), and a child DELETE never probes the parent.
    // child-first DROPs make the script re-runnable in ONE connection
    // (the bench warm+timed double-run would otherwise hit the
    // dependency error on CREATE OR REPLACE of the referenced parent)
    "DROP TABLE IF EXISTS fk_child",
    "DROP TABLE IF EXISTS fk_parent",
    "CREATE TABLE fk_parent (id INTEGER PRIMARY KEY, nm VARCHAR)",
    "INSERT INTO fk_parent VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma')",
    """CREATE TABLE fk_child (cid INTEGER PRIMARY KEY,
      |  pid INTEGER REFERENCES fk_parent(id), amt INTEGER)""".stripMargin,
    "INSERT INTO fk_child VALUES (10, 1, 100), (11, 1, 110), (12, 3, 120), (13, NULL, 130)",
    "DELETE FROM fk_child WHERE cid = 12",
    """SELECT CAST(c.cid AS BIGINT) AS cid, coalesce(p.nm, '-') AS nm,
      |  CAST(c.amt AS BIGINT) AS amt
      |FROM fk_child c LEFT JOIN fk_parent p ON c.pid = p.id""".stripMargin)

  private val catalogSetup = Seq(
    "CREATE OR REPLACE TABLE cat5_t1 (a BIGINT, b VARCHAR)",
    """CREATE OR REPLACE TABLE cat5_t2 AS
      |SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS nm FROM nation""".stripMargin)

  private val similarToSql =
    """SELECT count(*) FILTER (WHERE p_name SIMILAR TO '.*(red|blue).*') AS n_pat,
      |  count(*) FILTER (WHERE p_name NOT SIMILAR TO '.* .*') AS n_no_space,
      |  count(*) FILTER (WHERE p_type SIMILAR TO '[A-Z]+') AS n_anchor,
      |  count(*) FILTER (WHERE p_name SIMILAR TO 'red') AS n_substr_trap
      |FROM part""".stripMargin

  private val tablesFnSql =
    "SELECT table_name FROM duckdb_tables() WHERE table_name LIKE 'cat5_%' ORDER BY 1"

  private val columnsFnSql =
    """SELECT table_name, column_name, CAST(column_index AS BIGINT) AS column_index,
      |  data_type
      |FROM duckdb_columns() WHERE table_name LIKE 'cat5_%'
      |ORDER BY table_name, column_index""".stripMargin

  private val piecewiseMergeSql =
    """SELECT count(*) AS n_pairs,
      |  CAST(sum(s.s_suppkey) AS BIGINT) AS sk_sum,
      |  CAST(sum(c.c_custkey) AS BIGINT) AS ck_sum,
      |  round(max(c.c_acctbal - s.s_acctbal), 2) AS max_gap
      |FROM supplier s JOIN customer c ON s.s_acctbal < c.c_acctbal""".stripMargin

  private val hand: Map[String, Build] = Map(

    "join_piecewise_merge" -> ((s, dir) => {
      // single-inequality inner join (reference PhysicalPiecewiseMergeJoin,
      // duckdb-3.cpp:17261): with broadcast disabled — the
      // neither-side-fits regime this plan exists for — RangeJoinRule
      // rewrites it to a bucketed shuffled equi-join instead of a
      // broadcast nested loop. Child session so the conf pin cannot leak
      // into other queries; MEMOIZED so repeat runs share one session —
      // a fresh session per call gave the table relation new identity,
      // missed RangeJoinRule's bounds cache, and re-ran the plan-time
      // quantile job (~100-190 ms) on every execution of an unchanged
      // query.
      val child = Engine.pinnedSession(s, s"no-broadcast:$dir") { c =>
        c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // AQE sizes post-shuffle partitions by shuffle INPUT bytes — for
        // an output-quadratic range join the pair blowup happens AFTER
        // the exchange, so input-byte coalescing collapses the refine +
        // aggregate onto one task. Target small input partitions so the
        // pair work spreads (r13 PwLab: pair stage 123 ms/1 task →
        // 74 ms/20 tasks, wall 248 → 190 ms); on a cluster the same
        // mis-sizing argument holds wherever the join's selectivity ≫ 1.
        c.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "48kb")
        c.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
        Engine.registerAll(c, dir)
      }
      child.sql(piecewiseMergeSql)
    })
  )

  val oracle: Map[String, String] = Map(
    "join_piecewise_merge" -> piecewiseMergeSql,
    // SIMILAR TO → anchored rlike (reference regexp_full_match binding,
    // duckdb-6.cpp:5993-6041); n_substr_trap pins the WHOLE-string
    // semantics ('red' must not match 'red widget')
    "fn_similar_to" -> similarToSql,
    // COPY t FROM 'file' (reference BufferedCSVReader → PhysicalInsert,
    // duckdb-4.cpp:1949-3700): round-trip through each engine's own
    // COPY TO output, appended twice to pin INSERT (not replace)
    // semantics
    "catalog_copy_from" -> copyFromStmts(copyPathDuck).mkString(";\n"),
    // DML RETURNING (reference insert planning, duckdb-4.cpp:9996):
    // the UPDATE's returned rows carry the NEW values
    "catalog_returning" -> returningStmts.mkString(";\n"),
    "catalog_tables_fn" -> (catalogSetup :+ tablesFnSql).mkString(";\n"),
    "catalog_columns_fn" -> (catalogSetup :+ columnsFnSql).mkString(";\n"),
    "catalog_constraints" -> constraintsStmts.mkString(";\n"),
    "catalog_constraints_fk" -> fkStmts.mkString(";\n")
  )

  val queries: Map[String, Build] = registry(hand,
    oracle + ("catalog_copy_from" -> copyFromStmts(copyPathSpark).mkString(";\n")))
}
