package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{coalesce, col, expr, floor, hash, lit, monotonically_increasing_id, pmod, sum, when}

/** Session + catalog facade for the graft engine.
  *
  * Mirrors the reference's `Connection` entry point
  * (/root/reference/duckdb.hpp:21764 `Connection`, duckdb-7.cpp:2453
  * `ClientContext::Query`): one object that owns configuration, table
  * resolution and SQL execution. On Spark the parse/bind/optimize/execute
  * pipeline is Catalyst's; this facade only pins the session defaults that
  * make results reproducible (UTC, fixed shuffle width) and installs the
  * graft functions, rules and strategy ([[graft.plans.GraftExtensions]]).
  */
object Engine {

  /** Canonical table names shipped by the test-data generator. */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Build a local session with scale-conscious defaults.
    *
    * shuffle.partitions is deliberately small for local runs; on a real
    * cluster it would be sized to ~2-3x total cores (or left to AQE
    * coalescing, which is enabled).
    */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    // getOrCreate returns a session already running in this JVM without
    // the extensions (Spark only warns); withGraft gives its graft child
    val spark = withGraft(SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // default 100 thrashes under a 187-query inventory: every pass
      // re-generates + re-compiles evicted classes, which then start
      // interpreted (static conf — shared JVM-wide cache)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      // every action (and every AQE stage update) posts a plan
      // description event whose FORMATTED rendering walks the whole plan
      // tree — measured 10-40ms per action on wide plans with the UI
      // disabled anyway; "simple" keeps the event cheap (BASELINE.md
      // "Measured fixed-cost floor")
      .config("spark.sql.ui.explainMode", "simple")
      // scan splits sized by bytes, not by per-file open cost: Spark caps
      // a split at max(openCost, (Σ(file + openCost)) / cores) and packs
      // each file as file + openCost. At the default 4 MB (an HDFS
      // open), 4 × 1.6 MB files + 16 tiny ones on 4 cores give a 21.6 MB
      // cap and all four large files land in ONE split (40,000 of 42,041
      // rows in one task). A local-disk open costs ~128 KiB of read
      // time: the cap becomes the per-core byte share (2.2 MB), each
      // large file gets its own split, tiny files still pack together,
      // and a table under 128 KiB stays one split.
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .withExtensions(new plans.GraftExtensions)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `spark` if built with [[plans.GraftExtensions]], else its one pinned
    * child built after adding them to the extensions it shares with its
    * children, with its runtime SQL and `spark.graft.*` confs, made the
    * thread's active session (the dialect reads conf there). */
  def withGraft(spark: SparkSession): SparkSession =
    if (plans.GraftExtensions.installed(spark)) spark
    else {
      // locked: two racing first calls would add the extensions twice
      val child = synchronized(pinnedSession(spark, "graft") { c =>
        org.apache.spark.sql.graft.GraftSqlShim.extendChildren(c, new plans.GraftExtensions)
        spark.conf.getAll.foreach { case (k, v) =>
          if (c.conf.isModifiable(k) || k.startsWith("spark.graft.")) c.conf.set(k, v)
        }
        plans.GraftExtensions.require(c)
      })
      SparkSession.setActiveSession(child)
      child
    }

  /** One pinned, conf-tweaked child session per (parent, key), e.g. the
    * no-broadcast child SqlScripts runs join_piecewise_merge in. The
    * child inherits the parent's extensions (graft functions and rules)
    * from `newSession()`. Weak-keyed on the parent so stopped parents
    * don't pin children for the JVM lifetime; memoized so repeat runs
    * of the same query share one child and its resolved-plan caches
    * (a fresh child per call would give table relations new identity
    * and re-run plan-time work every execution). */
  private val pinnedChildren = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, SparkSession]]())

  def pinnedSession(parent: SparkSession, key: String)
                   (configure: SparkSession => Unit): SparkSession = {
    val perKey = pinnedChildren.computeIfAbsent(parent,
      _ => new scala.collection.concurrent.TrieMap[String, SparkSession])
    // concurrent.Map.getOrElseUpdate may evaluate the thunk in two
    // racing threads but installs exactly ONE child (putIfAbsent), and
    // both callers receive the installed one; the loser's newSession is
    // a discarded lightweight SessionState wrapper (same SparkContext),
    // not a leaked context
    perKey.getOrElseUpdate(key, {
      val child = parent.newSession()
      configure(child)
      child
    })
  }

  /** Load one driver-generated table from an sf directory.
    *
    * Plain `spark.read.parquet`: filter pushdown + column pruning into the
    * scan are automatic (the reference's zone-map skipping,
    * duckdb-10.cpp:5441, maps to Parquet row-group stats pruning).
    */
  // Schema memo: spark.read.parquet without a schema re-reads footers
  // (inference) on every call — that was a ~0.2s floor under every
  // trivial query. The memo keys on (dir, name) ONLY, deliberately not on
  // the session: a session in the key would pin child/stopped sessions
  // (and their resolved plans) for the JVM lifetime. A StructType holds
  // no session reference, any number of sessions share it, and because
  // only the schema (not the file list) is memoized, data appended under
  // the same path is picked up on the next read — only an on-disk SCHEMA
  // change under a memoized path is unsupported (documented).
  // Cache-manager substitution still applies: plans for the same
  // path+schema canonicalize equal.
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    resolveTable(spark, dir, name)

  /** Inferred (and memoized) on-disk schema of an sf-dir table. Public
    * because it is the SINGLE source of truth for both the batch reader
    * below and the streaming reader (streaming/EventStreams.readEvents),
    * so their ts-unit handling can never diverge. Inference runs with
    * nanosAsLong=true so a TIMESTAMP(NANOS) file infers as LongType
    * instead of failing — the conf must be set BEFORE the footer read,
    * which is why detection-then-set is not an option.
    */
  def tableSchema(spark: SparkSession, dir: String,
                  name: String): org.apache.spark.sql.types.StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schemaMemo.computeIfAbsent((dir, name),
      _ => spark.read.parquet(s"$dir/$name.parquet").schema)
  }

  /** True when the stored ts column is raw int64 nanoseconds (a
    * TIMESTAMP(NANOS) parquet read under nanosAsLong) rather than a
    * native TimestampType — the caller must then apply `ts div 1000` →
    * timestamp_micros. Historically the testdata generator has flipped
    * between timestamp[ns] and timestamp[us]; both paths key off THIS
    * predicate so either file layout reads correctly.
    */
  def tsIsLongNanos(schema: org.apache.spark.sql.types.StructType): Boolean =
    schema.fields.exists(f => f.name == "ts" &&
      f.dataType == org.apache.spark.sql.types.LongType)

  // Effective scan parallelism of a table = its total parquet ROW GROUP
  // count (a row group is the atomic read unit: Spark assigns it to the
  // one split covering its midpoint, so byte-range splits beyond this
  // are empty tasks). Driver-side footer reads, memoized per path —
  // queries whose first stage fuses heavy per-row work with the scan
  // use this to decide whether a redistribution is worth one shuffle.
  private val rowGroupMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** One footer pass over every parquet file of a table, folding `f`
    * over the open readers — the single listing/open/close routine both
    * footer probes below share, so their file-resolution rules can
    * never diverge. */
  private def withFooters[T](spark: SparkSession, dir: String, name: String)
                            (zero: T)(f: (T, org.apache.parquet.hadoop.ParquetFileReader) => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet")).toSeq
      else Seq(root)
    files.foldLeft(zero) { (acc, p) =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try f(acc, r) finally r.close()
    }
  }

  def parquetRowGroups(spark: SparkSession, dir: String, name: String): Int =
    rowGroupMemo.computeIfAbsent(s"$dir/$name", { _ =>
      Integer.valueOf(withFooters(spark, dir, name)(0)(_ + _.getRowGroups.size))
    }).intValue()

  /** Redistribute a row-group-bound source ahead of per-row-expensive
    * work (JSON parse, explode, sketch build): a single-row-group file
    * caps the scan at ONE task, so the fused projection/partial-agg
    * serializes. The repartition moves a COMPACT row shuffle ahead of
    * the expensive stage; skipped whenever the file's row groups
    * already feed half the cores — always true at cluster scale, so
    * the branch is inert there. Callers pass the pre-projection frame
    * (fewest columns) to keep the shuffle small. */
  def spread(spark: SparkSession, dir: String, name: String,
             df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (parquetRowGroups(spark, dir, name) < cores / 2) df.repartition(cores)
    else df
  }

  private def resolveTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    // ts-unit handling: if the file stores TIMESTAMP(NANOS) it infers as
    // LongType (nanosAsLong, set in tableSchema) and we convert to µs
    // TimestampType here (truncation documented — all graft time
    // semantics are µs, like the reference's TIMESTAMP, duckdb.hpp:915);
    // a timestamp[us] file infers as TimestampType and passes through.
    val path = s"$dir/$name.parquet"
    val schema = tableSchema(spark, dir, name)
    val raw = spark.read.schema(schema).parquet(path)
    if (tsIsLongNanos(raw.schema)) {
      // integral div: double division loses precision at ~1.7e18 ns and
      // rounds some timestamps off by 1µs
      raw.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
    } else raw
  }

  /** repeat(val, n) table function (reference RepeatTableFunction,
    * duckdb-6.cpp:10510-10530): n rows of the constant `value`. */
  def repeatTable(spark: SparkSession, value: Any, n: Long): DataFrame =
    spark.range(n).select(org.apache.spark.sql.functions.lit(value).as("value"))

  /** Register every table of an sf directory as a temp view so that
    * `Engine.sql` works against it (reference analog: catalog binding in
    * Binder::BindNode, duckdb-8.cpp:18107).
    */
  // Weak-keyed on the session so stopped/child sessions don't accumulate
  // (their temp views die with the session anyway).
  private val registeredDirs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Set[String]]())

  def registerAll(spark: SparkSession, dir: String): Unit = {
    // fails here, with the deployment rule, on a session without graft
    plans.GraftExtensions.require(spark)
    // memoized per (session, dir): several queries call this and each
    // plain registration resolves 10 tables
    val dirs = registeredDirs.computeIfAbsent(spark,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
    if (dirs.add(dir)) {
      TableNames.foreach { n =>
        table(spark, dir, n).createOrReplaceTempView(n)
      }
    }
  }

  /** SQL entry point (the reference's Connection::Query,
    * duckdb-7.cpp:2453): [[SqlDialect]] tokenizes the statement once,
    * dispatches it on its leading keywords (DDL, DML, COPY, PRAGMA, …)
    * and runs everything else as a query — table functions and
    * replacement scans bound to temp views in one pass, then the
    * dialect's expression rewrites and Spark SQL. */
  def sql(spark: SparkSession, query: String): DataFrame =
    SqlDialect.sql(spark, query)

  // ---- in-memory catalog DML (reference: PhysicalInsert/Delete/Update,
  // duckdb-4.cpp:9996-10015; here emulated over temp views — Spark is not
  // a transactional store, SURVEY.md §2.11). Like the reference, which
  // emits the affected-row count from the pipeline that applies the
  // change, a statement is ONE job: its table's next state is one plan
  // whose hidden flag column [[Hit]] marks the statement's rows, the count
  // is observed (`Dataset.observe`) in the job of its one
  // `localCheckpoint`, and RETURNING and constraint probes read that
  // checkpoint. The view is replaced only by [[Dml.commit]]. ----

  /** CREATE TABLE name AS df. */
  def createTable(spark: SparkSession, name: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(name)
    // the programmatic CREATE TABLE path carries TABLE provenance just
    // like the SQL CTAS — duckdb_tables() lists it, duckdb_views() not
    putTableEntry(spark, name, TableEntry())
  }

  /** Hidden flag column of a DML plan: TRUE on the rows the statement
    * writes (INSERT, UPDATE) or removes (DELETE). */
  private[graft] val Hit = "__graft_dml_hit"

  /** `keep(df)` checkpointed in one job, with the number of `df`'s rows
    * where `hit` is TRUE observed in that job (an empty relation reports 0
    * without a job). */
  private[graft] def checkpointCounted(df: DataFrame, hit: Column = lit(true),
      keep: DataFrame => DataFrame = identity): (DataFrame, Long) = {
    val obs = Observation()
    val cp = keep(df.observe(obs, coalesce(sum(when(hit, 1L)), lit(0L)).as("n")))
      .localCheckpoint()
    (cp, obs.get("n").asInstanceOf[Long])
  }

  /** One DML statement, materialized but not yet visible: `count` is the
    * number of [[Hit]] rows. A statement staged with `flagged` keeps the
    * flag (and a DELETE its removed rows) in the checkpoint, so `rows` can
    * read what the statement wrote or removed. */
  final class Dml private[Engine] (name: String, cp: DataFrame, val count: Long,
                                   flagged: Boolean, removes: Boolean) {
    /** The rows the statement wrote (as stored) or removed. */
    def rows: DataFrame = {
      require(flagged, s"DML on '$name': rows of a statement staged without its flag")
      cp.filter(col(Hit)).drop(Hit)
    }
    /** The table's next state. */
    def state: DataFrame = if (flagged) nextState(cp, removes) else cp
    /** Replace the table's view with `state`; returns `count`. */
    def commit(): Long = { state.createOrReplaceTempView(name); count }
  }

  private def nextState(next: DataFrame, removes: Boolean): DataFrame =
    (if (removes) next.filter(!col(Hit)) else next).drop(Hit)

  /** Materialize `next` (carrying [[Hit]]) with one `localCheckpoint`,
    * its [[Hit]] rows counted in the same job. */
  private def stage(name: String, next: DataFrame, flagged: Boolean,
                    removes: Boolean = false): Dml = {
    val (cp, n) = checkpointCounted(next, col(Hit),
      if (flagged) identity else nextState(_, removes))
    new Dml(name, cp, n, flagged, removes)
  }

  /** `kept` then `rows` (flagged), coalesced (narrow, no shuffle) to at
    * most max(the table's partitions, defaultParallelism): a VALUES list
    * parallelizes into up to defaultParallelism slices, and a plain union
    * would add them all to the table on every INSERT. */
  private def appended(spark: SparkSession, name: String, kept: DataFrame,
                       rows: DataFrame): DataFrame =
    kept.unionByName(rows.withColumn(Hit, lit(true)))
      .coalesce(math.max(storedPartitions(spark.table(name)),
        spark.sparkContext.defaultParallelism))

  /** Partitions of a table's stored state, read without running a job. A
    * plan with an exchange (a frame createTable registered unmaterialized)
    * fixes its count only when it runs, at most spark.sql.shuffle.partitions. */
  private def storedPartitions(t: DataFrame): Int = {
    val plan = t.queryExecution.executedPlan
    if (plan.exists(p => p.isInstanceOf[AdaptiveSparkPlanExec] || p.isInstanceOf[Exchange]))
      t.sparkSession.sessionState.conf.numShufflePartitions
    else plan.execute().getNumPartitions
  }

  private def unhit(df: DataFrame): DataFrame = df.withColumn(Hit, lit(false))

  /** INSERT INTO name: stored rows then `rows`. */
  private[graft] def stageInsert(spark: SparkSession, name: String, rows: DataFrame,
                                 flagged: Boolean): Dml =
    stage(name, appended(spark, name, unhit(spark.table(name)), rows), flagged)

  /** DELETE FROM name WHERE cond. SQL DELETE removes only rows where the
    * predicate is TRUE — a NULL predicate keeps the row and is not
    * counted. */
  private[graft] def stageDelete(spark: SparkSession, name: String, cond: Column,
                                 flagged: Boolean): Dml =
    stage(name, spark.table(name).withColumn(Hit, coalesce(cond, lit(false))),
      flagged, removes = true)

  /** UPDATE name SET col = value WHERE cond: every assignment reads the
    * row's old values, as in SQL (`SET a = b, b = a` swaps). */
  private[graft] def stageUpdate(spark: SparkSession, name: String, cond: Column,
                                 assignments: Map[String, Column], flagged: Boolean): Dml =
    stage(name, spark.table(name).withColumn(Hit, coalesce(cond, lit(false)))
      .withColumns(assignments.map { case (c, v) => c -> when(col(Hit), v).otherwise(col(c)) }),
      flagged)

  /** INSERT INTO name (append rows). Returns the number of rows written. */
  def insertInto(spark: SparkSession, name: String, rows: DataFrame): Long =
    stageInsert(spark, name, rows, flagged = false).commit()

  /** DELETE FROM name WHERE cond. Returns the number of rows removed. */
  def deleteWhere(spark: SparkSession, name: String, cond: Column): Long =
    stageDelete(spark, name, cond, flagged = false).commit()

  /** UPDATE name SET col = value WHERE cond. Returns the number of rows
    * updated. */
  def updateWhere(spark: SparkSession, name: String, cond: Column,
                  assignments: Map[String, Column]): Long =
    stageUpdate(spark, name, cond, assignments, flagged = false).commit()

  // ---- per-session table entries (reference catalog table entries):
  // graft backs CTAS snapshots and CREATE TABLE definitions with temp
  // views, and keeps ONE entry per name created as a table. A name has an
  // entry exactly when it has TABLE provenance — the reference lists it
  // in duckdb_tables() only, never in duckdb_views() (probed). CTAS and
  // CREATE TABLE put the entry, ALTER … RENAME TO moves it, DROP and a
  // CREATE VIEW over the name remove it.

  /** Declared metadata of one table: the PRIMARY KEY (the conflict key
    * of OR REPLACE / ON CONFLICT), column DEFAULT exprs (SQL text by
    * lowercased column), NOT NULL columns, labeled unique keys (label =
    * "primary key" | "unique"), CHECK exprs (SQL text; NULL passes, like
    * SQL) and FOREIGN KEYs (cols, referenced table, referenced cols). A
    * CTAS entry is empty. */
  final case class TableEntry(primaryKey: Seq[String] = Nil,
                              defaults: Map[String, String] = Map.empty,
                              notNull: Seq[String] = Nil,
                              unique: Seq[(String, Seq[String])] = Nil,
                              checks: Seq[String] = Nil,
                              foreignKeys: Seq[(Seq[String], String, Seq[String])] = Nil) {
    /** Declares a constraint an INSERT or UPDATE probes. */
    def constrained: Boolean =
      notNull.nonEmpty || unique.nonEmpty || checks.nonEmpty || foreignKeys.nonEmpty
  }

  private val tableEntryMaps = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, TableEntry]]())

  /** The session's table entries, keyed by lowercased name. */
  def tableEntries(spark: SparkSession): scala.collection.concurrent.TrieMap[String, TableEntry] =
    tableEntryMaps.computeIfAbsent(spark,
      _ => new scala.collection.concurrent.TrieMap[String, TableEntry])

  def tableEntry(spark: SparkSession, name: String): Option[TableEntry] =
    tableEntries(spark).get(name.toLowerCase)

  def putTableEntry(spark: SparkSession, name: String, entry: TableEntry): Unit =
    tableEntries(spark)(name.toLowerCase) = entry

  def dropTableEntry(spark: SparkSession, name: String): Unit =
    tableEntries(spark).remove(name.toLowerCase)

  /** A renamed table keeps its entry under the new name (no-op for a
    * name without one — renaming a view must not invent a table). */
  def renameTableEntry(spark: SparkSession, from: String, to: String): Unit =
    tableEntries(spark).remove(from.toLowerCase).foreach(putTableEntry(spark, to, _))

  private def isTableProvenance(spark: SparkSession, name: String): Boolean =
    tableEntries(spark).contains(name.toLowerCase)

  // ---- declared-constraint validation (reference NotNullConstraint/
  // CheckConstraint/UniqueConstraint binding, duckdb.hpp:20267-20272;
  // PhysicalInsert verifies them per chunk). Enforcement here is a
  // validation PASS over the incoming batch (plus a key probe against
  // the stored table for uniqueness) — Spark is not a transactional
  // store, so this is the insert-time subset of the reference's
  // behavior, on by default for DECLARED constraints and switchable off
  // via `SET spark.graft.validateConstraints=false` for bulk loads
  // where the probe join is unwanted. Error wording mirrors the
  // reference's Constraint Error messages so migrated error handling
  // keeps matching.

  final class ConstraintViolation(msg: String) extends RuntimeException(msg)

  /** Validate an incoming batch against `cons`. NOT NULL and CHECK are
    * ONE aggregate pass over the batch; each unique key adds a
    * within-batch duplicate count and (when `checkUnique`) a semi-join
    * probe against the stored table — the same work any engine pays
    * without an index. Conflict-clause inserts (OR IGNORE/OR REPLACE/
    * ON CONFLICT) pass checkUnique = false: key conflicts are their
    * RESOLUTION input, not an error, but NOT NULL/CHECK still raise
    * (verified against the reference's INSERT OR IGNORE). */
  def validateConstraints(spark: SparkSession, name: String, rows: DataFrame,
                          cons: TableEntry, checkUnique: Boolean): Unit = {
    if (cons.notNull.nonEmpty || cons.checks.nonEmpty) {
      val aggs =
        cons.notNull.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c")) ++
        cons.checks.zipWithIndex.map { case (e, i) =>
          sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(s"__ck_$i")
        }
      val r = rows.agg(aggs.head, aggs.tail: _*).head()
      cons.notNull.zipWithIndex.foreach { case (c, i) =>
        if (!r.isNullAt(i) && r.getLong(i) > 0)
          throw new ConstraintViolation(
            s"Constraint Error: NOT NULL constraint failed: $name.$c")
      }
      cons.checks.indices.foreach { i =>
        val j = cons.notNull.length + i
        if (!r.isNullAt(j) && r.getLong(j) > 0)
          throw new ConstraintViolation(
            s"Constraint Error: CHECK constraint failed: $name")
      }
    }
    // FOREIGN KEY referential check (reference ForeignKeyConstraint,
    // duckdb.hpp:20272): every non-null FK tuple in the batch must
    // exist in the referenced table. MATCH SIMPLE semantics — a row
    // with ANY null key part skips the check, like the reference. One
    // left-anti probe per declared FK; the referenced-key projection is
    // broadcast-sized in any sane schema, so this is a map-side join.
    cons.foreignKeys.foreach { case (cols, ref, refCols) =>
      val keyed = rows.filter(cols.map(col(_).isNotNull).reduce(_ && _))
        .select(cols.map(col): _*)
      val stored = spark.table(ref)
        .select(refCols.zip(cols).map { case (rc, c) => col(rc).as(c) }: _*)
      // self-referential FK (r11): a batch may reference keys it itself
      // introduces — the parent key set is stored ∪ batch (statement-
      // level validation, like the reference's end-of-statement check)
      val parent =
        if (ref.toLowerCase == name.toLowerCase)
          stored.union(rows.select(
            refCols.zip(cols).map { case (rc, c) => col(rc).as(c) }: _*))
        else stored
      if (keyed.join(parent, cols, "left_anti").limit(1).count() > 0)
        throw new ConstraintViolation(
          s"Constraint Error: Violates foreign key constraint because the key " +
            s"does not exist in the referenced table $ref")
    }
    if (checkUnique) cons.unique.foreach { case (label, keys) =>
      // SQL UNIQUE ignores rows with any NULL key part (multiple NULLs
      // allowed); PRIMARY KEY nulls are caught by the implied NOT NULL
      val keyed = rows.filter(keys.map(col(_).isNotNull).reduce(_ && _))
      val withinDup = keyed.groupBy(keys.map(col): _*)
        .count().filter(col("count") > 1).limit(1).collect().headOption
      lazy val storedDup =
        keyed.select(keys.map(col): _*) // keys-only, so r.get(i) below
          .join(spark.table(name).select(keys.map(col): _*), // reads keys
            keys, "left_semi").limit(1).collect().headOption
      val dup = withinDup.orElse(storedDup)
      dup.foreach { r =>
        // the reference's message carries the offending key values:
        // Duplicate key "a: 1" violates primary key constraint (r17
        // BATTERY7 d05 message parity)
        val kv = keys.zipWithIndex
          .map { case (k, i) => s"$k: ${r.get(i)}" }.mkString(", ")
        throw new ConstraintViolation(
          s"""Constraint Error: Duplicate key "$kv" violates $label """ +
            "constraint")
      }
    }
  }

  // ---- conflict-clause DML (reference ON CONFLICT binding,
  // duckdb-4.cpp:9996-10015: OR REPLACE = delete-then-insert on the key,
  // DO NOTHING = skip conflicting rows, DO UPDATE = in-place assignment).
  // The key comes from the table's entry (its declared PRIMARY KEY) — Spark has no
  // constraint enforcement, so the key is planning metadata, not an
  // integrity guarantee (documented). Each is one job, like the plain
  // forms above.

  /** INSERT OR REPLACE: rows whose key already exists replace the stored
    * row (delete-then-insert). Returns the number of rows written. */
  def insertOrReplace(spark: SparkSession, name: String, rows: DataFrame,
                      keys: Seq[String]): Long = {
    val kept = spark.table(name).join(
      rows.select(keys.map(col): _*).distinct(), keys, "left_anti")
    stage(name, appended(spark, name, unhit(kept), rows), flagged = false).commit()
  }

  /** ON CONFLICT DO NOTHING: insert only rows whose key is absent.
    * Returns the number of rows actually inserted. */
  def insertOrIgnore(spark: SparkSession, name: String, rows: DataFrame,
                     keys: Seq[String]): Long = {
    val target = spark.table(name)
    val fresh = rows.join(
      target.select(keys.map(col): _*).distinct(), keys, "left_anti")
    stage(name, appended(spark, name, unhit(target), fresh), flagged = false).commit()
  }

  /** ON CONFLICT (keys) DO UPDATE SET c = expr: conflicting target rows
    * get the assignments applied (the incoming row is visible as
    * `excluded.<col>` in the expressions, like the reference); fresh rows
    * insert as-is. Returns the number of rows updated or inserted. */
  def insertOnConflictUpdate(spark: SparkSession, name: String, rows: DataFrame,
                             keys: Seq[String],
                             assignments: Map[String, String]): Long = {
    val target = spark.table(name)
    val excl = rows.select(target.columns.map(c => col(c).as(s"__excl_$c")).toSeq: _*)
    val joined = target.join(excl,
      keys.map(k => col(k) === col(s"__excl_$k")).reduce(_ && _), "left")
      .withColumn(Hit, keys.map(k => col(s"__excl_$k").isNotNull).reduce(_ && _))
    def rewriteExcluded(e: String): String =
      e.replaceAll("(?i)\\bexcluded\\s*\\.\\s*([A-Za-z_][A-Za-z0-9_]*)", "__excl_$1")
    val updated = joined.withColumns(assignments.map { case (c, e) =>
      c -> when(col(Hit), expr(rewriteExcluded(e))).otherwise(col(c)) })
      .select((target.columns :+ Hit).map(col).toSeq: _*)
    val freshRows = rows.join(
      target.select(keys.map(col): _*).distinct(), keys, "left_anti")
    stage(name, appended(spark, name, updated, freshRows), flagged = false).commit()
  }

  // ---- introspection (reference: duckdb_tables()/pragma_table_info,
  // duckdb-6.cpp:14150-14176) ----

  /** duckdb_tables() analog. Dialect-internal `__graft_*` helper views
    * are excluded — the native function would not list them either.
    * The provenance split is two-sided (59b21ba:ADVICE.md #6): only names
    * CREATED as tables (CTAS / CREATE TABLE: a table entry)
    * plus genuinely managed non-view catalog tables list here; true
    * views and the base parquet view registrations belong to
    * duckdb_views() — the same split the reference catalog keeps and
    * the oracle harness's DuckDB side shows (base tables are CREATE
    * VIEW over read_parquet there). */
  def tables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect()
      .filterNot(_.name.startsWith("__graft_"))
      .filter(t => isTableProvenance(spark, t.name) ||
        (!t.isTemporary && t.tableType != "VIEW"))
      .map(t => (t.name, t.tableType, t.isTemporary)).toSeq
      .toDF("table_name", "table_type", "temporary")
  }

  /** SHOW TABLES analog: every catalog relation, tables AND views —
    * duck-probed: SHOW TABLES lists both, duckdb_tables() only
    * table-provenance names. */
  def allRelations(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect()
      .filterNot(_.name.startsWith("__graft_"))
      .map(t => (t.name, t.tableType, t.isTemporary)).toSeq
      .toDF("table_name", "table_type", "temporary")
  }

  /** pragma_table_info(name) analog: (cid, name, type, notnull,
    * dflt_value, pk) in the reference's type names. NOT NULL, DEFAULT
    * and PRIMARY KEY come from the table's declared entry; a view or
    * CTAS declares none. */
  def tableInfo(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val entry = tableEntry(spark, name).getOrElse(TableEntry())
    def in(cols: Seq[String], c: String) = cols.exists(_.equalsIgnoreCase(c))
    spark.table(name).schema.fields.zipWithIndex.map { case (f, i) =>
      (i, f.name, duckTypeName(f.dataType), in(entry.notNull, f.name),
        entry.defaults.get(f.name.toLowerCase), in(entry.primaryKey, f.name))
    }.toSeq.toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
  }

  /** duckdb_columns() analog (duckdb-6.cpp:14150-14176): one row per
    * column of every resolvable catalog table; column_index is 1-based
    * and data_type uses the reference's type names, both matching the
    * native function so probe queries run identically on either engine. */
  def columnsTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect().toSeq
      .filterNot(_.name.startsWith("__graft_"))
      .flatMap { t =>
        scala.util.Try(spark.table(t.name)).toOption.toSeq.flatMap { df =>
          df.schema.fields.zipWithIndex.map { case (f, i) =>
            (t.name, f.name, i + 1, duckTypeName(f.dataType))
          }
        }
      }.toDF("table_name", "column_name", "column_index", "data_type")
  }

  /** duckdb_schemas() analog (duckdb-6.cpp:14150-14176): one row per
    * schema; Spark's `default` database surfaces under the reference's
    * default schema name `main`, so probe queries written against the
    * reference resolve identically. */
  def schemasTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listDatabases().collect().toSeq
      .map(d => (if (d.name == "default") "main" else d.name, false))
      .toDF("schema_name", "internal")
  }

  /** duckdb_views() analog: one row per resolvable view. Graft registers
    * its parquet tables as temp views — the same catalog shape the
    * oracle harness gives DuckDB (CREATE VIEW over read_parquet), so the
    * two engines' view listings probe identically. Names created as
    * TABLES (CTAS snapshots, CREATE TABLE) are excluded via their table
    * entries — the reference lists those only in duckdb_tables(). */
  def viewsTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect().toSeq
      .filterNot(_.name.startsWith("__graft_"))
      .filter(t => t.isTemporary || t.tableType == "VIEW")
      .filterNot(t => isTableProvenance(spark, t.name))
      .map(t => ("main", t.name, t.isTemporary))
      .toDF("schema_name", "view_name", "temporary")
  }

  /** duckdb_settings() analog: (name, value) over the session's SQL
    * conf, plus the reference's resource-setting names mapped to their
    * Spark-side equivalents (`threads` → default parallelism,
    * `memory_limit` → executor/driver heap) so reference probe queries
    * find the names they expect. */
  def settingsTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val mapped = Seq(
      ("threads", spark.sparkContext.defaultParallelism.toString),
      ("memory_limit", Runtime.getRuntime.maxMemory().toString))
    val names = mapped.map(_._1).toSet
    (mapped ++ spark.conf.getAll.toSeq.filterNot(kv => names(kv._1))
      .sortBy(_._1)).toDF("name", "value")
  }

  /** PRAGMA database_size analog (reference shape: one row of storage
    * accounting). Graft's "database" is the set of registered parquet
    * views — database_size sums their file bytes; the block/WAL columns
    * report the parquet analog (row-group count) and zeros (no WAL by
    * design, SURVEY §2.11 non-goal). */
  def databaseSize(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dirs = Option(registeredDirs.get(spark))
      .map(s => { val b = Seq.newBuilder[String]; s.forEach(b += _); b.result() })
      .getOrElse(Seq.empty)
    val bytes = (for (d <- dirs; n <- TableNames) yield {
      val f = new java.io.File(s"$d/$n.parquet")
      if (f.isFile) f.length else 0L
    }).sum
    val groups = (for (d <- dirs; n <- TableNames) yield
      scala.util.Try(parquetRowGroups(spark, d, n)).getOrElse(0)).sum
    Seq(("graft", s"$bytes bytes", 0L, groups.toLong, groups.toLong, 0L,
      "0 bytes", s"${Runtime.getRuntime.totalMemory()} bytes",
      s"${Runtime.getRuntime.maxMemory()} bytes"))
      .toDF("database_name", "database_size", "block_size", "total_blocks",
        "used_blocks", "free_blocks", "wal_size", "memory_usage",
        "memory_limit")
  }

  /** duckdb_functions() analog (duckdb-6.cpp:14150-14176): every function
    * name resolvable in this session — Spark/graft built-ins plus the
    * DuckDB-name registry — one row per distinct name. */
  def functionsTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listFunctions().collect()
      .map(f => f.name.toLowerCase).distinct.sorted.toSeq
      .toDF("function_name")
  }

  /** `USING SAMPLE p% (system, seed)` analog: block-level sampling — a
    * block (2048 rows, the reference's vector granularity,
    * duckdb.hpp:20017 SampleMethod::SYSTEM_SAMPLE) is kept or dropped
    * wholesale by a seeded hash of its block id. Deterministic for a
    * fixed seed and input partitioning; zero shuffle (a pure filter, so
    * at scale it prunes before any downstream work). */
  def sampleSystem(df: DataFrame, pct: Double, seed: Long,
                   blockRows: Int = 2048): DataFrame =
    df.withColumn("__gblk", floor(monotonically_increasing_id() / blockRows))
      .filter(pmod(hash(col("__gblk"), lit(seed)), lit(100)) < lit(pct))
      .drop("__gblk")

  /** SUMMARIZE analog (duckdb-6.cpp:9493). */
  def summarize(df: DataFrame): DataFrame = df.summary()

  /** Reference type name for a Spark type (shared by pragma_table_info
    * and SUMMARIZE). */
  def duckTypeName(t: org.apache.spark.sql.types.DataType): String = t.typeName match {
    case "long" | "bigint" => "BIGINT"
    case "integer" | "int" => "INTEGER"
    case "string" => "VARCHAR"
    case "double" => "DOUBLE"
    case "timestamp" | "timestamp_ntz" => "TIMESTAMP"
    case other => other.toUpperCase
  }

  /** Memo key for a result that depends on `df`'s data: the canonical
    * analyzed plan text plus the sorted (path, length, modification
    * time) of every file its file relations list. The text alone does
    * not pin the data: a parquet scan renders without its path, so two
    * directories with one schema share it. The listing is the one each
    * relation captured when it was planned: no job and no file-system
    * call. None when a leaf's rows are not in the plan at all
    * (`LocalRelation` elides its rows; LogicalRDD/ExternalRDD and
    * InMemoryRelation render an opaque id): such a plan is not memoized.
    * Class-name match because LogicalRDD/ExternalRDD live in the
    * private execution package. */
  def planKey(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
      PartitioningAwareFileIndex}
    val plan = df.queryExecution.analyzed
    val opaque = plan.exists { n =>
      val c = n.getClass.getSimpleName
      c == "LocalRelation" || c == "LogicalRDD" || c == "ExternalRDD" ||
        c == "InMemoryRelation"
    }
    if (opaque) None
    else {
      val files = plan.collect {
        case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
          l.relation.asInstanceOf[HadoopFsRelation].location
      }.flatMap {
        case idx: PartitioningAwareFileIndex =>
          idx.allFiles().map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}")
        case idx => idx.inputFiles.toSeq
      }.sorted
      Some((plan.canonicalized.toString +: files).mkString("\n"))
    }
  }

  // Compiled-plan memo for SUMMARIZE, keyed on [[planKey]] (the full
  // plan text plus the input files, not a 32-bit hash — a collision
  // would serve the wrong table's plan). SUMMARIZE is a catalog
  // inspection command run repeatedly against stable tables;
  // re-deriving the same physical plan (analysis + optimization +
  // codegen + AQE bookkeeping) on every call was pure driver floor
  // (~80-90 ms, BASELINE.md floor). The memoized Dataset re-executes its
  // job on every collect() — results are NOT cached. The memo lives for
  // the whole JVM, across sessions; a table planned after one of its
  // files is rewritten or added has a new key, so it is planned afresh.
  private val summarizeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** SUMMARIZE's deterministic column subset (duckdb-6.cpp:9493 — the
    * full reference output also carries approx_unique and sampled
    * quantiles, which are engine-specific sketches by design): one
    * action computes min/max/non-null count for every column, then
    * pivots driver-side to the per-column row layout.
    *
    * Plan shape (profiled by the retired SummProf lab,
    * d38a371:src/main/scala/graft/tools/SummProf.scala): a single combined
    * aggregate would plan as SortAggregate — a min/max over a STRING
    * column cannot live in HashAggregate's fixed-width mutable buffer,
    * and one such function demotes the whole 3N+1-function aggregate
    * out of whole-stage codegen (measured 162 ms vs 60 ms for the
    * numeric-only HashAggregate on cached sf0.1 orders). So the scan is
    * split: counts + non-string min/max run as a codegen HashAggregate,
    * string min/max as a strings-only SortAggregate, and the two
    * single-row branches are unioned as string→string maps so ONE
    * action drives both.
    */
  def summarizeTable(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fields = df.schema.fields
    def plan(): DataFrame = {
      // branch A (HashAggregate, codegen): row count, per-column
      // non-null counts, min/max of every non-string column
      val numAggs = count(lit(1)).cast("string").as("__total") +:
        fields.zipWithIndex.flatMap { case (f, i) =>
          val mm =
            if (f.dataType.typeName == "string") Nil
            else Seq(min(col(f.name)).cast("string").as(s"__min_$i"),
              max(col(f.name)).cast("string").as(s"__max_$i"))
          mm :+ count(col(f.name)).cast("string").as(s"__n_$i")
        }.toSeq
      def asMap(d: DataFrame): DataFrame = {
        val cols = d.columns.toSeq.flatMap(c => Seq(lit(c), col(c)))
        d.select(map(cols: _*).as("m"))
      }
      val branchA = asMap(df.agg(numAggs.head, numAggs.tail: _*))
      // branch B (SortAggregate, strings only — unavoidable buffer
      // shape, but now it carries ONLY the string columns)
      val strAggs = fields.zipWithIndex.collect {
        case (f, i) if f.dataType.typeName == "string" =>
          Seq(min(col(f.name)).as(s"__min_$i"), max(col(f.name)).as(s"__max_$i"))
      }.flatten.toSeq
      val built =
        if (strAggs.isEmpty) branchA
        else branchA.union(asMap(df.agg(strAggs.head, strAggs.tail: _*)))
      // Pin a non-adaptive physical plan: both branches are fixed
      // two-stage ungrouped aggregates, so AQE can only add per-action
      // re-planning overhead, never help. The conf is read when
      // executedPlan is first forced, so force it here under the
      // temporary setting and restore.
      val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        built.queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.adaptive.enabled", before)
      built
    }
    val aggDf = planKey(df) match {
      case Some(key) => summarizeMemo.computeIfAbsent(key, _ => plan())
      case None => plan()
    }
    val merged: Map[String, String] = aggDf.collect().iterator
      .flatMap(_.getMap[String, String](0).iterator).toMap
    val total = merged("__total").toLong
    fields.zipWithIndex.map { case (f, i) =>
      val nonNull = merged(s"__n_$i").toLong
      val nullPct =
        if (total == 0) 0.0
        else math.floor((total - nonNull) * 10000.0 / total + 0.5) / 100.0
      (f.name, duckTypeName(f.dataType),
        merged.get(s"__min_$i").flatMap(Option(_)).orNull,
        merged.get(s"__max_$i").flatMap(Option(_)).orNull,
        total, nullPct)
    }.toSeq.toDF("column_name", "column_type", "min", "max", "count", "null_pct")
  }

  /** EXPLAIN ANALYZE analog (reference QueryProfiler,
    * duckdb-7.cpp:5536 `QueryProfiler::StartQuery` /
    * duckdb.hpp:11996 `EXPLAIN_ANALYZE`): execute the query once and
    * report the executed physical plan tree with per-operator output-row
    * counts read back from Spark's SQLMetrics — the same numbers the
    * reference profiler prints per operator. Timings are deliberately not
    * surfaced per operator: under whole-stage codegen several operators
    * share one pipeline, so per-operator wall-clock would be fiction.
    */
  def explainAnalyze(spark: SparkSession, df: DataFrame): DataFrame = {
    // Drive the compiled plan itself (df.count() would re-plan with a
    // different aggregate on top and leave these metrics untouched).
    df.queryExecution.toRdd.foreach(_ => ())
    val out = finalPlanNodes(df.queryExecution.executedPlan).zipWithIndex.map {
      case ((depth, p), id) =>
        (id, depth, p.nodeName,
          p.metrics.get("numOutputRows").map(m => Long.box(m.value)).orNull)
    }
    import spark.implicits._
    out.toDF("operator_id", "depth", "operator", "output_rows")
  }

  /** The physical plan that ran, as (depth, node) in pre-order: AQE's
    * final plan with its query stages opened, and each node's subquery
    * plans one level below it, after its children. The AQE wrappers
    * (`AdaptiveSparkPlanExec`, `QueryStageExec`) are not yielded; a
    * reused exchange or subquery is a leaf. */
  def finalPlanNodes(plan: SparkPlan): Seq[(Int, SparkPlan)] = {
    def walk(p: SparkPlan, depth: Int): Seq[(Int, SparkPlan)] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case q: QueryStageExec => walk(q.plan, depth)
      case _ => (depth, p) +: (p.children ++ p.subqueries).flatMap(walk(_, depth + 1))
    }
    walk(plan, 0)
  }

  /** EXPORT DATABASE analog (duckdb-4.cpp:9722): dump every temp-view
    * table to parquet + a schema.sql DDL script into `outDir`. */
  def exportDatabase(spark: SparkSession, outDir: String): Unit = {
    // `__graft_`-prefixed views are dialect machinery (catalog-fn
    // snapshots, test_all_types, test-vector views), not user catalog
    // state — the reference's EXPORT DATABASE walks its catalog tables
    val names = spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).filterNot(_.startsWith("__graft"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val ddl = new StringBuilder
    names.foreach { n =>
      val df = spark.table(n)
      df.write.mode("overwrite").parquet(s"$outDir/$n.parquet")
      val cols = df.schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      ddl.append(s"CREATE TABLE $n ($cols);\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "schema.sql"), ddl.toString)
  }

  /** IMPORT DATABASE analog: re-register every table exported by
    * [[exportDatabase]] (table list read from schema.sql). */
  def importDatabase(spark: SparkSession, dir: String): Unit = {
    val ddl = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "schema.sql")))
    val name = """CREATE TABLE (\w+) """.r
    name.findAllMatchIn(ddl).map(_.group(1)).foreach { n =>
      spark.read.parquet(s"$dir/$n.parquet").createOrReplaceTempView(n)
    }
  }
}
