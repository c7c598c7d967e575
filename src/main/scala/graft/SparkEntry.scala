package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory (one entry per implemented operator
  * family from SURVEY.md §2); `oracleSql` carries the DuckDB-equivalent
  * SQL the driver runs for the hash compare. Column names and types are
  * aligned pairwise (the compare sorts columns by name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape per SURVEY.md §7.1. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_q1_pricing")(spark, "/root/testdata/sf0.001")

  // One registry module per SURVEY §2 family. An entry is either its
  // oracle SQL through `queries.sqlQuery` (one text, run by both
  // engines) or a hand-built DataFrame where the dialect does not yet
  // plan the same; RegistrySweepSpec keeps the per-entry outcome table
  // (src/test/resources/registry_twins.tsv).
  //   Relational — scans, joins, aggregates, windows, sets, samples
  //   ScalarFns  — the §2.8 function surface
  //   Catalog    — catalog/dialect/source formats (§2.1/§2.11)
  //   SqlScripts — statement scripts (COPY/RETURNING/SIMILAR TO/catalog fns)
  //   Tpch/TpcDs — optimizer-stress benchmark shapes
  //   Pipeline/PipelineOps — dedup/similarity/text/streaming/multimodal
  // Each entry runs in Engine.withGraft(session), so any session the
  // caller built, with or without plans.GraftExtensions, runs it; a
  // SqlQuery applies it itself and stays one (RegistrySweepSpec reads
  // the entry's type).
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (graft.queries.Relational.queries ++
      graft.queries.ScalarFns.queries ++
      graft.queries.Pipeline.queries ++
      graft.queries.Catalog.queries ++
      graft.queries.Tpch.queries ++
      graft.queries.TpcDs.queries ++
      graft.queries.SqlScripts.queries ++
      graft.queries.PipelineOps.queries).map {
      case e @ (_, _: graft.queries.SqlQuery) => e
      case (name, q) => name -> ((spark: SparkSession, dir: String) => q(Engine.withGraft(spark), dir))
    }

  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.queries.ScalarFns.oracle ++
      graft.queries.Pipeline.oracle ++
      graft.queries.Catalog.oracle ++
      graft.queries.Tpch.oracle ++
      graft.queries.TpcDs.oracle ++
      graft.queries.SqlScripts.oracle ++
      graft.queries.PipelineOps.oracle
}
