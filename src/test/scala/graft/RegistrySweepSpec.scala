package graft

import scala.collection.mutable
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD

/** Every registry query at sf0.001 on the shared session, as `Verify`
  * runs it on its one session:
  *  - it executes;
  *  - its SQL-twin outcome keeps or improves the committed table
  *    `registry_twins.tsv` (test resources).
  *
  * The twin of a hand-built entry is its oracle SQL through
  * `Engine.registerAll` + `Engine.sql`. Outcomes, best first:
  * `sql` (the entry is built by [[graft.queries.sqlQuery]]),
  * `equal_plan` (same rows and canonicalized optimized plan),
  * `equal_rows` (same rows, another plan), then `differs: schema|rows`
  * and `dialect_gap: <error class>`. An entry may only move to a better
  * outcome. Each run writes the observed table to
  * `target/registry_twins.tsv`; copy it over the resource to record an
  * improvement.
  */
class RegistrySweepSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private val committed: Map[String, String] = {
    val src = scala.io.Source.fromResource("registry_twins.tsv")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val Array(n, o) = l.split("\t", 2); n -> o }.toMap
    finally src.close()
  }

  private val observed = mutable.LinkedHashMap.empty[String, String]
  private val started = System.nanoTime()

  private def rank(outcome: String): Int = outcome.takeWhile(_ != ':') match {
    case "sql" => 0
    case "equal_plan" => 1
    case "equal_rows" => 2
    case _ => 3
  }

  /** Order-free row multiset: doubles to 7 significant digits. */
  private def canonRows(rows: Array[Row]): Seq[String] = {
    def canon(v: Any): String = v match {
      case null => "NULL"
      case d: Double if d.isNaN || d.isInfinite => d.toString
      case d: Double => if (d == 0.0) "0" else f"$d%.6e"
      case f: Float => canon(f.toDouble)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case other => other.toString
    }
    rows.toSeq.map(canon).sorted
  }

  private def schemaOf(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.map(f => s"${f.name} ${f.dataType.simpleString}")

  /** Canonicalized optimized plan with its join hints, which
    * canonicalization drops. A DML script's tables are fresh checkpoints
    * on every run, so a checkpointed scan compares by its output columns
    * alone. */
  private def planOf(df: DataFrame): (LogicalPlan, Seq[JoinHint]) = {
    val plan = df.queryExecution.optimizedPlan
    (plan.canonicalized.transform { case r: LogicalRDD => LocalRelation(r.output) },
      plan.collect { case j: Join => j.hint })
  }

  private def errorClass(e: Throwable): String = e match {
    case st: SparkThrowable if st.getCondition != null => st.getCondition
    case _ => e.getClass.getSimpleName
  }

  private def twinOutcome(name: String, hand: DataFrame, handRows: Array[Row]): String =
    SparkEntry.queries(name) match {
      case _: graft.queries.SqlQuery => "sql"
      case _ =>
        val twin = try {
          Engine.registerAll(spark, dir)
          val df = Engine.sql(spark, SparkEntry.oracleSql(name))
          Right((df, df.collect()))
        } catch { case e: Throwable => Left(errorClass(e)) }
        twin match {
          case Left(cls) => s"dialect_gap: $cls"
          case Right((df, _)) if schemaOf(df) != schemaOf(hand) => "differs: schema"
          case Right((_, rows)) if canonRows(rows) != canonRows(handRows) => "differs: rows"
          case Right((df, _)) =>
            if (planOf(df) == planOf(hand)) "equal_plan" else "equal_rows"
        }
    }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) test(s"registry query $name") {
    val hand = SparkEntry.queries(name)(spark, dir)
    val rows = hand.collect()
    val outcome = twinOutcome(name, hand, rows)
    observed(name) = outcome
    val before = committed.getOrElse(name, "(not in the table)")
    assert(outcome == before || rank(outcome) < rank(before),
      s"$name: SQL-twin outcome moved from '$before' to '$outcome'")
  }

  test("the outcome table names exactly the registry") {
    val out = java.nio.file.Paths.get("target", "registry_twins.tsv")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, observed.toSeq.sortBy(_._1)
      .map { case (n, o) => s"$n\t$o\n" }.mkString(
        "# Registry SQL-twin outcomes at sf0.001, written by RegistrySweepSpec to\n" +
          "# target/registry_twins.tsv; copy over src/test/resources to record a move.\n", "", ""))
    val counts = observed.values.groupBy(o => o.takeWhile(_ != ':')).map {
      case (k, v) => s"$k ${v.size}"
    }
    info(counts.toSeq.sorted.mkString(", ") +
      f" (sweep ${(System.nanoTime() - started) / 1e9}%.0f s)")
    val stale = committed.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"table rows without a registry query: ${stale.mkString(", ")}")
    val missing = SparkEntry.queries.keySet -- committed.keySet
    assert(missing.isEmpty, s"registry queries without a table row: ${missing.mkString(", ")}")
  }
}
