package graft

import scala.collection.mutable
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Every registry query at sf0.001 on the shared session, as `Verify`
  * runs it on its one session:
  *  - it executes;
  *  - the plan that ran (AQE-final, stages opened) has no
  *    condition-less inner/cross nested-loop join or cartesian product
  *    over a build side of more than one row, unless [[crossAllowed]]
  *    names the entry;
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

  /** Entries whose product is the query: each name with its reason. */
  private val crossAllowed: Map[String, String] = Map(
    "join_cross" -> "CROSS JOIN is the query (nation x region)")

  private val crossHits = mutable.LinkedHashMap.empty[String, Seq[String]]

  /** Rows a side produced in the run, from the first node down it that
    * counts them (stage and reuse wrappers count nothing). */
  private def producedRows(p: SparkPlan): Option[Long] = p match {
    case q: QueryStageExec => producedRows(q.plan)
    case r: ReusedExchangeExec => producedRows(r.child)
    case _ => p.metrics.get("numOutputRows").map(_.value)
      .orElse(p.children.headOption.flatMap(producedRows))
  }

  /** Condition-less inner/cross products whose build side produced more
    * than one row: a nested-loop join's build side, or a cartesian
    * product's smaller side. A 1-row side (a global aggregate) is a
    * free broadcast; anything more multiplies the other side. */
  private def crossProducts(df: DataFrame): Seq[String] =
    finalNodes(df.queryExecution.executedPlan).flatMap {
      case j: BroadcastNestedLoopJoinExec
          if j.condition.isEmpty && (j.joinType == Inner || j.joinType == Cross) =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        producedRows(build).filter(_ > 1).map(n => s"BroadcastNestedLoopJoin, build side $n rows")
      case c: CartesianProductExec if c.condition.isEmpty =>
        val sides = Seq(c.left, c.right).flatMap(producedRows)
        Option.when(sides.size == 2 && sides.min > 1)(s"CartesianProduct, smaller side ${sides.min} rows")
      case _ => None
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
    val products = crossProducts(hand)
    if (products.nonEmpty) crossHits(name) = products
    assert(products.isEmpty || crossAllowed.contains(name),
      s"$name ran a condition-less cross product: ${products.mkString("; ")}\n" +
        hand.queryExecution.executedPlan)
    val outcome = twinOutcome(name, hand, rows)
    observed(name) = outcome
    val before = committed.getOrElse(name, "(not in the table)")
    assert(outcome == before || rank(outcome) < rank(before),
      s"$name: SQL-twin outcome moved from '$before' to '$outcome'")
  }

  test("every cross-product allowlist entry is a registry query that runs one") {
    val stale = crossAllowed.keySet -- crossHits.keySet
    assert(stale.isEmpty, s"allowlisted without a cross product: ${stale.mkString(", ")}")
    info(crossHits.map { case (n, p) => s"$n: ${p.mkString("; ")}" }.mkString(" | "))
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
