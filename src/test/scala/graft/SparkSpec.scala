package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per JVM — tests fork once). */
object TestSession {
  lazy val spark: SparkSession = Engine.session("local[4]", shufflePartitions = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** The plan that ran: AQE's final plan with its query stages opened
    * (subqueries included). */
  def finalNodes(p: SparkPlan): Seq[SparkPlan] = Engine.finalPlanNodes(p).map(_._2)

  /** Run `body` with codegen-compile failures made FATAL: Spark's
    * default catches generated-code compile errors and silently falls
    * back to interpreted execution, so a doGenCode bug passes ordinary
    * tests while costing a plan-wide codegen fence in production. */
  def withCodegenOnly[A](body: => A): A = {
    val before = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body
    finally before match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }
}
