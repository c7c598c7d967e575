package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedAggregator, UserDefinedFunction}

/** Narrow accessor for `private[sql]` Spark internals the graft planner
  * needs: building a DataFrame from a catalyst LogicalPlan (used by
  * [[graft.plans.RangeJoinRule]] to run its plan-time boundary-sampling
  * job), turning a Scala UDF/UDAF into a function-registry builder
  * (used by [[graft.plans.GraftExtensions]]) and adding extensions to a
  * running session's children (used by [[graft.Engine.withGraft]]).
  * Lives under org.apache.spark.sql so the package-private API is
  * visible; keep this file to the minimum surface.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The builder `spark.udf.register(name, f)` installs: the UDF renamed
    * to `name` (so unaliased output columns read `name(args)`), a
    * `ScalaAggregator` for `udaf(…)` rows, a `ScalaUDF` otherwise. */
  def udfBuilder(name: String, f: UserDefinedFunction): Seq[Expression] => Expression =
    f.withName(name) match {
      case a: UserDefinedAggregator[_, _, _] => args => ScalaAggregator(a, args)
      case u: SparkUserDefinedFunction => args => classic.UserDefinedFunctionUtils.toScalaUDF(u, args)
    }

  /** Adds `install` to the extensions `spark` shares with its
    * `newSession()` children; states already built keep what they have. */
  def extendChildren(spark: SparkSession, install: SparkSessionExtensions => Unit): Unit =
    install(spark.asInstanceOf[classic.SparkSession].extensions)
}
