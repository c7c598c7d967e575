package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, LeafExpression, Literal, Multiply, Pow, Round}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** The one place graft's functions, rules and strategy are installed
  * (the reference installs its built-ins, optimizer and parser
  * extensions once at database creation, duckdb-8.cpp:7282 /
  * duckdb-7.cpp:14038). [[graft.Engine.session]] builds with it; any
  * other deployment sets `spark.sql.extensions=graft.plans.GraftExtensions`.
  * Spark passes a session's extensions on to `newSession()`, so child
  * sessions need no call either. A session built without them gets a
  * graft child from [[graft.Engine.withGraft]], which the registry's
  * entry points apply.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.DuckFunctions.table.foreach { case (name, builder) =>
      // the ExpressionInfo FunctionRegistry.createOrReplaceTempFunction
      // would record for the same builder
      val info = new ExpressionInfo(builder.getClass.getName, null, name, null,
        "", "", "", "", "", "", "built-in")
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => SquarePowRule)
    ext.injectOptimizerRule(_ => FastRoundRule)
    ext.injectOptimizerRule(_ => RangeJoinRule)
    ext.injectPostHocResolutionRule(_ => ResolveReservoirHint)
    ext.injectPlannerStrategy(_ => ReservoirStrategy)
  }
}

object GraftExtensions {
  /** True when `spark` was built with the extensions (a registry lookup). */
  def installed(spark: SparkSession): Boolean =
    spark.sessionState.functionRegistry.functionExists(FunctionIdentifier("duck_avg"))

  def require(spark: SparkSession): Unit =
    if (!installed(spark)) throw new IllegalStateException("this session has no graft " +
      "functions; open it with graft.Engine.session, graft.Engine.withGraft or " +
      "spark.sql.extensions=graft.plans.GraftExtensions")
}

/** Optimizer rule: `pow(x, 2)` → `x * x` (a multiplication beats a
  * transcendental pow call; the reference's ExpressionRewriter plays the
  * same role with ArithmeticSimplification, duckdb-7.cpp:13908).
  */
object SquarePowRule extends Rule[LogicalPlan] {

  // duplicating the base is only safe/profitable when it is deterministic
  // (pow(rand(),2) must NOT become rand()*rand()) and cheap to re-evaluate
  // (a column ref / literal, possibly cast) — the same guard Spark's own
  // optimizer applies before duplicating expressions
  private def cheapDeterministic(e: Expression): Boolean = e.deterministic && (e match {
    case _: LeafExpression => true
    case c: Cast => c.child.isInstanceOf[LeafExpression]
    case _ => false
  })

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Pow(b, Literal(2.0, DoubleType)) if cheapDeterministic(b) => Multiply(b, b)
    }
}

/** Optimizer rule: `round(x DOUBLE, s)` with a literal scale →
  * [[FastRound]], bit-identical to Spark's BigDecimal-based `Round`
  * (FastRoundSpec) without its per-row allocation. Scales outside
  * [0, 22] take FastRound's exact slow path.
  */
object FastRoundRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Round(x, s @ Literal(_: Int, IntegerType), _) if x.dataType == DoubleType =>
        FastRound(x, s)
    }
}
