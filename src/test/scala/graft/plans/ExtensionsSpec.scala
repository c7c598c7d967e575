package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions is the one installation path: Engine.session builds
  * with it, other deployments set
  * spark.sql.extensions=graft.plans.GraftExtensions. The first test
  * builds a SEPARATE session the second way and checks the injection
  * points; the second checks that a child of the engine session inherits
  * everything with no registration call; the third gives the registry a
  * session built without the extensions. */
class ExtensionsSpec extends AnyFunSuite {

  test("config-injected extensions: array_dot function + pow(x,2) optimizer rule") {
    val default = graft.TestSession.spark // ensure base session/context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      // injected function resolves without runtime registration
      assert(ext.sql("SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0) == 11.0)
      // optimizer rule rewrites pow(x,2) to multiplication (x = cheap column ref)
      val df = ext.sql("SELECT pow(id, 2) AS sq FROM range(5)")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.toUpperCase.contains("POWER"), optimized)
      assert(df.collect().map(_.getDouble(0)).sorted.toSeq == Seq(0.0, 1.0, 4.0, 9.0, 16.0))
      // …but never duplicates non-deterministic or expensive bases
      val nd = ext.sql("SELECT pow(rand(), 2) AS sq FROM range(5)")
      assert(nd.queryExecution.optimizedPlan.toString.toUpperCase.contains("POW("))
      val exp = ext.sql("SELECT pow(id * 3 + 1, 2) AS sq FROM range(5)")
      assert(exp.queryExecution.optimizedPlan.toString.toUpperCase.contains("POW("))
      // custom operator stack: hint → analyzer rule → strategy → SparkPlan
      val base = ext.range(0, 10000).toDF("id").repartition(6)
      val sampled = base.hint("graft_reservoir", 100, 7L)
      assert(sampled.queryExecution.executedPlan.toString.contains("ReservoirSample"))
      val rows = sampled.collect().map(_.getLong(0))
      assert(rows.length == 100)
      assert(rows.distinct.length == 100)
      // deterministic for a fixed seed, different for another
      val again = base.hint("graft_reservoir", 100, 7L).collect().map(_.getLong(0))
      assert(rows.sorted.toSeq == again.sorted.toSeq)
      val other = base.hint("graft_reservoir", 100, 8L).collect().map(_.getLong(0))
      assert(rows.sorted.toSeq != other.sorted.toSeq)
      // roughly uniform: mean of a 100-sample from 0..9999 near 5000
      val mean = rows.sum.toDouble / rows.length
      assert(mean > 3500 && mean < 6500, s"mean=$mean")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(default)
      SparkSession.setActiveSession(default)
    }
  }

  test("a newSession() child of the engine session has every graft function and rule") {
    val child = graft.TestSession.spark.newSession()
    val names = graft.functions.DuckFunctions.table.map(_._1)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString("injected twice: ", ", ", ""))
    val missing = names.filterNot(child.catalog.functionExists)
    assert(missing.isEmpty, missing.mkString("unresolved in the child: ", ", ", ""))
    val sq = child.sql("SELECT pow(id, 2) AS sq FROM range(5)")
    assert(!sq.queryExecution.optimizedPlan.toString.toUpperCase.contains("POWER"))
    import child.implicits._
    child.conf.set("spark.graft.rangeJoin.bucketWidth", "8.0")
    val pts = (1 to 200).map(i => (i.toLong, i * 0.37)).toDF("pid", "x")
    val rng = (1 to 20).map(i => (i.toLong, i * 2.0, i * 2.0 + 7.0)).toDF("rid", "lo", "hi")
    val band = pts.join(rng, $"x" > $"lo" && $"x" <= $"hi")
    assert(band.queryExecution.optimizedPlan.toString.contains("__graft_pbucket"))
    assert(band.count() > 0)
  }

  test("a session built without the extensions: registerAll names the deployment rule, the registry runs in its graft child") {
    val default = graft.TestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val plain = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
      assert(!GraftExtensions.installed(plain))
      val dir = "/root/testdata/sf0.001"
      val err = intercept[IllegalStateException](graft.Engine.registerAll(plain, dir))
      assert(err.getMessage.contains("spark.sql.extensions=graft.plans.GraftExtensions"),
        err.getMessage)
      // SparkEntry.entry: TPC-H Q1 through Engine.sql (duck_avg, duck_sub)
      val q1 = graft.SparkEntry.entry(plain)
      assert(q1.count() > 0)
      val child = q1.sparkSession
      assert(child ne plain)
      assert(GraftExtensions.installed(child))
      assert(!GraftExtensions.installed(plain))
      assert(child.conf.get("spark.sql.shuffle.partitions") == "3")
      // one pinned child per session, also for Engine.session over it
      assert(graft.Engine.withGraft(plain) eq child)
      SparkSession.setActiveSession(plain)
      SparkSession.setDefaultSession(plain)
      assert(graft.Engine.session("local[2]", shufflePartitions = 3) eq child)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(default)
      SparkSession.setActiveSession(default)
    }
  }
}
