package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.Row
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** One materialization per DML statement: each plain INSERT, DELETE,
  * UPDATE and COPY TO is one Spark job, its count observed in that job;
  * RETURNING reads the stored rows; appends keep the table's partition
  * count bounded. The expected counts were checked against DuckDB 1.0. */
class DmlStateSpec extends SparkSpec {
  import spark.implicits._

  private val out = "target/dml_state_spec"

  /** Jobs submitted while `body` runs, counted under the test's own job
    * group so other suites' jobs in the shared SparkContext never count. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val group = s"dml-state-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "DML statement")
      val r = try body finally spark.sparkContext.clearJobGroup()
      // listener delivery is asynchronous: let the last job start land
      Thread.sleep(300)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def run(q: String): Array[Row] = Engine.sql(spark, q).collect()

  private def count(q: String): Long = run(q).head.getLong(0)

  private def partitions(t: String): Int = spark.table(t).rdd.getNumPartitions

  test("plain INSERT, DELETE, UPDATE and COPY TO run one job each, with DuckDB's counts") {
    run("CREATE OR REPLACE TABLE dml_state_c AS SELECT id, id % 4 AS v FROM range(20)")
    val steps = Seq(
      "INSERT INTO dml_state_c VALUES (100, 1), (101, NULL)" -> 2L,
      "DELETE FROM dml_state_c WHERE id < 8" -> 8L,
      "DELETE FROM dml_state_c WHERE NULL" -> 0L,
      "UPDATE dml_state_c SET v = 0 WHERE " +
        "CASE WHEN id < 11 THEN true WHEN id < 15 THEN NULL ELSE false END" -> 3L,
      s"COPY (SELECT * FROM dml_state_c WHERE id >= 100) TO '$out/c.csv' (HEADER)" -> 2L)
    steps.foreach { case (q, want) =>
      val (rows, jobs) = jobsOf(run(q))
      assert(rows.map(_.getLong(0)).toSeq == Seq(want), q)
      assert(jobs == 1, s"$q ran $jobs jobs")
    }
    assert(count("SELECT count(*) FROM dml_state_c") == 14L)
    assert(run("SELECT id FROM dml_state_c WHERE v = 0 ORDER BY id").map(_.getLong(0)).toSeq ==
      Seq(8L, 9L, 10L, 12L, 16L))
  }

  test("twenty five-row INSERTs never raise the partition count past max(stored, parallelism)") {
    val bound = (t: String) => math.max(partitions(t), spark.sparkContext.defaultParallelism)
    run("CREATE OR REPLACE TABLE dml_state_p AS SELECT id, id % 8 AS grp FROM range(2000)")
    val sqlBound = bound("dml_state_p")
    (0 until 20).foreach { i =>
      val values = (0 until 5).map(k => s"(${10000 + 5 * i + k}, $k)").mkString(", ")
      assert(count(s"INSERT INTO dml_state_p VALUES $values") == 5L)
    }
    assert(partitions("dml_state_p") <= sqlBound)
    assert(count("SELECT count(*) FROM dml_state_p") == 2100L)

    Engine.createTable(spark, "dml_state_q", spark.range(2000).toDF("id"))
    val apiBound = bound("dml_state_q")
    (0 until 20).foreach { i =>
      assert(Engine.insertInto(spark, "dml_state_q", (0 until 5).map(k => 10000L + 5 * i + k).toDF("id")) == 5L)
    }
    assert(partitions("dml_state_q") <= apiBound)
    assert(spark.table("dml_state_q").count() == 2100L)
  }

  test("DML on an empty table and under WHERE false returns 0") {
    val work = Future {
      run("CREATE OR REPLACE TABLE dml_state_e (a BIGINT, b VARCHAR)")
      run("CREATE OR REPLACE TABLE dml_state_f AS SELECT id FROM range(10)")
      Seq(
        count("DELETE FROM dml_state_e"),
        count("UPDATE dml_state_e SET a = 1"),
        count("INSERT INTO dml_state_e SELECT 1, 'x' WHERE false"),
        count(s"COPY (SELECT * FROM dml_state_e) TO '$out/e.csv' (HEADER)"),
        count("DELETE FROM dml_state_f WHERE false"),
        count("UPDATE dml_state_f SET id = 1 WHERE false"),
        Engine.deleteWhere(spark, "dml_state_e", org.apache.spark.sql.functions.lit(true)))
    }
    assert(Await.result(work, 2.minutes).forall(_ == 0L))
    assert(spark.table("dml_state_f").count() == 10L)
  }

  test("INSERT … RETURNING returns the rows stored, evaluating the source once") {
    run("CREATE OR REPLACE SEQUENCE dml_state_s1")
    run("CREATE OR REPLACE TABLE dml_state_ns (a BIGINT, r DOUBLE)")
    run("INSERT INTO dml_state_ns SELECT nextval('dml_state_s1'), random() FROM range(3)")
    val ret = run("INSERT INTO dml_state_ns SELECT nextval('dml_state_s1'), random() " +
      "FROM range(2) RETURNING a, r").map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val stored = run("SELECT a, r FROM dml_state_ns WHERE a > 3")
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(ret.map(_._1) == Seq(4L, 5L))
    assert(ret == stored)
    assert(count("SELECT count(*) FROM dml_state_ns") == 5L)
  }

  test("UPDATE … RETURNING returns the values stored") {
    run("CREATE OR REPLACE TABLE dml_state_nu AS SELECT id AS a, CAST(0 AS DOUBLE) AS r FROM range(1, 6)")
    val ret = run("UPDATE dml_state_nu SET r = random() WHERE a > 0 RETURNING a, r")
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val stored = run("SELECT a, r FROM dml_state_nu")
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(ret.length == 5 && ret == stored)
  }

  test("UPDATE assignments read the old row, as in SQL") {
    run("CREATE OR REPLACE TABLE dml_state_sw AS SELECT 1 AS a, 2 AS b")
    assert(count("UPDATE dml_state_sw SET a = b, b = a") == 1L)
    val r = run("SELECT a, b FROM dml_state_sw").head
    assert((r.getInt(0), r.getInt(1)) == (2, 1))
  }

  test("CTAS returns DuckDB's one Count row") {
    val r = Engine.sql(spark, "CREATE OR REPLACE TABLE dml_state_ctas AS SELECT id FROM range(20)")
    assert(r.columns.toSeq == Seq("Count"))
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(20L))
    assert(count("SELECT count(*) FROM dml_state_ctas") == 20L)
  }

  test("LIMIT p% counts its base in the base's own job") {
    val (rows, jobs) = jobsOf(run("SELECT id FROM range(100) LIMIT 10%"))
    assert(rows.length == 10)
    assert(jobs <= 2, s"LIMIT 10% ran $jobs jobs")
  }
}
