package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One traced span. Times are epoch microseconds; `parent` is 0 for the
  * root span of an operation, and every span of one operation shares its
  * `trace` id. */
final case class Span(trace: Long, id: Long, parent: Long, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = math.max(0L, endUs - startUs)
}

object Span {
  /** Microseconds of [start, end) covered by the union of `parts`. */
  def covered(start: Long, end: Long, parts: Iterable[(Long, Long)]): Long = {
    val clipped = parts.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Collects Spark's job, stage, task and query-execution events while it is
  * registered. Events are buffered in memory and attributed to operations
  * by time once at the end (see [[Layers]]). */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Waits until the asynchronous listener buses have been quiet for a while. */
  def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() - lastEventMs < quietMs && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, JobRec(e.time, e.stageIds))
    e.stageIds.foreach(s => stages.putIfAbsent(s, new StageRec))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time); touch()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      s.ran = e.stageInfo.submissionTime.isDefined
    }
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) s.synchronized {
      s.tasks += 1
      s.firstLaunchMs = if (s.firstLaunchMs < 0) e.taskInfo.launchTime else math.min(s.firstLaunchMs, e.taskInfo.launchTime)
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.spillBytes += m.diskBytesSpilled
      s.readBytes += m.inputMetrics.bytesRead
      s.readRows += m.inputMetrics.recordsRead
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qes.add(QeRec(qe.tracker, scans(qe))); touch()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    qes.add(QeRec(qe.tracker, (0, 0))); touch()
  }
}

object Tracer {
  val Phases = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  final case class JobRec(startMs: Long, stageIds: Seq[Int]) { @volatile var endMs: Long = -1L }

  final class StageRec {
    @volatile var submitMs: Long = -1L
    @volatile var completeMs: Long = -1L
    @volatile var ran: Boolean = false
    var firstLaunchMs: Long = -1L
    var tasks, runMs, cpuNs, gcMs, maxTaskMs, peakMem, spillBytes, readBytes, readRows,
      shuffleBytes, shuffleRecords, fetchWaitMs = 0L
  }

  /** Planning phases of one query execution plus its (memory, file) leaf scans. */
  final case class QeRec(tracker: QueryPlanningTracker, scans: (Int, Int)) {
    def phases: Map[String, (Long, Long)] = tracker.phases.collect {
      case (k, p) if Phases.contains(k) => k -> (p.startTimeMs, p.endTimeMs)
    }
  }

  /** Leaf scans of the executed (adaptive-final) plan: (served from memory, read from files). */
  def scans(qe: QueryExecution): (Int, Int) = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case r: ReusedExchangeExec => leaves(r.child)
      case other =>
        val kids = other.children ++ other.subqueries
        if (kids.isEmpty) Seq(other) else kids.flatMap(leaves)
    }
    val names = try leaves(qe.executedPlan).map(_.getClass.getSimpleName) catch { case _: Throwable => Nil }
    val memory = names.count(n => n.startsWith("InMemoryTableScan") || n.startsWith("RDDScan"))
    val files = names.count(n => n.startsWith("FileSourceScan") || n.startsWith("BatchScan"))
    (memory, files)
  }
}
