package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Per-layer metrics and spans of a traced phase.
  *
  * Every Spark event is attributed to the operation whose wall-clock window
  * contains it (one client, operations never overlap). An operation's
  * spans: the op itself; its `queries.build` or `Engine.sql` call and its
  * sink; the Catalyst phases of every query execution it ran; its jobs;
  * their stages. Counts and times are means per operation unless the name
  * says otherwise.
  */
final case class Layers(tracer: Tracer, recs: Seq[Main.OpRec], resultRows: Map[String, Long], storageMb: Double) {
  import Tracer._

  private val jobs = tracer.jobs.asScala.toSeq.sortBy(_._1)
  private val stages = tracer.stages.asScala.toMap
  private val qes = tracer.qes.asScala.toSeq

  private final case class PerOp(rec: Main.OpRec, jobs: Seq[(Int, JobRec)], qes: Seq[QeRec]) {
    def within(a: Long, b: Long): Seq[(Int, JobRec)] = jobs.filter { case (_, j) => j.startMs * 1000 >= a && j.startMs * 1000 < b }
    def jobSpan(j: JobRec): (Long, Long) = (j.startMs * 1000, math.max(j.startMs, j.endMs) * 1000)
    def stageRecs: Seq[StageRec] = jobs.flatMap(_._2.stageIds).distinct.flatMap(stages.get).filter(_.ran)
    def phases: Seq[(String, Long, Long)] =
      qes.flatMap(_.phases.map { case (k, (s, e)) => (k, s * 1000, e * 1000) })
  }

  /** The operation an event began in. Event times are whole milliseconds,
    * so the true start lies in [ms, ms + 1): take the last operation that
    * began before its upper end. */
  private val starts = recs.map(_.t0).toArray
  private def owner(startMs: Long): Option[Main.OpRec] = {
    val i = java.util.Arrays.binarySearch(starts, startMs * 1000 + 999)
    val k = if (i >= 0) i else -i - 2
    if (k >= 0 && startMs * 1000 <= recs(k).t2) Some(recs(k)) else None
  }

  private val perOp: Seq[PerOp] = {
    val jobsOf = jobs.groupBy { case (_, j) => owner(j.startMs).map(_.id) }
    val qesOf = qes.groupBy(q => q.phases.values.map(_._1).minOption.flatMap(owner).map(_.id))
    recs.map { r =>
      val own = qesOf.getOrElse(Some(r.id), Nil)
      val extra = r.tracker.filterNot(t => own.exists(_.tracker eq t)).map(QeRec(_, (0, 0)))
      PerOp(r, jobsOf.getOrElse(Some(r.id), Nil), own ++ extra)
    }
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ms(us: Long): Double = us / 1000.0

  def metrics: Seq[(String, Double, String)] = {
    val sqlOps = perOp.filter(_.rec.op.viaSql)
    val builtOps = perOp.filter(!_.rec.op.viaSql)
    val writes = perOp.filter(_.rec.op.kind == "write")
    def callMs(p: PerOp) = ms(p.rec.t1 - p.rec.t0)
    def sqlSelf(p: PerOp): Double = {
      val r = p.rec
      val inner = p.within(r.t0, r.t1).map { case (_, j) => p.jobSpan(j) } ++
        p.phases.filter(_._1 == "analysis").map(x => (x._2, x._3))
      ms(r.t1 - r.t0 - Span.covered(r.t0, r.t1, inner))
    }
    def phase(name: String): Double = mean(perOp.map(p => p.phases.filter(_._1 == name).map(x => ms(x._3 - x._2)).sum))
    def stageSum(f: StageRec => Double): Double = mean(perOp.map(p => p.stageRecs.map(f).sum))
    def stageMax(f: StageRec => Double): Double = mean(perOp.map(p => (0.0 +: p.stageRecs.map(f)).max))
    val scanRows = perOp.map(p => p.stageRecs.map(_.readRows).sum).sum
    val resRows = perOp.map(p => if (p.rec.rows >= 0) p.rec.rows else resultRows.getOrElse(p.rec.op.name, 0L)).sum
    val (memScans, fileScans) = perOp.flatMap(_.qes).map(_.scans).foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Seq(
      ("SqlDialect.call_ms", mean(sqlOps.map(callMs)), "ms"),
      ("SqlDialect.self_ms", mean(sqlOps.map(sqlSelf)), "ms"),
      ("catalyst.analysis_ms", phase("analysis"), "ms"),
      ("catalyst.optimization_ms", phase("optimization"), "ms"),
      ("catalyst.planning_ms", phase("planning"), "ms"),
      ("queries.build_ms", mean(builtOps.map(callMs)), "ms"),
      ("queries.prejobs", mean(perOp.map(p => p.within(p.rec.t0, p.rec.t1).size.toDouble)), "count"),
      ("queries.prejob_ms", mean(perOp.map(p =>
        ms(Span.covered(p.rec.t0, p.rec.t1, p.within(p.rec.t0, p.rec.t1).map(x => p.jobSpan(x._2)))))), "ms"),
      ("Engine.dml_ms", mean(writes.map(callMs)), "ms"),
      ("Engine.dml_jobs", mean(writes.map(p => p.within(p.rec.t0, p.rec.t1).size.toDouble)), "count"),
      ("exec.jobs", mean(perOp.map(_.jobs.size.toDouble)), "count"),
      ("exec.stages", mean(perOp.map(_.stageRecs.size.toDouble)), "count"),
      ("exec.tasks", stageSum(_.tasks.toDouble), "count"),
      ("exec.driver_gap_ms", mean(perOp.map { p =>
        val r = p.rec
        ms(r.t2 - r.t1 - Span.covered(r.t1, r.t2, p.within(r.t1, r.t2 + 1000).map(x => p.jobSpan(x._2))))
      }), "ms"),
      ("exec.sched_wait_ms", stageSum(s => if (s.firstLaunchMs >= 0 && s.submitMs >= 0) math.max(0L, s.firstLaunchMs - s.submitMs).toDouble else 0.0), "ms"),
      ("shuffle.write_mb", stageSum(_.shuffleBytes / 1e6), "MB"),
      ("shuffle.records", stageSum(_.shuffleRecords.toDouble), "count"),
      ("shuffle.fetch_wait_ms", stageSum(_.fetchWaitMs.toDouble), "ms"),
      ("spill.mb", stageSum(_.spillBytes / 1e6), "MB"),
      ("task.run_ms", stageSum(_.runMs.toDouble), "ms"),
      ("task.cpu_ms", stageSum(_.cpuNs / 1e6), "ms"),
      ("task.gc_ms", stageSum(_.gcMs.toDouble), "ms"),
      ("task.max_ms", stageMax(_.maxTaskMs.toDouble), "ms"),
      ("task.peak_mem_mb", stageMax(_.peakMem / 1e6), "MB"),
      ("scan.read_mb", stageSum(_.readBytes / 1e6), "MB"),
      ("scan.rows", stageSum(_.readRows.toDouble), "count"),
      ("scan.rows_per_result_row", if (resRows > 0) scanRows.toDouble / resRows else 0.0, "ratio"),
      ("cache.hit_ratio", if (memScans + fileScans > 0) memScans.toDouble / (memScans + fileScans) else 0.0, "ratio"),
      ("cache.storage_mb", storageMb, "MB"))
  }

  /** Writes one JSON object per span (with its self time) and returns the count. */
  def writeSpans(path: Path): Int = {
    val out = ArrayBuffer[(Span, Long)]()
    var nextId = 0L
    def id(): Long = { nextId += 1; nextId }
    perOp.foreach { p =>
      val r = p.rec
      val trace = r.id
      val root = Span(trace, id(), 0, s"op:${r.op.name}", r.t0, r.t2)
      val call = Span(trace, id(), root.id, if (r.op.viaSql) "Engine.sql" else "queries.build", r.t0, r.t1)
      val sink = Span(trace, id(), root.id, s"sink.${r.op.sink.toString.toLowerCase}", r.t1, r.t2)
      def parentOf(startUs: Long): Span = if (startUs < r.t1) call else sink
      val phases = p.phases.map { case (k, s, e) => Span(trace, id(), parentOf(s).id, s"catalyst.$k", s, e) }
      val jobSpans = p.jobs.map { case (jid, j) =>
        val (s, e) = p.jobSpan(j)
        jid -> Span(trace, id(), parentOf(s).id, s"job.$jid", s, e)
      }
      val stageSpans = jobSpans.flatMap { case (jid, js) =>
        jobs.find(_._1 == jid).toSeq.flatMap(_._2.stageIds).flatMap(sid => stages.get(sid).filter(_.ran).map(sid -> _))
          .map { case (sid, st) => Span(trace, id(), js.id, s"stage.$sid", st.submitMs * 1000, math.max(st.submitMs, st.completeMs) * 1000) }
      }
      val all = Seq(root, call, sink) ++ phases ++ jobSpans.map(_._2) ++ stageSpans
      all.foreach { s =>
        val kids = all.filter(_.parent == s.id).map(k => (k.startUs, k.endUs))
        out += s -> (s.durUs - Span.covered(s.startUs, s.endUs, kids))
      }
    }
    Files.createDirectories(path.getParent)
    val lines = out.map { case (s, self) =>
      s"""{"trace": ${s.trace}, "span": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_us": ${s.startUs}, "end_us": ${s.endUs}, "self_us": $self}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    lines.size
  }
}
