package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** The benchmark driver: one JVM, one `local[n]` session, one client in a
  * closed loop. Run through `python3 perfbench/run.py`, which builds the
  * program and passes:
  *   --workload W --seed S --seconds T --trace 0|1 --work DIR [--regen]
  *
  * A run: generate or reuse the inputs; set up three times (session,
  * registration, owned tables) and report the median as `setup_s`; run the
  * check pass (also the warm-up); measure about T seconds of whole rounds
  * with tracing off; with --trace 1, measure as many rounds again with the
  * tracer installed, and once more without it. The last stdout line is the
  * JSON result.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
                        dataKey: String, regen: Boolean)

  /** One executed operation; times are epoch microseconds. */
  final case class OpRec(id: Long, op: Op, t0: Long, t1: Long, t2: Long, ok: Boolean, rows: Long,
                         tracker: Option[org.apache.spark.sql.catalyst.QueryPlanningTracker]) {
    def latencyS: Double = (t2 - t0) / 1e6
  }

  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, m.getOrElse("data-key", "0"), m.getOrElse("regen", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e"); e.printStackTrace(); 2
    }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly.
    sys.exit(code)
  }

  def run(args: Args): Int = {
    val wl = Workload(args.workload)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val master = s"local[$cores]"
    val runDir = args.work.resolve("runs").resolve(wl.name)
    Data.deleteTree(runDir)
    Files.createDirectories(runDir)
    val expectedPath = Paths.get(sys.props.getOrElse("perfbench.expected", "perfbench/expected")).resolve(s"${wl.name}.tsv")
    val expected = Fingerprint.load(expectedPath)

    // set-up, three times; the data set is generated inside the first one
    // only when this checkout has no valid copy yet
    var spark: SparkSession = null
    var data: DataSet = null
    var genS = 0.0
    val setups = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.Engine.session(master)
      val (d, g) = Data.ensure(spark, args.work.resolve("data"), wl.inputs, args.dataKey)
      data = d; genS += g
      wl.prepare(spark, data, runDir.toString)
      (System.nanoTime() - t0) / 1e9 - g
    }
    val setupS = Stats.median(setups)

    if (args.regen) return regen(spark, wl, data, expectedPath)

    val stream = wl.rounds(args.seed, data, expected, runDir.toString)
    val streamFp = {
      val peek = wl.rounds(args.seed, data, expected, "RUN")
      scala.util.hashing.MurmurHash3.orderedHash(peek.take(3).flatten.map(o => o.name + o.text).toSeq) & 0xffffffffL
    }
    println(s"perfbench: workload=${wl.name} seed=${args.seed} master=$master client=1 closed-loop seconds=${args.seconds}")
    println(s"perfbench: input fingerprint data=${data.fingerprint} stream=${java.lang.Long.toHexString(streamFp)} (${data.manifest("tables")})")
    val confs = spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted
    println("perfbench: spark.sql confs " + confs.map { case (k, v) => s"$k=$v" }.mkString(" "))

    val failures = ArrayBuffer[String]()
    val runner = new Runner(spark, failures)
    val t0 = System.nanoTime()
    val warm = wl.checkPass(data, expected) match {
      case Nil => stream.next()
      case ops => ops
    }
    val warmRecs = warm.map(runner.run(_, traced = false)) ++ runner.measure(stream, wl.warmupRounds, traced = false)
    val warmupS = (System.nanoTime() - t0) / 1e9
    val resultRows = warmRecs.filter(_.rows >= 0).map(r => r.op.name -> r.rows).toMap

    // A run measures a fixed number of whole rounds, about --seconds of work
    // on the reference machine: a time cut would measure a different mix
    // of operations on every run.
    val rounds = math.max(1, math.round(args.seconds / wl.roundSeconds).toInt)
    val plain = runner.measure(stream, rounds, traced = false)
    val e2e = EndToEnd(plain, setupS)
    val storageMb = Stats.storageMb(spark)

    // traced phase, bracketed by the untraced phase before it and another
    // after it, so JIT warm-up during the run does not pass for overhead
    val traced = if (!args.trace) None else {
      val tracer = new Tracer(spark)
      tracer.install()
      val recs = runner.measure(stream, rounds, traced = true)
      tracer.settle()
      tracer.uninstall()
      Some((tracer, recs, runner.measure(stream, rounds, traced = false)))
    }

    val attempted = warmRecs.size + plain.size + traced.map(t => t._2.size + t._3.size).getOrElse(0)
    val failed = failures.size
    println(f"perfbench: set-up ${setups.map(s => f"$s%.3f").mkString(" ")} s (median $setupS%.4f s); " +
      f"data generation $genS%.2f s; check pass and warm-up $warmupS%.2f s for ${warmRecs.size} ops")
    failures.take(20).foreach(f => println(s"perfbench: FAILED $f"))
    println("perfbench: op latencies (s) " + plain.map(r => f"${r.op.name}=${r.latencyS}%.3f").mkString(" "))
    println(f"perfbench: end-to-end (tracing off, $rounds rounds, ${plain.size} ops in ${plain.map(_.latencyS).sum}%.2f s):")
    e2e.lines(attempted, failed, storageMb).foreach(l => println("  " + l))

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => e2e.contract
      case Some((tracer, recs, after)) =>
        val layers = Layers(tracer, recs, resultRows, Stats.storageMb(spark))
        val tracedOps = EndToEnd(recs, setupS).opsPerS
        val plainOps = EndToEnd(plain ++ after, setupS).opsPerS
        println(f"perfbench: ops_per_s untraced $plainOps%.4f (${plain.size + after.size} ops), traced $tracedOps%.4f (${recs.size} ops)")
        val overhead = Seq(
          ("trace.overhead_ops_per_s", plainOps - tracedOps, "1/s"),
          ("trace.overhead_pct", if (plainOps > 0) 100.0 * (plainOps - tracedOps) / plainOps else 0.0, "%"))
        val spansFile = args.work.resolve("trace").resolve(s"${wl.name}.spans.jsonl")
        val nSpans = layers.writeSpans(spansFile)
        println(s"perfbench: per-layer (tracing on, ${recs.size} ops, $nSpans spans in $spansFile):")
        (layers.metrics ++ overhead).foreach { case (n, v, u) => println(f"  $n%-28s $v%14.4f $u") }
        layers.metrics ++ overhead
    }
    spark.stop()
    Data.deleteTree(runDir)

    val json = metrics.map { case (n, v, u) => s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    0
  }

  /** Rewrites the committed fingerprint file from the program's current output. */
  private def regen(spark: SparkSession, wl: Workload, data: DataSet, path: Path): Int = {
    val entries = wl.fingerprinted(data).map { case (key, op) =>
      val df = op.build(spark)
      val rows = df.collect()
      println(s"perfbench: fingerprint $key rows=${rows.length}")
      key -> Fingerprint.of(df.schema, rows)
    }
    Fingerprint.save(path, s"Result fingerprints of ${wl.name} (name, rows, exact-column hash, float sums).\n" +
      "Regenerate: python3 perfbench/run.py --regen --workload " + wl.name, entries)
    spark.stop()
    println(s"perfbench: wrote ${entries.size} fingerprints to $path")
    0
  }

  /** Runs operations one at a time and records them. */
  final class Runner(spark: SparkSession, failures: ArrayBuffer[String]) {
    private var nextId = 0L

    def run(op: Op, traced: Boolean): OpRec = {
      nextId += 1
      val t0 = nowUs()
      var t1 = t0
      var rows: Array[Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      var tracker: Option[org.apache.spark.sql.catalyst.QueryPlanningTracker] = None
      val error = try {
        val df = op.build(spark)
        t1 = nowUs()
        op.sink match {
          case Sink.Noop => df.write.format("noop").mode("overwrite").save()
          case Sink.Collect => rows = df.collect(); schema = df.schema
        }
        if (traced) tracker = Some(df.queryExecution.tracker)
        None
      } catch { case e: Throwable => Some(s"${op.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      val t2 = nowUs()
      val problem = error.orElse(if (rows != null) op.check(schema, rows) else None)
      problem.foreach(failures += _)
      OpRec(nextId, op, t0, t1, t2, problem.isEmpty, if (rows != null) rows.length.toLong else -1L, tracker)
    }

    /** `rounds` whole rounds of the stream. */
    def measure(stream: Iterator[Seq[Op]], rounds: Int, traced: Boolean): Seq[OpRec] =
      stream.take(rounds).toSeq.flatMap(_.map(run(_, traced)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Spark storage memory in use (cached and checkpointed blocks), MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** End-to-end metrics of one measured phase. */
final case class EndToEnd(recs: Seq[Main.OpRec], setupS: Double) {
  private def lat(f: Main.OpRec => Boolean): Seq[Double] = recs.filter(f).map(_.latencyS)
  private val all = lat(_ => true)
  val opsPerS: Double = if (all.isEmpty) 0.0 else all.size / all.sum

  /** The metrics of the JSON result. op_p90_s is printed only: no
    * workload has ten samples beyond it in one run. */
  def contract: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("ops_per_s", opsPerS, "1/s"),
    ("op_p50_s", Stats.quantile(all, 0.5), "s"))

  def lines(attempted: Int, failed: Int, storageMb: Double): Seq[String] = {
    val reads = lat(_.op.kind == "read"); val writes = lat(_.op.kind == "write")
    def pct(name: String, xs: Seq[Double], q: Double): Option[String] =
      if (xs.isEmpty) None
      else Some(f"$name%-12s ${Stats.quantile(xs, q)}%10.4f s   (n=${xs.size}, ${math.round(xs.size * (1 - q))} beyond)")
    Seq(f"${"setup_s"}%-12s $setupS%10.4f s", f"${"ops_per_s"}%-12s $opsPerS%10.4f 1/s") ++
      pct("op_p50_s", all, 0.5) ++ pct("op_p90_s", all, 0.9) ++
      pct("read_p50_s", reads, 0.5) ++ pct("read_p90_s", reads, 0.9) ++
      pct("write_p50_s", writes, 0.5) ++ pct("write_p90_s", writes, 0.9) ++
      Seq(f"${"fail_ratio"}%-12s ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%10.4f     ($failed of $attempted)",
        f"${"storage_mb"}%-12s $storageMb%10.4f MB")
  }
}
