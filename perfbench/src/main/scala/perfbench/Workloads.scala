package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** How an operation's result reaches the client: discarded row by row
  * through the noop writer (the registry's timing sink), or fetched. */
sealed trait Sink
object Sink {
  case object Noop extends Sink
  case object Collect extends Sink
}

/** One client operation. `build` is the call into the program that returns
  * the DataFrame (a registry constructor or `Engine.sql`); the sink then runs
  * it. `check` sees the fetched rows and names what is wrong, if anything. */
final case class Op(name: String, kind: String, sink: Sink,
                    build: SparkSession => DataFrame,
                    check: (StructType, Array[Row]) => Option[String], text: String = "") {
  def fetching: Op = copy(sink = Sink.Collect)
  /** Statements go through `Engine.sql`; queries through a registry constructor. */
  def viaSql: Boolean = kind != "query"
}

object Op {
  val noCheck: (StructType, Array[Row]) => Option[String] = (_, _) => None
}

trait Workload {
  def name: String
  def inputs: Inputs
  /** Nominal seconds of one measured round on a 4-core machine. */
  def roundSeconds: Double
  /** Unmeasured rounds after the check pass, so measured plans run warm. */
  def warmupRounds: Int = 0
  /** Per-session preparation that is part of set-up: views, owned tables. */
  def prepare(spark: SparkSession, data: DataSet, runDir: String): Unit = ()
  /** The check pass run once before measuring; it also warms the JVM. */
  def checkPass(data: DataSet, expected: Map[String, Fingerprint]): Seq[Op]
  /** Measured rounds, an endless seeded stream. */
  def rounds(seed: Long, data: DataSet, expected: Map[String, Fingerprint], runDir: String): Iterator[Seq[Op]]
  /** Operations whose fetched result is pinned by a committed fingerprint. */
  def fingerprinted(data: DataSet): Seq[(String, Op)] = Nil
}

object Workload {
  def apply(name: String): Workload = name match {
    case "tpch_x4" => TpchX4
    case "pipeline_docs_x8" => PipelineDocsX8
    case "sql_mix" => SqlMix
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def fingerprintCheck(key: String, expected: Map[String, Fingerprint]): (StructType, Array[Row]) => Option[String] =
    (schema, rows) => expected.get(key) match {
      case None => Some(s"no committed fingerprint for $key")
      case Some(want) =>
        val got = Fingerprint.of(schema, rows)
        if (got.matches(want)) None else Some(s"fingerprint mismatch for $key: got ${got.render}, want ${want.render}")
    }

  /** A seeded permutation of the cohort per round. */
  def shuffledRounds(seed: Long, ops: Seq[Op]): Iterator[Seq[Op]] =
    Iterator.from(0).map(r => new scala.util.Random(seed * 1000003L + r).shuffle(ops))

  def recall(label: String, found: Int, total: Int, min: Double): Option[String] = {
    val r = if (total == 0) 1.0 else found.toDouble / total
    if (total == 0) Some(s"$label: no planted pairs in the input")
    else if (r + 1e-12 < min) Some(f"$label: planted-pair recall $r%.4f ($found/$total) below $min%.2f")
    else None
  }
}

/** The TPC-H-analog registry queries over the key-remapped x4 replica. */
object TpchX4 extends Workload {
  val name = "tpch_x4"
  val inputs = Inputs.TpchX4
  val roundSeconds = 5.0
  override val warmupRounds = 1
  /** The measured cohort (see perfbench/README.md for why not all 22). */
  val Cohort = Seq("tpch_q17ish", "tpch_q21ish", "tpch_q5ish", "tpch_q18ish")

  override def prepare(spark: SparkSession, data: DataSet, runDir: String): Unit =
    graft.Engine.registerAll(spark, data.path)

  private def op(q: String, data: DataSet): Op =
    Op(q, "query", Sink.Noop, s => graft.SparkEntry.queries(q)(s, data.path), Op.noCheck)

  override def fingerprinted(data: DataSet): Seq[(String, Op)] =
    Cohort.map(q => s"$name.$q" -> op(q, data).fetching)

  def checkPass(data: DataSet, expected: Map[String, Fingerprint]): Seq[Op] =
    fingerprinted(data).map { case (k, o) => o.copy(check = Workload.fingerprintCheck(k, expected)) }

  def rounds(seed: Long, data: DataSet, expected: Map[String, Fingerprint], runDir: String): Iterator[Seq[Op]] =
    Workload.shuffledRounds(seed, Cohort.map(op(_, data)))
}

/** LLM-pipeline registry queries over the x8 documents/embeddings corpus. */
object PipelineDocsX8 extends Workload {
  import CorpusGen.{PairLabel, TwinOffset}
  val name = "pipeline_docs_x8"
  val inputs = Inputs.DocsX8
  val roundSeconds = 3.3
  override val warmupRounds = 1
  val Cohort = Seq("dedup_embedding_cosine_lsh", "text_dup_spans", "sim_ivf_topk")
  /** Expected planted-pair recall of the banded (LSH) path: the vector twins
    * are identical, so they share every band key and only a capped hot
    * bucket can drop one. */
  val LshRecall = 0.99

  /** Checks against the planted twins: the LSH path finds each twin pair at
    * its own label pair, the exact span detector flags both documents of
    * every pair, and the IVF path meets its own per-query recall contract. */
  private def check(q: String, data: DataSet): (StructType, Array[Row]) => Option[String] = {
    val planted = data.longs("twin_docs").map(b => (b, b + TwinOffset))
    val vecTwins = data.longs("twin_vecs")
    val f: Array[Row] => Option[String] = q match {
      case "dedup_embedding_cosine_lsh" => (rows: Array[Row]) =>
        val found = rows.count(r => r.getLong(0) == r.getLong(1) && r.getLong(0) >= PairLabel && r.getLong(2) >= 1)
        Workload.recall(q, found, vecTwins.size, LshRecall)
      case "text_dup_spans" => (rows: Array[Row]) =>
        val dup = rows.filter(_.getLong(2) > 0).map(_.getLong(0)).toSet
        Workload.recall(q, planted.count { case (a, b) => dup(a) && dup(b) }, planted.size, 1.0)
      case "sim_ivf_topk" => (rows: Array[Row]) =>
        if (rows.length == 5 && rows.forall(r => r.getLong(1) == 10 && r.getBoolean(2))) None
        else Some(s"$q: recall contract failed: ${rows.mkString(" ")}")
    }
    (_, rows) => f(rows)
  }

  private def op(q: String, data: DataSet): Op =
    Op(q, "query", Sink.Noop, s => graft.SparkEntry.queries(q)(s, data.path), Op.noCheck)

  def checkPass(data: DataSet, expected: Map[String, Fingerprint]): Seq[Op] =
    Cohort.map(q => op(q, data).fetching.copy(check = check(q, data)))

  def rounds(seed: Long, data: DataSet, expected: Map[String, Fingerprint], runDir: String): Iterator[Seq[Op]] =
    Workload.shuffledRounds(seed, Cohort.map(op(_, data)))
}
