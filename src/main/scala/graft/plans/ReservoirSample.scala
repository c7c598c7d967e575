package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode, UnresolvedHint}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Exact-n reservoir sampling as a full custom operator stack —
  * logical node → analyzer (hint) rule → planner strategy → physical
  * operator (the (c)路 from SURVEY §7.3: custom LogicalPlan + Rule +
  * SparkStrategy + SparkPlan via SparkSessionExtensions).
  *
  * Reference analog: PhysicalReservoirSample (duckdb-internal.hpp:36847,
  * `USING SAMPLE n ROWS` reservoir). Spark's own TABLESAMPLE(n ROWS) is
  * a limit, not a uniform sample; this operator IS uniform: priority
  * sampling (each row gets a seeded random key; keep the n smallest) —
  * per-partition bounded heaps, one single-partition merge, exact n.
  *
  * Usage (any GraftExtensions session, e.g. Engine.session):
  *   df.hint("graft_reservoir", n, seed)
  */
case class ReservoirSample(n: Int, seed: Long, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = Some(n.toLong)
  override protected def withNewChildInternal(newChild: LogicalPlan): ReservoirSample =
    copy(child = newChild)
}

/** Analyzer rule: df.hint("graft_reservoir", n, seed) → ReservoirSample. */
object ResolveReservoirHint extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case UnresolvedHint(name, params, child)
      if name.equalsIgnoreCase("graft_reservoir") =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      params match {
        case Seq(Literal(n: Int, _), Literal(seed: Long, _)) => ReservoirSample(n, seed, child)
        case Seq(Literal(n: Int, _), Literal(seed: Int, _)) => ReservoirSample(n, seed.toLong, child)
        case Seq(Literal(n: Int, _)) => ReservoirSample(n, 42L, child)
        case other => throw new IllegalArgumentException(
          s"graft_reservoir(n[, seed]) — got $other")
      }
  }
}

/** Planner strategy: ReservoirSample → ReservoirSampleExec. */
object ReservoirStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReservoirSample(n, seed, child) =>
      ReservoirSampleExec(n, seed, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical exact-n uniform sample via distributed priority sampling. */
case class ReservoirSampleExec(n: Int, seed: Long, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition

  override protected def doExecute(): RDD[InternalRow] = {
    val k = n
    val s = seed
    val perPartition = child.execute().mapPartitionsWithIndex { (idx, it) =>
      val rng = new java.util.Random(s ^ (idx.toLong * 0x9e3779b97f4a7c15L))
      // max-heap on key: the largest key is evicted first
      val heap = new scala.collection.mutable.PriorityQueue[(Double, InternalRow)]()(
        Ordering.by(_._1))
      it.foreach { row =>
        val key = rng.nextDouble()
        if (heap.size < k) heap.enqueue((key, row.copy()))
        else if (key < heap.head._1) { heap.dequeue(); heap.enqueue((key, row.copy())) }
      }
      heap.iterator
    }
    perPartition.coalesce(1).mapPartitions { it =>
      it.toArray.sortBy(_._1).take(k).iterator.map(_._2)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ReservoirSampleExec =
    copy(child = newChild)
}
