package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Recursive-CTE evaluation (reference: LogicalRecursiveCTE
  * duckdb.hpp:9302, PhysicalRecursiveCTE duckdb-4.cpp:7608-7790 — iterate
  * the recursive term until no new rows, deduplicating against the union
  * so far).
  *
  * Spark has no native WITH RECURSIVE, so this is a driver-side fixpoint
  * loop. Each iteration is a distributed job; the driver only checks the
  * (cheap) new-row count. Lineage is truncated with localCheckpoint every
  * few rounds so deep recursions don't blow up the plan.
  */
object Recursion {

  /** UNION-semantics recursion: dedup new rows against everything seen.
    *
    * Adaptive two-tier evaluation:
    *   - while the working set stays under `localRowLimit` and the schema
    *     is flat, iterate DRIVER-LOCALLY over LocalRelations — Catalyst
    *     folds narrow steps over a LocalRelation to constants, so each
    *     iteration costs milliseconds instead of a multi-stage job chain
    *     (the reference's recursive CTE is single-node too,
    *     duckdb-4.cpp:7608);
    *   - the moment the working set outgrows the limit (or the schema has
    *     nested/binary fields where driver-side row equality is unsound),
    *     spill seamlessly into the distributed anti-join loop — the shape
    *     that scales to arbitrarily large fixpoints.
    */
  def fixpoint(seed: DataFrame, step: DataFrame => DataFrame,
               maxIterations: Int = 100, localRowLimit: Int = 100000): DataFrame = {
    import org.apache.spark.sql.types._
    val localable = seed.schema.fields.forall(_.dataType match {
      case BinaryType | _: ArrayType | _: MapType | _: StructType |
           CalendarIntervalType | NullType => false
      case _ => true
    })
    if (!localable) fixpointLoop(seed, step, maxIterations)
    else fixpointLocalFirst(seed, step, maxIterations, localRowLimit) match {
      case Left(done) => done
      // Spill tier runs with the session's own parallelism + AQE — a
      // fixpoint too big for the driver must not funnel its anti-join
      // shuffles through one partition (the local tier's conf pin is
      // restored before this call).
      case Right((spillSeed, remaining)) => fixpointLoop(spillSeed, step, remaining)
    }
  }

  /** Driver-local tier: rows live in a driver hash set, the frontier is a
    * LocalRelation per step. Returns Left(result) when the fixpoint closes
    * within the limit, Right(spillSeed, remainingIterations) the moment the
    * working set outgrows it.
    *
    * The shuffle.partitions=1 / AQE-off pin lives HERE, scoped to the
    * millisecond micro-jobs over LocalRelations (AQE re-plans every
    * micro-iteration — pure overhead at this size; a 1-partition shuffle is
    * optimal for a <=limit-row frame). It is restored before returning, so
    * a spill continues under the session defaults.
    */
  private def fixpointLocalFirst(seed: DataFrame, step: DataFrame => DataFrame,
                                 maxIterations: Int, limit: Int)
      : Either[DataFrame, (DataFrame, Int)] = {
    val spark = seed.sparkSession
    val schema = seed.schema
    import scala.jdk.CollectionConverters._

    // key rows by their value sequence — Row.equals is value-based for
    // flat atomic schemas (nested/binary excluded by the caller)
    val seen = collection.mutable.LinkedHashSet.empty[org.apache.spark.sql.Row]

    // The distributed loop dedups with SQL <=>, which treats -0.0 == 0.0;
    // Row.equals does not. Normalize negative zeros so the fixpoint result
    // is identical regardless of which tier runs (or when spill happens).
    val hasFloat = schema.fields.exists(f =>
      f.dataType == org.apache.spark.sql.types.DoubleType ||
        f.dataType == org.apache.spark.sql.types.FloatType)
    def norm(r: org.apache.spark.sql.Row): org.apache.spark.sql.Row =
      if (!hasFloat) r
      else org.apache.spark.sql.Row.fromSeq(r.toSeq.map {
        case d: Double if d == 0.0 => 0.0
        case f: Float if f == 0.0f => 0.0f
        case v => v
      })

    def local(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(rows.asJava, schema)

    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      val first = seed.limit(limit + 1).collect()
      if (first.length > limit)
        return Right((seed, maxIterations))
      seen ++= first.map(norm)
      var frontier = seen.toArray[org.apache.spark.sql.Row]
      var i = 0
      while (frontier.nonEmpty && i < maxIterations) {
        val produced = step(local(frontier.toIndexedSeq)).collect().map(norm)
        frontier = produced.distinct.filterNot(seen.contains)
        seen ++= frontier
        if (seen.size > limit) {
          // spill: accumulated state becomes the seed of the distributed
          // loop; UNION semantics are preserved (seen is already distinct,
          // and re-stepping previously stepped rows dedups to nothing)
          return Right((local(seen.toSeq), maxIterations - i))
        }
        i += 1
      }
      Left(local(seen.toSeq))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.shuffle.partitions", partsBefore)
    }
  }

  private def fixpointLoop(seed: DataFrame, step: DataFrame => DataFrame,
                           maxIterations: Int, unroll: Int = 4): DataFrame = {
    val cols = seed.columns

    // new rows of `stepped` not yet in `against` (UNION dedup semantics).
    // Null-safe anti join — lighter than exceptAll (AQE broadcasts the
    // small side). The right side is renamed to fresh attributes — a step
    // that re-joins the same base relations would otherwise collide ids.
    def dedupAgainst(stepped: DataFrame, against: DataFrame): DataFrame = {
      val r = against.toDF(cols.map(c => s"__acc_$c"): _*)
      stepped.distinct()
        .join(r, cols.map(c => stepped.col(c) <=> r.col(s"__acc_$c")).reduce(_ && _), "left_anti")
    }

    var acc = seed.distinct().localCheckpoint()
    var frontier = acc
    var i = 0
    var done = false
    while (!done && i < maxIterations) {
      // unroll several logical iterations into ONE materialization: each
      // unrolled step dedups lazily against acc ∪ earlier unrolled steps,
      // so UNION semantics hold; only the block result is checkpointed.
      // This cuts driver/job-scheduling overhead ~unroll-fold (the local
      // floor is per-job latency, not data volume).
      val k = math.min(unroll, maxIterations - i)
      var blockAcc = acc
      var blockNew: DataFrame = null
      var f = frontier
      val blockCaches = collection.mutable.ArrayBuffer.empty[DataFrame]
      for (_ <- 0 until k) {
        // cache each lazy piece: it appears both as the next frontier and
        // inside blockAcc — uncached, the plan would double per step
        val next = dedupAgainst(step(f), blockAcc).cache()
        blockCaches += next
        blockAcc = blockAcc.unionAll(next)
        blockNew = if (blockNew == null) next else blockNew.unionAll(next)
        f = next
      }
      // block pieces are pairwise disjoint and individually distinct —
      // no extra dedup shuffle needed before materializing
      val materialized = blockNew.localCheckpoint()
      // the checkpoint holds the data now — the intra-block caches would
      // otherwise accumulate in the storage pool for the whole recursion
      blockCaches.foreach(_.unpersist(blocking = false))
      if (materialized.isEmpty) done = true
      else {
        // acc stays a union of checkpointed pieces — no recompute risk
        acc = acc.unionAll(materialized)
        frontier = materialized
      }
      i += k
    }
    acc
  }
}
