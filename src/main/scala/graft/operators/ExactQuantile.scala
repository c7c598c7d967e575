package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact distributed quantiles with O(B)-state per group at ANY group
  * size — the scale path for the reference's exact holistic aggregates
  * (`quantile_cont`/`median`, ref `duckdb-5.cpp:12-17`). Spark's exact
  * `Percentile` buffers every group value in one aggregation buffer —
  * a boxed value→count map that OOMs past ~10M rows/group (BASELINE.md
  * r15 lab) — where this operator locates each target rank by
  * iterative BIN REFINEMENT: each pass counts per (cell, bin) with B
  * bins over the active value interval (state O(B·cells), never
  * O(rows)), narrowing every rank's interval ~B× per pass; one bounded
  * tail job then reads the exact order statistics as per-value counts.
  * All passes are full parallel scans over the base; the driver holds
  * B·cells longs — the same bounded-envelope class as the Lloyd k-row
  * aggregates (`Similarity.scala`).
  *
  * Cell membership is defined by the CHAIN of clamped floor-bin
  * equalities (each level's interval literals computed once on the
  * driver), never by raw interval comparisons — the same IEEE double
  * expression on both sides makes membership and the rank bookkeeping
  * agree bit-for-bit even for values at bin boundaries, where an
  * interval filter could drift by an ulp against the parent's counts.
  *
  * Interpolation matches Spark `percentile` and the reference's
  * `quantile_cont`: continuous rank r = q·(n−1), linear between the
  * floor/ceil order statistics. NULLs are ignored; an all-NULL or
  * empty group yields NULL. The inventory row (`agg_quantile`) flips to
  * this path under `spark.graft.exactQuantile.binRefine=true` — default
  * off locally because below ~10M rows/group the buffered percentile is
  * floor-bound and this operator's extra actions cost more than the
  * buffering saves (crossover table in BASELINE.md, r15/r16 labs).
  */
object ExactQuantile {

  private final class Cell(
      val gKey: Int, // index into the collected group array
      val lo: Double, val hi: Double, // next binning interval
      val path: List[(Double, Double, Int)], // ancestry bin constraints
      val cumBefore: Long, val count: Long,
      val ranks: scala.collection.mutable.ArrayBuffer[Long])

  /** Grouped exact quantiles: one output row per group with
    * `quantiles: array<double>` aligned with `qs`.
    *
    * @param discrete   `percentile_disc` semantics: resolve the single
    *                   order statistic at rank ceil(q·n)−1 (0-based) and
    *                   return it directly — no interpolation (the rank is
    *                   computed with the same IEEE double multiply as
    *                   Spark's `PercentileDisc.getPercentile`, so the
    *                   selected value is identical bit for bit)
    * @param tailLimit  max rows a cell may hold before another refine
    *                   pass (and the bound on per-cell driver state in
    *                   the final per-value count read)
    * @param maxGroups  driver-state envelope: the group stats and the
    *                   cell table live on the driver (named error past
    *                   it — same policy as the clustering envelope)
    */
  def quantiles(
      df: DataFrame, groupCol: String, valueCol: String, qs: Seq[Double],
      bins: Int = 1024, tailLimit: Long = 1L << 16,
      maxGroups: Int = 4096, maxPasses: Int = 16,
      discrete: Boolean = false): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      "quantile fractions must be in [0, 1]")
    val spark = df.sparkSession
    val gField = df.schema(groupCol)
    val all = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
    val base = all.filter(col("__v").isNotNull)

    // pass 0: per-group stats — G rows of driver state. Computed over
    // the UNFILTERED frame so an all-NULL group still yields its
    // (group, NULL) output row, matching grouped `percentile`;
    // min/max/count(col) all skip NULLs themselves.
    val stats = all.groupBy(col("__g"))
      .agg(min(col("__v")).as("lo"), max(col("__v")).as("hi"),
        count(col("__v")).as("n"))
      .collect()
    if (stats.length > maxGroups) throw new IllegalStateException(
      s"exact_quantile: ${stats.length} groups exceed the $maxGroups driver " +
        "envelope; raise maxGroups or pre-aggregate the grouping column")
    val gVals: Array[Any] = stats.map(_.get(0))
    val nOf: Array[Long] = stats.map(_.getLong(3))

    // target ranks per group: floor/ceil of r = q(n-1) per fraction
    // (continuous), or the single 0-based rank ceil(q·n)−1 (discrete —
    // PercentileDisc's "first cumulative count ≥ ceil(q·n)")
    var cells = stats.indices.flatMap { i =>
      val n = nOf(i)
      if (n == 0) Nil
      else {
        val ks = qs.flatMap { q =>
          if (discrete) Seq(math.max(math.ceil(q * n.toDouble).toLong - 1, 0L))
          else {
            val r = q * (n - 1)
            Seq(math.floor(r).toLong, math.ceil(r).toLong)
          }
        }.distinct.sorted
        Seq(new Cell(i, stats(i).getDouble(1), stats(i).getDouble(2), Nil, 0L,
          n, scala.collection.mutable.ArrayBuffer(ks: _*)))
      }
    }.toArray
    // resolved exact order statistics: (group index, rank) -> value
    val resolved = scala.collection.mutable.Map.empty[(Int, Long), Double]

    // the one clamped floor-bin formula, used for pass binning AND for
    // membership replay — identical doubles on driver and executors
    def binExpr(v: Column, lo: Column, hi: Column): Column =
      least(lit(bins - 1), greatest(lit(0),
        floor((v - lo) / (hi - lo) * bins))).cast("int")

    def joined(active: Array[Cell]): DataFrame = {
      val schema = StructType(Seq(
        StructField("__cid", IntegerType, nullable = false),
        StructField("__cg", gField.dataType, nullable = true),
        StructField("__lo", DoubleType, nullable = false),
        StructField("__hi", DoubleType, nullable = false),
        StructField("__los", ArrayType(DoubleType), nullable = false),
        StructField("__his", ArrayType(DoubleType), nullable = false),
        StructField("__bs", ArrayType(IntegerType), nullable = false)))
      val rows = active.zipWithIndex.map { case (c, i) =>
        Row(i, gVals(c.gKey), c.lo, c.hi,
          c.path.map(_._1), c.path.map(_._2), c.path.map(_._3))
      }
      val cellsDf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      // membership = AND over the ancestry levels. Unrolled to plain
      // codegen-able conjunctions (a forall HOF here is interpreted
      // per row and measured ~2× the whole pass); depth differs per
      // cell, so each level is guarded by its own size check
      val maxDepth = active.map(_.path.length).max
      val member = (0 until maxDepth).foldLeft(lit(true)) { (acc, i) =>
        acc && (lit(i) >= size(col("__bs")) ||
          binExpr(col("__v"), col("__los")(i), col("__his")(i)) ===
            col("__bs")(i))
      }
      base.join(broadcast(cellsDf), col("__g") <=> col("__cg") && member)
    }

    // refinement passes: narrow every over-limit cell by ~bins×
    var pass = 0
    while (pass < maxPasses &&
      cells.exists(c => c.count > tailLimit && c.hi > c.lo)) {
      val active = cells.filter(c => c.count > tailLimit && c.hi > c.lo)
      val stable = cells.filterNot(c => c.count > tailLimit && c.hi > c.lo)
      val binned = joined(active)
        .groupBy(col("__cid"),
          binExpr(col("__v"), col("__lo"), col("__hi")).as("__b"))
        .agg(count(lit(1)).as("__c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val next = scala.collection.mutable.ArrayBuffer.empty[Cell]
      active.zipWithIndex.foreach { case (c, ci) =>
        val width = (c.hi - c.lo) / bins
        val cum = (0 until bins).scanLeft(0L)((acc, b) =>
          acc + binned.getOrElse((ci, b), 0L))
        val byBin = scala.collection.mutable.Map.empty[Int, Cell]
        c.ranks.foreach { k =>
          val local = k - c.cumBefore
          val b = {
            val idx = cum.indexWhere(_ > local) - 1
            if (idx < 0) bins - 1 else idx
          }
          val nc = byBin.getOrElseUpdate(b, {
            val lo2 = c.lo + b * width
            val hi2 = if (b == bins - 1) c.hi else c.lo + (b + 1) * width
            new Cell(c.gKey, lo2, hi2, c.path :+ ((c.lo, c.hi, b)),
              c.cumBefore + cum(b), cum(b + 1) - cum(b),
              scala.collection.mutable.ArrayBuffer.empty[Long])
          })
          nc.ranks += k
        }
        next ++= byBin.values
      }
      cells = stable ++ next
      pass += 1
    }

    // tail: exact per-value counts inside every remaining cell — rows
    // bounded by distinct values ≤ cell count ≤ tailLimit per cell
    // (a cell that survived maxPasses is value-degenerate and still
    // reads as a handful of rows here)
    if (cells.nonEmpty) {
      val active = cells
      val counts = joined(active)
        .groupBy(col("__cid"), col("__v")).agg(count(lit(1)).as("__c"))
        .collect()
        .groupBy(_.getInt(0))
      active.zipWithIndex.foreach { case (c, ci) =>
        val vs = counts.getOrElse(ci, Array.empty[Row])
          .map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
        var cum = c.cumBefore
        var vi = 0
        val pending = c.ranks.sorted
        var pi = 0
        while (pi < pending.length && vi < vs.length) {
          val (v, n) = vs(vi)
          while (pi < pending.length && pending(pi) < cum + n) {
            resolved((c.gKey, pending(pi))) = v
            pi += 1
          }
          cum += n
          vi += 1
        }
        // ranks past the scanned values (floating-point edge): clamp
        // to the cell's last value
        while (pi < pending.length && vs.nonEmpty) {
          resolved((c.gKey, pending(pi))) = vs.last._1
          pi += 1
        }
      }
    }

    val outRows = stats.indices.map { i =>
      val n = nOf(i)
      val arr: Any =
        if (n == 0) null
        else if (discrete) qs.map { q =>
          resolved((i, math.max(math.ceil(q * n.toDouble).toLong - 1, 0L)))
        }
        else qs.map { q =>
          // Spark Percentile's exact arithmetic (weighted two-point
          // form, lower returned directly on integral ranks) so the
          // two paths are bit-identical, not just close
          val r = q * (n - 1)
          val lo = math.floor(r).toLong
          val hi = math.ceil(r).toLong
          if (lo == hi) resolved((i, lo))
          else (hi - r) * resolved((i, lo)) + (r - lo) * resolved((i, hi))
        }
      Row(gVals(i), arr)
    }
    val outSchema = StructType(Seq(
      gField.copy(name = groupCol),
      StructField("quantiles", ArrayType(DoubleType), nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(outRows.toSeq, 1), outSchema)
  }

  // ---- self-selecting entry (r17, verdict #7) ----------------------

  /** The documented crossover (BASELINE.md r15/r16 exact-quantile labs):
    * Spark's buffered `Percentile` holds every group value in one
    * aggregation buffer and OOMs past ~10M rows/group (r15 lab: task
    * death at 10M under an 8g executor), while below it the buffered
    * path is floor-bound and this operator's extra driver actions cost
    * more than the buffering saves. The switch is MEASURED, not
    * guessed: one count-per-group aggregate (the same G-row driver
    * envelope as the operator's own pass 0). */
  val CrossoverRowsPerGroup: Long = 10L * 1000 * 1000

  /** Max rows in any single group — the statistic the switch runs on. */
  def maxGroupRows(df: DataFrame, groupCol: String): Long = {
    val r = df.groupBy(col(groupCol)).count()
      .agg(max(col("count"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Session-level memo of the routing decision (r19, VERDICT r18 #6 —
    * the RangeJoinRule boundsCache pattern): `shouldBinRefine` is a
    * plan-time MEASUREMENT job, and before this memo it ran at every
    * query construction — two extra driver actions per execution at any
    * scale. The decision only selects between two plans whose outputs
    * are bit-equal (pinned in ExactQuantileSpec), so a stale entry can
    * never change a result, only the routing. Keyed on the canonicalized
    * analyzed plan's hash, the schema, a fingerprint of the sorted input
    * file listing (the plan hash alone does not change when files are
    * appended to a table directory), the group column and the
    * crossover; bounded LRU. */
  private type RefineKey = (Int, StructType, (Int, Int), String, Long)
  private val refineCache =
    new java.util.LinkedHashMap[RefineKey, java.lang.Boolean](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[RefineKey, java.lang.Boolean]): Boolean =
        size > 64
    }

  def shouldBinRefine(df: DataFrame, groupCol: String,
                      crossover: Long = CrossoverRowsPerGroup): Boolean = {
    val files = df.inputFiles.sorted.toSeq
    val key = (df.queryExecution.analyzed.semanticHash(), df.schema,
      (files.size, scala.util.hashing.MurmurHash3.seqHash(files)), groupCol, crossover)
    val cached = refineCache.synchronized(Option(refineCache.get(key)))
    cached.map(_.booleanValue()).getOrElse {
      val v = maxGroupRows(df, groupCol) >= crossover
      refineCache.synchronized(refineCache.put(key, java.lang.Boolean.valueOf(v)))
      v
    }
  }

  /** Self-selecting exact quantiles: measures rows-per-group and routes
    * groups past the crossover through bin refinement (O(B·cells)
    * state), everything below it through Spark's buffered `Percentile`
    * (floor-bound at local scale, bit-identical output — pinned in
    * `ExactQuantileSpec`). Callers need no operator knowledge; the
    * crossover table drives the choice. */
  def auto(df: DataFrame, groupCol: String, valueCol: String,
           qs: Seq[Double], bins: Int = 1024,
           crossover: Long = CrossoverRowsPerGroup): DataFrame =
    if (shouldBinRefine(df, groupCol, crossover))
      quantiles(df, groupCol, valueCol, qs, bins)
    else {
      df.groupBy(col(groupCol))
        .agg(expr(s"percentile(CAST(`$valueCol` AS DOUBLE), " +
          s"array(${qs.mkString(", ")}))").as("quantiles"))
    }

  // ---- counts+window engine (r18 optimization round) ----------------

  /** One requested grouped order statistic: output column `alias` =
    * the `q`-quantile of `valueCol` under `percentile` (continuous) or
    * `percentile_disc` (discrete) semantics. */
  final case class QSpec(valueCol: String, q: Double, discrete: Boolean,
                         alias: String) {
    require(q >= 0 && q <= 1, s"quantile fraction out of range: $q")
  }

  /** Grouped exact percentile / percentile_disc via (group, value)-COUNT
    * pre-aggregation + one cumulative window — Spark's buffered
    * `Percentile` holds a boxed value→count map of EVERY group value in
    * one aggregation buffer (each partial buffer is the partition's
    * whole column, serialized across the exchange; OOM class past ~10M
    * rows/group, BASELINE r15 lab), where this shape is all codegen
    * HashAggregate + Tungsten window sort: the exchange carries one row
    * per DISTINCT (group, value) and the widest single-task state is an
    * in-group sort that spills gracefully (guide §5, §2.3).
    *
    * Replicates Spark 4.1.2 `PercentileBase.getPercentile` /
    * `PercentileDisc.getPercentile` (non-legacy) bit for bit — formulas
    * read from the shipped bytecode, pinned in ExactQuantileSpec:
    *   cont: position = q·(n−1); lowerKey/higherKey = first values whose
    *         cumulative count ≥ floor(position)+1 / ceil(position)+1;
    *         integral position or equal keys → lowerKey, else
    *         (ceil−position)·lowerKey + (position−lower)·higherKey.
    *   disc: first value whose cumulative count ≥ ceil(q·n).
    * NULL values are ignored; a group whose values are all NULL yields
    * NULL (the (g, NULL) count row keeps the group in the output).
    * Documented deviation: the counts aggregate normalizes −0.0 to 0.0
    * where Percentile's map keys them separately — unreachable on data
    * without negative zeroes.
    */
  def quantilesByCounts(df: DataFrame, groupCol: String,
                        specs: Seq[QSpec]): DataFrame = {
    require(specs.nonEmpty, "quantilesByCounts: no specs")
    require(specs.map(_.alias).distinct.size == specs.size,
      "quantilesByCounts: duplicate aliases")
    val legs = specs.groupBy(_.valueCol).toSeq.sortBy(_._1).map {
      case (vc, ss) =>
        // null value rows are KEPT as one (g, null) count row so an
        // all-NULL group still emits its output row
        val counts = df
          .select(col(groupCol).as("__g"), col(vc).cast("double").as("__v"))
          .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
        legFromCounts(counts, ss)
    }
    legs.reduce { (a, b) =>
      a.join(b, a("__g") <=> b("__g")).drop(b("__g"))
    }.withColumnRenamed("__g", groupCol)
  }

  /** Same engine over a PRE-COUNTED `(groupCol, valueCol, countCol)`
    * frame — for callers that already hold per-value counts (e.g. the
    * MAD two-phase, where the deviation counts derive from the value
    * counts without a second base scan). `valueCol` must already be
    * DOUBLE; rows with NULL `valueCol` are the all-NULL-group markers. */
  def quantilesFromCounts(counts: DataFrame, groupCol: String,
                          valueCol: String, countCol: String,
                          specs: Seq[QSpec]): DataFrame = {
    require(specs.nonEmpty, "quantilesFromCounts: no specs")
    legFromCounts(
      counts.select(col(groupCol).as("__g"), col(valueCol).as("__v"),
        col(countCol).as("__c")),
      specs).withColumnRenamed("__g", groupCol)
  }

  private def legFromCounts(counts: DataFrame,
                            ss: Seq[QSpec]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val live = when(col("__v").isNotNull, col("__c"))
    val wAll = Window.partitionBy(col("__g"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("__n", coalesce(sum(live).over(wAll), lit(0L)))
      .withColumn("__cum", coalesce(sum(live).over(wCum), lit(0L)))
    val n = col("__n")
    // per-spec conditional-min picks: min(v | cum ≥ threshold) IS the
    // "first cumulative count ≥ target" binary search, distributed
    val picks = ss.flatMap { sp =>
      if (sp.discrete) {
        // n.toDouble * q — dmul is commutative, identical to the
        // bytecode's percentage * count
        val target = ceil(lit(sp.q) * n.cast("double"))
        Seq(min(when(col("__cum") >= target, col("__v")))
          .as(s"__pick_${sp.alias}"))
      } else {
        val pos = lit(sp.q) * (n - 1).cast("double")
        Seq(
          min(when(col("__cum") >= floor(pos) + 1, col("__v")))
            .as(s"__lo_${sp.alias}"),
          min(when(col("__cum") >= ceil(pos) + 1, col("__v")))
            .as(s"__hi_${sp.alias}"))
      }
    }
    // window partitioned the data by __g already — this aggregate
    // reuses that exchange (no second shuffle)
    val agged = cum.groupBy(col("__g"))
      .agg(max(n).as("__n"), picks: _*)
    val outCols = ss.map { sp =>
      if (sp.discrete)
        when(col("__n") === 0, lit(null).cast("double"))
          .otherwise(col(s"__pick_${sp.alias}")).as(sp.alias)
      else {
        val nn = col("__n")
        val pos = lit(sp.q) * (nn - 1).cast("double")
        val lo = floor(pos)
        val hi = ceil(pos)
        val lk = col(s"__lo_${sp.alias}")
        val hk = col(s"__hi_${sp.alias}")
        when(col("__n") === 0, lit(null).cast("double"))
          .when(lo === hi || lk === hk, lk)
          .otherwise(
            (hi.cast("double") - pos) * lk + (pos - lo.cast("double")) * hk)
          .as(sp.alias)
      }
    }
    agged.select(col("__g") +: outCols: _*)
  }

  /** Grouped mode via two-level (group, value)-count → `max_by` argmax:
    * O(distinct) distributed rows instead of one boxed value→count map
    * per aggregation buffer (the same state class the quantile engines
    * above remove — VERDICT r17 #3). Tie rule: the LARGEST value among
    * the most frequent (deterministic); Spark's `mode()` leaves ties
    * hash-map-order ARBITRARY, so agreement with it is only defined on
    * tie-free data (pinned in ExactQuantileSpec; the benched column is
    * tie-free). NULL values never win; an all-NULL group yields NULL. */
  def modeByCounts(df: DataFrame, groupCol: String, valueCol: String,
                   alias: String): DataFrame =
    df.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__g"))
      .agg(max_by(col("__v"),
        when(col("__v").isNotNull, struct(col("__c"), col("__v"))))
        .as(alias))
      .withColumnRenamed("__g", groupCol)

  /** Self-selecting multi-statistic entry: groups past the measured
    * ~10M-rows/group crossover route through bin refinement (O(B·cells)
    * state; disc ranks resolved exactly, no interpolation), everything
    * below it through the counts+window engine above. Both produce
    * Percentile/PercentileDisc-bit-identical values. */
  def autoStats(df: DataFrame, groupCol: String, specs: Seq[QSpec],
                bins: Int = 1024,
                crossover: Long = CrossoverRowsPerGroup): DataFrame =
    // crossover <= 0 means the caller already decided (it forces the
    // refine path) — skip the full-table rows-per-group measurement
    // job, whose answer is a foregone conclusion (r18 review)
    if (crossover > 0 && !shouldBinRefine(df, groupCol, crossover))
      quantilesByCounts(df, groupCol, specs)
    else {
      val legs = specs.groupBy(s => (s.valueCol, s.discrete)).toSeq
        .sortBy(p => (p._1._1, p._1._2)).map { case ((vc, disc), ss) =>
          quantiles(df, groupCol, vc, ss.map(_.q), bins, discrete = disc)
            .select(col(groupCol).as("__g") +:
              ss.zipWithIndex.map { case (sp, i) =>
                col("quantiles").getItem(i).as(sp.alias)
              }: _*)
        }
      legs.reduce { (a, b) =>
        a.join(b, a("__g") <=> b("__g")).drop(b("__g"))
      }.withColumnRenamed("__g", groupCol)
    }
}
