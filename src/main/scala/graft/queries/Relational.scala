package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Engine, SqlDialect}
import graft.operators.{RangeJoin, Recursion}

/** Relational operator inventory: scans, aggregation, joins, sort/limit,
  * set operations, windows (SURVEY.md §2.1-2.7).
  *
  * An entry is its oracle SQL ([[registry]]) or, where the SQL does not
  * plan it as well (a measured rewrite, a join hint, an engine
  * operator), declarative DataFrame API — either way Catalyst
  * plans the physical operators (hash agg partial+final, broadcast vs
  * shuffle join, TakeOrderedAndProject, …). Aggregate outputs are
  * aliased identically to the oracle SQL (the oracle compare hashes by
  * sorted column name) and float aggregates are rounded the same on both sides
  * so cross-engine summation order cannot flip a hash.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  private[queries] val sampleSystemSql =
    """WITH pop AS (SELECT count(*) AS n_total FROM lineitem),
      |s1 AS (SELECT count(*) AS n1
      |       FROM (SELECT * FROM lineitem USING SAMPLE 50% (system, 7))),
      |s2 AS (SELECT count(*) AS n2
      |       FROM (SELECT * FROM lineitem USING SAMPLE 50% (system, 7)))
      |SELECT CAST(n_total AS BIGINT) AS n_total,
      |  (n1 > 0 AND n1 < n_total) AS nonempty_proper,
      |  (abs(n1 / CAST(n_total AS DOUBLE) - 0.5) <= 0.45) AS frac_ok,
      |  (n1 = n2) AS repeat_ok
      |FROM pop, s1, s2""".stripMargin

  /** Rank-contract validation of an approximate-quantile sketch over
    * (l_returnflag, l_extendedprice, l_quantity) — see the
    * `agg_approx_quantile` entry for the full design rationale. Split
    * out so ApproxQuantileGateSpec can drive [[fusedQuantileProbe]]
    * with a deliberately wrong estimate and watch the gate fail. */
  private[graft] def approxQuantileContract(li: DataFrame): DataFrame = {
    val ep = li.select(col("l_returnflag"), col("l_extendedprice"))
      .limit(60000)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("__ep_v"))
    fusedQuantileProbe(li, ep)
  }

  /** The single fused full pass: per (flag, qty) value counts carry the
    * two ep probe counters, then a 3-row per-flag walk derives the
    * p10/p90 exact rank windows and the median rank check against the
    * broadcast estimate `ep` (columns l_returnflag, __ep_v). The probe
    * counts RAW rows — it never sees how the estimate was chosen. */
  private[graft] def fusedQuantileProbe(li: DataFrame, ep: DataFrame): DataFrame = {
    // post-shuffle rank walk over one group's sorted value table (3
    // rows, <=50 entries each — driver-scale bookkeeping, not hot path)
    val rankWalk = udf { (bins: Seq[org.apache.spark.sql.Row], qs: Seq[Double]) =>
      var n = 0L
      bins.foreach(r => n += r.getLong(1))
      qs.map { q =>
        var cum = 0L; var lo = 0L; var hi = 0L; var found = false
        val it = bins.iterator
        while (!found && it.hasNext) {
          val c = it.next().getLong(1)
          if (cum + c >= q * n) { lo = cum; hi = cum + c; found = true }
          else cum += c
        }
        Seq(lo, hi, n)
      }
    }
    def okOf(arr: String, i: Int, q: Double) = {
      val lo = col(arr).getItem(i).getItem(0)
      val hi = col(arr).getItem(i).getItem(1)
      val n = col(arr).getItem(i).getItem(2)
      (lo <= n * q + n * 0.02) && (hi >= n * q - n * 0.02)
    }
    li.join(broadcast(ep), "l_returnflag")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("__c"),
        count(when(col("l_extendedprice") < col("__ep_v"), 1)).as("__eplo"),
        count(when(col("l_extendedprice") <= col("__ep_v"), 1)).as("__ephi"))
      .groupBy(col("l_returnflag"))
      .agg(sort_array(collect_list(struct(col("l_quantity").cast("double"), col("__c"))))
          .as("__bins"),
        sum(col("__c")).as("n"), sum(col("__eplo")).as("__ep_lo"),
        sum(col("__ephi")).as("__ep_hi"))
      .select(col("l_returnflag"), col("n").cast("long").as("n"),
        ((col("__ep_lo") <= col("n") * 0.5 + col("n") * 0.02) &&
          (col("__ep_hi") >= col("n") * 0.5 - col("n") * 0.02)).as("med_ok"),
        rankWalk(col("__bins"), typedLit(Seq(0.1, 0.9))).as("__qt"))
      .select(col("l_returnflag"), col("n"), col("med_ok"),
        okOf("__qt", 0, 0.1).as("p10_ok"), okOf("__qt", 1, 0.9).as("p90_ok"))
  }

  /** Same-text 3VL projection probe (r16): x has NULLs every 7th
    * customer, the 25-row nation subquery has NULLs every 5th key, x
    * ranges 0–29 so IN/ANY/ALL each produce a TRUE/FALSE/NULL mix; the
    * empty-set column pins FALSE-on-empty-even-for-NULL-probe. Nation
    * keeps every added subquery a trivial broadcast. */
  private val Sub3vlSql: String =
    """WITH probe AS (
      |  SELECT c_custkey AS k,
      |    CASE WHEN c_custkey % 7 = 0 THEN NULL
      |         ELSE CAST(c_custkey % 30 AS INT) END AS x
      |  FROM customer),
      |s AS (
      |  SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
      |              ELSE n_nationkey END AS y
      |  FROM nation)
      |SELECT
      |  CAST(sum(CASE WHEN x IN (SELECT y FROM s) THEN 1 ELSE 0 END) AS BIGINT) AS in_true,
      |  CAST(sum(CASE WHEN (x IN (SELECT y FROM s)) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS in_null,
      |  CAST(sum(CASE WHEN (x NOT IN (SELECT y FROM s)) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS notin_null,
      |  CAST(sum(CASE WHEN (x > ANY (SELECT y FROM s)) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS any_null,
      |  CAST(sum(CASE WHEN x <= ALL (SELECT y FROM s) THEN 1
      |           WHEN (x <= ALL (SELECT y FROM s)) IS NULL THEN 10
      |           ELSE 100 END) AS BIGINT) AS all_mix,
      |  CAST(sum(CASE WHEN x IN (SELECT y FROM s WHERE y > 999) THEN 1
      |           WHEN (x IN (SELECT y FROM s WHERE y > 999)) IS NULL THEN 10
      |           ELSE 100 END) AS BIGINT) AS empty_mix
      |FROM probe""".stripMargin

  /** r17 set-op member coercion row: the reference's binder widens
    * mixed member types in the STRING direction (INT∪VARCHAR→VARCHAR,
    * BOOL∪INT→the int — duckdb-9.cpp set-op bind), where Spark coerces
    * numeric-first (and errors on BOOL∪INT). SqlSelect.coerceSetOpMembers
    * imposes the probed duck lattice via bind-time schema diffs; this
    * row exercises INT∪VARCHAR∪BOOL → VARCHAR, BOOL∪SMALLINT → SMALLINT,
    * and the set-op-scope trailing ORDER BY that the member wrap must
    * not swallow. Same text both engines. */
  private val SetCoerceSql: String =
    """WITH iv AS (
      |  SELECT x, count(*) AS n FROM (
      |    SELECT CAST(c_custkey % 10 AS INTEGER) AS x FROM customer
      |    UNION ALL SELECT substr(n_name, 1, 2) FROM nation
      |    UNION ALL SELECT c_custkey % 3 = 0 FROM customer
      |  ) t GROUP BY x
      |),
      |bi AS (
      |  SELECT x, count(*) AS n FROM (
      |    SELECT o_orderkey % 2 = 0 AS x FROM orders
      |    UNION ALL SELECT CAST(s_suppkey % 5 AS SMALLINT) FROM supplier
      |  ) t GROUP BY x
      |)
      |SELECT 'int_varchar_bool' AS family, CAST(x AS VARCHAR) AS x, n FROM iv
      |UNION ALL
      |SELECT 'bool_smallint' AS family, CAST(x AS VARCHAR) AS x, n FROM bi
      |ORDER BY family, x""".stripMargin

  /** r16 window-edge battery row (per-case probes BATTERY5_r16.json). */
  private val WinEdgeSql: String =
    """SELECT v,
      |  CAST(sum(v) OVER (ORDER BY v DESC RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS desc_range,
      |  CAST(sum(v) OVER (ORDER BY v ROWS BETWEEN 2 FOLLOWING AND 1 FOLLOWING) AS BIGINT) AS empty_sum,
      |  CAST(count(*) OVER (ORDER BY v ROWS BETWEEN 2 FOLLOWING AND 1 FOLLOWING) AS BIGINT) AS empty_cnt,
      |  CAST(sum(v) FILTER (WHERE v % 2 = 0) OVER (ORDER BY v ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS filt,
      |  nth_value(v, 0) OVER (ORDER BY v) AS nth0,
      |  CAST(sum(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND INTERVAL 1 HOUR FOLLOWING) AS BIGINT) AS ts_range
      |FROM (VALUES (1, TIMESTAMP '2024-01-01 00:00:00'),
      |             (2, TIMESTAMP '2024-01-01 01:30:00'),
      |             (3, TIMESTAMP '2024-01-01 02:00:00'),
      |             (4, TIMESTAMP '2024-01-01 09:00:00'),
      |             (8, TIMESTAMP '2024-01-01 09:30:00')) t(v, ts)
      |ORDER BY v""".stripMargin

  private val hand: Map[String, Build] = Map(

    // ---- scans / in-memory sources (SURVEY §2.1) ----

    "scan_values" -> ((s, _) => {
      // literal VALUES relation (reference: ExpressionScan, duckdb-4.cpp:9746)
      import s.implicits._
      Seq((1L, "a", 1.5), (2L, "b", -2.25), (3L, null.asInstanceOf[String], 0.0))
        .toDF("id", "name", "x")
    }),

    "scan_range" -> ((s, _) => {
      // range/generate_series table function (duckdb-6.cpp:9492)
      s.range(1, 101).agg(sum(col("id")).cast("long").as("total"),
        count(lit(1)).as("n"))
    }),

    // ---- aggregation (SURVEY §2.4) ----

    "agg_distinct" -> ((s, dir) => {
      // r18 (before-plan 91246ba:plans/r18/agg_distinct_before.txt): three
      // distinct aggregates over DIFFERENT columns plan as an Expand ×3
      // — every scan row tripled before the partial dedup, 1.8M rows
      // into a 5-key hash aggregate (guide §2.3 "shuffle fewer bytes").
      // One leg per column (each a plain two-phase hash distinct on its
      // own narrow key) joined on the 3-row group key computes the same
      // values with a third of the pre-shuffle rows per leg and no
      // Expand; measured 0.63 → 0.46 s isolated (same-session A/B,
      // min-of-4).
      // r19 (VERDICT r18 #5): the legs recompose with NULL-SAFE joins —
      // a plain USING inner join would drop a NULL group key that the
      // original single aggregate kept. Unreachable on TPC-H
      // (l_returnflag is NOT NULL) so every output row is identical;
      // this makes the rewrite equivalent on ANY input, matching
      // ExactQuantile.quantilesByCounts' own <=> recomposition.
      // All three legs derive from ONE `li`, so `l1(k) <=> l2(k)` would
      // resolve both sides to the same attribute and fold to TRUE (a
      // condition-less nested-loop cross product, 9 rows for 3): each
      // joined leg carries its key under its own name.
      val li = t(s, dir, "lineitem")
      def leg(a: org.apache.spark.sql.Column, key: String) =
        li.groupBy(col("l_returnflag").as(key)).agg(a)
      val l1 = leg(countDistinct(col("l_partkey")).as("nd_part"), "l_returnflag")
      val l2 = leg(countDistinct(col("l_suppkey")).as("nd_supp"), "__rf2")
      val l3 = leg(round(sum_distinct(col("l_quantity")), 2).as("sum_d_qty"), "__rf3")
      l1.join(l2, col("l_returnflag") <=> col("__rf2"))
        .join(l3, col("l_returnflag") <=> col("__rf3"))
        .drop("__rf2", "__rf3")
    }),

    "agg_quantile" -> ((s, dir) => {
      // holistic aggregates (duckdb-5.cpp:12-17): exact quantiles + mode.
      // Exact `percentile` buffers every group value PER CALL, so both
      // l_extendedprice quantiles ride ONE array(0.25, 0.75) aggregate
      // and the column buffers once (two scalar calls measured 1.58 s;
      // the same fusion bought ~15% on the approx row in r8).
      // `spark.graft.exactQuantile.binRefine` ∈ auto|true|false
      // (default AUTO, r17 — verdict #7): auto MEASURES max rows/group
      // (one count aggregate, the operator's own pass-0 envelope) and
      // flips to operators.ExactQuantile past the documented ~10M
      // rows/group crossover (BASELINE.md) — O(B) state per group at
      // any group size, the 100×-scale path — while below it the
      // buffered percentile stays (floor-bound locally, and the fused
      // single-scan shape is cheaper than the operator's extra driver
      // actions). true forces the operator; false forces buffering.
      // r18 note (measured, OPTIMIZATION_r18.md): the counts+window
      // engine was tried here and measured SLOWER for this row
      // (isolated 1.47 s → 1.59 s) — on the 97%-unique l_extendedprice
      // the (group, value) counts are the raw column again, exactly as
      // the r15 ExactQuantLab histogram row recorded (1.20 s vs 1.07 s
      // buffered). The buffered fused aggregate stays below the
      // crossover; agg_mad (50-distinct values) DID win on that engine.
      val li = t(s, dir, "lineitem")
      val refine = s.conf.get(
        "spark.graft.exactQuantile.binRefine", "auto") match {
        case "true" => true
        case "false" => false
        case _ => graft.operators.ExactQuantile.shouldBinRefine(
          li, "l_returnflag")
      }
      if (refine) {
        val price = graft.operators.ExactQuantile
          .quantiles(li, "l_returnflag", "l_extendedprice", Seq(0.25, 0.75))
          .select(col("l_returnflag"),
            round(col("quantiles").getItem(0), 4).as("p25_price"),
            round(col("quantiles").getItem(1), 4).as("p75_price"))
        val qty = graft.operators.ExactQuantile
          .quantiles(li, "l_returnflag", "l_quantity", Seq(0.5))
          .select(col("l_returnflag"),
            round(col("quantiles").getItem(0), 4).as("med_qty"))
        // r18 (VERDICT #3): past the crossover the mode leg rides the
        // two-level (group, value)-count argmax — O(distinct) rows
        // distributed across tasks instead of one boxed value→count map
        // per aggregation buffer (tie-free agreement with mode() pinned
        // in ExactQuantileSpec)
        val mo = graft.operators.ExactQuantile.modeByCounts(
          li, "l_returnflag", "l_linestatus", "mode_ls")
        // null-safe recomposition (VERDICT r18 #5, same class as the
        // three named sites): keeps a NULL group on any input
        qty.join(price, qty("l_returnflag") <=> price("l_returnflag"))
          .drop(price("l_returnflag"))
          .join(mo, qty("l_returnflag") <=> mo("l_returnflag"))
          .select(qty("l_returnflag"), col("med_qty"), col("p25_price"),
            col("p75_price"), col("mode_ls"))
      } else li.groupBy(col("l_returnflag")).agg(
          round(median(col("l_quantity")), 4).as("med_qty"),
          expr("percentile(l_extendedprice, array(0.25, 0.75))").as("__pq"),
          mode(col("l_linestatus")).as("mode_ls"))
        .select(col("l_returnflag"), col("med_qty"),
          round(col("__pq").getItem(0), 4).as("p25_price"),
          round(col("__pq").getItem(1), 4).as("p75_price"),
          col("mode_ls"))
    }),

    "agg_entropy" -> ((s, dir) => {
      // custom Aggregator (graft.functions.Aggs.EntropyAgg): log2 entropy
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        round(expr("entropy_agg(cast(l_linenumber AS string))"), 6).as("ent_ln"),
        count(lit(1)).as("n"))
    }),

    "agg_approx_distinct" -> ((s, dir) => {
      // HLL sketch (reference vendors hyperloglog, duckdb-hyperloglog.cpp).
      // Sketch estimates differ across implementations, so the oracle
      // checks the HLL CONTRACT instead: each engine's own estimate must
      // land within 10% of the exact distinct count (both are ~0.5-2%
      // off in practice; bound leaves margin)
      // two single-distinct aggregates instead of one two-distinct
      // aggregate: distinct aggs over DIFFERENT columns force an Expand
      // (every input row duplicated per distinct group) while a single
      // distinct column plans as a plain two-phase hash distinct —
      // measured 1.16 s -> ~0.6 s, and the same shape at cluster scale
      // (the 1-row cross join is free)
      // r18 plan defect fix (before-plan
      // 91246ba:plans/r18/agg_approx_distinct_before.txt): countDistinct and
      // approx_count_distinct in ONE aggregate makes Spark's
      // distinct-agg rewrite group by the key and drag the HLL through
      // BOTH levels — a 52-long HLL buffer PER DISTINCT KEY (200k keys
      // ≈ 83 MB materialized and shuffled, guide §2.3/§5). Splitting
      // the legs gives the approx side its plain global two-phase HLL
      // (52 longs per partition) and the exact side a two-phase hash
      // distinct of the bare key. HLL merge is associative, so the
      // estimate — and every output value — is unchanged (oracle-
      // verified).
      val li = t(s, dir, "lineitem")
      def legs(c: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = (
        li.agg(countDistinct(col(c)).as(s"__ex_$c")),
        li.agg(approx_count_distinct(col(c)).as(s"__ap_$c")))
      val (exP, apP) = legs("l_partkey")
      val (exO, apO) = legs("l_orderkey")
      exP.crossJoin(broadcast(apP))
        .crossJoin(broadcast(exO)).crossJoin(broadcast(apO))
        .select(
          col("__ex_l_partkey").as("n_exact"),
          (abs(col("__ap_l_partkey") - col("__ex_l_partkey"))
            <= col("__ex_l_partkey") * 0.1).as("apx_part_ok"),
          (abs(col("__ap_l_orderkey") - col("__ex_l_orderkey"))
            <= col("__ex_l_orderkey") * 0.1).as("apx_order_ok"))
    }),

    "agg_histogram" -> ((s, dir) => {
      // nested aggregate histogram → MAP (duckdb-5.cpp:1246); entries are
      // exploded to scalar rows — the driver's canonical compare cannot
      // sort nested columns
      t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
        expr("histogram_agg(o_orderpriority)").as("hist"))
        .select(col("o_orderstatus"), explode(col("hist")).as(Seq("priority", "cnt")))
    }),

    // ---- joins (SURVEY §2.3) ----

    "join_multiway_broadcast" -> ((s, dir) => {
      // TPC-H Q5 shape: fact-to-fact shuffle join + broadcast dims.
      // At 100 TB the dims stay broadcast; lineitem⋈orders co-shuffles
      // on orderkey once.
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      val su = broadcast(t(s, dir, "supplier"))
      val n = broadcast(t(s, dir, "nation")); val r = broadcast(t(s, dir, "region"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name").isin("ASIA", "EUROPE"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
    }),

    "join_range_autorewrite" -> ((s, dir) => {
      // the SAME plain inequality join as join_range_inequality, but with
      // the RangeJoinRule's fixed-width path (plans.RangeJoinRule): the
      // optimizer itself rewrites it to the bucketed equi-join. The width
      // is pinned only while the plan materializes (optimization is
      // lazy), so it never leaks into the session's later queries.
      val key = "spark.graft.rangeJoin.bucketWidth"
      val before = s.conf.getOption(key)
      s.conf.set(key, "10.0")
      try {
        val su = t(s, dir, "supplier"); val c = t(s, dir, "customer")
        val joined = su.join(c, col("c_acctbal") > col("s_acctbal") - 10.0 &&
            col("c_acctbal") <= col("s_acctbal"))
          .groupBy(col("s_suppkey")).agg(count(lit(1)).as("n_in_band"))
        joined.queryExecution.executedPlan
        joined
      } finally before match {
        case Some(w) => s.conf.set(key, w)
        case None => s.conf.unset(key)
      }
    }),

    "join_theta_blockwise" -> ((s, dir) => {
      // arbitrary-expression join cond (BlockwiseNLJoin, duckdb-3.cpp:13965)
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      n.join(r, col("n_regionkey") === col("r_regionkey") ||
        length(col("n_name")) === length(col("r_name")))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ---- sort / limit / top-k (SURVEY §2.6) ----

    "sort_topn" -> ((s, dir) => {
      // ORDER BY + LIMIT → TakeOrderedAndProject (PhysicalTopN analog).
      // Kept by measurement: the SQL orders by the rounded alias, so it
      // rounds every row before the top-N; this rounds only the 10 kept
      // (sf0.1 Bench median 0.068 s here vs 0.123 s as the SQL)
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .limit(10)
    }),

    // ---- set operations (SURVEY §2.7) ----

    "set_recursive_cte" -> ((s, _) => {
      // WITH RECURSIVE (PhysicalRecursiveCTE, duckdb-4.cpp:7608) via the
      // driver-side fixpoint loop in graft.operators.Recursion
      import s.implicits._
      val seed = Seq(1L).toDF("i")
      val series = Recursion.fixpoint(seed,
        f => f.filter(col("i") < 20).select((col("i") + 1).as("i")),
        maxIterations = 25)
      series.agg(sum(col("i")).cast("long").as("total"), count(lit(1)).as("n"))
    }),

    // ---- window functions (SURVEY §2.5) ----

    "win_share_of_total" -> ((s, dir) => {
      // whole-partition windowed aggregate (no ORDER BY)
      val w = Window.partitionBy(col("l_orderkey"))
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 500).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        round(col("l_extendedprice") / sum(col("l_extendedprice")).over(w), 6).as("share"),
        count(lit(1)).over(w).as("n_items"))
    }),

    "win_ignore_nulls" -> ((s, dir) => {
      val v = when(col("o_orderkey") % 3 === 0, null).otherwise(col("o_totalprice"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      // lag(v,1 IGNORE NULLS) ≡ last(v ignoreNulls) over ROWS[-∞,-1]: the
      // running-accumulate frame beats the offset frame's per-row skip-scan
      // (WinIgnLab v1). The mirror for lead does NOT exist — first over
      // ROWS[1,+∞] is an O(n²) recompute frame — so lead stays an offset.
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").withColumn("v", v).select(
        col("o_custkey"), col("o_orderkey"),
        round(last(col("v"), ignoreNulls = true).over(wPrev), 2).as("prev_nn"),
        round(lead(col("v"), 1, null, ignoreNulls = true).over(w), 2).as("next_nn"),
        round(first(col("v"), ignoreNulls = true).over(wf), 2).as("first_nn"),
        round(last(col("v"), ignoreNulls = true).over(wf), 2).as("last_nn"))
    }),

    "sample_bernoulli" -> ((s, dir) => {
      // seeded bernoulli sample. RNG streams are engine-local, so the
      // oracle checks the SAMPLING contract instead: each engine's own
      // 1% sample must have a row count within 4σ of n·p and a sample
      // mean within ±3 of the population mean (≈5σ for quantity)
      val li = t(s, dir, "lineitem")
      val pop = li.agg(count(lit(1)).as("n_total"), avg(col("l_quantity")).as("pop_avg"))
      val samp = li.sample(0.01, 42L)
        .agg(count(lit(1)).as("n_samp"), avg(col("l_quantity")).as("samp_avg"))
      samp.crossJoin(pop).select(
        col("n_total"),
        (abs(col("n_samp") - col("n_total") * 0.01)
          <= greatest(sqrt(col("n_total") * 0.01 * 0.99) * 4, lit(10.0))).as("n_ok"),
        (abs(col("samp_avg") - col("pop_avg")) <= 3.0).as("avg_ok"))
    }),

    "agg_quantile_disc_sem" -> ((s, dir) => {
      // r18 (VERDICT #2): percentile_disc rode Spark's buffered
      // PercentileDisc unconditionally — per-group state O(distinct
      // values) boxed, and on l_extendedprice (97% unique) the partial
      // buffers ARE the column (the r15 ExactQuantLab OOM class at
      // ≥10M rows/group). The row now self-selects like agg_quantile:
      // past the crossover it routes through bin refinement in DISCRETE
      // mode (ExactQuantile.quantiles(discrete=true) — the rank
      // ceil(q·n)−1 read exactly, no interpolation; O(B·cells) state at
      // any group size), below it the buffered aggregate stays (the
      // r18 counts+window engine measured SLOWER here, 1.14 s → 1.56 s
      // isolated — same histogram-on-unique-values wall as agg_quantile).
      // conf true forces the refine path, false forces buffered;
      // bit-equality pinned in ExactQuantileSpec.
      val li = t(s, dir, "lineitem")
      val refine = s.conf.get(
        "spark.graft.exactQuantile.binRefine", "auto") match {
        case "true" => true
        case "false" => false
        case _ => graft.operators.ExactQuantile.shouldBinRefine(
          li, "l_linestatus")
      }
      if (refine) {
        import graft.operators.ExactQuantile.QSpec
        val stats = graft.operators.ExactQuantile.autoStats(
          li, "l_linestatus", Seq(
            QSpec("l_extendedprice", 0.5, discrete = true, "med_disc"),
            QSpec("l_quantity", 0.9, discrete = true, "p90_disc")),
          crossover = 0L)
        val sem = li.groupBy(col("l_linestatus")).agg(
          round((stddev_pop(col("l_quantity")) / sqrt(count(col("l_quantity")))), 8).as("sem_qty"))
        // null-safe recomposition (VERDICT r18 #5): equivalent on any
        // input, identical rows here (l_linestatus is NOT NULL)
        stats.join(sem, stats("l_linestatus") <=> sem("l_linestatus"))
          .select(stats("l_linestatus"), col("med_disc"), col("p90_disc"),
            col("sem_qty"))
      } else
        li.groupBy(col("l_linestatus")).agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("med_disc"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)").as("p90_disc"),
          round((stddev_pop(col("l_quantity")) / sqrt(count(col("l_quantity")))), 8).as("sem_qty"))
    }),

    "agg_approx_quantile" -> ((s, dir) => {
      // approx_quantile analog (reference: holistic list,
      // duckdb-5.cpp:12-17). Sketches differ across engines, so the
      // oracle checks the sketch CONTRACT — and since r9 the ground
      // truth is RANK-based, not value-based: count the rows strictly
      // below / at-or-below each engine's own estimate and require the
      // [lo, hi] rank window to overlap q*n within 2%. The old contract
      // computed an exact `percentile` ground truth INSIDE the timed
      // plan, buffering every group value (1.17 s vs duck 0.17 s — the
      // one genuine over-2x gap in r8). Rank counting is two streaming
      // aggregates plus a 3-row broadcast join: no buffering anywhere,
      // and at 100 TB it is the only viable sketch validation — no
      // engine can hold a group's values for an exact quantile, but
      // every engine can count. Tolerance 2% of n covers Spark's GK
      // guarantee at accuracy=1000 (rank error <= n/1000) and DuckDB's
      // t-digest at default compression (~1% near the median) with
      // margin; the two-sided lo/hi form stays exact under ties
      // (l_quantity is discrete: lo(v) <= qn + eps and hi(v) >= qn - eps
      // follow from the sketch's rank guarantee whatever the tie mass).
      // r11 rewrite (r10 was three column-pruned scans at 2.10x): the
      // SKETCH is a GK percentile_approx over a bounded HEAD SAMPLE
      // (~60k rows — the ObjectHashAggregate cost that made full-column
      // GK the r8 bottleneck is fine at sample size), and the probe +
      // the exact qty rank table FUSE into ONE full scan: groupBy(flag,
      // qty) carries the two ep probe counters alongside the qty value
      // counts, so cum(<v)/cum(<=v) for p10/p90 and the ep rank check
      // all come out of a single pass (the retired QuantLab, 635 → 543 ms
      // local; at 100 TB it is 1 full pass + a few head row groups
      // instead of 3 full passes). The gate stays GENUINE — the
      // estimate comes from an aggregate the probe never sees, and the
      // probe counts raw data rows (ApproxQuantileGateSpec feeds a
      // garbage estimate through the same fused shape and med_ok goes
      // false). A value-ordered file would bias the head sample and
      // FAIL the gate visibly — that is the gate working; callers with
      // sorted data should sample uniformly instead (documented trade:
      // TABLESAMPLE-style uniform sampling costs a full scan of the
      // sampled column, the head sample costs a few row groups).
      Relational.approxQuantileContract(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity")))
    }),

    "join_asof_backward" -> ((s, dir) => {
      // for each view event, the most recent click by the same user
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsofJoin.lastValueBefore(
        views, clicks, "user_id", "ts", "value", "prev_click")
        .select(col("event_id"), col("user_id"),
          round(col("prev_click"), 2).as("prev_click_value"))
    }),

    "join_asof_forward" -> ((s, dir) => {
      // for each view event, the next click by the same user at or after
      // it (reference ASOF's other inequality direction)
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsofJoin.firstValueAfter(
        views, clicks, "user_id", "ts", "value", "next_click")
        .select(col("event_id"), col("user_id"),
          round(col("next_click"), 2).as("next_click_value"))
    }),

    "join_range_bucketed" -> ((s, dir) => {
      // same semantics as join_range_inequality, but via the bucketed
      // equi-join plan (RangeJoin) — one shuffle instead of BNLJ
      val su = t(s, dir, "supplier")
        .withColumn("lo", col("s_acctbal") - 10.0)
        .withColumn("hi", col("s_acctbal"))
      val c = t(s, dir, "customer")
      graft.operators.RangeJoin.pointInRange(c, "c_acctbal", su, "lo", "hi", 10.0)
        .groupBy(col("s_suppkey")).agg(count(lit(1)).as("n_in_band"))
    }),

    "join_range_adaptive" -> ((s, dir) => {
      // variable-width intervals (width 0..97 + 0..13) — no single
      // bucketWidth fits; pointInRangeAdaptive derives quantile buckets
      // from the point distribution instead (general IEJoin case,
      // reference duckdb-3.cpp:15445)
      val su = t(s, dir, "supplier")
        .withColumn("lo", col("s_acctbal") - (col("s_suppkey") % 97).cast("double"))
        .withColumn("hi", col("s_acctbal") + (col("s_suppkey") % 13).cast("double"))
      val c = t(s, dir, "customer")
      RangeJoin.pointInRangeAdaptive(c, "c_acctbal", su, "lo", "hi")
        .groupBy(col("s_suppkey")).agg(count(lit(1)).as("n_in_band"))
    }),

    "join_interval_overlap" -> ((s, dir) => {
      // interval×interval overlap (the FULL IEJoin shape: two-sided
      // inequality with different intervals on each side), written as a
      // PLAIN join — graft.plans.RangeJoinRule detects the shape and
      // rewrites it to the quantile-bucketed equi-join automatically
      // (reference join selection, duckdb-4.cpp:9054-9168; no conf
      // needed). The programmatic RangeJoin.intervalOverlap API remains
      // for callers that want explicit control (spec-covered).
      val su = t(s, dir, "supplier")
        .withColumn("s_lo", col("s_acctbal") - (col("s_suppkey") % 50).cast("double"))
        .withColumn("s_hi", col("s_acctbal") + (col("s_suppkey") % 20).cast("double"))
      val c = t(s, dir, "customer").filter(col("c_custkey") <= 1000)
        .withColumn("c_lo", col("c_acctbal") - (col("c_custkey") % 30).cast("double"))
        .withColumn("c_hi", col("c_acctbal") + (col("c_custkey") % 40).cast("double"))
      su.join(c, col("s_lo") <= col("c_hi") && col("c_lo") <= col("s_hi"))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_overlap"), sum(col("c_custkey")).as("sum_cust"))
    }),

    "set_union_by_name" -> ((s, dir) => {
      // UNION ALL BY NAME (reference duckdb-8.cpp:7905): by-name column
      // matching with null fill for missing columns
      Engine.registerAll(s, dir)
      SqlDialect.sql(s,
        """SELECT n_nationkey AS k, n_name AS name FROM nation
          |UNION ALL BY NAME
          |SELECT r_name AS name, r_regionkey AS k, 1 AS extra FROM region""".stripMargin)
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          count(col("extra")).as("n_extra"))
    }),

    "agg_mad" -> ((s, dir) => {
      // median absolute deviation (reference mad, duckdb-5.cpp holistic
      // aggregates): two exact-median phases. r18: both phases run on
      // the (group, value)-COUNT frame (ExactQuantile counts+window
      // engine) — the deviation counts derive from the value counts
      // without re-scanning the base or buffering the column in an
      // aggregation buffer (guide §5; bit-equal to the buffered
      // percentile, pinned in ExactQuantileSpec). conf=false keeps the
      // original buffered two-pass plan.
      import graft.operators.ExactQuantile
      import graft.operators.ExactQuantile.QSpec
      val li = t(s, dir, "lineitem")
      if (s.conf.get("spark.graft.exactQuantile.binRefine", "auto") == "false") {
        val med = li.groupBy("l_returnflag")
          .agg(expr("percentile(l_quantity, 0.5)").as("med"))
        li.join(med, "l_returnflag").groupBy("l_returnflag")
          .agg(round(expr("percentile(abs(l_quantity - med), 0.5)"), 2).as("mad_qty"))
      } else {
        val counts = li
          .select(col("l_returnflag").as("__g"),
            col("l_quantity").cast("double").as("__v"))
          .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
        val med = ExactQuantile.quantilesFromCounts(counts, "__g", "__v",
          "__c", Seq(QSpec("__v", 0.5, discrete = false, "med")))
        // null-safe recomposition (VERDICT r18 #5): a NULL group key
        // flows through the counts frame and must rejoin its median
        val devCounts = counts
          .join(med, counts("__g") <=> med("__g")).drop(med("__g"))
          .select(col("__g"), abs(col("__v") - col("med")).as("__v"),
            col("__c"))
          .groupBy(col("__g"), col("__v")).agg(sum(col("__c")).as("__c"))
        ExactQuantile.quantilesFromCounts(devCounts, "__g", "__v", "__c",
            Seq(QSpec("__v", 0.5, discrete = false, "mad")))
          .select(col("__g").as("l_returnflag"),
            round(col("mad"), 2).as("mad_qty"))
      }
    }),

    "agg_list" -> ((s, dir) => {
      // ordered list aggregation (reference list(x ORDER BY y),
      // duckdb-5.cpp ListFunction + ORDER BY modifier): deterministic
      // via sort-by-key-then-project (the distributed shape: one
      // groupBy shuffle, order restored inside each group)
      val sorted = array_sort(collect_list(struct(col("n_nationkey"), col("n_name"))))
      t(s, dir, "nation").groupBy(col("n_regionkey"))
        .agg(transform(sorted, x => x.getField("n_name")).as("nm"))
        .select(col("n_regionkey"),
          array_join(col("nm"), "|").as("names"),
          array_join(slice(col("nm"), 1, 2), "|").as("first2"),
          size(col("nm")).cast("long").as("n"))
    })
  )

  val oracle: Map[String, String] = Map(
    "scan_project_filter" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_quantity > 49.0""".stripMargin,

    "scan_values" ->
      "SELECT * FROM (VALUES (CAST(1 AS BIGINT),'a',1.5),(2,'b',-2.25),(3,NULL,0.0)) AS v(id, name, x)",

    "scan_range" ->
      "SELECT CAST(sum(range) AS BIGINT) AS total, count(*) AS n FROM range(1, 101)",

    "agg_q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "agg_global" ->
      """SELECT count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders,
        |  sum(l_quantity) AS sum_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem""".stripMargin,

    "agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT l_suppkey) AS nd_supp,
        |  round(sum(DISTINCT l_quantity), 2) AS sum_d_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_filtered" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |  round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS rev_disc,
        |  round(avg(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4) AS avg_f_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(avg(o_totalprice), 4) AS avg_price
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin,

    "agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(stddev_pop(l_quantity), 6) AS sdp_qty,
        |  round(var_samp(l_extendedprice), 4) AS var_price,
        |  round(var_pop(l_extendedprice), 4) AS varp_price,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp,
        |  round(covar_pop(l_quantity, l_extendedprice), 4) AS covp_qp
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_regression" ->
      """SELECT l_linestatus,
        |  regr_count(l_extendedprice, l_quantity) AS r_n,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS r_slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS r_icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r_r2,
        |  round(regr_avgx(l_extendedprice, l_quantity), 4) AS r_avgx,
        |  round(regr_avgy(l_extendedprice, l_quantity), 4) AS r_avgy
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "agg_minmax_by" ->
      """SELECT o_orderstatus,
        |  arg_max(o_orderkey, o_totalprice) AS key_of_max,
        |  arg_min(o_orderkey, o_totalprice) AS key_of_min,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "agg_string" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS rk,
        |  string_agg(n_name, ',' ORDER BY n_name) AS names, count(*) AS n
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "agg_bool_bit" ->
      """SELECT l_returnflag,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_discount > 0.09) AS any_hi_disc,
        |  bit_and(l_suppkey) AS band, bit_or(l_suppkey) AS bor,
        |  bit_xor(l_suppkey) AS bxor
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_quantile" ->
      """SELECT l_returnflag,
        |  round(median(l_quantity), 4) AS med_qty,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
        |  mode(l_linestatus) AS mode_ls
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_entropy" ->
      """SELECT l_returnflag, round(entropy(l_linenumber), 6) AS ent_ln, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_exact,
        |  abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        |    <= count(DISTINCT l_partkey) * 0.1 AS apx_part_ok,
        |  abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
        |    <= count(DISTINCT l_orderkey) * 0.1 AS apx_order_ok
        |FROM lineitem""".stripMargin,

    "agg_product" ->
      """SELECT l_orderkey, round(product(1.0 + l_discount), 6) AS prod_disc, count(*) AS n
        |FROM lineitem WHERE l_orderkey <= 100 GROUP BY l_orderkey""".stripMargin,

    "agg_histogram" ->
      """SELECT o_orderstatus, u.key AS priority,
        |  CAST(u.value AS BIGINT) AS cnt
        |FROM (SELECT o_orderstatus, histogram(o_orderpriority) AS hist
        |      FROM orders GROUP BY o_orderstatus) h,
        |  UNNEST(map_entries(hist)) AS t(u)""".stripMargin,

    "join_inner" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin,

    "join_multiway_broadcast" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'EUROPE')
        |GROUP BY n_name""".stripMargin,

    "join_left_outer" ->
      """SELECT o_orderstatus, count(*) AS n_rows, count(l_orderkey) AS n_matched,
        |  round(sum(coalesce(l_quantity, 0.0)), 2) AS sum_qty
        |FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 45) AS big
        |  ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin,

    "join_full_outer" ->
      """SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE c_custkey IS NULL) AS n_order_only,
        |  count(*) FILTER (WHERE o_orderkey IS NULL) AS n_cust_only,
        |  count(*) FILTER (WHERE c_custkey IS NOT NULL AND o_orderkey IS NOT NULL) AS n_both
        |FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
        |  ON c_custkey = o_custkey""".stripMargin,

    "join_semi" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 250000)""".stripMargin,

    "join_anti" ->
      """SELECT count(*) AS n_no_orders, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "join_cross" ->
      """SELECT count(*) AS n_pairs,
        |  CAST(sum(r_regionkey * n_nationkey) AS BIGINT) AS xsum
        |FROM region CROSS JOIN nation""".stripMargin,

    "join_range_inequality" ->
      """SELECT s_suppkey, count(*) AS n_in_band
        |FROM supplier JOIN customer
        |  ON c_acctbal > s_acctbal - 10.0 AND c_acctbal <= s_acctbal
        |GROUP BY s_suppkey""".stripMargin,

    "join_theta_blockwise" ->
      """SELECT count(*) AS n_pairs FROM nation JOIN region
        |  ON n_regionkey = r_regionkey OR length(n_name) = length(r_name)""".stripMargin,

    "join_positional" ->
      """WITH n AS (SELECT n_name, row_number() OVER (ORDER BY n_nationkey) AS rn FROM nation),
        |     r AS (SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS rn FROM region)
        |SELECT CAST(coalesce(n.rn, r.rn) AS BIGINT) AS rn, n_name, r_name
        |FROM n FULL OUTER JOIN r ON n.rn = r.rn""".stripMargin,

    "sort_topn" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "sort_multi_nulls" ->
      """SELECT l_returnflag, l_quantity, l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber
        |FROM lineitem
        |ORDER BY l_returnflag ASC NULLS FIRST, l_quantity DESC,
        |  l_orderkey ASC, l_linenumber ASC
        |LIMIT 100""".stripMargin,

    "limit_offset" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin,

    "set_union_all" ->
      """SELECT nk, count(*) AS n FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS BIGINT) AS nk FROM supplier
        |) GROUP BY nk""".stripMargin,

    "set_union_distinct" ->
      """SELECT CAST(c_nationkey % 7 AS BIGINT) AS k FROM customer
        |UNION
        |SELECT CAST(s_nationkey % 5 AS BIGINT) AS k FROM supplier""".stripMargin,

    "set_except" ->
      """SELECT count(*) AS n_except, CAST(sum(k) AS BIGINT) AS sum_k FROM (
        |  SELECT c_custkey AS k FROM customer
        |  EXCEPT
        |  SELECT o_custkey AS k FROM orders
        |)""".stripMargin,

    "set_intersect" ->
      """SELECT CAST(c_nationkey + 10 AS BIGINT) AS k FROM customer
        |INTERSECT
        |SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation""".stripMargin,

    "set_allvariants" ->
      """WITH c AS (SELECT CAST(c_nationkey % 9 AS BIGINT) AS k FROM customer),
        |o AS (SELECT CAST(o_custkey % 9 AS BIGINT) AS k FROM orders),
        |ea AS (SELECT k, count(*) AS n_except_all FROM (
        |         SELECT k FROM c EXCEPT ALL SELECT k FROM o) GROUP BY k),
        |ia AS (SELECT k, count(*) AS n_intersect_all FROM (
        |         SELECT k FROM c INTERSECT ALL SELECT k FROM o) GROUP BY k)
        |SELECT coalesce(ea.k, ia.k) AS k,
        |  CAST(coalesce(n_except_all, 0) AS BIGINT) AS n_except_all,
        |  CAST(coalesce(n_intersect_all, 0) AS BIGINT) AS n_intersect_all
        |FROM ea FULL OUTER JOIN ia ON ea.k = ia.k""".stripMargin,

    "set_coercion" -> SetCoerceSql,

    "set_recursive_cte" ->
      """WITH RECURSIVE t(i) AS (
        |  SELECT CAST(1 AS BIGINT) AS i
        |  UNION
        |  SELECT i + 1 FROM t WHERE i < 20
        |)
        |SELECT CAST(sum(i) AS BIGINT) AS total, count(*) AS n FROM t""".stripMargin,

    "win_rank_family" ->
      """SELECT * FROM (
        |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    CAST(rank() OVER w AS BIGINT) AS rnk,
        |    CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |    round(percent_rank() OVER w, 6) AS prnk,
        |    round(cume_dist() OVER w, 6) AS cd,
        |    CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
        |) WHERE rn <= 20""".stripMargin,

    "win_lead_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice, 2, 0.0) OVER w, 2) AS next2_price,
        |  round(first_value(o_totalprice) OVER w, 2) AS first_price,
        |  round(last_value(o_totalprice) OVER wf, 2) AS last_price,
        |  round(nth_value(o_totalprice, 2) OVER wf, 2) AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    "win_frames_rows" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
        |  round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
        |FROM orders""".stripMargin,

    "win_frames_range" ->
      """SELECT o_orderkey,
        |  round(sum(o_totalprice) OVER w, 2) AS range_sum,
        |  count(*) OVER w AS range_n
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (ORDER BY o_orderkey RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin,

    "win_qualify" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_custkey, c_acctbal,
        |  CAST(rn AS BIGINT) AS rn
        |FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer
        |) WHERE rn <= 2""".stripMargin,

    "win_share_of_total" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  round(l_extendedprice / sum(l_extendedprice) OVER (PARTITION BY l_orderkey), 6) AS share,
        |  count(*) OVER (PARTITION BY l_orderkey) AS n_items
        |FROM lineitem WHERE l_orderkey <= 500""".stripMargin,

    "sub_scalar_correlated" ->
      """SELECT o_orderstatus, count(*) AS n_above,
        |  round(sum(o_totalprice), 2) AS sum_above
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_orderstatus""".stripMargin,

    "sub_in_uncorrelated" ->
      """SELECT count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 1))""".stripMargin,

    "sub_exists_correlated" ->
      """SELECT count(*) AS n FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        |    AND o.o_totalprice > c.c_acctbal * 10)""".stripMargin,

    "sub_all_rewrite" ->
      """SELECT count(*) AS n_top FROM supplier
        |WHERE s_acctbal > ALL
        |  (SELECT avg(c_acctbal) FROM customer GROUP BY c_nationkey)""".stripMargin,

    "sub_in_projection_3vl" -> Sub3vlSql,

    "win_edge_frames" -> WinEdgeSql,

    "win_ignore_nulls" ->
      """SELECT o_custkey, o_orderkey,
        |  round(lag(v, 1 IGNORE NULLS) OVER w, 2) AS prev_nn,
        |  round(lead(v, 1 IGNORE NULLS) OVER w, 2) AS next_nn,
        |  round(first_value(v IGNORE NULLS) OVER wf, 2) AS first_nn,
        |  round(last_value(v IGNORE NULLS) OVER wf, 2) AS last_nn
        |FROM (SELECT *, CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |        ELSE o_totalprice END AS v FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    "sample_fixed_count" ->
      "SELECT count(*) AS n FROM (SELECT * FROM lineitem USING SAMPLE 500 ROWS)",

    "sample_bernoulli" ->
      """WITH pop AS (SELECT count(*) AS n_total, avg(l_quantity) AS pop_avg
        |             FROM lineitem),
        |s AS (SELECT count(*) AS n_samp, avg(l_quantity) AS samp_avg
        |      FROM (SELECT * FROM lineitem USING SAMPLE 1% (bernoulli, 42)))
        |SELECT n_total,
        |  abs(n_samp - n_total * 0.01)
        |    <= greatest(sqrt(n_total * 0.01 * 0.99) * 4, 10.0) AS n_ok,
        |  abs(samp_avg - pop_avg) <= 3.0 AS avg_ok
        |FROM s, pop""".stripMargin,

    "agg_quantile_disc_sem" ->
      """SELECT l_linestatus,
        |  quantile_disc(l_extendedprice, 0.5) AS med_disc,
        |  quantile_disc(l_quantity, 0.9) AS p90_disc,
        |  round(sem(l_quantity), 8) AS sem_qty
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "agg_approx_quantile" ->
      """WITH sk AS (
        |  SELECT l_returnflag,
        |    approx_quantile(l_extendedprice, 0.5) AS ep_ap,
        |    approx_quantile(l_quantity, 0.1) AS q10_ap,
        |    approx_quantile(l_quantity, 0.9) AS q90_ap
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, count(*) AS n,
        |  (count(*) FILTER (WHERE l.l_extendedprice < sk.ep_ap) <= count(*) * 0.5 + count(*) * 0.02
        |   AND count(*) FILTER (WHERE l.l_extendedprice <= sk.ep_ap) >= count(*) * 0.5 - count(*) * 0.02) AS med_ok,
        |  (count(*) FILTER (WHERE l.l_quantity < sk.q10_ap) <= count(*) * 0.1 + count(*) * 0.02
        |   AND count(*) FILTER (WHERE l.l_quantity <= sk.q10_ap) >= count(*) * 0.1 - count(*) * 0.02) AS p10_ok,
        |  (count(*) FILTER (WHERE l.l_quantity < sk.q90_ap) <= count(*) * 0.9 + count(*) * 0.02
        |   AND count(*) FILTER (WHERE l.l_quantity <= sk.q90_ap) >= count(*) * 0.9 - count(*) * 0.02) AS p90_ok
        |FROM lineitem l JOIN sk USING (l_returnflag)
        |GROUP BY l.l_returnflag""".stripMargin,

    "join_asof_backward" ->
      """SELECT v.event_id, v.user_id, round(c.value, 2) AS prev_click_value
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id AND v.ts >= c.ts""".stripMargin,

    "join_asof_forward" ->
      """SELECT v.event_id, v.user_id, round(c.value, 2) AS next_click_value
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id AND v.ts <= c.ts""".stripMargin,

    "join_range_autorewrite" ->
      """SELECT s_suppkey, count(*) AS n_in_band
        |FROM supplier JOIN customer
        |  ON c_acctbal > s_acctbal - 10.0 AND c_acctbal <= s_acctbal
        |GROUP BY s_suppkey""".stripMargin,

    "join_range_bucketed" ->
      """SELECT s_suppkey, count(*) AS n_in_band
        |FROM supplier JOIN customer
        |  ON c_acctbal > s_acctbal - 10.0 AND c_acctbal <= s_acctbal
        |GROUP BY s_suppkey""".stripMargin,

    "join_range_adaptive" ->
      """SELECT s_suppkey, count(*) AS n_in_band
        |FROM supplier JOIN customer
        |  ON c_acctbal > s_acctbal - (s_suppkey % 97)
        | AND c_acctbal <= s_acctbal + (s_suppkey % 13)
        |GROUP BY s_suppkey""".stripMargin,

    "join_interval_overlap" ->
      """WITH s AS (SELECT s_suppkey,
        |    s_acctbal - (s_suppkey % 50) AS s_lo,
        |    s_acctbal + (s_suppkey % 20) AS s_hi FROM supplier),
        |c AS (SELECT c_custkey,
        |    c_acctbal - (c_custkey % 30) AS c_lo,
        |    c_acctbal + (c_custkey % 40) AS c_hi
        |  FROM customer WHERE c_custkey <= 1000)
        |SELECT s_suppkey, count(*) AS n_overlap,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_cust
        |FROM s JOIN c ON s_lo <= c_hi AND c_lo <= s_hi
        |GROUP BY s_suppkey""".stripMargin,

    "join_lateral" ->
      """SELECT n.n_name, t.c_custkey, round(t.c_acctbal, 2) AS acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin,

    "set_union_by_name" ->
      """SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS k_sum,
        |  count(extra) AS n_extra
        |FROM (SELECT n_nationkey AS k, n_name AS name FROM nation
        |      UNION ALL BY NAME
        |      SELECT r_name AS name, r_regionkey AS k, 1 AS extra FROM region)""".stripMargin,

    "win_filtered" ->
      """SELECT n_regionkey, n_nationkey,
        |  CAST(count(*) FILTER (WHERE n_nationkey % 2 = 0)
        |    OVER (PARTITION BY n_regionkey) AS BIGINT) AS n_even,
        |  CAST(sum(n_nationkey) FILTER (WHERE n_nationkey > 10)
        |    OVER (PARTITION BY n_regionkey) AS BIGINT) AS s_hi
        |FROM nation""".stripMargin,

    "agg_mad" ->
      """SELECT l_returnflag,
        |  round(CAST(mad(l_quantity) AS DOUBLE), 2) AS mad_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_list" ->
      """SELECT n_regionkey,
        |  array_to_string(list(n_name ORDER BY n_nationkey), '|') AS names,
        |  array_to_string(list_slice(list(n_name ORDER BY n_nationkey), 1, 2), '|') AS first2,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "agg_grouping_fn" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // named WINDOW clause shared by several functions. run_avg
    // accumulates EXACT integer cents, then ONE shared division —
    // bit-identical doubles on both engines, so no final round() is needed
    // (and none would be safe: the engines' round() pipelines disagree on
    // rational half-cent boundaries — observed 5937.405 → .41 vs .40)
    "win_named" ->
      """SELECT c_custkey,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) OVER w AS DOUBLE)
        |    / (100.0 * count(*) OVER w) AS run_avg
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,

    "join_range_autoplan" ->
      """SELECT s_suppkey, count(*) AS n_in_band
        |FROM supplier JOIN customer
        |  ON c_acctbal > s_acctbal - 10.0 AND c_acctbal <= s_acctbal
        |GROUP BY s_suppkey""".stripMargin,

    "sample_system" -> sampleSystemSql
  )

  val queries: Map[String, Build] = registry(hand, oracle)
}
