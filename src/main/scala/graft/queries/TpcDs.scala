package graft.queries

/** TPC-DS-class optimizer stressors (round-6 verdict #8) — the shapes
  * TPC-H doesn't exercise: window functions layered over join
  * aggregates (q47/q57), multi-level ROLLUP with FILTER + HAVING +
  * grouping() (q18/q22/q77), correlated EXISTS / NOT EXISTS chains
  * (q10/q35), channel INTERSECT/EXCEPT (q38/q87), and rank-capped
  * top-N per group over a joined aggregate (q67). Adapted to the
  * driver's TPC-H-ish star schema.
  *
  * Each runs as the SAME SQL text on both engines (Spark via
  * [[sqlQuery]], DuckDB via the oracle map), so the comparison is
  * parser-to-result: no DataFrame-side paraphrase to drift. Aggregate
  * outputs are CAST/rounded in the text itself to pin identical result
  * types on both engines (count/rank/grouping → BIGINT, sums/avgs →
  * rounded DOUBLE — the established oracle convention).
  */
object TpcDs {

  val oracle: Map[String, String] = Map(
    // window frame + rank layered over a join aggregate (TPC-DS q47/q57)
    "tpcds_window_over_join" ->
      """WITH sales AS (
        |  SELECT l_returnflag AS flag, CAST(month(l_shipdate) AS BIGINT) AS m,
        |    round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus <> 'P'
        |  GROUP BY 1, 2)
        |SELECT flag, m, rev,
        |  round(avg(rev) OVER (PARTITION BY flag ORDER BY m
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS mov_avg,
        |  CAST(rank() OVER (PARTITION BY flag ORDER BY rev DESC) AS BIGINT) AS rev_rank
        |FROM sales""".stripMargin,

    // multi-level ROLLUP with FILTER agg + HAVING + grouping() (q18/q22/q77)
    "tpcds_rollup_filtered" ->
      """SELECT n_name, o_orderpriority,
        |  CAST(grouping(n_name) AS BIGINT) AS g_nation,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT) AS n_big,
        |  round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= timestamp '1996-01-01 00:00:00'
        |GROUP BY ROLLUP (n_name, o_orderpriority)
        |HAVING count(*) > 10""".stripMargin,

    // correlated EXISTS chain + NOT EXISTS (q10/q35) — Catalyst
    // decorrelates to semi/semi/anti joins on c_custkey
    "tpcds_exists_chain" ->
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  round(CAST(avg(c_acctbal) AS DOUBLE), 2) AS avg_bal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= timestamp '1997-01-01 00:00:00')
        |  AND EXISTS (SELECT 1 FROM orders o2 JOIN lineitem ON l_orderkey = o2.o_orderkey
        |    WHERE o2.o_custkey = c_custkey AND l_returnflag = 'R')
        |  AND NOT EXISTS (SELECT 1 FROM orders o3 WHERE o3.o_custkey = c_custkey
        |    AND o3.o_orderstatus = 'P')
        |GROUP BY c_mktsegment""".stripMargin,

    // channel INTERSECT then EXCEPT (q38/q87)
    "tpcds_channel_intersect" ->
      """SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_custkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |    WHERE l_returnflag = 'A'
        |  INTERSECT
        |  SELECT o_custkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |    WHERE l_returnflag = 'R'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |) t""".stripMargin,

    // rank-capped top-N per group over a joined aggregate (q67)
    "tpcds_topn_per_group" ->
      """SELECT * FROM (
        |  SELECT n_name, o_orderpriority, rev,
        |    CAST(rank() OVER (PARTITION BY n_name
        |      ORDER BY rev DESC, o_orderpriority) AS BIGINT) AS rk
        |  FROM (SELECT n_name, o_orderpriority,
        |          round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS rev
        |        FROM orders JOIN customer ON o_custkey = c_custkey
        |          JOIN nation ON c_nationkey = n_nationkey
        |        GROUP BY n_name, o_orderpriority) s) t
        |WHERE rk <= 3""".stripMargin,

    // heterogenous-channel UNION ALL re-aggregated (q5/q77) — partial
    // aggregation must push below the union's branches
    "tpcds_channel_union" ->
      """WITH channels AS (
        |  SELECT 'returns' AS channel, CAST(month(l_shipdate) AS BIGINT) AS m,
        |    l_extendedprice * (1 - l_discount) AS amt
        |  FROM lineitem WHERE l_returnflag = 'R'
        |  UNION ALL
        |  SELECT 'ships', CAST(month(l_shipdate) AS BIGINT),
        |    l_extendedprice * (1 - l_discount)
        |  FROM lineitem WHERE l_returnflag <> 'R'
        |  UNION ALL
        |  SELECT 'orders', CAST(month(o_orderdate) AS BIGINT), o_totalprice
        |  FROM orders WHERE o_orderstatus <> 'P')
        |SELECT channel, m, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(amt) AS DOUBLE), 2) AS total
        |FROM channels GROUP BY channel, m ORDER BY channel, m""".stripMargin,

    // moving-peer comparison: a bidirectional window frame over a
    // 4-table join aggregate, filtered on the frame result (q47's
    // deviation-from-neighbors shape). r and peer are rounded to 2dp
    // BEFORE the ratio filter: double sums are accumulation-order
    // dependent, so an unrounded boundary comparison could flip row
    // MEMBERSHIP between engines (or between two AQE runs), not just a
    // displayed decimal — the repo's round-before-compare convention
    // applies to predicates on aggregates, not only to output columns.
    "tpcds_moving_peer" ->
      """WITH rev AS (
        |  SELECT n_name, CAST(month(o_orderdate) AS BIGINT) AS m,
        |    sum(l_extendedprice * (1 - l_discount)) AS r
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, m),
        |w AS (
        |  SELECT n_name, m, round(CAST(r AS DOUBLE), 2) AS r,
        |    round(CAST(avg(r) OVER (PARTITION BY n_name ORDER BY m
        |      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE), 2) AS peer
        |  FROM rev)
        |SELECT n_name, m, r AS rev, peer AS peer_avg,
        |  round(CAST(r / peer AS DOUBLE), 4) AS ratio
        |FROM w
        |WHERE r > 1.1 * peer OR r < 0.9 * peer
        |ORDER BY n_name, m""".stripMargin)

  val queries: Map[String, Build] = registry(Map.empty, oracle)
}
