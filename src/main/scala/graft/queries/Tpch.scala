package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Engine

/** TPC-H-shaped optimizer stressors adapted to the driver schema (no
  * commitdate/shipmode/partsupp columns — filters substituted, shapes
  * preserved). One entry per classic plan shape: semi/anti joins,
  * correlated scalar subqueries, grouped HAVING top-k, nation-pair
  * volume, min-cost-per-part, null-aware NOT IN, double-correlated
  * EXISTS folded to one window pass. Entries not in `hand` are their
  * oracle SQL ([[registry]]); the rest are DataFrame code for plans
  * Catalyst does not derive from that SQL (aggregate-before-join,
  * window folds, broadcast hints).
  */
object Tpch {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  private val hand: Map[String, Build] = Map(

    "tpch_q18ish" -> ((s, dir) => {
      // large-order shape: join + GROUP BY + HAVING + top-k.
      // Aggregate-before-join: sum(l_quantity) by l_orderkey needs only
      // lineitem, so the rollup runs FIRST (map-side-combined, one
      // narrow shuffle of |orders| rows instead of co-shuffling the
      // full fact join), the >150 HAVING cuts it to a handful of rows,
      // and orders attaches o_totalprice on the far side of the filter.
      // Same rewrite a 100 TB plan wants: the join moves the post-HAVING
      // survivors, never the lineitem fact. Catalyst cannot derive this
      // (the agg is keyed on the join key of a 1:n join) — measured
      // 0.51 -> 0.40 s at sf0.1
      // (d38a371:src/main/scala/graft/tools/JoinShape.scala).
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("raw_qty"))
        .filter(col("raw_qty") > 150)
        .join(o, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), round(col("raw_qty"), 2).as("total_qty"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(20)
    }),

    "tpch_q7ish" -> ((s, dir) => {
      // nation-pair volume shape: two dimension roles + OR pair filter
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val su = broadcast(t(s, dir, "supplier")); val c = broadcast(t(s, dir, "customer"))
      val n1 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter((col("s_nk") === 1 && col("c_nk") === 2) ||
          (col("s_nk") === 2 && col("c_nk") === 1))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("yr"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
    }),

    "tpch_q21ish" -> ((s, dir) => {
      // double-correlated EXISTS + NOT EXISTS on the same relation.
      // Catalyst decorrelates the SQL form into a semi + anti join —
      // three shuffles of lineitem. Both correlations are per-order
      // scalars, so fold them into ONE aggregate pass instead:
      //   NOT EXISTS (l3.l_shipdate > l1.l_shipdate)
      //     ⟺ l1.l_shipdate = max(l_shipdate) over the order
      //   EXISTS (l2.l_suppkey <> l1.l_suppkey)
      //     ⟺ the order has ≥ 2 distinct suppliers
      // lineitem shuffles on l_orderkey twice (agg + join-back, AQE
      // co-partitions) instead of three times, and the anti join's
      // row-at-a-time probe disappears.
      // ≥2 distinct suppliers ⟺ min(suppkey) ≠ max(suppkey): a one-phase
      // window aggregate, no countDistinct expand. The window is the ONLY
      // lineitem shuffle; the orders join reuses its hash(l_orderkey)
      // partitioning (orders alone shuffles), supplier broadcasts.
      val ow = org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))
      val waiting = Engine.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .withColumn("max_ship", max(col("l_shipdate")).over(ow))
        .withColumn("supp_lo", min(col("l_suppkey")).over(ow))
        .withColumn("supp_hi", max(col("l_suppkey")).over(ow))
        .filter(col("l_shipdate") === col("max_ship") && col("supp_lo") =!= col("supp_hi"))
      val o = Engine.table(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      val su = broadcast(Engine.table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name")))
      waiting.join(o, col("o_orderkey") === col("l_orderkey"))
        .join(su, col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    }),

    "tpch_q10ish" -> ((s, dir) => {
      // aggregate the FACT side down to one row per customer key before
      // the dimension join: the lineitem⋈orders revenue rolls up to
      // |customer| rows first, then the (broadcastable) customer table
      // attaches name/acctbal — c_name never rides through the fact
      // shuffle and the dim join moves |customer| rows, not |lineitem|
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val perCust = l.select(col("l_orderkey"), rev.as("rev"))
        .join(o.select(col("o_orderkey"), col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("rev")).as("raw_rev"))
      perCust
        .join(c.select(col("c_custkey"), col("c_name"), col("c_acctbal")),
          col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"),
          round(col("raw_rev"), 2).as("revenue"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    })
  )

  val oracle: Map[String, String] = Map(

    "tpch_q18ish" ->
      """SELECT o_orderkey, round(sum(l_quantity), 2) AS total_qty,
        |  round(first(o_totalprice), 2) AS price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey
        |HAVING sum(l_quantity) > 150
        |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "tpch_q2ish" ->
      """SELECT l1.l_partkey, l1.l_suppkey, l1.l_extendedprice
        |FROM lineitem l1
        |WHERE l1.l_extendedprice = (SELECT min(l2.l_extendedprice)
        |  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,

    "tpch_q7ish" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS yr,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_nationkey = 1 AND n2.n_nationkey = 2)
        |   OR (n1.n_nationkey = 2 AND n2.n_nationkey = 1)
        |GROUP BY 1, 2, 3""".stripMargin,

    "tpch_q3ish" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND c_nationkey % 5 = 0
        |  AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "tpch_q5ish" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "tpch_q6ish" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "tpch_q8ish" ->
      """SELECT o_year,
        |  round(sum(CASE WHEN nation = 'BRAZIL' THEN revenue ELSE 0 END)
        |    / sum(revenue), 6) AS mkt_share
        |FROM (SELECT extract(year FROM o_orderdate) AS o_year,
        |        l_extendedprice * (1 - l_discount) AS revenue, n_name AS nation
        |      FROM lineitem, orders, customer, nation
        |      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |        AND c_nationkey = n_nationkey)
        |GROUP BY o_year""".stripMargin,

    "tpch_q9ish" ->
      """SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
        |FROM (SELECT n_name AS nation,
        |        extract(year FROM o_orderdate) AS o_year,
        |        l_extendedprice * (1 - l_discount) - 0.5 * l_quantity AS amount
        |      FROM lineitem, orders, supplier, nation, part
        |      WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |        AND s_nationkey = n_nationkey AND l_partkey = p_partkey
        |        AND p_name LIKE 'red%')
        |GROUP BY nation, o_year""".stripMargin,

    "tpch_q11ish" ->
      """WITH pv AS (SELECT l_partkey,
        |              sum(l_extendedprice * l_quantity) AS part_value
        |            FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, round(part_value, 2) AS part_value
        |FROM pv
        |WHERE part_value > (SELECT sum(part_value) * 0.0006 FROM pv)
        |ORDER BY part_value DESC, l_partkey LIMIT 100""".stripMargin,

    "tpch_q15ish" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
        |FROM supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "tpch_q17ish" ->
      """SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly, count(*) AS n
        |FROM lineitem l, part p
        |WHERE p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
        |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin,

    "tpch_q19ish" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND (
        |     (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |        AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 20 AND 30))""".stripMargin,

    "tpch_q20ish" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem, part
        |  WHERE l_partkey = p_partkey AND p_name LIKE 'red%'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(l_quantity) > 100)
        |ORDER BY s_suppkey""".stripMargin,

    "tpch_q21ish" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND EXISTS (SELECT * FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT * FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "tpch_q4ish" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_quantity > 48)
        |GROUP BY o_orderpriority""".stripMargin,

    "tpch_q12ish" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag""".stripMargin,

    "tpch_q14ish" ->
      """SELECT round(100.0 *
        |    sum(CASE WHEN p_type LIKE 'PROMO%'
        |        THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) /
        |    sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_share,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,

    "tpch_q10ish" ->
      """SELECT c_custkey, c_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  round(first(c_acctbal), 2) AS c_acctbal
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "tpch_q13ish" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey
        |) GROUP BY c_count""".stripMargin,

    "tpch_q22ish" ->
      """SELECT count(*) AS numcust, round(sum(c_acctbal), 2) AS totbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "tpch_q16ish" ->
      """SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#45' AND p_size IN (1, 4, 7)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
        |GROUP BY p_brand, p_size""".stripMargin
  )

  val queries: Map[String, Build] = registry(hand, oracle)
}
