package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-analog tables in the program's schema (the column set
  * the registry queries read: no comment, commitdate, shipmode or partsupp).
  *
  * The base is an sf0.1-sized database; `copies` > 1 writes a key-remapped
  * replica: copy `c` of base row `b` gets key `b * copies + c` and the base
  * row's attributes, so every copy is its own key universe and the replica
  * has `copies` times the rows with the base's value distributions. Every
  * attribute is a hash of the base key and a fixed salt, so the tables are
  * the same on every run and the committed result fingerprints apply.
  */
object TpchGen {
  val Customers = 15000L
  val Suppliers = 1000L
  val Parts = 20000L
  val Orders = 150000L
  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  private val Nations = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4,
    "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2,
    "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
    "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Colors = Seq("almond", "blue", "burlywood", "chocolate", "forest", "green",
    "ivory", "lemon", "navy", "orchid", "red", "salmon", "tan", "violet", "white")
  private val Nouns = Seq("bolt", "gear", "nut", "ring", "screw", "spring", "valve", "washer")
  private val TypeHeads = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val TypeTails = Seq("ANODIZED", "BRUSHED", "BURNISHED", "PLATED", "POLISHED")

  /** Non-negative pseudo-random value in [0, m) from the base key and a salt. */
  private def h(m: Long, salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(salt) +: keys): _*), lit(m))

  private def pick(values: Seq[String], salt: Int, keys: Column*): Column =
    element_at(array(values.map(lit): _*), (h(values.size, salt, keys: _*) + 1).cast("int"))

  private val epoch = to_timestamp(lit("1992-01-01 00:00:00"))
  private val cutoff = to_timestamp(lit("1995-06-17 00:00:00"))
  private def plusDays(ts: Column, d: Column): Column =
    timestamp_add("DAY", d, ts)

  /** `copies * n` rows with columns `b` (base key) and `k` (remapped key). */
  private def keys(spark: SparkSession, n: Long, copies: Int): DataFrame =
    spark.range(n * copies).select(
      (col("id") / copies).cast("long").as("b"), col("id").as("k"))

  private def price(partBase: Column): Column =
    (lit(90000) + pmod(floor(partBase / 10), lit(20001L)) + pmod(partBase, lit(1000)) * 100) / 100.0

  private def orderDate(b: Column): Column = plusDays(epoch, h(2406, 11, b))

  def tables(spark: SparkSession, copies: Int): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val region = Regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
    val nation = Nations.zipWithIndex.map { case ((n, r), i) => (i, n, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val b = col("b")
    val customer = keys(spark, Customers, copies).select(
      col("k").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("k").cast("string"), 9, "0")).as("c_name"),
      h(25, 1, b).cast("int").as("c_nationkey"),
      round((h(1099999, 2, b) - 99999) / 100.0, 2).as("c_acctbal"),
      pick(Segments, 3, b).as("c_mktsegment"))
    val supplier = keys(spark, Suppliers, copies).select(
      col("k").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("k").cast("string"), 9, "0")).as("s_name"),
      h(25, 4, b).cast("int").as("s_nationkey"),
      round((h(1099999, 5, b) - 99999) / 100.0, 2).as("s_acctbal"))
    val part = keys(spark, Parts, copies).select(
      col("k").as("p_partkey"),
      concat(pick(Colors, 6, b), lit(" "), pick(Nouns, 7, b)).as("p_name"),
      concat(lit("Brand#"), h(5, 8, b) + 1, h(5, 9, b) + 1).as("p_brand"),
      concat(pick(TypeHeads, 10, b), lit(" "), pick(TypeTails, 12, b)).as("p_type"),
      (h(50, 13, b) + 1).cast("int").as("p_size"),
      price(b).as("p_retailprice"))
    // Customers whose base key is a multiple of 3 place no orders (TPC-H's
    // rule), which gives the anti-join queries a non-empty answer.
    val custBase = h(Customers / 3 * 2, 14, b)
    val orderCust = (custBase / 2).cast("long") * 3 + pmod(custBase, lit(2L)) + 1
    val orders = keys(spark, Orders, copies).select(
      col("k").as("o_orderkey"),
      (orderCust * copies + pmod(col("k"), lit(copies.toLong))).as("o_custkey"),
      when(plusDays(orderDate(b), lit(121)) < cutoff, "F")
        .when(orderDate(b) > cutoff, "O").otherwise("P").as("o_orderstatus"),
      round((h(50000000, 15, b) + 100000) / 100.0, 2).as("o_totalprice"),
      orderDate(b).as("o_orderdate"),
      pick(Priorities, 16, b).as("o_orderpriority"))
    val copy = pmod(col("k"), lit(copies.toLong))
    val ln = col("l_linenumber")
    val partBase = h(Parts, 21, b, ln)
    val ship = plusDays(orderDate(b), h(121, 22, b, ln) + 1)
    val lineitem = keys(spark, Orders, copies)
      .select(col("b"), col("k"), explode(sequence(lit(1), (h(7, 20, b) + 1).cast("int"))).as("l_linenumber"))
      .select(
        col("k").as("l_orderkey"),
        (partBase * copies + copy).as("l_partkey"),
        (h(Suppliers, 23, b, ln) * copies + copy).as("l_suppkey"),
        ln.cast("int").as("l_linenumber"),
        (h(50, 24, b, ln) + 1).cast("double").as("l_quantity"),
        round((h(50, 24, b, ln) + 1) * price(partBase), 2).as("l_extendedprice"),
        (h(11, 25, b, ln) / 100.0).as("l_discount"),
        (h(9, 26, b, ln) / 100.0).as("l_tax"),
        when(ship <= cutoff, when(h(2, 27, b, ln) === 0, "R").otherwise("A"))
          .otherwise("N").as("l_returnflag"),
        when(ship > cutoff, "O").otherwise("F").as("l_linestatus"),
        ship.as("l_shipdate"))
    TableNames.zip(Seq(region, nation, customer, supplier, part, orders, lineitem))
  }
}
