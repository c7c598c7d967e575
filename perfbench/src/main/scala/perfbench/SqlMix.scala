package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** A seeded stream of DuckDB-dialect SQL text through `Engine.sql` against
  * sf0.1 views, fetched by the client.
  *
  * A round is 20 statements in a seeded order: 12 base-view reads, one per
  * template with a seeded literal, and 4 writes on the benchmark-owned table
  * `bench_acct(id, grp, v)` (INSERT, UPDATE, DELETE, then CTAS or COPY TO
  * in alternate rounds), each followed by a read of what it wrote. The
  * benchmark keeps a model of `bench_acct` from the statement parameters;
  * the reads after writes are checked against it, and base-view reads
  * against committed fingerprints (USING SAMPLE against a binomial bound).
  */
object SqlMix extends Workload {
  val name = "sql_mix"
  val inputs = Inputs.Sf01
  val roundSeconds = 3.3
  override val warmupRounds = 2
  val InitialRows = 2000L
  val Groups = 8L

  override def prepare(spark: SparkSession, data: DataSet, runDir: String): Unit = {
    TpchGen.TableNames.foreach(t => graft.Engine.table(spark, data.path, t).createOrReplaceTempView(t))
    graft.Engine.sql(spark, s"CREATE OR REPLACE TABLE bench_acct AS " +
      s"SELECT id, id % $Groups AS grp, CAST(0 AS BIGINT) AS v FROM range($InitialRows)").collect()
  }

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Base-view read templates, each with its finite literal set. */
  val Templates: Seq[(String, Seq[String])] = Seq(
    "agg_filter" -> Seq(5, 10, 20, 30, 45).map(q =>
      s"SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_extendedprice), 2) AS s " +
        s"FROM lineitem WHERE l_quantity < $q GROUP BY ALL ORDER BY ALL"),
    "join_group" -> Seq(0, 2500, 5000, 7500, 9000).map(x =>
      s"SELECT n_name, count(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        s"WHERE c_acctbal > $x GROUP BY n_name ORDER BY n DESC, n_name LIMIT 5"),
    "qualify" -> Seq(50, 100, 200, 400, 800).map(k =>
      s"SELECT o_custkey, o_orderkey, o_totalprice FROM orders WHERE o_custkey < $k " +
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1"),
    "distinct_on" -> Segments.map(seg =>
      s"SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal FROM customer " +
        s"WHERE c_mktsegment = '$seg' ORDER BY c_nationkey, c_acctbal DESC, c_custkey"),
    "star_exclude" -> Seq(1 -> 11, 10 -> 23, 20 -> 34, 30 -> 45, 40 -> 52).map { case (s, b) =>
      s"SELECT * EXCLUDE (p_name, p_type) FROM part WHERE p_size = $s AND p_brand = 'Brand#$b'" },
    "sample" -> Seq(5, 10, 20).map(p => s"SELECT count(*) AS n FROM orders USING SAMPLE $p%"),
    "limit_pct" -> Seq("1998-01-01" -> 1, "1998-04-01" -> 1, "1998-04-01" -> 2, "1998-06-01" -> 2,
      "1997-06-01" -> 1).map { case (d, p) =>
      s"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderdate >= TIMESTAMP '$d 00:00:00' " +
        s"ORDER BY o_totalprice DESC, o_orderkey LIMIT $p%" },
    "join_window" -> (1993 to 1997).map(y =>
      s"SELECT o_orderpriority, count(*) AS n FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        s"WHERE l_shipdate >= TIMESTAMP '$y-01-01 00:00:00' AND l_shipdate < TIMESTAMP '$y-04-01 00:00:00' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "point" -> Seq(17, 4242, 31337, 77777, 149999).map(k => s"SELECT * FROM orders WHERE o_orderkey = $k"),
    "q6" -> Seq((1993, "0.01", "0.03"), (1994, "0.05", "0.07"), (1995, "0.04", "0.06"),
      (1996, "0.06", "0.08"), (1997, "0.02", "0.04")).map { case (y, lo, hi) =>
      s"SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n FROM lineitem " +
        s"WHERE l_shipdate >= TIMESTAMP '$y-01-01 00:00:00' AND l_shipdate < TIMESTAMP '${y + 1}-01-01 00:00:00' " +
        s"AND l_discount BETWEEN $lo AND $hi AND l_quantity < 24" },
    "having_top" -> Seq("1993-01-01" -> 500, "1994-01-01" -> 420, "1995-01-01" -> 300,
      "1996-01-01" -> 220, "1997-01-01" -> 130).map { case (d, n) =>
      s"SELECT l_suppkey, count(*) AS n FROM lineitem WHERE l_shipdate >= TIMESTAMP '$d 00:00:00' " +
        s"GROUP BY l_suppkey HAVING count(*) > $n ORDER BY n DESC, l_suppkey LIMIT 10" },
    "scalar_sub" -> Segments.map(seg =>
      "SELECT count(*) AS n FROM customer WHERE c_acctbal > " +
        s"(SELECT avg(c_acctbal) FROM customer WHERE c_mktsegment = '$seg')"))

  private def sqlOp(name: String, kind: String, text: String,
                    check: (StructType, Array[Row]) => Option[String]): Op =
    Op(name, kind, Sink.Collect, s => graft.Engine.sql(s, text), check, text)

  /** USING SAMPLE draws rows independently: the count must sit within six
    * standard deviations of its expectation. */
  private def sampleCheck(key: String, pct: Int): (StructType, Array[Row]) => Option[String] = {
    val n = TpchGen.Orders.toDouble
    val p = pct / 100.0
    val sd = math.sqrt(n * p * (1 - p))
    (_, rows) => {
      val got = rows.head.getLong(0)
      if (math.abs(got - n * p) <= 6 * sd) None else Some(s"$key: sample of $got rows, expected about ${n * p}")
    }
  }

  private def readOp(t: String, i: Int, expected: Map[String, Fingerprint]): Op = {
    val key = s"$name.$t.$i"
    val text = Templates.find(_._1 == t).get._2(i)
    val check =
      if (t == "sample") sampleCheck(key, text.split(" ").find(_.endsWith("%")).get.stripSuffix("%").toInt)
      else Workload.fingerprintCheck(key, expected)
    sqlOp(s"read.$t", "read", text, check)
  }

  override def fingerprinted(data: DataSet): Seq[(String, Op)] =
    for ((t, texts) <- Templates if t != "sample"; i <- texts.indices)
      yield s"$name.$t.$i" -> readOp(t, i, Map.empty)

  def checkPass(data: DataSet, expected: Map[String, Fingerprint]): Seq[Op] = Nil

  def rounds(seed: Long, data: DataSet, expected: Map[String, Fingerprint], runDir: String): Iterator[Seq[Op]] = {
    val stream = new Stream(seed, expected, runDir)
    Iterator.from(0).map(stream.round)
  }

  /** Exact (non-floating) comparison of fetched rows with the model's rows. */
  private def rowsCheck(label: String, want: Seq[Seq[Long]]): (StructType, Array[Row]) => Option[String] =
    (_, rows) => {
      val got = rows.toSeq.map(r => r.toSeq.map {
        case null => Long.MinValue
        case n: java.lang.Number => n.longValue
        case other => throw new IllegalStateException(s"$label: non-numeric value $other")
      })
      if (got == want) None else Some(s"$label: got ${got.mkString(";")}, model says ${want.mkString(";")}")
    }

  /** The statement stream and the table-state model it keeps. */
  final class Stream(seed: Long, expected: Map[String, Fingerprint], runDir: String) {
    private val rnd = new scala.util.Random(seed)
    private val acct = mutable.LinkedHashMap[Long, (Long, Long)]() // id -> (grp, v)
    (0L until InitialRows).foreach(id => acct(id) = (id % Groups, 0L))
    private var nextId = 1000000L
    private var copies = 0

    private def totals: Seq[Seq[Long]] = Seq(Seq(acct.size.toLong,
      acct.values.map(_._2).sum, acct.keys.sum, acct.values.map(_._1).sum))
    private val totalsSql = "SELECT count(*) AS n, sum(v) AS s, sum(id) AS si, sum(grp) AS sg FROM bench_acct"

    private def insert(): Seq[Op] = {
      val rows = (0 until 5).map { _ => nextId += 1 + rnd.nextInt(3); (nextId, rnd.nextInt(Groups.toInt).toLong, rnd.nextInt(100).toLong) }
      rows.foreach { case (id, g, v) => acct(id) = (g, v) }
      Seq(sqlOp("write.insert", "write",
        "INSERT INTO bench_acct VALUES " + rows.map { case (id, g, v) => s"($id, $g, $v)" }.mkString(", "), Op.noCheck),
        sqlOp("read.after_insert", "read", totalsSql, rowsCheck("read.after_insert", totals)))
    }

    private def update(): Seq[Op] = {
      val g = rnd.nextInt(Groups.toInt).toLong; val d = 1 + rnd.nextInt(9)
      acct.mapValuesInPlace { case (_, (gg, v)) => if (gg == g) (gg, v + d) else (gg, v) }
      val grp = acct.values.filter(_._1 == g)
      Seq(sqlOp("write.update", "write", s"UPDATE bench_acct SET v = v + $d WHERE grp = $g", Op.noCheck),
        sqlOp("read.after_update", "read", s"SELECT count(*) AS n, sum(v) AS s FROM bench_acct WHERE grp = $g",
          rowsCheck("read.after_update", Seq(Seq(grp.size.toLong, grp.map(_._2).sum)))))
    }

    private def delete(): Seq[Op] = {
      val r = rnd.nextInt(53).toLong
      acct.filterInPlace { case (id, _) => id % 53 != r }
      Seq(sqlOp("write.delete", "write", s"DELETE FROM bench_acct WHERE id % 53 = $r", Op.noCheck),
        sqlOp("read.after_delete", "read", totalsSql, rowsCheck("read.after_delete", totals)))
    }

    private def ctas(): Seq[Op] = {
      val g = rnd.nextInt(Groups.toInt).toLong
      val want = acct.values.filter(_._1 != g).groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (grp, vs) => Seq(grp, vs.size.toLong, vs.map(_._2).sum) }
      Seq(sqlOp("write.ctas", "write", "CREATE OR REPLACE TABLE bench_snap AS SELECT grp, count(*) AS n, " +
        s"sum(v) AS s FROM bench_acct WHERE grp <> $g GROUP BY grp", Op.noCheck),
        sqlOp("read.after_ctas", "read", "SELECT grp, n, s FROM bench_snap ORDER BY grp",
          rowsCheck("read.after_ctas", want)))
    }

    private def copyTo(): Seq[Op] = {
      val g = rnd.nextInt(Groups.toInt).toLong
      copies += 1
      val file = s"$runDir/copy_$copies.csv"
      val sel = acct.filter(_._2._1 == g)
      Seq(sqlOp("write.copy", "write", s"COPY (SELECT id, grp, v FROM bench_acct WHERE grp = $g) TO '$file' (HEADER)", Op.noCheck),
        sqlOp("read.after_copy", "read", s"SELECT count(*) AS n, sum(v) AS s, sum(id) AS si FROM read_csv_auto('$file')",
          rowsCheck("read.after_copy", Seq(Seq(sel.size.toLong, sel.values.map(_._2).sum, sel.keys.sum)))))
    }

    def round(r: Int): Seq[Op] = {
      val writes: Seq[() => Seq[Op]] =
        Seq(() => insert(), () => update(), () => delete(), if (r % 2 == 0) () => ctas() else () => copyTo())
      val reads: Seq[() => Seq[Op]] = Templates.map { case (t, texts) =>
        val i = rnd.nextInt(texts.size); () => Seq(readOp(t, i, expected)) }
      // units run in a seeded order; the model follows that order
      rnd.shuffle(writes ++ reads).flatMap(_())
    }
  }
}
