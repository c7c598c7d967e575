package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}
import scala.jdk.CollectionConverters._

/** Order-independent fingerprint of a query result.
  *
  * Exact columns (everything but DOUBLE/FLOAT) are rendered per row and
  * hashed, and the row hashes are summed, so row order does not matter.
  * Floating columns are kept as their sum and sum of squares and compared
  * at a relative tolerance: the last bits of a floating sum depend on the
  * order partial sums are merged in, which the engine does not fix.
  */
final case class Fingerprint(rows: Long, exactHash: Long, floats: Seq[Double]) {
  def matches(o: Fingerprint): Boolean =
    rows == o.rows && exactHash == o.exactHash && floats.size == o.floats.size &&
      floats.zip(o.floats).forall { case (a, b) =>
        math.abs(a - b) <= Fingerprint.RelTol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
      }

  def render: String =
    s"$rows\t${java.lang.Long.toHexString(exactHash)}\t" + floats.map(d => java.lang.Double.toString(d)).mkString(",")
}

object Fingerprint {
  val RelTol = 1e-6

  def of(schema: StructType, rows: Array[Row]): Fingerprint = {
    val floating = schema.fields.indices.filter { i =>
      schema.fields(i).dataType == DoubleType || schema.fields(i).dataType == FloatType
    }
    val exact = schema.fields.indices.filterNot(floating.contains)
    var hash = 0L
    val sums = new Array[Double](floating.size * 2)
    rows.foreach { r =>
      val key = exact.map(i => if (r.isNullAt(i)) "\u0000" else render(r.get(i))).mkString("\u0001")
      hash += scala.util.hashing.MurmurHash3.stringHash(key).toLong * 0x9E3779B97F4A7C15L +
        scala.util.hashing.MurmurHash3.stringHash(key, 0x5bd1e995).toLong
      floating.zipWithIndex.foreach { case (i, j) =>
        if (!r.isNullAt(i)) {
          val d = r.get(i) match { case f: Float => f.toDouble; case d: Double => d }
          sums(2 * j) += d
          sums(2 * j + 1) += d * d
        }
      }
    }
    Fingerprint(rows.length.toLong, hash, sums.toSeq)
  }

  private def render(v: Any): String = v match {
    case s: scala.collection.Seq[_] => s.map(x => if (x == null) "null" else render(x)).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(x => if (x == null) "null" else render(x)).mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def parse(line: String): (String, Fingerprint) = {
    val f = line.split("\t", -1)
    val floats = if (f(3).isEmpty) Seq.empty else f(3).split(",").toSeq.map(_.toDouble)
    f(0) -> Fingerprint(f(1).toLong, java.lang.Long.parseUnsignedLong(f(2), 16), floats)
  }

  /** Reads a committed fingerprint file: `name<TAB>rows<TAB>hash<TAB>floats`. */
  def load(path: Path): Map[String, Fingerprint] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path, UTF_8).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(parse).toMap

  def save(path: Path, header: String, entries: Seq[(String, Fingerprint)]): Unit = {
    Files.createDirectories(path.getParent)
    val body = entries.sortBy(_._1).map { case (n, fp) => s"$n\t${fp.render}" }
    Files.write(path, (header.linesIterator.map("# " + _).toSeq ++ body).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
