package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Generated input tables of one workload, written once as parquet under
  * the benchmark's work directory and reused by later runs of the same
  * checkout. The directory name carries a hash of the generator sources,
  * so a changed generator writes a fresh copy. A manifest records each
  * table's row count and content hash (the input fingerprint), the file
  * listing that later runs verify, and facts the checks need, such as the
  * planted pairs.
  */
final case class DataSet(dir: Path, manifest: Map[String, String]) {
  def path: String = dir.toString
  def fingerprint: String = manifest("fingerprint")
  def longs(key: String): Seq[Long] =
    manifest.get(key).filter(_.nonEmpty).map(_.split(",").toSeq.map(_.toLong)).getOrElse(Nil)
}

object Data {
  type Extras = (SparkSession, String) => Map[String, String]

  /** Content hash of a table: row count and the sum of row hashes (order-independent). */
  def tableHash(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)), sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(1000000007L))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def listing(dir: Path): String =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString)
      .filter(n => n.endsWith(".parquet") && !n.contains("/."))
      .toSeq.sorted.map(n => s"$n:${Files.size(dir.resolve(n))}").mkString(";")

  private def readManifest(p: Path): Map[String, String] =
    Files.readAllLines(p, UTF_8).asScala.iterator.filter(_.contains("=")).map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  /** Returns the data set, generating it first when it is missing or its
    * files no longer match the manifest. Returns the seconds spent generating. */
  def ensure(spark: SparkSession, root: Path, inputs: Inputs, key: String): (DataSet, Double) = {
    val name = s"${inputs.name}-$key"
    val dir = root.resolve(name)
    val manifest = dir.resolve("manifest.txt")
    if (Files.exists(manifest)) {
      val m = readManifest(manifest)
      if (m.get("listing").contains(listing(dir))) return (DataSet(dir, m), 0.0)
    }
    val t0 = System.nanoTime()
    // copies written by an earlier version of the generators
    if (Files.isDirectory(root))
      Files.list(root).iterator().asScala.filter(_.getFileName.toString.startsWith(inputs.name + "-")).foreach(deleteTree)
    val tmp = root.resolve(name + ".tmp")
    Files.createDirectories(tmp)
    val hashes = inputs.tables(spark).map { case (t, df) =>
      df.write.mode("overwrite").parquet(tmp.resolve(s"$t.parquet").toString)
      val (rows, h) = tableHash(spark.read.parquet(tmp.resolve(s"$t.parquet").toString))
      t -> s"$t:$rows:${java.lang.Long.toHexString(h)}"
    }
    deleteTree(dir)
    Files.move(tmp, dir)
    val ex = inputs.extras(spark, dir.toString)
    val fp = java.lang.Long.toHexString(scala.util.hashing.MurmurHash3.stringHash(hashes.map(_._2).mkString(";")).toLong & 0xffffffffL)
    val m = Map("fingerprint" -> fp, "tables" -> hashes.map(_._2).mkString(";")) ++ ex +
      ("listing" -> listing(dir))
    Files.write(manifest, m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n").getBytes(UTF_8))
    (DataSet(dir, m), (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}
