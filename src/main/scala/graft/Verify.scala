package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir>`; SPARK_GRAFT_CPUS sets
  * the local cores, SPARK_GRAFT_ONLY=q1,q2 a query subset. The session
  * is `Engine.session`'s, the same one `Bench` times.
  *
  * Every selected query gets a line in the `verify_manifest.json` FILE
  * (name, status, rows, error); the compare tools scan only directories,
  * so the manifest sits beside the dumps without being read as one. The
  * process exits 1 if any query failed, after every successful dump,
  * the manifest and oracle_sql.json are written. */
object Verify {
  private val ManifestFile = "verify_manifest.json"

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Engine.session(s"local[$cpus]", shufflePartitions = cpus)
    // Dump encoding only, not the plan: TIMESTAMP_MICROS is UTC-adjusted
    // and reads back tz-aware in pandas, which the oracle compare's
    // naive datetime64 cast rejects; INT96 reads back naive. Set on the
    // root session and on each query's own (possibly pinned child) one.
    def int96(s: org.apache.spark.sql.SparkSession): Unit =
      s.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    int96(spark)
    new java.io.File(outDir).mkdirs()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    val outcomes = selected.toSeq.map { case (name, fn) =>
      val path = s"$outDir/$name"
      try {
        val df = fn(spark, sfDir)
        int96(df.sparkSession)
        df.coalesce(1).write.mode("overwrite").parquet(path)
        // footer-only count of what was just written
        (name, Right(spark.read.parquet(path).count()))
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
        System.err.println(s"[verify] $name failed: $msg")
        // a stale dump from an earlier run must not pass for this one
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
        (name, Left(msg))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failed = outcomes.collect { case (n, Left(_)) => n }
    val entries = outcomes.sortBy(_._1).map {
      case (n, Right(rows)) =>
        s"""{"name":${q(n)},"status":"ok","rows":$rows,"error":null}"""
      case (n, Left(err)) =>
        s"""{"name":${q(n)},"status":"failed","rows":null,"error":${q(err)}}"""
    }
    Files.writeString(Paths.get(s"$outDir/$ManifestFile"),
      s"""{"n":${outcomes.size},"failed":${failed.map(q).mkString("[", ",", "]")},""" +
        entries.mkString("\"queries\":[\n", ",\n", "\n]}\n"))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${outcomes.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
