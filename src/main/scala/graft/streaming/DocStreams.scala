package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Structured Streaming over the documents table: the STREAMING INGEST
  * side of the curation pipeline (SURVEY.md §2.10 additive surface) —
  * arriving documents deduplicated against a static historical index
  * while in flight.
  *
  * The shape is the production one: the history's banded MinHash index
  * is built ONCE as a static relation (at scale it persists bucketed on
  * (band, bucket) — the serving artifact [[Dedup.dedupAgainst]]
  * describes); each micro-batch of arriving documents bands itself with
  * the same codegen kernels (per-row expressions, stream-safe) and
  * probes the index with STREAM-STATIC inner joins, which keep NO join
  * state — the only state store is the emitted-pair dedup, bounded by
  * the match count of the increment.
  */
object DocStreams {

  /** Streaming read of the documents parquet; batch-memoized schema (the
    * same no-disagreement contract as [[EventStreams.readEvents]]). */
  def readDocuments(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Engine.tableSchema(spark, dir, "documents")
    spark.readStream.schema(schema).parquet(stageDir(dir))
  }

  private val stageCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def stageDir(dir: String): String = stageCache.getOrElseUpdate(dir, {
    import java.nio.file._
    val tmp = Files.createTempDirectory("graft_docs_")
    val src = Paths.get(dir, "documents.parquet")
    val dst = tmp.resolve("documents.parquet")
    try Files.createLink(dst, src)
    catch { case _: Exception => Files.copy(src, dst) }
    tmp.toFile.deleteOnExit()
    tmp.toString
  })

  /** Streaming incremental dedup: arriving docs (doc_id % 5 = 0) scored
    * against the static history (the other 80%) — the streaming twin of
    * the batch `dedup_incremental` query, same banding parameters, same
    * answer. The cap contract matches [[Dedup.dedupAgainst]] EXACTLY:
    * only the persisted history index is capped on hot buckets, the
    * arriving side never is (a window over (band, bucket) is not
    * stream-expressible, and the skew the cap targets lives in the
    * accumulated history, not the daily increment) — so batch and
    * streaming answers are identical by construction, not by luck.
    * `dropDuplicates` collapses multi-band candidate multiplicity; its
    * state is keyed on emitted pairs — bounded by the increment's match
    * count (a production deployment would add an ingest-time watermark
    * column to TTL it).
    */
  def incrementalDedup(spark: SparkSession, dir: String,
                       numHashes: Int = 16, numBands: Int = 8,
                       maxBucket: Int = 100): DataFrame = {
    val docs = graft.Engine.table(spark, dir, "documents")
    val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val hsh = hist.select(col("doc_id").as("hist_id"),
      Dedup.hashedShinglesCol(col("text"), 3).as("sh_h"))
    val hBands = hsh
      .select(col("hist_id"),
        posexplode_outer(Dedup.minhashBandsCol(col("sh_h"), numHashes, numBands))
          .as(Seq("band", "bucket")))
      .filter(col("band").isNotNull)
      .withColumn("bsize",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bsize") <= maxBucket)
      .select(col("band"), col("bucket"), col("hist_id"))
    val stream = readDocuments(spark, dir)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
    val sSh = stream.select(col("doc_id").as("batch_id"),
      Dedup.hashedShinglesCol(col("text"), 3).as("sh_b"))
    val sBands = sSh
      .select(col("batch_id"), col("sh_b"),
        posexplode_outer(Dedup.minhashBandsCol(col("sh_b"), numHashes, numBands))
          .as(Seq("band", "bucket")))
      .filter(col("band").isNotNull)
    sBands
      .join(hBands, Seq("band", "bucket")) // stream-static: stateless
      .select(col("batch_id"), col("sh_b"), col("hist_id"))
      .dropDuplicates("batch_id", "hist_id")
      .join(hsh, Seq("hist_id")) // stream-static: stateless
      .select(col("batch_id"), col("hist_id"),
        Dedup.jaccardSortedCol(col("sh_b"), col("sh_h")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .select(col("batch_id"), col("hist_id"), round(col("jaccard"), 6).as("jac"))
  }

  /** Drive a documents-stream transform to completion (memory sink,
    * AvailableNow, append mode) and return the result as a batch
    * DataFrame — a REAL Structured Streaming execution through
    * [[EventStreams.runStream]], the events streams' driver. */
  def runToBatch(spark: SparkSession, dir: String, name: String,
                 transform: (SparkSession, String) => DataFrame): DataFrame =
    EventStreams.runStream(spark, name, "append")(transform(spark, dir))
}
