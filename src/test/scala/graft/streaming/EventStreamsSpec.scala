package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Drives real Structured Streaming (file source → watermark → state →
  * memory sink) against the sf0.001 events table. */
class EventStreamsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("tumbling window counts sum to the batch row count") {
    val out = EventStreams.runToBatch(spark, dir, s"t_${System.nanoTime()}",
      EventStreams.tumbling(_, "5 minutes"))
    val batchCount = graft.Engine.table(spark, dir, "events").count()
    assert(out.agg(sum("n")).head().getLong(0) == batchCount)
  }

  test("sliding windows double-count each event (width = 2x slide)") {
    val out = EventStreams.runToBatch(spark, dir, s"s_${System.nanoTime()}",
      EventStreams.sliding(_, "10 minutes", "5 minutes"))
    val batchCount = graft.Engine.table(spark, dir, "events").count()
    assert(out.agg(sum("n")).head().getLong(0) == 2 * batchCount)
  }

  test("stateful flatMapGroupsWithState totals match batch aggregation") {
    val out = EventStreams.runToBatchAppend(spark, dir, s"fs_${System.nanoTime()}",
      EventStreams.statefulUserTotals, mode = "update")
    val batch = graft.Engine.table(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum("value").as("t"))
    val joined = out.as("s").join(batch.as("b"), "user_id")
      .filter(col("s.n_events") =!= col("b.n") ||
        abs(col("s.total_value") - col("b.t")) > 1e-6)
    assert(joined.isEmpty)
    assert(out.count() == batch.count())
  }

  test("stream-stream LEFT OUTER join emits matches plus closed unmatched rows") {
    val name = s"sslo_${System.nanoTime()}"
    val views = EventStreams.readEvents(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"), col("event_id"))
      .withWatermark("vts", "10 seconds")
    val clicks = EventStreams.readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("value"))
      .withWatermark("cts", "10 seconds")
    val q = views.join(clicks,
      expr("user_id = cu AND cts BETWEEN vts - INTERVAL 30 MINUTES AND vts"),
      "left_outer")
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table(name)
    val ev = graft.Engine.table(spark, dir, "events")
    val innerBatch = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"))
      .join(ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts")),
        expr("user_id = cu AND cts BETWEEN vts - INTERVAL 30 MINUTES AND vts"))
      .count()
    assert(out.filter(col("cts").isNotNull).count() == innerBatch)
    // unmatched views whose watermark window closed are emitted with nulls
    assert(out.filter(col("cts").isNull).count() > 0)
  }

  test("stream-stream interval join matches the batch join") {
    val name = s"ssj_${System.nanoTime()}"
    val views = EventStreams.readEvents(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"), col("event_id"))
      .withWatermark("vts", "1 hour")
    val clicks = EventStreams.readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("value"))
      .withWatermark("cts", "1 hour")
    val q = views.join(clicks,
      expr("user_id = cu AND cts BETWEEN vts - INTERVAL 30 MINUTES AND vts"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table(name).count()
    val ev = graft.Engine.table(spark, dir, "events")
    val batch = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"))
      .join(ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts")),
        expr("user_id = cu AND cts BETWEEN vts - INTERVAL 30 MINUTES AND vts"))
      .count()
    assert(streamed == batch)
    assert(streamed > 0)
  }

  test("foreachBatch sink feeds the DML catalog") {
    import spark.implicits._
    graft.Engine.createTable(spark, "stream_sink",
      Seq.empty[(Long, Double)].toDF("user_id", "value"))
    val q = EventStreams.readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.Engine.insertInto(spark, "stream_sink", batch); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("stream_sink").count()
    val batchCount = graft.Engine.table(spark, dir, "events")
      .filter(col("event_type") === "purchase").count()
    assert(streamed == batchCount && streamed > 0)
  }

  test("streaming dedup emits at most one row per (user, event_type)") {
    val out = EventStreams.runToBatchAppend(spark, dir, s"d_${System.nanoTime()}",
      EventStreams.dedup)
    val dupes = out.groupBy("user_id", "event_type").count().filter(col("count") > 1).count()
    assert(dupes == 0)
    assert(out.count() > 0)
  }

  test("append-mode session emission covers exactly the watermark-decided region") {
    // the inventory row runs APPEND mode (emit once, on eviction) cut to
    // the decided region; COMPLETE mode re-emits every accumulated
    // session each trigger. Under the same cut the two must agree
    // exactly — if append withheld a decided session (eviction bug) or
    // the cut admitted an undecided one (margin bug), this fails.
    val appended = graft.SparkEntry.queries("stream_session")(spark, dir)
    val mx = graft.Engine.table(spark, dir, "events").agg(max(col("ts")).as("mx"))
    val complete = EventStreams.runToBatch(spark, dir, s"sc_${System.nanoTime()}",
      EventStreams.sessions(_, "30 minutes"))
      .crossJoin(broadcast(mx))
      .where(col("session_end") <= col("mx") - expr("INTERVAL 2 HOURS"))
      .select(col("session_start"), col("session_end"), col("user_id"),
        col("n_events"), col("sum_value"))
    assert(appended.count() > 0)
    assert(appended.exceptAll(complete).isEmpty && complete.exceptAll(appended).isEmpty,
      "append-mode session output diverges from complete-mode under the same cut")
  }

  test("data contract: events ts type tripwire + batch/stream ts parity") {
    // Tripwire: the testdata generator has flipped events.ts between
    // timestamp[ns] (long under nanosAsLong) and timestamp[us] before —
    // a drift that once silently compressed streaming event time 1000×.
    // If it flips to a THIRD layout, fail here with the inferred type,
    // not in five downstream oracle rows.
    val known = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.TimestampType,
      org.apache.spark.sql.types.TimestampNTZType,
      org.apache.spark.sql.types.LongType)
    // every SF dir the driver touches (verify = sf0.01, bench = sf0.1),
    // not just this spec's — a regeneration of ANY of them to a fourth
    // layout fails here by name, not in downstream oracle rows
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val d = s"/root/testdata/$sf"
      if (new java.io.File(s"$d/events.parquet").exists()) {
        val inferred = graft.Engine.tableSchema(spark, d, "events")("ts").dataType
        assert(known(inferred),
          s"unexpected on-disk events.ts type at $sf: $inferred — " +
            "update EventStreams.readEvents")
      }
    }
    // Parity: the streaming reader derives its schema from the SAME
    // memoized inference as batch; every ts instant must match exactly
    // (the session TZ is UTC, so the NTZ↔LTZ cast is value-preserving).
    val batch = graft.Engine.table(spark, dir, "events")
    val name = s"contract_${System.nanoTime()}"
    val q = EventStreams.readEvents(spark, dir)
      .select(col("event_id"), col("ts"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table(name)
    // watermark/event-time contract: streaming ts must be LTZ TIMESTAMP
    assert(streamed.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val diverged = streamed.as("s")
      .join(batch.select(col("event_id"),
        col("ts").cast(org.apache.spark.sql.types.TimestampType).as("bts")).as("b"),
        "event_id")
      .filter(col("s.ts") =!= col("bts"))
    assert(diverged.isEmpty, "streaming ts values diverge from batch")
    assert(streamed.count() == batch.count())
  }
}
