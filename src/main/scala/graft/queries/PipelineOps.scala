package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Engine

/** Round-3 training-data-pipeline batch: the document-preparation
  * operators a 100 TB LLM corpus build needs beyond dedup/similarity —
  * PII redaction, token-window chunking, repetition statistics
  * (Gopher-style quality rules), deterministic hash-based dataset
  * splits, int8 embedding quantization, and unigram-LM quality scoring.
  *
  * All are single-pass or one-shuffle shapes: per-row expressions
  * (scrub, split, quantize) scale trivially; chunking explodes rows but
  * stays shuffle-free; repetition and LM scoring are one word-level
  * shuffle each (explode → groupBy / join on word), which is the
  * canonical map-side-combinable shape at scale.
  */
object PipelineOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  // deterministic planted PII — the synthetic corpus has none, so both
  // engines append the same synthetic contact block before scrubbing
  private def withPlantedPii(docs: DataFrame): DataFrame =
    docs.withColumn("aug", concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or 10.0."), (col("doc_id") % 256).cast("string"),
      lit(".7 call +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IpRe = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  private val PhoneRe = "\\+?\\d[\\d-]{7,}\\d"

  private def occurrences(c: Column, token: String): Column =
    (size(split(c, java.util.regex.Pattern.quote(token))) - 1).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "text_pii_scrub" -> ((s, dir) => {
      // PII redaction pass: email → IP → phone regex rewrite, applied in
      // one projection (no shuffle until the reporting groupBy)
      val scrubbed = withPlantedPii(t(s, dir, "documents"))
        .withColumn("scrub",
          regexp_replace(
            regexp_replace(
              regexp_replace(col("aug"), EmailRe, "<EMAIL>"),
              IpRe, "<IP>"),
            PhoneRe, "<PHONE>"))
      scrubbed.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n"),
          sum(occurrences(col("scrub"), "<EMAIL>")).as("emails"),
          sum(occurrences(col("scrub"), "<IP>")).as("ips"),
          sum(occurrences(col("scrub"), "<PHONE>")).as("phones"),
          sum(length(col("aug")) - length(col("scrub"))).cast("long").as("chars_removed"))
        .orderBy(col("source"))
    }),

    "text_chunk" -> ((s, dir) => {
      // overlapping token-window chunking (window 12, stride 8) — the
      // standard context-window preparation step; explode is shuffle-free
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      toks
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")), lit(8))).as("gs"))
        .select(
          col("doc_id"),
          col("gs").cast("long").as("chunk_start"),
          size(slice(col("toks"), col("gs"), lit(12))).cast("long").as("n_tok"),
          array_join(slice(col("toks"), col("gs"), lit(12)), " ").as("chunk_text"))
    }),

    "text_repetition" -> ((s, dir) => {
      // Gopher-style repetition stats: corpus-level duplicate-word
      // fraction per source plus the worst single-document top-word
      // share. Integer counts are aggregated exactly; each ratio is one
      // double division (bit-identical cross-engine, per
      // spark-duckdb-semantic-gaps).
      val words = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("word"))
      val perWord = words.groupBy("doc_id", "source", "word")
        .agg(count(lit(1)).as("c"))
      val perDoc = perWord.groupBy("doc_id", "source")
        .agg(sum("c").as("ntot"), count(lit(1)).as("ndist"), max("c").as("maxc"))
      perDoc.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("ndist").cast("long").as("sum_distinct"),
          sum("ntot").cast("long").as("sum_words"),
          round(lit(1.0) - sum("ndist") / sum("ntot"), 6).as("dup_word_frac"),
          round(max(col("maxc") / col("ntot")), 6).as("worst_top_share"))
        .orderBy(col("source"))
    }),

    "pipeline_train_split" -> ((s, dir) => {
      // deterministic content-hash dataset split (80/10/10) — md5 is
      // identical cross-engine, so the assignment is reproducible on any
      // cluster layout; a pure projection, no shuffle before reporting
      val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10)
        .cast("int") % 100
      t(s, dir, "documents")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("split"), col("lang"))
    }),

    "emb_quantize" -> ((s, dir) => {
      // int8 symmetric max-abs quantization + reconstruction error —
      // per-row arrays only, embarrassingly parallel
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
        .withColumn("q", transform(col("v"), x => round(x * 127d / col("scale"))))
      val err = aggregate(
        zip_with(col("v"), col("q"), (a, b) => abs(a - b * col("scale") / 127d)),
        lit(0.0d), (acc, x) => acc + x) / size(col("v"))
      base.withColumn("err", err)
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("scale")), 6).as("avg_scale"),
          round(avg(col("err")), 6).as("avg_abs_err"),
          round(max(col("err")), 6).as("max_abs_err"))
        .orderBy(col("label"))
    }),

    "mm_resize" -> ((s, dir) => {
      // image-resize pipeline step: decode (stub) → nearest-neighbor
      // 8×8 → 4×4 inside mapPartitions. The checksum is a FULL-VALUE
      // oracle: payload bytes are the document's utf-8 text (ASCII), so
      // the oracle replays the tiling + resampling index math in SQL.
      val media = graft.operators.Multimodal
        .mediaFromDocuments(s, t(s, dir, "documents"))
      graft.operators.Multimodal.resize(media, 4, 4).toDF()
        .select(col("id").as("doc_id"),
          col("outW").cast("long").as("w"), col("outH").cast("long").as("h"),
          col("nBytes").as("n_bytes"), col("checksum"))
        .orderBy(col("doc_id"))
    }),

    "mm_decode_png" -> ((s, dir) => {
      // REAL image decode through the driver gate: executors ENCODE a
      // deterministic 16×16 grayscale PNG per document (pixel k of doc d
      // is (d·31 + k·7) mod 256), then the resize pipeline DECODES it
      // with javax.imageio (actual dims from the image — the record
      // declares -1×-1 to prove the metadata isn't consulted) and
      // resamples 4×4. PNG is lossless and gray samples are read raw
      // (no sRGB conversion), so the decoded grid equals the generator
      // arithmetic and DuckDB replays checksum = Σ pixels[resample idx]
      // without any image library.
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          graft.operators.Multimodal.imageIoMemCache
          it.map { id =>
            val w = 16; val h = 16
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            var k = 0
            while (k < w * h) {
              img.getRaster.setSample(k % w, k / w, 0,
                ((id * 31 + k * 7) % 256).toInt)
              k += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            graft.operators.Multimodal.MediaRecord(
              id, bos.toByteArray, "image/png", -1, -1)
          }
        }
      graft.operators.Multimodal.resize(media, 4, 4).toDF()
        .select(col("id").as("doc_id"),
          col("outW").cast("long").as("w"), col("outH").cast("long").as("h"),
          col("nBytes").as("n_bytes"), col("checksum"))
    }),

    "mm_decode_wav" -> ((s, dir) => {
      // REAL audio decode through the driver gate (the audio twin of
      // mm_decode_png): executors ENCODE a deterministic 256-sample
      // 16-bit PCM mono WAV per document (sample k of doc d is
      // (d·7 + k·13) mod 2003 − 1001), then javax.sound.sampled DECODES
      // it and the features are integer-exact signal stats — PCM is
      // lossless, so DuckDB replays the generator arithmetic directly.
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
            true, false) // PCM signed, mono, little-endian
          it.map { id =>
            val n = 256
            val bytes = new Array[Byte](n * 2)
            var k = 0
            while (k < n) {
              val v = ((id * 7 + k * 13) % 2003 - 1001).toInt
              bytes(2 * k) = (v & 0xff).toByte
              bytes(2 * k + 1) = ((v >> 8) & 0xff).toByte
              k += 1
            }
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(ais,
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            graft.operators.Multimodal.MediaRecord(
              id, bos.toByteArray, "audio/wav", -1, -1)
          }
        }
      graft.operators.Multimodal.extractAudioFeatures(media).toDF()
        .select(col("id").as("doc_id"), col("nSamples").as("n_samples"),
          col("sampleRate").cast("long").as("sample_rate"),
          col("peakAbs").as("peak_abs"), col("sumSquares").as("sum_sq"),
          col("zeroCrossings").as("zero_cross"))
    }),

    "text_bm25_topk" -> ((s, dir) => {
      // BM25 corpus search: query-term filter BEFORE the shuffle, |Q|-row
      // broadcast idf table, TakeOrderedAndProject top-k (no global sort)
      graft.operators.TextAnalysis.bm25TopK(
        t(s, dir, "documents"), "doc_id", "text",
        Seq("vector", "spark", "merge", "window"), k = 15)
    }),

    "text_bigram_lm" -> ((s, dir) => {
      // bigram LM cross-entropy (TextAnalysis.bigramLmScores): the
      // CCNet/KenLM quality-filter shape one order up from the unigram
      // row — smoothing add-0.1 over the corpus vocabulary.
      // No presentation sort: the gate compares row-order-insensitively,
      // and a global orderBy would add a range exchange (a full extra
      // stage barrier) just to order 500 result rows.
      // r11 rebuild: the row's three-rounds-over-2× cost was the
      // interpreted zip_with pair lambda (HOFs are CodegenFallback) plus
      // a within-doc pre-collapse that removed ~3% of rows for a full
      // extra exchange — the fused ws_token_hashes kernel + raw-pair
      // windows took the row 0.93 → ~0.41 s (stage decomposition in
      // BASELINE.md round 11). Default keeps the second light
      // vocab scan (shadowed by the longer pairs stage locally); at
      // cluster scale flip vocabFromPairs=true — V rides the window
      // exchange and the corpus is scanned once (plan-asserted in
      // LshExchangeReuseSpec).
      graft.operators.TextAnalysis.bigramLmScores(
          t(s, dir, "documents"), "doc_id", "text", alpha = 0.1)
    }),

    "text_unigram_lm" -> ((s, dir) => {
      // unigram language-model quality score (CCNet-style): per-doc mean
      // log corpus frequency of its tokens.
      // r16 rebuild (verdict r15 #1): per-word counts ride a WINDOW over
      // the single word-keyed exchange. The r15 shape joined a freq
      // aggregate back to its own source — SURVEY §10's lesson: column
      // pruning makes the two subtrees canonically different, so the
      // scan+explode ran TWICE — and force-broadcast the FULL vocabulary
      // (unbounded at corpus scale; billions of distinct tokens on a web
      // corpus would kill the broadcast build). The global total factors
      // out of the per-token average:
      //   avg_tok ln(wc/nw) = avg_tok ln(wc) - ln(nw)
      // so nw attaches at the per-SOURCE level, where the frame is
      // k rows — the corpus is scanned once, shuffled once by word and
      // once by doc, and nothing unbounded ever broadcasts.
      import org.apache.spark.sql.expressions.Window
      val words = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("word"))
      val wc = words.withColumn("wc",
        count(lit(1)).over(Window.partitionBy("word")))
      val perDoc = wc.groupBy("doc_id", "source")
        .agg(avg(log(col("wc"))).as("mean_logwc"), count(lit(1)).as("n_tok"))
      val perSource = perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), avg(col("mean_logwc")).as("avg_mlw"),
          sum(col("n_tok")).as("src_tok"))
      // no presentation sort (the gate compares row-order-insensitively;
      // same disposition as text_bigram_lm); the nw window's "exchange"
      // is a k-row single-partition move, not a corpus shuffle
      perSource
        .withColumn("nw", sum(col("src_tok")).over(Window.partitionBy()))
        .select(col("source"), col("n_docs"),
          round(col("avg_mlw") - log(col("nw")), 4).as("avg_logprob"))
    }))

  val oracle: Map[String, String] = Map(

    "text_pii_scrub" ->
      """WITH aug AS (
        |  SELECT source,
        |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
        |           '@mail.example.com or 10.0.', CAST(doc_id % 256 AS VARCHAR),
        |           '.7 call +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS aug
        |  FROM documents),
        |scrub AS (
        |  SELECT source, aug,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
        |      '\+?\d[\d-]{7,}\d', '<PHONE>', 'g') AS scrub
        |  FROM aug)
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(len(string_split(scrub, '<EMAIL>')) - 1) AS BIGINT) AS emails,
        |  CAST(sum(len(string_split(scrub, '<IP>')) - 1) AS BIGINT) AS ips,
        |  CAST(sum(len(string_split(scrub, '<PHONE>')) - 1) AS BIGINT) AS phones,
        |  CAST(sum(len(aug) - len(scrub)) AS BIGINT) AS chars_removed
        |FROM scrub GROUP BY source ORDER BY source""".stripMargin,

    "text_chunk" ->
      """SELECT doc_id, CAST(gs AS BIGINT) AS chunk_start,
        |  CAST(len(toks[gs:gs+11]) AS BIGINT) AS n_tok,
        |  array_to_string(toks[gs:gs+11], ' ') AS chunk_text
        |FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 8)) AS gs
        |      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))""".stripMargin,

    "text_repetition" ->
      """WITH words AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |per_word AS (
        |  SELECT doc_id, source, word, count(*) AS c
        |  FROM words GROUP BY doc_id, source, word),
        |per_doc AS (
        |  SELECT doc_id, source, sum(c) AS ntot, count(*) AS ndist, max(c) AS maxc
        |  FROM per_word GROUP BY doc_id, source)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ndist) AS BIGINT) AS sum_distinct,
        |  CAST(sum(ntot) AS BIGINT) AS sum_words,
        |  round(1.0 - CAST(sum(ndist) AS DOUBLE) / CAST(sum(ntot) AS DOUBLE), 6) AS dup_word_frac,
        |  round(max(CAST(maxc AS DOUBLE) / CAST(ntot AS DOUBLE)), 6) AS worst_top_share
        |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,

    "pipeline_train_split" ->
      """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |  lang, CAST(count(*) AS BIGINT) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM (SELECT lang, n_chars,
        |        CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 100 AS b
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "emb_quantize" ->
      """WITH base AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scaled AS (
        |  SELECT vec_id, label, v,
        |    list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM base),
        |quant AS (
        |  SELECT label, scale,
        |    list_sum(list_transform(generate_series(1, len(v)),
        |      i -> abs(v[i] - round(v[i] * 127 / scale) * scale / 127))) / len(v) AS err
        |  FROM scaled)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(scale), 6) AS avg_scale,
        |  round(avg(err), 6) AS avg_abs_err,
        |  round(max(err), 6) AS max_abs_err
        |FROM quant GROUP BY label ORDER BY label""".stripMargin,

    "mm_resize" ->
      """SELECT doc_id, CAST(4 AS BIGINT) AS w, CAST(4 AS BIGINT) AS h,
        |  CAST(16 AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(generate_series(0, 15),
        |    k -> ascii(substr(text, ((2*(k//4))*8 + 2*(k%4)) % len(text) + 1, 1))))
        |    AS BIGINT) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the Spark side ROUND-TRIPS a real PNG (ImageIO encode in one
    // executor stage, ImageIO decode inside resize); duck replays the
    // generator + resample-index arithmetic directly — PNG grayscale is
    // lossless, so the decoded grid IS the generator function
    "mm_decode_png" ->
      """SELECT doc_id, CAST(4 AS BIGINT) AS w, CAST(4 AS BIGINT) AS h,
        |  CAST(16 AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(generate_series(0, 15),
        |    k -> (doc_id*31 + ((k//4)*64 + (k%4)*4)*7) % 256))
        |    AS BIGINT) AS checksum
        |FROM documents""".stripMargin,

    // PCM-in-WAV is lossless: the decoded sample IS the generator value,
    // so duck computes the stats from the formula (the prev-sample term
    // for zero crossings is the same closed form at k-1 — no window)
    "mm_decode_wav" ->
      """WITH s AS (
        |  SELECT doc_id, k, (doc_id*7 + k*13) % 2003 - 1001 AS v,
        |    (doc_id*7 + (k-1)*13) % 2003 - 1001 AS pv
        |  FROM documents, generate_series(0, 255) t(k))
        |SELECT doc_id, CAST(256 AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
        |  CAST(sum(v*v) AS BIGINT) AS sum_sq,
        |  CAST(count(*) FILTER (WHERE k > 0 AND (v < 0) <> (pv < 0))
        |    AS BIGINT) AS zero_cross
        |FROM s GROUP BY doc_id""".stripMargin,

    "text_bm25_topk" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b2 AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM base),
        |stats AS (
        |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM b2),
        |hits AS (
        |  SELECT doc_id, dl,
        |    unnest(list_filter(toks,
        |      t -> list_contains(['vector','spark','merge','window'], t))) AS term
        |  FROM b2),
        |tf AS (
        |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM hits GROUP BY doc_id, dl, term),
        |df AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        |  FROM hits GROUP BY term)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
        |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
        |    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
        |FROM tf JOIN df USING (term), stats
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 15""".stripMargin,

    "text_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, w[i] AS a, w[i+1] AS b
        |  FROM toks, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
        |docpair AS (SELECT doc_id, a, b, count(*) AS m FROM pairs GROUP BY doc_id, a, b),
        |c2 AS (SELECT a, b, sum(m) AS c2 FROM docpair GROUP BY a, b),
        |c1 AS (SELECT a, sum(c2) AS c1 FROM c2 GROUP BY a),
        |v AS (SELECT count(*) AS v FROM c1),
        |sc AS (
        |  SELECT doc_id, sum(m) AS nb,
        |    -sum(m * ln((c2 + 0.1) / (c1 + 0.1 * v))) / sum(m) AS x
        |  FROM docpair JOIN c2 USING (a, b) JOIN c1 USING (a), v
        |  GROUP BY doc_id)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
        |  round(x, 4) AS bigram_xent
        |FROM sc ORDER BY doc_id""".stripMargin,

    "text_unigram_lm" ->
      """WITH words AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |wc AS (
        |  SELECT doc_id, source, count(*) OVER (PARTITION BY word) AS wc
        |  FROM words),
        |per_doc AS (
        |  SELECT doc_id, source, avg(ln(CAST(wc AS DOUBLE))) AS mean_logwc,
        |         count(*) AS n_tok
        |  FROM wc GROUP BY doc_id, source),
        |per_source AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         avg(mean_logwc) AS avg_mlw, sum(n_tok) AS src_tok
        |  FROM per_doc GROUP BY source)
        |SELECT source, n_docs,
        |  round(avg_mlw - ln(CAST(sum(src_tok) OVER () AS DOUBLE)), 4) AS avg_logprob
        |FROM per_source ORDER BY source""".stripMargin)
}
