package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Engine
import graft.operators.{Curation, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.EventStreams

/** Training-data pipeline operators (north-star extras): deduplication,
  * similarity search, text analysis, multimodal plumbing, streaming.
  */
object Pipeline {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

    /** Shared LSH configuration: 8 bands × 8 bits = 64 ±1 hyperplanes
    * (Similarity.hyperplanes seed 42), bucket skew cap 250. */
  private val LshBands = 8


  private val LshBits = 8


  private val LshMaxBucket = 250


  private[graft] lazy val lshPlanes: Array[Array[Double]] =
    Similarity.hyperplanes(LshBands * LshBits, 64)


  /** The literal hyperplane rows for the oracle's VALUES clause. */
  private lazy val planesSqlRows: String = Dedup.planesSqlValues(lshPlanes)

  // Same-text SQL shared by the Spark query and the DuckDB oracle.


  /** DuckDB replay of [[graft.operators.Similarity.semanticClusters]]:
    * every step is exact integer math (quantized vectors; squared-L2
    * distances as exact-integer-valued doubles via the dot-product
    * identity |w-c|² = w·w - 2w·c + c·c, all < 2^53; centroid update =
    * floor division written as the floorMod identity
    * `(s - ((s % n) + n) % n) // n` over DuckDB's exact HUGEINT sums,
    * which equals Math.floorDiv at ANY magnitude — a floor(double/count)
    * form would diverge once a cluster's per-dim sum neared 2^52), so
    * the full per-row assignment matches the engine bit for bit. One
    * `aN`/`cN` CTE pair per Lloyd iteration, built by this helper to
    * keep the two iterations textually identical. */
  private def semanticClusterSql(k: Int, iterations: Int): String = {
    def cdCte(i: Int) =
      s"""cd$i AS (
         |  SELECT j, c, CAST(c AS DOUBLE[]) AS cd,
         |    list_dot_product(CAST(c AS DOUBLE[]), CAST(c AS DOUBLE[])) AS cc
         |  FROM c$i)""".stripMargin
    def assignCte(name: String, ci: Int) =
      s"""$name AS (
         |  SELECT ed.vec_id,
         |    min(CAST(ed.ww - 2*list_dot_product(ed.wd, cd$ci.cd) + cd$ci.cc AS BIGINT)
         |        * $k + cd$ci.j) % $k AS cid
         |  FROM ed CROSS JOIN cd$ci
         |  GROUP BY ed.vec_id)""".stripMargin
    def updateCtes(i: Int) =
      s"""s$i AS (
         |  SELECT j, dim,
         |    CAST((sum(val) - (((sum(val) % count(*)) + count(*)) % count(*)))
         |         // count(*) AS BIGINT) AS cdim
         |  FROM (
         |    SELECT a$i.cid AS j, unnest(e.w) AS val, unnest(range(1, len(e.w)+1)) AS dim
         |    FROM a$i JOIN e USING (vec_id))
         |  GROUP BY j, dim),
         |c$i AS (
         |  SELECT c${i - 1}.j, COALESCE(u.c, c${i - 1}.c) AS c
         |  FROM c${i - 1} LEFT JOIN
         |    (SELECT j, list(cdim ORDER BY dim) AS c FROM s$i GROUP BY j) u USING (j))""".stripMargin
    val iterCtes = (1 to iterations).map { i =>
      s"${assignCte(s"a$i", i - 1)},\n${updateCtes(i)},\n${cdCte(i)}"
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x*1000 + 0.5) AS BIGINT)) AS w
       |  FROM embeddings),
       |ed AS (
       |  SELECT vec_id, CAST(w AS DOUBLE[]) AS wd,
       |    list_dot_product(CAST(w AS DOUBLE[]), CAST(w AS DOUBLE[])) AS ww
       |  FROM e),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, w AS c
       |  FROM (SELECT vec_id, w FROM e ORDER BY vec_id LIMIT $k)),
       |${cdCte(0)},
       |$iterCtes,
       |${assignCte("afinal", iterations)}""".stripMargin
  }

  /** The full clustering SQL = the CTE chain + the assignment select. */
  private def semanticClusterFullSql(k: Int, iterations: Int): String =
    semanticClusterSql(k, iterations) +
      "\nSELECT vec_id, cid FROM afinal ORDER BY vec_id"

  /** SemDeDup replay: the clustering CTE chain + within-cluster greedy
    * ε-ball prune on cosines of the SAME quantized vectors. */
  private def semDedupSql(k: Int, iterations: Int, tau: Double): String =
    semanticClusterSql(k, iterations) +
      s""",
         |nrm AS (
         |  SELECT ed.vec_id, af.cid, ed.wd, sqrt(ed.ww) AS nn
         |  FROM ed JOIN afinal af USING (vec_id)),
         |pruned AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM nrm a JOIN nrm b ON a.cid = b.cid AND b.vec_id < a.vec_id
         |  WHERE list_dot_product(a.wd, b.wd) / (a.nn * b.nn) >= $tau)
         |SELECT n.vec_id, n.cid FROM nrm n
         |WHERE n.vec_id NOT IN (SELECT vec_id FROM pruned)
         |ORDER BY n.vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- deduplication ----

    "dedup_exact" -> ((s, dir) => {
      Dedup.exactKeepFirst(t(s, dir, "documents"), Seq("text"), "doc_id")
        .select(col("doc_id").as("keep_id"), md5(col("text")).as("fp"))
    }),

    "dedup_minhash_pairs" -> ((s, dir) => {
      // MinHash+LSH candidates + exact-Jaccard refine, thresholded at the
      // planted near-dup level (jaccard ≥ 0.8; the sf corpus separates
      // cleanly: planted pairs ≥ 0.9, next tier < 0.5). The oracle is the
      // brute-force quadratic Jaccard join — a green row proves the
      // banded plan achieves recall 1 on every true near-dup pair.
      //
      // PLANTED-CORPUS ASSUMPTION (holds for the sf generators, by
      // construction): banding is probabilistic — a pair at exactly
      // j = 0.8 is missed with probability (1 - j²)^bands ≈ 3e-4. The
      // recall-1 assertion is sound only because every true pair here
      // sits well above the threshold (measured: jac ≥ 0.88, miss prob
      // ≤ 4e-6 per pair). The assumption is MACHINE-CHECKED, not just
      // documented: DedupSpec's "minhash oracle region" test measures
      // the actual over-threshold pairs and fails with a re-threshold
      // instruction if the union-bound miss probability of the region
      // ever exceeds 1e-3 — so corpus drift surfaces as that named red
      // test, never as an intermittent engine-looking oracle failure.
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, numBands = 8)
        .filter(col("jaccard") >= 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jac"))
    }),

    "dedup_incremental" -> ((s, dir) => {
      // cross-corpus incremental dedup: a 20% "new batch" (doc_id % 5 =
      // 0) probed against the other 80% as the historical index
      // (Dedup.dedupAgainst — the daily-ingest shape: at scale the
      // history's band table persists bucketed and only the batch
      // shuffles). Same banding parameters and threshold as
      // dedup_minhash_pairs, so DedupSpec's machine-checked
      // planted-region bound (every true pair ≥ 0.88, union-bound miss
      // probability < 1e-3) covers this query's recall-1 assertion too —
      // cross-split pairs are a subset of the same over-threshold
      // region. The oracle replays the exact cross-set Jaccard with the
      // threshold-complete prefix-filter candidate set.
      val docs = t(s, dir, "documents")
      val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      Dedup.dedupAgainst(hist, batch, "doc_id", "text",
        shingleN = 3, numHashes = 16, numBands = 8)
        .filter(col("jaccard") >= 0.8)
        .select(col("batch_id"), col("hist_id"),
          round(col("jaccard"), 6).as("jac"))
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      // exact 3-gram Jaccard over same-source pairs (oracle-matched).
      // Deliberately quadratic: the top-30 here reaches into the noise
      // floor (30th-best jac ≈ 0.02-0.05 on this corpus), so no
      // threshold-complete pruning (prefix filter, LSH) can bound the
      // answer — scoring every in-group pair IS the algorithm. The
      // thresholded scale path is `dedup_prefix_filter`.
      val docs0 = t(s, dir, "documents")
      val d = docs0
        .select(col("doc_id"), col("source"),
          Dedup.hashedShinglesCol(col("text"), 3).as("sh"))
      // the build side broadcasts, so ANY probe partitioning is valid —
      // round-robin spreads the quadratic scoring across every core
      // (the parquet file is a handful of splits; pair count is x100 the
      // row count, so scoring parallelism must not follow the scan's)
      val a = d.repartition(scala.util.Try(
          s.conf.get("spark.sql.shuffle.partitions").toInt)
          .getOrElse(s.sparkContext.defaultParallelism))
        .select(col("source"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = d.select(col("source"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, Seq("source")).filter(col("id_a") < col("id_b"))
        .select(col("source"), col("id_a"), col("id_b"),
          round(Dedup.jaccardSortedCol(col("sh_a"), col("sh_b")), 6).as("jac"))
        .orderBy(col("jac").desc, col("id_a").asc, col("id_b").asc)
        .limit(30)
    }),

    "dedup_prefix_filter" -> ((s, dir) => {
      // EXACT threshold dedup at scale: prefix-filter candidates (one
      // key shuffle, complete by the pigeonhole theorem) + two-pointer
      // refine — the deterministic counterpart of the MinHash path; the
      // oracle runs the same algorithm shape in SQL
      Dedup.jaccardThresholdPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jac"))
    }),

    "dedup_components" -> ((s, dir) => {
      // dedup clustering: exact-threshold near-dup pairs → connected
      // components (large-star/small-star, O(log² n) shuffle rounds) →
      // canonical group per document. The oracle recomputes the same
      // edge set in SQL and resolves components with a recursive
      // min-label propagation CTE — identical groups cross-engine.
      val pairs = Dedup.jaccardThresholdPairs(
        t(s, dir, "documents"), "doc_id", "text", shingleN = 3, threshold = 0.8)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").cast("long").as("id"), col("comp").cast("long").as("comp"),
          count(lit(1)).over(Window.partitionBy(col("comp"))).cast("long").as("n_members"))
    }),

    "dedup_canonicalize" -> ((s, dir) => {
      // the one-call dedup API: every document mapped to its cluster's
      // canonical (minimum) id, unclustered docs to themselves
      Dedup.canonicalize(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("canonical_id"))
    }),

    "pipeline_end2end" -> ((s, dir) => {
      // the full training-data preparation pipeline composed as one
      // declarative plan: token-count quality gate → exact dedup
      // (keep-lowest-id) → near-dup clustering (prefix-filter pairs →
      // connected components) → keep each cluster's canonical doc →
      // per-source funnel stats. Shuffle inventory at 100 TB: one
      // groupBy(text), one prefix-token exchange, O(log² n) component
      // rounds, one groupBy(source) — no cross products anywhere.
      // r18 (guide §3.3): `raw` feeds its own funnel stat, the quality
      // gate, and (through it) every later stage; `base` feeds the
      // near-dup pairs, the survivor anti-join AND two funnel stats —
      // inline, the scan+tokenCount and the exact-dedup groupBy were
      // each replayed 3-4x (before-plan: 18 parquet scans). One
      // materialization per reused stage computes each once.
      val raw = t(s, dir, "documents").select(
        col("doc_id"), col("source"), col("text"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .localCheckpoint()
      val q = raw.filter(col("n_tokens") >= 30)
      val base = Dedup.exactKeepFirst(q, Seq("text"), "doc_id")
        .localCheckpoint()
      val pairs = Dedup.jaccardThresholdPairs(base, "doc_id", "text",
        shingleN = 3, threshold = 0.8)
      val dropIds = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .filter(col("id") =!= col("comp")).select(col("id"))
      val fin = base.join(dropIds, base("doc_id") === dropIds("id"), "left_anti")
      raw.groupBy("source").agg(count(lit(1)).as("n_raw"))
        .join(q.groupBy("source").agg(count(lit(1)).as("n_quality")), "source")
        .join(base.groupBy("source").agg(count(lit(1)).as("n_exact")), "source")
        .join(fin.groupBy("source").agg(count(lit(1)).as("n_final"),
          sum(col("n_tokens")).cast("long").as("tokens_final")), "source")
    }),

    "dedup_simhash" -> ((s, dir) => {
      // SimHash bounded-property oracle: every true near-dup pair
      // (exact Jaccard ≥ 0.8, brute-forced by the oracle) must land
      // within Hamming distance 12 (measured ≤ 8 on the planted pairs) —
      // the fingerprint itself is engine-specific, the property is not.
      // Same planted-corpus assumption as dedup_minhash_pairs above: the
      // candidate set comes from LSH banding, so recall 1 is guaranteed
      // only because every true pair sits at j ≥ 0.9, far from the band
      // miss region.
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, numBands = 8)
        .filter(col("jaccard") >= 0.8)
      val sh = docs.select(col("doc_id"),
        callUDF("simhash64", col("text")).as("sh"))
      cand
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          (bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 12).as("hamming_ok"))
    }),

    "dedup_stream_distinct" -> ((s, dir) => {
      // exact dedup cardinality (oracle); streaming dropDuplicates is
      // exercised in the EventStreams spec
      t(s, dir, "events").agg(
        count(lit(1)).as("n_total"),
        countDistinct(col("user_id"), col("event_type")).as("n_distinct_pairs"))
    }),

    // ---- similarity search ----

    "sim_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.cosineTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select(col("qid"), col("nid"), col("rn"), round(col("sim"), 6).as("sim"))
    }),

    "sim_hybrid_rrf" -> ((s, dir) => {
      // Hybrid retrieval (Similarity.hybridRrf): BM25 lexical arm +
      // brute-cosine dense arm against doc 7's embedding, fused by
      // reciprocal ranks. Both arms rank on ROUNDED scores so the
      // integer ranks — and therefore the fusion — replay exactly.
      Similarity.hybridRrf(
        t(s, dir, "documents"), t(s, dir, "embeddings"),
        "doc_id", "text", "vec_id", "embedding",
        queryId = 7L, Seq("vector", "spark", "merge", "window"),
        k = 20, armK = 50)
    }),

    "sim_ivf_topk" -> ((s, dir) => {
      // IVF coarse-quantized ANN, bounded-recall oracle: k-means cells
      // are engine-local, but the CONTRACT is checkable — each query must
      // return exactly k results whose overlap with the exact top-k
      // (brute-force, computed in-plan) is ≥ 60% (measured 80-90% at
      // nProbe=4/16). The oracle states the contract per query id.
      //
      // Serving-path shape: the quantizer is trained ONCE per corpus
      // (kmeansCentroidsCached — FAISS-style offline index build), the
      // 5 query vectors are driver-resident (one bounded collect, the
      // normal ANN serving case), and the IVF + exact rankings + recall
      // check fuse into one corpus scan + one (qid) exchange
      // (Similarity.ivfRecallReport) — the ivfTopK/cosineTopK/join
      // composition paid ~8 barriers for the same answer.
      val e = t(s, dir, "embeddings")
      val centroids = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding",
        k = 16, iterations = 3)
      val qvecs = e.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      Similarity.ivfRecallReport(e, "vec_id", "embedding", qvecs, centroids,
        nProbe = 4, k = 10, minHits = 6)
    }),

    "sim_lsh_ann" -> ((s, dir) => {
      // sign-LSH bucketed ANN with INTEGER-EXACT bucketing (quantized
      // vectors, ±1 planes): the oracle replays the identical algorithm —
      // same literal planes, same skew cap, same top-3 refine — in SQL,
      // so the bucketed plan is verified end to end cross-engine
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      // refine fused into the bucket stage (vectors ride the one bucket
      // exchange un-widened as array<float> — half the bytes — and each
      // bucket's pairs are scored by the lsh_bucket_pairs kernel, which
      // widens per element: the same cosine bits as array_dot_float).
      // Weighted variant: with numBands = 1 a pair can collide at most
      // once, so the dropDuplicates exchange of the default form is pure
      // overhead — band_collisions is constantly 1 and is dropped.
      val pairs = Dedup.cosineLshScoredPairsWeighted(e, "vec_id", "v",
        Similarity.hyperplanes(12, 64), numBands = 1, bitsPerBand = 12,
        maxBucket = 250)
        .drop("band_collisions")
        .withColumnRenamed("cos", "sim")
      val w = Window.partitionBy(col("id_a")).orderBy(col("sim").desc, col("id_b").asc)
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("id_a"), col("id_b"), col("rn").cast("long").as("rn"),
          round(col("sim"), 6).as("sim"))
    }),

    // ---- text analysis ----

    "text_quality" -> ((s, dir) => {
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("alpha_ratio"), col("digit_ratio"), col("stop_ratio"))
    }),

    "text_quality_filter" -> ((s, dir) => {
      // the composed accept/reject GATE over those features
      // (TextAnalysis.qualityFilter): per-doc verdict + named failed
      // rules, pure projection, rounded-feature thresholds so the
      // verdict replays bit-identically in SQL
      TextAnalysis.qualityFilter(t(s, dir, "documents"), "doc_id", "text")
    }),

    "text_tokens_top" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(10)
    }),

    "text_topk_sketch" -> ((s, dir) => {
      // Misra-Gries heavy hitters: O(k)-memory top-k token estimation —
      // at 100 TB the shuffle carries k entries per partition instead of
      // the full vocabulary. Bounded contract checked IN-PLAN against
      // exact counts: every estimate undercounts by at most N/(k+1);
      // the oracle states the contract plus the engine-independent
      // corpus scalars.
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
      val sk = toks.agg(callUDF("topk_sketch8", col("tok")).as("sk"))
        .select(explode(col("sk")).as(Seq("tok", "est")))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
      val scalars = toks.agg(count(lit(1)).as("n_total"),
        countDistinct(col("tok")).as("n_distinct"))
      sk.join(exact, "tok").crossJoin(broadcast(scalars))
        .agg(
          first(col("n_total")).as("n_total"),
          first(col("n_distinct")).as("n_distinct"),
          (count(when(col("est") > col("true_cnt"), 1)) === 0).as("never_overcounts"),
          (count(when(col("true_cnt") - col("est") >
            col("n_total").cast("double") / 9.0, 1)) === 0).as("within_mg_bound"),
          (count(lit(1)) >= 1 && count(lit(1)) <= 8).as("reported_ok"))
    }),

    "text_langid" -> ((s, dir) => {
      // n-gram language ID (operators.LangId) — the synthetic documents'
      // lang labels are uncorrelated with their text (all five labels
      // draw from the same ASCII English-word distribution — verified:
      // 0 non-ASCII chars corpus-wide), so per-row label agreement is
      // unverifiable BY NECESSITY. The checkable bounded contract
      // instead: every prediction is a supported code, and on an
      // English-vocabulary corpus the classifier reads ≥90% 'en'.
      // Real per-language accuracy (≥95% on clean sentences across the
      // supported set) is spec-pinned in TextAnalysisSpec.
      val known = graft.operators.LangId.knownCodes
      val p = t(s, dir, "documents")
        .select(callUDF("lang_id", col("text")).as("predicted"))
      p.agg(
        count(lit(1)).as("n_docs"),
        (count(when(!col("predicted").isin(known: _*), 1)) === 0)
          .as("all_known"),
        (count(when(col("predicted") === "en", 1)).cast("double") /
          count(lit(1)).cast("double") >= 0.9).as("mostly_en"))
    }),

    "text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        (length(col("text")).cast("long") === col("n_chars")).as("len_ok"))
    }),

    // ---- multimodal ----

    "mm_binary_stats" -> ((s, dir) => {
      // binary-column plumbing: opaque payload + metadata (oracle-matched
      // on byte lengths + content digests)
      t(s, dir, "documents")
        .select(col("source"), encode(col("text"), "UTF-8").as("payload"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("payload"))).as("total_bytes"),
          countDistinct(md5(col("payload"))).as("nd_fp"))
    }),

    "mm_features" -> ((s, dir) => {
      // partition-parallel decode + feature extraction over the typed
      // Dataset path. The corpus is ASCII (verified), so byte-level
      // mean/entropy equal char-level stats — the oracle recomputes the
      // identical features in SQL (DuckDB's entropy() is also log2)
      val media = Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.extractFeatures(media).toDF()
        .select(col("id"), col("nBytes").as("n_bytes"),
          round(col("meanByte"), 6).as("mean_byte"),
          round(col("entropyBits"), 6).as("entropy_bits"))
    }),

    // ---- streaming (real Structured Streaming via AvailableNow) ----

    // The windowed-aggregate rows run APPEND mode, not complete: complete
    // re-emits EVERY accumulated window to the sink on every trigger
    // (sf0.1 profile: 1.37 s of stream_session's wall was addBatch
    // re-writing all ~95k session states per micro-batch), which is also
    // the mode that cannot work on an unbounded production stream. Append
    // emits each window once, on watermark eviction. The tail of the
    // stream (windows not yet closed by the final watermark) is withheld
    // by construction, so both engines cut to the same decided region —
    // windows safely below max event time minus the 1 h watermark delay —
    // exactly as stream_stream_left_join already does.
    "stream_tumbling" -> ((s, dir) => {
      val res = EventStreams.runToBatchAppend(s, dir, s"tumb_${System.nanoTime()}",
        EventStreams.tumbling(_, "5 minutes"))
      val mx = t(s, dir, "events").agg(max(col("ts")).as("mx"))
      res.crossJoin(broadcast(mx))
        .where(col("ws") <= col("mx") - expr("INTERVAL 3 HOURS"))
        .select(col("ws"), col("n"), col("sum_value"))
    }),

    "stream_sliding" -> ((s, dir) => {
      val res = EventStreams.runToBatchAppend(s, dir, s"slide_${System.nanoTime()}",
        EventStreams.sliding(_, "10 minutes", "5 minutes"))
      val mx = t(s, dir, "events").agg(max(col("ts")).as("mx"))
      res.crossJoin(broadcast(mx))
        .where(col("ws") <= col("mx") - expr("INTERVAL 3 HOURS"))
        .select(col("ws"), col("n"), col("sum_value"))
    }),

    "stream_session" -> ((s, dir) => {
      val res = EventStreams.runToBatchAppend(s, dir, s"sess_${System.nanoTime()}",
        EventStreams.sessions(_, "30 minutes"))
      // cut on session END (start says nothing about openness): a
      // truncated end ≤ mx-2h implies the true end is < mx-1h ≤ final
      // watermark, so every surviving session was provably emitted
      val mx = t(s, dir, "events").agg(max(col("ts")).as("mx"))
      res.crossJoin(broadcast(mx))
        .where(col("session_end") <= col("mx") - expr("INTERVAL 2 HOURS"))
        .select(col("session_start"), col("session_end"), col("user_id"),
          col("n_events"), col("sum_value"))
    }),

    "stream_dropdup" -> ((s, dir) => {
      // streaming dropDuplicates within the watermark (real micro-batch
      // state store); emitting only the key columns makes the result the
      // exact distinct key set regardless of which arrival won
      EventStreams.runToBatchAppend(s, dir, s"ddup_${System.nanoTime()}",
        e => EventStreams.dedup(e).select(col("user_id"), col("event_type")))
    }),

    "stream_quality_filter" -> ((s, dir) => {
      // the quality GATE applied IN FLIGHT (ingest-time filtering — the
      // production place for it: reject before paying storage):
      // qualityFilter is a pure projection, so the SAME operator code
      // runs on the stream with no state, no watermark, and a
      // batch-identical answer — one oracle covers both paths.
      graft.streaming.DocStreams.runToBatch(s, dir,
        s"qgate_${System.nanoTime()}",
        (ss, d) => graft.operators.TextAnalysis.qualityFilter(
          graft.streaming.DocStreams.readDocuments(ss, d), "doc_id", "text"))
    }),

    "stream_incremental_dedup" -> ((s, dir) => {
      // STREAMING ingest dedup (DocStreams.incrementalDedup): arriving
      // docs (doc_id % 5 = 0) probe the static history band index via
      // stateless stream-static joins; only the emitted-pair dedup
      // holds state. Same banding/threshold as `dedup_incremental`, so
      // the two paths share one oracle — the batch and streaming
      // answers are required to be IDENTICAL.
      graft.streaming.DocStreams.runToBatch(s, dir,
        s"incdedup_${System.nanoTime()}",
        graft.streaming.DocStreams.incrementalDedup(_, _))
    }),

    "pipeline_mix_weights" -> ((s, dir) => {
      // data mixing to per-source token budgets (Curation.mixToBudget):
      // sources src0/src1/src2 weighted 0.5/0.25/0.25 against a 6000-
      // token budget. At sf0.01 each source holds ~1300-1500 tokens, so
      // src0's 3000-token target forces EPOCH REPETITION (2 full epochs
      // + a partial prefix) while at sf0.1 (~10x tokens) every target
      // down-samples — both mixing regimes exercise under one set of
      // constants. The oracle replays the exact selection: same shard/
      // lcg-hash order, same distributed-prefix-sum semantics (the
      // shard is the LEADING sort key so a single SQL window reproduces
      // the sharded sum), same epoch arithmetic.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("tok"))
      Curation.mixToBudget(docs, "doc_id", "source", "tok",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25),
        totalTokens = 6000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_tokens")).as("tokens_mixed"),
          max(col("epoch")).cast("long").as("max_epoch"))
    }),

    "pipeline_leakage_safe_split" -> ((s, dir) => {
      // near-dup-aware 80/10/10 split (Curation.leakageSafeSplit): the
      // assignment unit is the near-dup CLUSTER — prefix-filter Jaccard
      // >= 0.8 pairs -> connected components -> canonical id -> integer
      // lcg hash bucket — so a paraphrase can never sit in test while
      // its twin trains. cross_split_pairs is computed IN-PLAN (zero by
      // construction) and the oracle replays the entire chain natively
      // (recursive-CTE min-label components + the same 64-bit hash).
      val docs = t(s, dir, "documents")
      // r18 (guide §3.3/§7.2): `pairs` feeds the component rounds AND
      // both legs of the leak check, `assigned` feeds both leak joins
      // and the final aggregate — inline, Catalyst duplicated the whole
      // prefix-filter subtree 3x (before-plan: 18 parquet scans, two
      // full dfreq+window copies). Materializing each once cuts the
      // plan to one copy of every stage (after-plan: 2 scans).
      val pairs = Dedup.jaccardThresholdPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.8).select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val assigned = Curation.leakageSafeSplit(docs, "doc_id", pairs)
        .localCheckpoint()
      val leaks = pairs
        .join(assigned.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(assigned.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
        .filter(col("sa") =!= col("sb"))
        .agg(count(lit(1)).as("cross_split_pairs"))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canonical_id")).as("n_clusters"))
        .crossJoin(broadcast(leaks))
    })
  ,

    "dedup_fuzzy_names" -> ((s, dir) => {
      // thresholded fuzzy matching with the banded-Levenshtein codegen
      // expression (plans.LevenshteinWithin) vs the oracle's full
      // levenshtein comparison
      val a = t(s, dir, "supplier").select(col("s_suppkey").as("id_a"), col("s_name").as("n_a"))
      val b = t(s, dir, "supplier").select(col("s_suppkey").as("id_b"), col("s_name").as("n_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("levenshtein_within(n_a, n_b, 2)").as("within2"))
        .groupBy(col("within2")).agg(count(lit(1)).as("n_pairs"))
    }),

    "stream_stateful_totals" -> ((s, dir) => {
      // flatMapGroupsWithState custom state, driven by a real streaming
      // run (update mode, one emission per user in the single batch)
      graft.streaming.EventStreams.runToBatchAppend(
        s, dir, s"st_${System.nanoTime()}",
        graft.streaming.EventStreams.statefulUserTotals, mode = "update")
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
    }),

    "dedup_embedding_cosine" -> ((s, dir) => {
      // embedding-cosine near-dup candidate density per label pair:
      // exact all-pairs cosine via the codegen'd array_dot expression.
      // The all-pairs product is the EXACT baseline (oracle-matched);
      // at corpus scale the same refine runs over LSH/IVF candidates
      // (sim_lsh_ann / sim_ivf_topk) instead of the full cross product.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Similarity.norm(col("v")))
      val a = e.select(col("vec_id").as("id_a"), col("label").as("la"),
        col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("label").as("lb"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("la"), col("lb"),
          (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
        .groupBy(col("la"), col("lb"))
        .agg(count(when(col("cos") >= 0.35, 1)).as("n_sim"),
          round(max(col("cos")), 6).as("max_cos"))
    }),

    "stream_stream_join" -> ((s, dir) => {
      // real stream-stream inner join (two watermarked sides, event-time
      // range condition, bounded state)
      graft.streaming.EventStreams.runToBatchAppend(
        s, dir, s"ssj_${System.nanoTime()}",
        graft.streaming.EventStreams.viewClickJoin)
    }),

    "stream_stream_left_join" -> ((s, dir) => {
      // left-outer stream-stream join: outer (null) rows emit on state
      // eviction, so restrict to the watermark-decided region — views
      // older than max event time minus (watermark 1h + range 4h + 1h
      // margin); the oracle applies the identical cutoff
      val res = graft.streaming.EventStreams.runToBatchAppend(
        s, dir, s"sslj_${System.nanoTime()}",
        graft.streaming.EventStreams.viewClickLeftJoin)
      val mx = t(s, dir, "events").agg(max(col("ts")).as("mx"))
      res.crossJoin(broadcast(mx))
        .where(col("vts") <= col("mx") - expr("INTERVAL 6 HOURS"))
        .select(col("view_id"), col("user_id"), col("vts"), col("cts"),
          col("click_value"))
    }),

    "dedup_fuzzy_names_blocked" -> ((s, dir) => {
      // scale path for dedup_fuzzy_names: one equi-join shuffle on
      // delete-neighborhood keys replaces the supplier×supplier cross
      // join; exact-levenshtein refine keeps the answer identical
      Dedup.fuzzyPairs(t(s, dir, "supplier"), "s_suppkey", "s_name", 2)
        .groupBy(col("dist").cast("long").as("d"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("id_a") + col("id_b")).cast("long").as("id_sum"))
    }),

    "dedup_embedding_cosine_lsh" -> ((s, dir) => {
      // scale path for dedup_embedding_cosine: banded sign-LSH candidate
      // generation (codegen banding kernel, one (band, bucket) shuffle,
      // window skew cap) with the exact-cosine refine FUSED into the
      // bucket stage — vectors + labels ride the single banded exchange,
      // each bucket is collected and its id-ordered pairs are scored in
      // one primitive loop (lsh_bucket_pairs), no self-join and no
      // post-candidate id-joins. Buckets are integer-exact (quantized
      // vectors, ±1 planes) so the oracle replays the same bucketing in
      // SQL.
      //
      // TWO-barrier plan (was three): the pair-dedup shuffle is folded
      // into the label aggregate — each pair row carries its pair's
      // band-collision count k and weighs L/k with L = lcm(1..16), so
      // the per-label sums are EXACTLY L x the distinct-pair counts
      // (integer arithmetic throughout; each pair's k rows contribute
      // k·(L/k) = L). max_cos is duplicate-insensitive already. The
      // in-plan assert_true fires if the summed weight is not divisible
      // by L — the hot-bucket-overlap case where the weighted form
      // under-counts (see cosineLshScoredPairsWeighted scaladoc) —
      // so degenerate data fails loudly instead of silently drifting.
      // v stays array<float>: the banded exchange carries one vector copy
      // per (row, band), and un-widened floats HALVE those bytes; the
      // pair kernel widens per element, so cos is bit-identical to the
      // cast-to-double form (r12, LshLab measurement)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").as("v"))
      val L = 720720L // lcm(1..16) >= lcm(1..LshBands)
      Dedup.cosineLshScoredPairsWeighted(e, "vec_id", "v", lshPlanes,
        numBands = LshBands, bitsPerBand = LshBits, maxBucket = LshMaxBucket,
        carry = Seq("label"))
        .withColumn("w", expr(s"$L div band_collisions"))
        .groupBy(col("label_a").as("la"), col("label_b").as("lb"))
        .agg(sum(when(col("cos") >= 0.35, col("w")).otherwise(lit(0L))).as("wsim"),
          sum(col("w")).as("wcand"),
          round(max(col("cos")), 6).as("max_cos"))
        .select(col("la"), col("lb"),
          when(assert_true(col("wsim") % L === 0 && col("wcand") % L === 0,
            lit("LSH weighted pair-dedup undercounted: a pair overlaps a " +
              "capped hot bucket — use the dropDuplicates variant for this " +
              "corpus")).isNull,
            expr(s"wsim div $L")).as("n_sim"),
          expr(s"wcand div $L").as("n_cand"),
          col("max_cos"))
    }),

    "mm_frames" -> ((s, dir) => {
      // video-frame sampling dataflow (explode payload → strided chunks):
      // the oracle recomputes chunk counts/bytes arithmetically from the
      // payload length — the dataflow shape is what's under test
      val media = graft.operators.Multimodal.mediaFromDocuments(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.sampleFrames(media, frameBytes = 32, stride = 2)
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame"))).as("kept_bytes"))
    }),

    "text_decontaminate" -> ((s, dir) => {
      // Benchmark decontamination (operators.Curation.decontaminate):
      // flag training docs whose word 8-grams overlap a held-out eval
      // source (src0 plays the benchmark). Eval gram set broadcast;
      // the corpus is never shuffled for the probe.
      val docs = t(s, dir, "documents")
      Curation.decontaminate(
        docs.filter(col("source") =!= "src0"), "doc_id", "text",
        Curation.evalGrams(docs.filter(col("source") === "src0"), "text"))
        .orderBy(col("doc_id"))
    }),

    "text_remove_spans" -> ((s, dir) => {
      // the detection's ACTION (Curation.removeDuplicateSpans): strip
      // cross-doc duplicate islands from the normalized token stream —
      // per-doc verdict is the cleaned text itself, oracle-replayed
      // token by token
      graft.operators.Curation.removeDuplicateSpans(
        t(s, dir, "documents"), "doc_id", "text")
    }),

    "text_dup_spans" -> ((s, dir) => {
      // Cross-document duplicate-span detection
      // (operators.Curation.duplicateSpans): per doc, the maximal
      // 10-token-gram spans shared with at least one OTHER document,
      // merged into islands; one skew-free min/max pass decides
      // duplication. No presentation sort — the compare is row-order-
      // insensitive and a range sort costs a sample job + an exchange
      // (r13 lab: dropping it alone was 532 → 366 ms).
      Curation.duplicateSpans(t(s, dir, "documents"), "doc_id", "text", n = 10)
    }),

    "text_boilerplate_topk" -> ((s, dir) => {
      // Boilerplate mining (operators.Curation.boilerplateGrams): the
      // top word 10-grams by document frequency with their text
      // reconstructed from the sample doc — skew-free two-phase
      // aggregate, TakeOrdered top-k, broadcast reconstruction.
      Curation.boilerplateGrams(t(s, dir, "documents"), "doc_id", "text",
        n = 10, k = 20)
    }),

    "pipeline_pack_sequences" -> ((s, dir) => {
      // Concatenate-and-chunk sequence packing
      // (operators.Curation.packSequences): per (source, doc_id%8 shard)
      // the token stream is cut every 512 tokens; sharding bounds every
      // window partition at any corpus size.
      Curation.packSequences(t(s, dir, "documents"), "doc_id", "source",
          "text", budget = 512, numShards = 8)
        .orderBy(col("source"), col("shard"), col("seq_id"))
    }),

    "pipeline_quota_sample" -> ((s, dir) => {
      // Stratified quota sampling (operators.Curation.quotaSample):
      // exactly 10 docs per source by a seedless LCG hash both engines
      // compute bit-identically; two-phase sharded rank, no one-reducer
      // stratum sort.
      Curation.quotaSample(t(s, dir, "documents"), "doc_id", "source",
          quota = 10, numShards = 8)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sampled_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"))
    }),

    "pipeline_epoch_shuffle" -> ((s, dir) => {
      // Deterministic epoch shuffle (operators.Curation.epochShuffle):
      // the global training order for 2 epochs as a bit-reproducible
      // pseudo-random permutation — sharded rank + broadcast shard
      // offsets, no global sort. The oracle replays every position.
      Curation.epochShuffle(t(s, dir, "documents"), "doc_id",
          epochs = 2, numShards = 8)
        .orderBy(col("epoch"), col("pos"))
    }),

    "pipeline_semantic_cluster" -> ((s, dir) => {
      // Integer-exact distributed k-means (Similarity.semanticClusters):
      // the semantic-clustering step of a curation pipeline. Quantized
      // vectors + exact int64 distances + floor-division centroid update
      // make the full per-row assignment bit-replayable by the SQL
      // oracle — the strongest possible check for an iterative operator.
      // no presentation sort: the gate compares row-order-insensitively
      // and a global orderBy adds a range exchange to a map-only plan
      graft.operators.Similarity.semanticClusters(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iterations = 2)
        .select(col("id").as("vec_id"), col("cid"))
    }),

    "pipeline_semdedup" -> ((s, dir) => {
      // SemDeDup (Similarity.semDedup): semantic clustering + greedy
      // within-cluster ε-ball prune at cosine 0.35 on the quantized
      // vectors — cluster-bounded pairs, bit-replayable end to end.
      // no presentation sort (same rationale as the clustering row).
      // AQE pinned OFF (same class as join_piecewise_merge's pinned
      // session): the shuffle topology here is statically known — one
      // exchange on 8 cluster ids feeding a self-join — so AQE has
      // nothing to re-plan, and its per-exchange materialization job
      // waves were the row's dominant cost (BASELINE.md "pipeline_semdedup": 235 ms
      // AQE-on vs 161 ms off, stage work identical). A real 100 TB run
      // with k≈50k clusters would keep AQE for skew handling — the pin
      // encodes "tiny known topology", not a general policy.
      val child = Engine.pinnedSession(s, "semdedup-aqe-off") { c =>
        c.conf.set("spark.sql.adaptive.enabled", "false")
      }
      graft.operators.Similarity.semDedup(
          t(child, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iterations = 2, tau = 0.35)
        .select(col("id").as("vec_id"), col("cid"))
    })
  )

  /** Shared exact-Jaccard ground-truth CTE (3-word shingles, same
    * construction as [[Dedup.hashedShingles]]) the banded MinHash plan
    * must reproduce at the 0.8 threshold. Candidate generation uses the
    * PREFIX FILTER (Bayardo et al.): under a global token order, two
    * sets with jac ≥ t must share a token within their first
    * |S| - ⌈t·|S|⌉ + 1 sorted tokens (the smallest element of A∩B is
    * preceded in each set only by elements outside the intersection) —
    * exact, and subquadratic instead of the 5000²/2 brute-force join. */
  /** CTE chain (no leading WITH) computing exact-threshold Jaccard pairs
    * `hi(id_a, id_b, jac)` over relation `rel(doc_id, text)` — shared by
    * the dedup oracles and the composed pipeline oracle. */
  private def jaccardPairsCteChain(rel: String): String =
    s"""d AS (
      |  SELECT doc_id,
      |    list_sort(list_distinct(list_transform(
      |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
      |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))) AS sh
      |  FROM $rel),
      |pre AS (
      |  -- epsilon guards fp ceil overshoot at integral t*len (see
      |  -- Dedup.jaccardThresholdPairs)
      |  SELECT doc_id,
      |    unnest(list_slice(sh, 1,
      |      len(sh) - CAST(ceil(0.8 * len(sh) - 1e-9) AS BIGINT) + 1)) AS tok
      |  FROM d),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id),
      |hi AS (
      |  SELECT * FROM (
      |    SELECT id_a, id_b,
      |      len(list_intersect(da.sh, db.sh)) * 1.0 /
      |        (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))) AS jac
      |    FROM cand JOIN d da ON cand.id_a = da.doc_id
      |              JOIN d db ON cand.id_b = db.doc_id)
      |  WHERE jac >= 0.8)""".stripMargin

  private val exactJaccardPairsCte = "WITH " + jaccardPairsCteChain("documents")

  /** Exact cross-corpus Jaccard (threshold-complete prefix-filter
    * candidates) for the 80/20 history/batch split — the shared oracle
    * of `dedup_incremental` (batch) and `stream_incremental_dedup`
    * (Structured Streaming), whose answers must be identical. */
  /** Shared oracle of `text_quality_filter` (batch) and
    * `stream_quality_filter` (in-flight) — the gate is a pure
    * projection, so the two paths must answer identically. */
  private val qualityFilterSql =
    """WITH f AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    round(length(replace(text, ' ', '')) /
        |      greatest(len(string_split(text, ' ')), 1), 6) AS avg_token_len,
        |    round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) /
        |      greatest(length(text), 1), 6) AS alpha_ratio,
        |    round(length(regexp_replace(text, '[^0-9]', '', 'g')) /
        |      greatest(length(text), 1), 6) AS digit_ratio,
        |    round(len(list_filter(string_split(text, ' '),
        |      w -> list_contains(['the','a','an','of','to','and','in','is','it','for'], w))) /
        |      greatest(len(string_split(text, ' ')), 1), 6) AS stop_ratio
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN n_tokens < 5 THEN 'too_short' END AS r1,
        |    CASE WHEN n_tokens > 10000 THEN 'too_long' END AS r2,
        |    CASE WHEN NOT (avg_token_len BETWEEN 2.0 AND 12.0) THEN 'token_len' END AS r3,
        |    CASE WHEN alpha_ratio < 0.6 THEN 'low_alpha' END AS r4,
        |    CASE WHEN digit_ratio > 0.2 THEN 'high_digit' END AS r5,
        |    CASE WHEN stop_ratio < 0.02 THEN 'low_stopwords' END AS r6
        |  FROM f)
        |SELECT doc_id,
        |  (r1 IS NULL AND r2 IS NULL AND r3 IS NULL AND r4 IS NULL
        |    AND r5 IS NULL AND r6 IS NULL) AS pass,
        |  CAST((r1 IS NOT NULL)::int + (r2 IS NOT NULL)::int + (r3 IS NOT NULL)::int +
        |    (r4 IS NOT NULL)::int + (r5 IS NOT NULL)::int + (r6 IS NOT NULL)::int
        |    AS BIGINT) AS n_failed,
        |  concat_ws(',', r1, r2, r3, r4, r5, r6) AS reasons
        |FROM r""".stripMargin

  private val incrementalDedupSql =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_sort(list_distinct(list_transform(
      |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
      |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))) AS sh
      |  FROM documents),
      |pre AS (
      |  SELECT doc_id,
      |    unnest(list_slice(sh, 1,
      |      len(sh) - CAST(ceil(0.8 * len(sh) - 1e-9) AS BIGINT) + 1)) AS tok
      |  FROM d),
      |cand AS (
      |  SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS hist_id
      |  FROM pre a JOIN pre b ON a.tok = b.tok
      |  WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0),
      |hi AS (
      |  SELECT * FROM (
      |    SELECT batch_id, hist_id,
      |      len(list_intersect(db.sh, dh.sh)) * 1.0 /
      |        (len(db.sh) + len(dh.sh) - len(list_intersect(db.sh, dh.sh))) AS jac
      |    FROM cand JOIN d db ON cand.batch_id = db.doc_id
      |              JOIN d dh ON cand.hist_id = dh.doc_id)
      |  WHERE jac >= 0.8)
      |SELECT batch_id, hist_id, round(jac, 6) AS jac FROM hi""".stripMargin

  /** Min-label propagation CTE chain (no leading WITH; requires
    * RECURSIVE) resolving `hi` pairs into `cc(id, comp)`. */
  private val componentsCteChain =
    """nodes AS (SELECT id_a AS id FROM hi UNION SELECT id_b FROM hi),
      |sym AS (SELECT id_a AS u, id_b AS v FROM hi
      |        UNION SELECT id_b, id_a FROM hi),
      |reach(id, lab) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.id
      |  WHERE r.lab < s.v),
      |cc AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, md5(text) AS fp FROM documents GROUP BY text",

    "dedup_minhash_pairs" ->
      s"""$exactJaccardPairsCte
         |SELECT id_a, id_b, round(jac, 6) AS jac FROM hi""".stripMargin,

    // cross-set twin of the pairs CTE: candidates pair a history doc
    // (doc_id % 5 <> 0) with a batch doc (doc_id % 5 = 0); the shared
    // prefix token keeps the candidate set threshold-complete across
    // the split exactly as within it
    "dedup_incremental" -> incrementalDedupSql,

    // the STREAMING path is contractually identical to the batch path —
    // one oracle covers both (same banding parameters, same threshold,
    // same planted-region completeness argument)
    "stream_incremental_dedup" -> incrementalDedupSql,

    "dedup_prefix_filter" ->
      s"""$exactJaccardPairsCte
         |SELECT id_a, id_b, round(jac, 6) AS jac FROM hi""".stripMargin,

    "dedup_simhash" ->
      s"""$exactJaccardPairsCte
         |SELECT id_a, id_b, TRUE AS hamming_ok FROM hi""".stripMargin,

    // min-label propagation: a label walks an edge only toward a larger
    // node id, so the state space is finite and the component minimum
    // (smaller than every other member) reaches all members
    "dedup_components" ->
      s"""WITH RECURSIVE ${jaccardPairsCteChain("documents")},
         |$componentsCteChain
         |SELECT CAST(id AS BIGINT) AS id, CAST(comp AS BIGINT) AS comp,
         |  CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS n_members
         |FROM cc""".stripMargin,

    "dedup_canonicalize" ->
      s"""WITH RECURSIVE ${jaccardPairsCteChain("documents")},
         |$componentsCteChain
         |SELECT CAST(d0.doc_id AS BIGINT) AS doc_id,
         |  CAST(coalesce(cc.comp, d0.doc_id) AS BIGINT) AS canonical_id
         |FROM documents d0 LEFT JOIN cc ON d0.doc_id = cc.id""".stripMargin,

    // full training-data pipeline as ONE declarative statement: quality
    // filter → exact dedup → near-dup clustering → canonical keep →
    // per-source stats; every stage replayed natively by the oracle
    "pipeline_end2end" ->
      s"""WITH RECURSIVE raw AS (
         |  SELECT doc_id, source, text,
         |    len(string_split(text, ' ')) AS n_tokens FROM documents),
         |q AS (SELECT * FROM raw WHERE n_tokens >= 30),
         |ex AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
         |base AS (SELECT q.* FROM q JOIN ex USING (doc_id)),
         |${jaccardPairsCteChain("base")},
         |$componentsCteChain,
         |fin AS (SELECT * FROM base
         |        WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> comp)),
         |agg_raw AS (SELECT source, count(*) AS n_raw FROM raw GROUP BY source),
         |agg_q AS (SELECT source, count(*) AS n_quality FROM q GROUP BY source),
         |agg_base AS (SELECT source, count(*) AS n_exact FROM base GROUP BY source),
         |agg_fin AS (SELECT source, count(*) AS n_final,
         |            sum(n_tokens) AS tokens_final FROM fin GROUP BY source)
         |SELECT source, CAST(n_raw AS BIGINT) AS n_raw,
         |  CAST(n_quality AS BIGINT) AS n_quality,
         |  CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_final AS BIGINT) AS n_final,
         |  CAST(tokens_final AS BIGINT) AS tokens_final
         |FROM agg_raw JOIN agg_q USING (source)
         |  JOIN agg_base USING (source) JOIN agg_fin USING (source)""".stripMargin,

    "sim_lsh_ann" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id, list_transform(v, x -> floor(x*1000 + 0.5)) AS w FROM e),
         |planes(pid, pv) AS (VALUES
         |    ${graft.operators.Dedup.planesSqlValues(Similarity.hyperplanes(12, 64))}),
         |bb AS (SELECT q.vec_id,
         |         CASE WHEN list_dot_product(q.w, p.pv) >= 0
         |           THEN 1 << p.pid ELSE 0 END AS bit
         |       FROM q CROSS JOIN planes p),
         |bk AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket FROM bb GROUP BY 1),
         |capped AS (SELECT * FROM bk
         |           QUALIFY count(*) OVER (PARTITION BY bucket) <= 250),
         |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |       FROM capped a JOIN capped b
         |         ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |sc AS (SELECT id_a, id_b, list_cosine_similarity(ea.v, eb.v) AS sim
         |       FROM pr JOIN e ea ON pr.id_a = ea.vec_id
         |                 JOIN e eb ON pr.id_b = eb.vec_id),
         |r AS (SELECT id_a, id_b, sim,
         |        row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rn
         |      FROM sc)
         |SELECT id_a, id_b, CAST(rn AS BIGINT) AS rn, round(sim, 6) AS sim
         |FROM r WHERE rn <= 3""".stripMargin,

    "sim_ivf_topk" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    "mm_features" ->
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |           FROM documents)
        |SELECT doc_id AS id, count(*) AS n_bytes,
        |  round(avg(ascii(ch)), 6) AS mean_byte,
        |  round(entropy(ch), 6) AS entropy_bits
        |FROM c GROUP BY 1""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
        |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS sh
        |  FROM documents)
        |SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 1.0
        |    ELSE len(list_intersect(a.sh, b.sh)) /
        |         len(list_distinct(list_concat(a.sh, b.sh))) END, 6) AS jac
        |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |ORDER BY jac DESC, id_a, id_b LIMIT 30""".stripMargin,

    "dedup_stream_distinct" ->
      """SELECT count(*) AS n_total,
        |  count(DISTINCT (user_id, event_type)) AS n_distinct_pairs
        |FROM events""".stripMargin,

    "stream_dropdup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "pipeline_mix_weights" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    doc_id % 64 AS shard,
        |    (((doc_id % 2147483647) * 48271 + 12345) % 2147483647) * 2147483629
        |      + (((doc_id % 2147483629) * 16807 + 67890) % 2147483629) AS h,
        |    CASE source WHEN 'src0' THEN 3000
        |                WHEN 'src1' THEN 1500
        |                WHEN 'src2' THEN 1500 END AS target
        |  FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2')),
        |pre AS (SELECT *,
        |    coalesce(sum(tok) OVER (PARTITION BY source
        |      ORDER BY shard, h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev,
        |    sum(tok) OVER (PARTITION BY source) AS srctok
        |  FROM d),
        |cp AS (SELECT *,
        |    CAST(floor(CAST(target AS DOUBLE) / CAST(srctok AS DOUBLE)) AS BIGINT)
        |      + CASE WHEN cumprev < target
        |          - CAST(floor(CAST(target AS DOUBLE) / CAST(srctok AS DOUBLE)) AS BIGINT)
        |          * srctok THEN 1 ELSE 0 END AS copies
        |  FROM pre WHERE srctok > 0)
        |SELECT source, CAST(sum(copies) AS BIGINT) AS n_rows,
        |  CAST(count(*) FILTER (WHERE copies > 0) AS BIGINT) AS n_docs,
        |  CAST(sum(tok * copies) AS BIGINT) AS tokens_mixed,
        |  CAST(max(copies) - 1 AS BIGINT) AS max_epoch
        |FROM cp GROUP BY source""".stripMargin,

    "pipeline_leakage_safe_split" ->
      s"""WITH RECURSIVE ${jaccardPairsCteChain("documents")},
         |$componentsCteChain,
         |canon AS (SELECT d0.doc_id,
         |    CAST(coalesce(cc.comp, d0.doc_id) AS BIGINT) AS canonical_id
         |  FROM documents d0 LEFT JOIN cc ON d0.doc_id = cc.id),
         |assigned AS (SELECT doc_id, canonical_id,
         |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, canonical_id,
         |          ((((canonical_id % 2147483647) * 48271 + 12345) % 2147483647)
         |             * 2147483629
         |           + (((canonical_id % 2147483629) * 16807 + 67890) % 2147483629))
         |          % 100 AS b
         |        FROM canon)),
         |leaks AS (SELECT count(*) AS n FROM hi
         |  JOIN assigned a ON hi.id_a = a.doc_id
         |  JOIN assigned b2 ON hi.id_b = b2.doc_id
         |  WHERE a.split <> b2.split)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT canonical_id) AS n_clusters,
         |  (SELECT CAST(n AS BIGINT) FROM leaks) AS cross_split_pairs
         |FROM assigned GROUP BY split""".stripMargin,

    "sim_hybrid_rrf" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id <> 7),
        |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM base),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM b2),
        |hits AS (
        |  SELECT doc_id, dl,
        |    unnest(list_filter(toks,
        |      t -> list_contains(['vector','spark','merge','window'], t))) AS term
        |  FROM b2),
        |tf AS (
        |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM hits GROUP BY doc_id, dl, term),
        |dfx AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |bm AS (
        |  SELECT doc_id,
        |    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
        |  FROM tf JOIN dfx USING (term), stats
        |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
        |lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
        |  FROM bm),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qv AS (SELECT v AS q FROM e WHERE vec_id = 7),
        |dn AS (
        |  SELECT c.vec_id AS doc_id, round(list_cosine_similarity(q, c.v), 6) AS sim
        |  FROM e c, qv WHERE c.vec_id <> 7),
        |dense AS (
        |  SELECT doc_id, dense_rank FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS dense_rank
        |    FROM dn) WHERE dense_rank <= 50)
        |SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |  CAST(l.lex_rank AS BIGINT) AS lex_rank,
        |  CAST(d.dense_rank AS BIGINT) AS dense_rank,
        |  round(COALESCE(1.0 / (60 + l.lex_rank), 0)
        |      + COALESCE(1.0 / (60 + d.dense_rank), 0), 6) AS rrf_score
        |FROM lex l FULL JOIN dense d ON l.doc_id = d.doc_id
        |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,

    "sim_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |         list_cosine_similarity(q.v, c.v) AS sim
        |       FROM q JOIN e c ON c.vec_id <> q.vec_id),
        |r AS (SELECT qid, nid, sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
        |      FROM sc)
        |SELECT qid, nid, CAST(rn AS BIGINT) AS rn, round(sim, 6) AS sim
        |FROM r WHERE rn <= 10""".stripMargin,

    // bounded contract: the MG sketch's guarantees are checked in-plan on
    // the Spark side; the oracle states them plus the exact corpus scalars
    "text_topk_sketch" ->
      """WITH c AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |t2 AS (SELECT tok FROM c WHERE len(tok) > 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct,
        |  TRUE AS never_overcounts, TRUE AS within_mg_bound,
        |  TRUE AS reported_ok
        |FROM t2""".stripMargin,

    // bounded contract (the per-row labels carry no text signal — see the
    // query comment): prediction codes are valid and the English-vocab
    // corpus reads as ≥90% English
    "text_langid" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  TRUE AS all_known, TRUE AS mostly_en
        |FROM documents""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  round(length(replace(text, ' ', '')) /
        |    greatest(len(string_split(text, ' ')), 1), 6) AS avg_token_len,
        |  round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) /
        |    greatest(length(text), 1), 6) AS alpha_ratio,
        |  round(length(regexp_replace(text, '[^0-9]', '', 'g')) /
        |    greatest(length(text), 1), 6) AS digit_ratio,
        |  round(len(list_filter(string_split(text, ' '),
        |    w -> list_contains(['the','a','an','of','to','and','in','is','it','for'], w))) /
        |    greatest(len(string_split(text, ' ')), 1), 6) AS stop_ratio
        |FROM documents""".stripMargin,

    "text_quality_filter" -> qualityFilterSql,

    "stream_quality_filter" -> qualityFilterSql,

    "text_tokens_top" ->
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 10""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |  length(text) = n_chars AS len_ok
        |FROM documents""".stripMargin,

    "mm_binary_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  count(DISTINCT md5(text)) AS nd_fp
        |FROM documents GROUP BY source""".stripMargin,

    "stream_tumbling" ->
      """SELECT * FROM (
        |  SELECT CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP) AS ws,
        |    count(*) AS n, round(sum(value), 2) AS sum_value
        |  FROM events GROUP BY 1)
        |WHERE ws <= (SELECT max(ts) FROM events) - INTERVAL 3 HOUR""".stripMargin,

    "stream_sliding" ->
      """WITH e AS (SELECT floor(epoch(ts) / 300) * 300 AS b, value FROM events),
        |x AS (SELECT unnest([b, b - 300]) AS ws_s, value FROM e)
        |SELECT * FROM (
        |  SELECT CAST(to_timestamp(ws_s) AS TIMESTAMP) AS ws, count(*) AS n,
        |    round(sum(value), 2) AS sum_value
        |  FROM x GROUP BY 1)
        |WHERE ws <= (SELECT max(ts) FROM events) - INTERVAL 3 HOUR""".stripMargin,

    "stream_session" ->
      """WITH o AS (SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM events),
        |m AS (SELECT user_id, ts, value,
        |    CASE WHEN pts IS NULL OR epoch(ts) - epoch(pts) >= 1800 THEN 1 ELSE 0 END AS ns
        |  FROM o),
        |g AS (SELECT user_id, ts, value,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT * FROM (
        |  SELECT CAST(date_trunc('second', min(ts)) AS TIMESTAMP) AS session_start,
        |    CAST(date_trunc('second', max(ts) + INTERVAL 30 MINUTE) AS TIMESTAMP) AS session_end,
        |    user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |  FROM g GROUP BY user_id, sid)
        |WHERE session_end <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR""".stripMargin
  ,

    "dedup_fuzzy_names" ->
      """SELECT levenshtein(a.s_name, b.s_name) <= 2 AS within2,
        |  count(*) AS n_pairs
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |GROUP BY 1""".stripMargin,

    "stream_stateful_totals" ->
      """SELECT user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM events GROUP BY user_id""".stripMargin,

    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings)
        |SELECT a.label AS la, b.label AS lb,
        |  count(*) FILTER (WHERE list_cosine_similarity(a.v, b.v) >= 0.35) AS n_sim,
        |  round(max(list_cosine_similarity(a.v, b.v)), 6) AS max_cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |GROUP BY 1, 2""".stripMargin,

    "stream_stream_join" ->
      """SELECT v.event_id AS view_id, v.user_id,
        |  CAST(c.ts AS TIMESTAMP) AS cts, round(c.value, 2) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id
        | AND c.ts >= v.ts - INTERVAL 4 HOUR AND c.ts <= v.ts""".stripMargin,

    "stream_stream_left_join" ->
      """SELECT v.event_id AS view_id, v.user_id, CAST(v.ts AS TIMESTAMP) AS vts,
        |  CAST(c.ts AS TIMESTAMP) AS cts, round(c.value, 2) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id
        | AND c.ts >= v.ts - INTERVAL 4 HOUR AND c.ts <= v.ts
        |WHERE v.ts <= (SELECT max(ts) FROM events) - INTERVAL 6 HOUR""".stripMargin,

    "dedup_fuzzy_names_blocked" ->
      """SELECT CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS d,
        |  count(*) AS n_pairs,
        |  CAST(sum(a.s_suppkey + b.s_suppkey) AS BIGINT) AS id_sum
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 2
        |GROUP BY 1""".stripMargin,

    "dedup_embedding_cosine_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id, list_transform(v, x -> floor(x*1000 + 0.5)) AS w FROM e),
         |planes(pid, pv) AS (VALUES
         |    $planesSqlRows),
         |bb AS (SELECT q.vec_id, p.pid // $LshBits AS band,
         |         CASE WHEN list_dot_product(q.w, p.pv) >= 0
         |           THEN 1 << (p.pid % $LshBits) ELSE 0 END AS bit
         |       FROM q CROSS JOIN planes p),
         |bk AS (SELECT vec_id, band, CAST(sum(bit) AS BIGINT) AS bucket
         |       FROM bb GROUP BY 1, 2),
         |capped AS (SELECT * FROM bk
         |           QUALIFY count(*) OVER (PARTITION BY band, bucket) <= $LshMaxBucket),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM capped a JOIN capped b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |sc AS (SELECT ea.label AS la, eb.label AS lb,
         |         list_cosine_similarity(ea.v, eb.v) AS cos
         |       FROM cand JOIN e ea ON cand.id_a = ea.vec_id
         |                 JOIN e eb ON cand.id_b = eb.vec_id)
         |SELECT la, lb,
         |  count(*) FILTER (WHERE cos >= 0.35) AS n_sim,
         |  count(*) AS n_cand,
         |  round(max(cos), 6) AS max_cos
         |FROM sc GROUP BY 1, 2""".stripMargin,

    "mm_frames" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, n,
        |        list_filter(range(CAST(ceil(n / 32.0) AS BIGINT)),
        |                    i -> i % 2 = 0) AS kept
        |      FROM b)
        |SELECT doc_id AS id, CAST(len(kept) AS BIGINT) AS n_frames,
        |  CAST(list_sum(list_transform(kept, i -> least(32, n - i * 32))) AS BIGINT)
        |    AS kept_bytes
        |FROM f""".stripMargin,

    "text_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, source, array_to_string(w[i:i+7], ' ') AS g
        |  FROM toks, unnest(range(1, len(w)-6)) AS t(i) WHERE len(w) >= 8),
        |ev AS (SELECT DISTINCT g FROM grams WHERE source = 'src0')
        |SELECT doc_id, count(*) AS n_grams,
        |  count(*) FILTER (g IN (SELECT g FROM ev)) AS n_hit,
        |  round(count(*) FILTER (g IN (SELECT g FROM ev)) / CAST(count(*) AS DOUBLE), 6) AS contam
        |FROM grams WHERE source <> 'src0'
        |GROUP BY doc_id HAVING n_hit > 0 ORDER BY doc_id""".stripMargin,

    "text_remove_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, i, array_to_string(w[i:i+9], ' ') AS g
        |  FROM toks, unnest(range(1, len(w)-8)) AS t(i) WHERE len(w) >= 10),
        |dup AS (SELECT g FROM pos GROUP BY g HAVING min(doc_id) <> max(doc_id)),
        |marks AS (SELECT p.doc_id, p.i FROM pos p JOIN dup USING (g)),
        |isl AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 10
        |      THEN 0 ELSE 1 END AS newisl
        |  FROM marks),
        |isl2 AS (
        |  SELECT doc_id, i,
        |    sum(newisl) OVER (PARTITION BY doc_id ORDER BY i) AS isl
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, isl, min(i) AS s, max(i) + 9 AS e
        |  FROM isl2 GROUP BY doc_id, isl),
        |idx AS (
        |  SELECT doc_id, i, w[i] AS tok, len(w) AS nt
        |  FROM toks, unnest(range(1, len(w)+1)) AS t(i)),
        |cov AS (
        |  SELECT DISTINCT x.doc_id, x.i
        |  FROM idx x JOIN spans sp ON sp.doc_id = x.doc_id AND x.i BETWEEN sp.s AND sp.e),
        |agg AS (
        |  SELECT x.doc_id, CAST(count(c.i) AS BIGINT) AS n_removed,
        |    coalesce(string_agg(CASE WHEN c.i IS NULL THEN x.tok END, ' ' ORDER BY x.i), '')
        |      AS clean_text
        |  FROM idx x LEFT JOIN cov c ON x.doc_id = c.doc_id AND x.i = c.i
        |  GROUP BY x.doc_id)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |  coalesce(a.n_removed, 0) AS n_removed,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM toks t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "text_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, i,
        |    array_to_string(w[i:i+9], ' ') AS g
        |  FROM toks, unnest(range(1, len(w)-8)) AS t(i) WHERE len(w) >= 10),
        |dup AS (SELECT g FROM pos GROUP BY g HAVING min(doc_id) <> max(doc_id)),
        |marks AS (SELECT p.doc_id, p.n_tokens, p.i FROM pos p JOIN dup USING (g)),
        |isl AS (
        |  SELECT doc_id, n_tokens, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 10
        |      THEN 0 ELSE 1 END AS newisl
        |  FROM marks),
        |isl2 AS (
        |  SELECT doc_id, n_tokens, i,
        |    sum(newisl) OVER (PARTITION BY doc_id ORDER BY i) AS isl
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, n_tokens, isl, max(i) - min(i) + 10 AS span_tok
        |  FROM isl2 GROUP BY doc_id, n_tokens, isl)
        |SELECT doc_id, count(*) AS n_spans, CAST(sum(span_tok) AS BIGINT) AS dup_tokens,
        |  n_tokens, round(sum(span_tok) / CAST(n_tokens AS DOUBLE), 6) AS dup_frac
        |FROM spans GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin,

    "text_boilerplate_topk" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, i, array_to_string(w[i:i+9], ' ') AS g
        |  FROM toks, unnest(range(1, len(w)-8)) AS t(i) WHERE len(w) >= 10),
        |perdoc AS (
        |  SELECT g, doc_id, min(i) AS p0 FROM pos GROUP BY g, doc_id),
        |agg AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
        |    min(struct_pack(d := doc_id, p := p0)) AS s
        |  FROM perdoc GROUP BY g HAVING count(*) >= 2),
        |topk AS (
        |  SELECT g AS gram, n_docs, s.d AS sample_doc,
        |    CAST(s.p - 1 AS BIGINT) AS sample_pos
        |  FROM agg ORDER BY n_docs DESC, sample_doc, sample_pos LIMIT 20)
        |SELECT gram, n_docs, sample_doc, sample_pos FROM topk
        |ORDER BY n_docs DESC, sample_doc, sample_pos""".stripMargin,

    "pipeline_pack_sequences" ->
      """WITH toksz AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS tok,
        |    doc_id % 8 AS shard
        |  FROM documents),
        |seq AS (
        |  SELECT source, shard, doc_id, tok,
        |    CAST(floor((sum(tok) OVER (PARTITION BY source, shard ORDER BY doc_id)
        |                - tok) / 512.0) AS BIGINT) AS seq_id
        |  FROM toksz)
        |SELECT source, shard, seq_id, count(*) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM seq GROUP BY source, shard, seq_id
        |ORDER BY source, shard, seq_id""".stripMargin,

    "pipeline_quota_sample" ->
      """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (((doc_id % 2147483647) * 48271 + 12345) % 2147483647) * 2147483629
        |               + (((doc_id % 2147483629) * 16807 + 67890) % 2147483629), doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_sampled,
        |  CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM ranked WHERE rn <= 10
        |GROUP BY source ORDER BY source""".stripMargin,

    "pipeline_epoch_shuffle" ->
      """WITH e AS (SELECT unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS epoch),
        |keys AS (
        |  -- per-epoch multipliers: 48271^(e+2) mod p1, 16807^(e+2) mod p2
        |  SELECT doc_id, epoch,
        |    (((doc_id % 2147483647) *
        |        (CASE epoch WHEN 0 THEN 182605794 ELSE 1291394886 END)
        |      + 12345) % 2147483647) * 2147483629
        |    + (((doc_id % 2147483629) *
        |        (CASE epoch WHEN 0 THEN 282475249 ELSE 1622689853 END)
        |      + 67890) % 2147483629) AS key
        |  FROM documents, e)
        |SELECT doc_id, epoch,
        |  CAST(row_number() OVER (PARTITION BY epoch
        |    ORDER BY key, doc_id) - 1 AS BIGINT) AS pos
        |FROM keys
        |ORDER BY epoch, pos""".stripMargin,

    "pipeline_semantic_cluster" -> semanticClusterFullSql(k = 8, iterations = 2),
    "pipeline_semdedup" -> semDedupSql(k = 8, iterations = 2, tau = 0.35)
  )
}
