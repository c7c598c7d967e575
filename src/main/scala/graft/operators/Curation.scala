package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators: benchmark decontamination,
  * concatenate-and-chunk sequence packing, stratified quota sampling.
  * All three are pure DataFrame transforms with no driver-side state;
  * the scale rationale per operator is on its doc comment (stress-tested
  * beyond sf0.1 by d38a371:src/main/scala/graft/tools/ScaleStress.scala).
  */
object Curation {

  /** Whitespace tokens, lowercased, empties dropped — shared by the
    * curation ops and replayed exactly by the DuckDB oracles
    * (`regexp_split_to_array(lower(text), '\s+')` + list_filter). */
  def wsTokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), x => x =!= "")

  /** Per-doc (id, g) distinct-gram rows, fused-tokenizer form (r11):
    * gram_roll_hashes(ws_token_hashes(text), n) emits the exact same
    * keys as word_gram_hashes over [[wsTokens]] with one byte pass. */
  private def gramRows(df: DataFrame, idCols: Seq[String], textCol: String,
                       n: Int): DataFrame =
    df.select(idCols.map(col) :+
        call_function("ws_token_hashes", col(textCol)).as("__th"): _*)
      .select(idCols.map(col) :+ explode(array_distinct(
        call_function("gram_roll_hashes", col("__th"), lit(n)))).as("g"): _*)

  /** Benchmark decontamination: per training doc, how many of its
    * distinct word n-grams appear in the eval corpus (`evalDf`, already
    * reduced to one `g` column of distinct grams). The eval side is
    * BROADCAST — benchmarks are MBs while corpora are TBs — so the
    * training corpus is never shuffled for the probe: grams of a doc
    * explode inside the doc's input partition and the per-doc hit count
    * partial-aggregates to one row per doc before the only shuffle.
    * Hot grams (boilerplate shared by millions of docs) cost nothing
    * extra: the probe is map-side, there is no shuffle-by-gram.
    */
  def decontaminate(train: DataFrame, idCol: String, textCol: String,
                    evalDf: DataFrame, n: Int = 8): DataFrame = {
    val grams = gramRows(train, Seq(idCol), textCol, n)
    grams.join(broadcast(evalDf.select(col("g")).distinct().withColumn("hit", lit(1))),
        Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .filter(col("n_hit") > 0)
      .withColumn("contam", round(col("n_hit") / col("n_grams"), 6))
  }

  /** Distinct-gram eval set for [[decontaminate]] from a corpus slice. */
  def evalGrams(evalDocs: DataFrame, textCol: String, n: Int = 8): DataFrame =
    evalDocs.select(call_function("ws_token_hashes", col(textCol)).as("__th"))
      .select(explode(array_distinct(
        call_function("gram_roll_hashes", col("__th"), lit(n)))).as("g")).distinct()

  /** Concatenate-and-chunk sequence packing (GPT-style): within each
    * (strata, shard) the token stream is laid out in id order and cut
    * every `budget` tokens; a doc belongs to the sequence its first
    * token lands in. `numShards` bounds every window partition — ONE
    * window per stratum is a one-reducer sort once a stratum holds
    * billions of docs, so shard count must grow with corpus size
    * (grow it with the corpus multiplier; the fixed inventory query
    * pins 8 for the oracle).
    */
  def packSequences(docs: DataFrame, idCol: String, strataCol: String,
                    textCol: String, budget: Int, numShards: Int): DataFrame = {
    val toksz = docs.select(col(idCol), col(strataCol),
        // token COUNT only — the fused kernel skips the string array
        size(call_function("ws_token_hashes", col(textCol))).cast("long").as("tok"))
      .withColumn("shard", pmod(col(idCol), lit(numShards.toLong)))
    val w = Window.partitionBy(col(strataCol), col("shard")).orderBy(col(idCol))
    toksz.withColumn("seq_id",
        floor((sum(col("tok")).over(w) - col("tok")) / lit(budget.toDouble)).cast("long"))
      .groupBy(col(strataCol), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
        min(col(idCol)).as("first_doc"), max(col(idCol)).as("last_doc"))
  }

  /** Seedless full-width id hash, reproducible cross-engine WITHOUT
    * 64-bit wraparound: two Lehmer LCGs mod coprime 31-bit primes,
    * CRT-composed — h = r1·p2 + r2 with r_i = ((id mod p_i)·a_i + c_i)
    * mod p_i. Every intermediate stays below 2^62, so the DuckDB oracle
    * (overflow-checked BIGINT arithmetic — a splitmix64-style wrapping
    * multiply cannot replay there) computes the identical value; and
    * because each LCG is a bijection mod its prime, id ↦ (r1, r2) is
    * INJECTIVE for 0 ≤ id < p1·p2 ≈ 4.6e18 — no hash ties at any corpus
    * size (the previous mod-1000003 pre-reduction collapsed to ~1e6
    * distinct values, biasing quota samples toward low ids in tied
    * residue classes). */
  def lcgHash(id: Column): Column = {
    val p1 = 2147483647L; val p2 = 2147483629L
    val r1 = pmod(pmod(id, lit(p1)) * lit(48271L) + lit(12345L), lit(p1))
    val r2 = pmod(pmod(id, lit(p2)) * lit(16807L) + lit(67890L), lit(p2))
    r1 * lit(p2) + r2
  }

  /** Near-dup-aware (leakage-safe) dataset split. A content-hash split
    * assigns each document independently, so two NEAR-duplicate
    * documents can land in different splits — the test set then
    * contains paraphrases of training data and evaluation leaks. Here
    * the unit of assignment is the near-dup CLUSTER: `pairs` (any
    * similarity notion the caller trusts — prefix-filter Jaccard,
    * MinHash, embedding cosine) resolve to connected components
    * ([[Dedup.connectedComponents]], O(log² n) rounds), every document
    * maps to its cluster's canonical (minimum) id, and the split bucket
    * is [[lcgHash]] of the CANONICAL id — so an entire cluster moves as
    * one, cross-split near-dup pairs are ZERO by construction, and the
    * assignment replays exactly on any engine with 64-bit integer
    * arithmetic (the same reproducibility contract as [[quotaSample]]).
    * Exact duplicates need no special casing: callers that want them
    * fused pass pairs that include them, or pre-dedup.
    *
    * Shuffle inventory at corpus scale: the component rounds (edges
    * only — pairs, not documents) + one broadcast-ready left join of
    * docs against the component map + the reporting aggregate. The
    * corpus itself shuffles once (the join), documents without any
    * near-dup pair pass through with their own id as canonical.
    *
    * Returns (idCol, canonical_id, split) with split ∈ train/val/test
    * by `pctTrain`/`pctVal` out of 100.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String = "id_a", bCol: String = "id_b",
                       pctTrain: Int = 80, pctVal: Int = 10): DataFrame = {
    require(pctTrain > 0 && pctVal >= 0 && pctTrain + pctVal < 100,
      s"leakageSafeSplit: need pctTrain > 0, pctVal >= 0, sum < 100 " +
        s"(got $pctTrain, $pctVal)")
    // Rename the component map's columns before joining (mirrors
    // Dedup.canonicalize): with the bare names, a caller whose idCol is
    // literally "id" (or "comp") would make the post-join col(idCol) /
    // coalesce references ambiguous and fail analysis.
    val cc = Dedup.connectedComponents(pairs.select(col(aCol), col(bCol)), aCol, bCol)
      .select(col("id").as("__cc_id"), col("comp").as("__cc_comp"))
    val canon = docs.select(col(idCol))
      .join(cc, col(idCol) === col("__cc_id"), "left")
      .select(col(idCol), coalesce(col("__cc_comp"), col(idCol)).as("canonical_id"))
    val bkt = pmod(lcgHash(col("canonical_id")), lit(100L))
    canon.withColumn("split",
      when(bkt < pctTrain, "train")
        .when(bkt < pctTrain + pctVal, "val")
        .otherwise("test"))
  }

  /** Mix a corpus to per-source token budgets (the data-mixing step of
    * LLM training: up/down-sample each source to a target share, with
    * EPOCH REPETITION when a source is smaller than its budget — the
    * SlimPajama/Pile recipe). For source s with weight w_s, target
    * tokens = floor(w_s / Σw · totalTokens); the source contributes
    * floor(target / srcTokens) full epochs plus a partial epoch: docs in
    * a deterministic pseudo-random order (shard, [[lcgHash]], id) while
    * the running token sum of PRIOR docs stays under the remainder.
    * Output: one row per (doc, epoch), epoch 0-based.
    *
    * Scale shape: the per-source running sum is a DISTRIBUTED prefix
    * sum — intra-shard cumulative sums (numShards bounded window
    * partitions per source) plus a broadcast join against the
    * shard-offset table (sources × shards rows) — never a one-reducer
    * whole-source window. The shard is the LEADING sort key precisely
    * so the sharded prefix sum equals the global one under the same
    * (shard, hash, id) order; since hash order is already an arbitrary
    * deterministic permutation, prepending the shard loses nothing, and
    * any engine replaying the same order and integer arithmetic selects
    * the identical rows.
    *
    * Sources absent from `weights` (or with srcTokens = 0) contribute
    * nothing; weights must be positive.
    */
  def mixToBudget(docs: DataFrame, idCol: String, sourceCol: String,
                  tokenCol: String, weights: Map[String, Double],
                  totalTokens: Long, numShards: Int = 64): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixToBudget: weights must be non-empty and positive")
    require(totalTokens > 0 && numShards > 0,
      "mixToBudget: totalTokens and numShards must be positive")
    val wsum = weights.values.sum
    // per-source target as a plan literal (weights are a handful)
    val target: Column = weights.foldLeft(lit(null).cast("long")) {
      case (acc, (src, w)) => when(col(sourceCol) === src,
        floor(lit(w) / lit(wsum) * lit(totalTokens.toDouble)).cast("long"))
        .otherwise(acc)
    }
    val shard = pmod(col(idCol), lit(numShards.toLong))
    val h = lcgHash(col(idCol))
    val base = docs.select(col(idCol), col(sourceCol), col(tokenCol).cast("long").as("__tok"),
      shard.as("__shard"), h.as("__h"), target.as("__target"))
      .filter(col("__target").isNotNull)
    // distributed prefix sum of __tok in (shard, h, id) order:
    // intra-shard running sum of PRIOR rows + the summed totals of all
    // prior shards of the same source
    val wIntra = Window.partitionBy(col(sourceCol), col("__shard"))
      .orderBy(col("__h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val intra = base.withColumn("__cumIntra",
      coalesce(sum(col("__tok")).over(wIntra), lit(0L)))
    val shardTotals = base.groupBy(col(sourceCol), col("__shard"))
      .agg(sum(col("__tok")).as("__shardTok"))
    val wShardOff = Window.partitionBy(col(sourceCol)).orderBy(col("__shard").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = shardTotals
      .withColumn("__shardOff", coalesce(sum(col("__shardTok")).over(wShardOff), lit(0L)))
      .select(col(sourceCol), col("__shard"), col("__shardOff"))
    val srcTotals = shardTotals.groupBy(col(sourceCol))
      .agg(sum(col("__shardTok")).as("__srcTok"))
    val withPrefix = intra
      .join(broadcast(offsets), Seq(sourceCol, "__shard"))
      .join(broadcast(srcTotals), Seq(sourceCol))
      .withColumn("__cumPrev", col("__cumIntra") + col("__shardOff"))
    val fullEpochs = when(col("__srcTok") > 0,
      floor(col("__target") / col("__srcTok")).cast("long")).otherwise(lit(0L))
    val remainder = col("__target") - fullEpochs * col("__srcTok")
    val copies = (fullEpochs +
      when(col("__srcTok") > 0 && col("__cumPrev") < remainder, 1L).otherwise(0L))
      .as("__copies")
    withPrefix.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .select(col(idCol), col(sourceCol), col("__tok").as("n_tokens"),
        explode(sequence(lit(0L), col("__copies") - 1)).as("epoch"))
  }

  /** Deterministic epoch shuffle: the global training order for each of
    * `epochs` epochs, as a reproducible pseudo-random permutation. Every
    * epoch e orders the corpus by the CRT key
    * m1·p2 + m2 with m_i = ((id mod p_i)·A_i(e) + c_i) mod p_i and
    * PER-EPOCH MULTIPLIERS A1(e) = 48271^(e+2) mod p1,
    * A2(e) = 16807^(e+2) mod p2.
    * The multiplier — not an additive offset — is what varies per
    * epoch: the LCG is affine, so adding an epoch constant to the seed
    * merely shifts every key by the same amount and leaves the sort
    * order untouched (a bug this operator's spec would catch);
    * multiplying by a different unit mod p produces an unrelated
    * ordering. The exponent starts at e+2 (never the raw 48271): a
    * multiplier far below p leaves any consecutive id block shorter
    * than p/A in ORIGINAL order — with A ≥ 1.8e8 the order wraps every
    * ~dozen consecutive ids. This is LCG-lattice-quality shuffling
    * (standard for reproducible data orders), not a cryptographic
    * permutation. Each A_i(e) is a nonzero power of a unit mod a prime, so
    * m_i is bijective in (id mod p_i) and the CRT pair is INJECTIVE for
    * 0 ≤ id < p1·p2 ≈ 4.6e18 — no ties at any corpus size. All
    * intermediates stay below 2^62, so an overflow-checked engine
    * replays bit-identically.
    *
    * The global position is computed WITHOUT a global sort — the
    * one-reducer bottleneck an orderBy+row_number would be at corpus
    * scale: keys are RANGE-bucketed into `numShards` shards by their
    * high bits (keys are uniform on [0, p1·p2), so range buckets are as
    * balanced as hash buckets), ranked inside each (epoch, shard)
    * window (bounded partitions), and offset by the broadcast per-epoch
    * running shard totals (epochs·numShards rows). Because the buckets
    * are key RANGES, shard-major order IS pure (key, id) order — the
    * result is independent of `numShards`, which is an execution knob,
    * not part of the semantics.
    *
    * Returns one row per (doc, epoch): (idCol, epoch, pos) with pos
    * 0-based within its epoch.
    */
  def epochShuffle(docs: DataFrame, idCol: String, epochs: Int,
                   numShards: Int = 64): DataFrame = {
    require(epochs > 0 && epochs <= 512,
      s"epochShuffle: epochs must be in [1, 512] (got $epochs; the " +
        "per-epoch multipliers are a CASE chain in the plan)")
    require(numShards > 0, "epochShuffle: numShards must be positive")
    val p1 = 2147483647L; val p2 = 2147483629L
    def powmod(b: Long, e: Int, m: Long): Long =
      BigInt(b).modPow(BigInt(e), BigInt(m)).toLong
    def multiplier(base: Long, m: Long): Column =
      (0 until epochs).foldLeft(lit(null).cast("long")) { (acc, e) =>
        when(col("epoch") === e, lit(powmod(base, e + 2, m))).otherwise(acc)
      }
    // key space is [0, p1·p2); ceil-divide so shard ids stay < numShards
    val shardWidth = p1 * p2 / numShards + 1L
    val m1 = pmod(pmod(col(idCol), lit(p1)) * multiplier(48271L, p1) + lit(12345L), lit(p1))
    val m2 = pmod(pmod(col(idCol), lit(p2)) * multiplier(16807L, p2) + lit(67890L), lit(p2))
    val base = docs.select(col(idCol))
      .select(col(idCol), explode(sequence(lit(0L), lit(epochs - 1L))).as("epoch"))
      .withColumn("__key", m1 * lit(p2) + m2)
      .withColumn("__shard", floor(col("__key") / lit(shardWidth)))
    val wIntra = Window.partitionBy(col("epoch"), col("__shard"))
      .orderBy(col("__key").asc, col(idCol).asc)
    val ranked = base.withColumn("__rn", row_number().over(wIntra))
    val wOff = Window.partitionBy(col("epoch")).orderBy(col("__shard").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("epoch"), col("__shard"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("epoch"), col("__shard"), col("__off"))
    ranked.join(broadcast(offsets), Seq("epoch", "__shard"))
      .select(col(idCol), col("epoch"),
        (col("__off") + col("__rn") - 1).cast("long").as("pos"))
  }

  /** Stratified quota sampling: exactly min(quota, stratum size) rows
    * per stratum, the `quota` smallest by [[lcgHash]]. Two-phase rank:
    * phase 1 takes the per-(stratum, shard) top `quota` (bounded window
    * partitions — a single per-stratum window is a one-reducer sort at
    * corpus scale), phase 2 ranks the surviving ≤ numShards·quota rows
    * per stratum. Identical to a one-phase per-stratum rank: any global
    * top-quota row is in its shard's top quota.
    */
  def quotaSample(docs: DataFrame, idCol: String, strataCol: String,
                  quota: Int, numShards: Int = 64): DataFrame = {
    val h = lcgHash(col(idCol))
    val shard = pmod(col(idCol), lit(numShards.toLong))
    val w1 = Window.partitionBy(col(strataCol), shard).orderBy(h.asc, col(idCol).asc)
    val w2 = Window.partitionBy(col(strataCol)).orderBy(h.asc, col(idCol).asc)
    docs.withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= quota)
      .withColumn("rn", row_number().over(w2)).filter(col("rn") <= quota)
      .drop("rn1", "rn")
  }

  /** Cross-document duplicate-SPAN detection (substring-level dedup, the
    * "dedup training data at the span level" operation: doc-level
    * near-dup passes miss a boilerplate paragraph pasted into otherwise
    * distinct documents). A token position is DUPLICATED when the
    * word n-gram starting there also occurs in at least one OTHER
    * document; runs of duplicated starts merge into maximal islands
    * (consecutive starts ≤ n apart overlap or touch as token
    * intervals), and each document reports its island count, covered
    * token count, and duplicated-token fraction.
    *
    * Scale shape — one corpus scan, two data exchanges, no quadratics:
    * 1. Every (gram, doc, pos) triple carries an 8-byte rolling hash
    *    ([[graft.plans.WordGramHashes]]), never the gram string.
    * 2. "Appears in ≥ 2 docs" is `min(doc) <> max(doc)` computed by an
    *    unbounded WINDOW over the gram partition and filtered in place
    *    — not an aggregate joined back. The agg+join form reads the
    *    corpus twice (column pruning makes the two gram subtrees
    *    canonically different, so ReuseExchange cannot fuse them) and
    *    shuffles the position stream by g for the probe anyway; the
    *    window form shuffles it by g ONCE and decides duplication
    *    inside the partition. A count-distinct would be strictly worse
    *    (per-gram distinct sets); min<>max needs two longs. Hot
    *    boilerplate grams concentrate their positions in one task in
    *    EITHER form (the join's probe exchange has the same key) — the
    *    window sort spills, a straggler not a failure.
    * 3. Island merge is a per-document window (gaps-and-islands via
    *    lag) riding one exchange on the doc id, bounded by document
    *    length at any corpus size; both downstream aggregates stay
    *    co-partitioned on the doc id.
    *
    * Intra-document repetition (same gram twice in ONE doc) is
    * deliberately out of scope here — [[TextAnalysis]]'s repetition
    * scorer owns that — so a doc pair is needed before anything flags.
    * Reference substring surface: /root/reference/duckdb-6.cpp string
    * split + list fns (the reference has no span dedup; this is the
    * pipeline-native extension the curation suite exists for).
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 10, saltBuckets: Int = 1): DataFrame = {
    require(n > 0, s"duplicateSpans: n must be > 0 (got $n)")
    require(saltBuckets >= 1, s"duplicateSpans: saltBuckets >= 1 (got $saltBuckets)")
    val marks = dupSpanMarks(docs, idCol, textCol, n, saltBuckets)
    // Fused island fold (r13 lab): the two-level form (running-sum
    // island ids → per-island agg → per-doc agg) spends a second window
    // pass and an extra aggregate level on quantities ONE lag already
    // determines — n_spans counts island STARTS (lag gap null or > n)
    // and dup_tokens = Σ island (max − min + n) decomposes as
    // Σ within-island consecutive diffs + n · n_spans, so a single
    // groupBy over the lag-diff stream computes both. Same exchange
    // shape (one shuffle on the doc id), measurably fewer stages
    // (DupSpansLab: 366 → 302 ms at sf0.1).
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    val isStart = col("__d").isNull || col("__d") > n
    marks
      .withColumn("__d", col("__p") - lag(col("__p"), 1).over(wDoc))
      .groupBy(col(idCol), col("n_tokens"))
      .agg(
        sum(when(isStart, 1L).otherwise(0L)).as("n_spans"),
        (sum(when(col("__d") <= n, col("__d")).otherwise(0L)) +
          lit(n.toLong) * sum(when(isStart, 1L).otherwise(0L))).as("dup_tokens"))
      .withColumn("dup_frac", round(col("dup_tokens") / col("n_tokens"), 6))
      .select(col(idCol), col("n_spans"), col("dup_tokens"), col("n_tokens"),
        col("dup_frac"))
  }

  /** Shared detection stages of [[duplicateSpans]] /
    * [[removeDuplicateSpans]]: gram-hash positions marked as cross-doc
    * duplicates, columns (idCol, n_tokens, __p). */
  private def dupSpanMarks(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, saltBuckets: Int): DataFrame = {
    // fused tokenizer (r11): ws_token_hashes + gram_roll_hashes produce
    // values IDENTICAL to word_gram_hashes over wsTokens (same FNV +
    // roll pipeline) with no lower() copy, no regex split, and no
    // string-array materialization — the serial scan stage was the
    // row's cost center (Probe stagetime: 294 ms of a 443 ms row)
    val pos = docs
      .select(col(idCol), call_function("ws_token_hashes", col(textCol)).as("__th"))
      .select(col(idCol), size(col("__th")).cast("long").as("n_tokens"),
        posexplode(call_function("gram_roll_hashes", col("__th"), lit(n))))
      .withColumnsRenamed(Map("pos" -> "__p", "col" -> "__g"))
    // Hot-gram escape hatch (saltBuckets > 1): the window form below
    // must SORT each gram partition in ONE task — a degenerate
    // boilerplate gram appearing in millions of documents makes that
    // one task the job's straggler, and a window partition cannot be
    // split. The salted form computes the same min<>max decision as a
    // TWO-LEVEL aggregate — (gram, salt-of-doc) cells first, then the
    // per-gram fold over ≤ saltBuckets cell rows — and joins the
    // surviving gram ids back with a shuffle-hash hint: the skewed
    // probe side then STREAMS (no sort), and AQE's skew-join splitting
    // can break the hot probe partition, which is structurally
    // impossible for the window. Cost: the position stream is scanned
    // twice (the documented reason the oracle default stays the
    // single-pass window form).
    val marks =
      if (saltBuckets <= 1) {
        val wGram = Window.partitionBy(col("__g"))
        pos
          .withColumn("__lo", min(col(idCol)).over(wGram))
          .withColumn("__hi", max(col(idCol)).over(wGram))
          .filter(col("__lo") =!= col("__hi"))
      } else {
        val dupGrams = pos
          .groupBy(col("__g"),
            pmod(xxhash64(col(idCol)), lit(saltBuckets.toLong)).as("__salt"))
          .agg(min(col(idCol)).as("__lo1"), max(col(idCol)).as("__hi1"))
          .groupBy(col("__g"))
          .agg(min(col("__lo1")).as("__lo"), max(col("__hi1")).as("__hi"))
          .filter(col("__lo") =!= col("__hi"))
          .select(col("__g"))
        pos.join(dupGrams.hint("shuffle_hash"), Seq("__g"))
      }
    marks
  }

  /** [[duplicateSpans]]' ACTION: strip the flagged cross-doc islands
    * from the text and return the cleaned document — the "remove the
    * boilerplate" step a curation run applies after detection. A
    * token survives iff its 0-based position lies in NO island's
    * covered range [min __p, max __p + n − 1]; islands are disjoint by
    * construction (consecutive islands start > n apart), so coverage
    * needs no overlap handling. Text is reconstructed from the
    * NORMALIZED token stream (lowercased, whitespace-collapsed — the
    * same stream the detector scored; byte-exact reconstruction would
    * need original-offset tracking, out of scope).
    *
    * Scale shape: the detection stages are [[duplicateSpans]]'
    * (including the `saltBuckets` hot-gram hatch); on top, the per-doc
    * covered ranges collect on the island aggregate's own (doc)
    * exchange (a handful of (start, end) pairs per flagged doc) and
    * join back to the corpus by id — one additional corpus-keyed
    * exchange; unflagged docs pass through the left join untouched.
    * The strip itself is a per-row HOF filter (no shuffle).
    *
    * Returns (idCol, n_tokens, n_removed, clean_text).
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 10, saltBuckets: Int = 1): DataFrame = {
    require(n > 0, s"removeDuplicateSpans: n must be > 0 (got $n)")
    val marks = dupSpanMarks(docs, idCol, textCol, n, saltBuckets)
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    val ranges = marks
      .withColumn("__new",
        when(col("__p") - lag(col("__p"), 1).over(wDoc) <= n, 0L).otherwise(1L))
      .withColumn("__isl", sum(col("__new")).over(wDoc))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__p")).cast("long").as("__s"),
        (max(col("__p")) + (n - 1)).cast("long").as("__e"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("__s"), col("__e"))).as("__rs"))
    docs
      .select(col(idCol), wsTokens(col(textCol)).as("__w"))
      .join(ranges, Seq(idCol), "left")
      .select(col(idCol), col("__w"),
        when(col("__rs").isNull, col("__w"))
          .otherwise(filter(col("__w"), (t, i) => {
            val _ = t
            !exists(col("__rs"), r =>
              i.cast("long") >= r.getField("__s") && i.cast("long") <= r.getField("__e"))
          })).as("__clean"))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_tokens"),
        (size(col("__w")) - size(col("__clean"))).cast("long").as("n_removed"),
        array_join(col("__clean"), " ").as("clean_text"))
  }

  /** Boilerplate MINING — the inverse question of [[duplicateSpans]]:
    * not "which documents carry shared text" but "what IS the shared
    * text". Returns the top `k` word n-grams by DOCUMENT frequency
    * (grams in ≥ 2 docs), with the gram text reconstructed from its
    * sample document — the inspection tool that tells a curation run
    * which navigation chrome / license header / template to strip.
    *
    * Scale shape: per-(gram, doc) rows collapse FIRST (a doc repeating
    * a gram contributes one row), then the per-gram aggregate is
    * count + min(struct(doc, pos)) — both partial-aggregable, so a
    * boilerplate gram in millions of docs still sends one row per map
    * partition to the final shuffle. Top-k is TakeOrderedAndProject
    * (per-partition heaps, no global sort), and reconstruction
    * re-tokenizes only the ≤ k sample documents via a broadcast join.
    * Determinism: ties order by (sample_doc, sample_pos), and a
    * (doc, pos) pair identifies ONE gram — a total order any engine
    * replays; positions are reported 0-based on both sides.
    */
  def boilerplateGrams(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 10, k: Int = 20): DataFrame = {
    require(n > 0 && k > 0, s"boilerplateGrams: n, k must be > 0 (got $n, $k)")
    val pos = docs
      .select(col(idCol), call_function("ws_token_hashes", col(textCol)).as("__th"))
      .select(col(idCol),
        posexplode(call_function("gram_roll_hashes", col("__th"), lit(n))))
      .withColumnsRenamed(Map("pos" -> "__p", "col" -> "__g"))
    val perDoc = pos.groupBy(col("__g"), col(idCol))
      .agg(min(col("__p")).as("__p0"))
    // r18 measured negative results (OPTIMIZATION_r18.md): min(struct)
    // plans as SortAggregate (struct min has no HashAggregate buffer —
    // two full sorts of the (gram, doc) table around the exchange), and
    // a min_by rewrite measured 0.60 → 0.96 s (ObjectHashAggregate
    // falls back to sort-based merging past 128 distinct keys; gram
    // cardinality is millions, so it paid the hash attempt AND the
    // sort). r19: graft.plans.MinPairOrd keeps min(struct)'s exact
    // lexicographic-with-null-first semantics in three mutable
    // primitive buffer slots, so the per-gram aggregate plans as a
    // plain two-phase codegen HashAggregate — no sort anywhere before
    // the TakeOrdered top-k. min_pair_ord takes integral ids only;
    // any other id type keeps the exact min(struct) form.
    val idType = docs.select(col(idCol)).schema.head.dataType
    val sample =
      if (graft.plans.MinPairOrd.isIntegral(idType))
        call_function("min_pair_ord", col(idCol), col("__p0"))
      else min(struct(col(idCol).as("doc"), col("__p0").cast("long").as("pos")))
    val topk = perDoc.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_docs"), sample.as("__s"))
      .filter(col("n_docs") >= 2)
      .select(col("__g"), col("n_docs"),
        col("__s").getField("doc").as("sample_doc"),
        col("__s").getField("pos").cast("long").as("sample_pos"))
      .orderBy(col("n_docs").desc, col("sample_doc"), col("sample_pos"))
      .limit(k)
    docs
      .select(col(idCol).as("sample_doc"), wsTokens(col(textCol)).as("__w"))
      .join(broadcast(topk), Seq("sample_doc"))
      .select(
        array_join(slice(col("__w"), col("sample_pos").cast("int") + 1, lit(n)), " ")
          .as("gram"),
        col("n_docs"), col("sample_doc"), col("sample_pos"))
      .orderBy(col("n_docs").desc, col("sample_doc"), col("sample_pos"))
  }
}
