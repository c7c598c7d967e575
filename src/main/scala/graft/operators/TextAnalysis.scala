package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text analysis for corpus pipelines: quality scoring, token counting,
  * language ID, fingerprinting. Quality/token/fingerprint are pure
  * Catalyst expressions (codegen, no UDF); language ID is a scalar UDF
  * (table-driven heuristic).
  */
object TextAnalysis {

  /** Whitespace tokens (keeps empties — reference string_split semantics). */
  def tokens(text: Column): Column = split(text, " ", -1)

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Stopword ratio against a small builtin english list. */
  private val stopwords = Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    val stops = array(stopwords.map(lit): _*)
    when(size(toks) === 0, 0.0)
      .otherwise(size(filter(toks, t => array_contains(stops, t))).cast("double") /
        size(toks).cast("double"))
  }

  /** Quality features: length, token stats, alpha/punct/digit ratios. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.withColumn("n_chars_m", length(t).cast("long"))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("avg_token_len",
        round(length(regexp_replace(t, " ", "")).cast("double") /
          greatest(size(toks), lit(1)).cast("double"), 6))
      .withColumn("alpha_ratio",
        round(length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double") /
          greatest(length(t), lit(1)).cast("double"), 6))
      .withColumn("digit_ratio",
        round(length(regexp_replace(t, "[^0-9]", "")).cast("double") /
          greatest(length(t), lit(1)).cast("double"), 6))
      .withColumn("stop_ratio", round(stopwordRatio(t), 6))
  }

  /** Composed document quality GATE (C4 / Gopher-rule shape): the
    * accept/reject step a curation run applies after scoring —
    * [[qualityFeatures]]' per-doc features tested against named
    * thresholds, returning the verdict plus WHICH rules failed (the
    * reasons string is what makes a filter auditable: per-rule drop
    * counts are one groupBy away). Pure projection — no shuffle at any
    * corpus size — and every rule compares a ROUNDED feature (the
    * repo's round-before-compare convention), so the verdict replays
    * bit-identically cross-engine.
    */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 5, maxTokens: Int = 10000,
                    minAvgTokLen: Double = 2.0, maxAvgTokLen: Double = 12.0,
                    minAlpha: Double = 0.6, maxDigit: Double = 0.2,
                    minStop: Double = 0.02): DataFrame = {
    val f = qualityFeatures(df, textCol)
    val rules: Seq[(String, Column)] = Seq(
      "too_short" -> (col("n_tokens") < minTokens),
      "too_long" -> (col("n_tokens") > maxTokens),
      "token_len" -> !col("avg_token_len").between(minAvgTokLen, maxAvgTokLen),
      "low_alpha" -> (col("alpha_ratio") < minAlpha),
      "high_digit" -> (col("digit_ratio") > maxDigit),
      "low_stopwords" -> (col("stop_ratio") < minStop))
    val nFailed = rules.map { case (_, c) => when(c, 1).otherwise(0) }
      .reduce(_ + _).cast("long")
    val reasons = concat_ws(",",
      rules.map { case (nm, c) => when(c, lit(nm)) }: _*)
    f.select(col(idCol), (nFailed === 0L).as("pass"),
      nFailed.as("n_failed"), reasons.as("reasons"))
  }

  /** Language ID: character n-gram rank-profile classifier + script
    * detection — see [[LangId]]. (Replaced the round-1 marker-word
    * heuristic; name kept for the registered `lang_id` UDF.) */
  def langIdHeuristic(text: String): String = LangId.classify(text)

  /** Content fingerprint: md5 of the normalized text (lowercase, collapsed
    * whitespace) — stable across engines, unlike seeded 64-bit hashes. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** BM25 top-k corpus search (Okapi BM25, the Lucene/Robertson idf
    * variant: idf = ln((N - df + 0.5)/(df + 0.5) + 1), always positive).
    *
    * Scale shape — the whole point of the design (rebuilt r13 around the
    * [[graft.plans.SpaceTermCounts]] codegen kernel; the old
    * filter-HOF + explode + two-aggregate pipeline tokenized the corpus
    * TWICE — stats branch re-split every document — and paid ~µs/token
    * interpreted lambda cost, CodegenFallback):
    *   - ONE pass over the text: `space_term_counts(text, Q)` emits
    *     [dl, tf_0 … tf_{Q-1}] per document inside the codegen'd scan
    *     stage — the per-term tf vector IS the scan output; nothing
    *     token-shaped ever shuffles;
    *   - the corpus collapses to (id, dl, tfs[|Q|]) behind one explicit
    *     doc-id exchange that BOTH consumers read (ReuseExchange; the
    *     stats branch is pruning-proofed by referencing every column);
    *   - N, avgdl, and all |Q| document frequencies are ONE ungrouped
    *     aggregate (df_i = Σ[tf_i ≥ 1], plan-time unrolled — |Q| is a
    *     query's term list, not a vocabulary), broadcast into the
    *     scoring projection;
    *   - scoring is a pure per-row expression (no grouping — the tf
    *     vector already holds the per-term counts), and the final top-k
    *     is TakeOrderedAndProject (per-partition heaps + driver merge),
    *     not a global sort.
    *
    * Cross-engine determinism: the score is rounded before ORDER BY (the
    * unrolled fixed-order term sum is within the 4-dp float-sum
    * contract), and ties break on doc id, so Spark and a replaying SQL
    * engine select the identical k rows in the identical order.
    *
    * Returns (idCol, n_terms_hit, score) — docs matching no query term
    * are absent (they all score 0 and cannot enter a top-k with k < N).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: queryTerms must be non-empty")
    require(k > 0, "bm25TopK: k must be > 0")
    val qTerms = queryTerms.distinct
    val nq = qTerms.length
    val qArr = array(qTerms.map(lit): _*)
    val base = docs.select(col(idCol),
        call_function("space_term_counts", col(textCol), qArr).as("__c"))
      .select(col(idCol), col("__c").getItem(0).cast("double").as("__dl"),
        slice(col("__c"), 2, nq).as("__tfs"))
      .repartition(col(idCol))
    // N + avgdl + all per-term dfs in ONE ungrouped aggregate.
    // Pruning-proofing (the semDedup lesson — ReuseExchange needs
    // canonically identical subtrees): the doc count uses the
    // non-foldable tautology xxhash64(id) >= Long.MinValue so this
    // branch references id too and column pruning cannot specialize its
    // copy of the exchange subtree.
    val aggs =
      sum((xxhash64(col(idCol)) >= lit(Long.MinValue)).cast("long")).as("__n_docs") +:
      avg(col("__dl")).as("__avgdl") +:
      (0 until nq).map(i =>
        sum((col("__tfs").getItem(i) >= lit(1L)).cast("double")).as(s"__df_$i"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    def tfI(i: Int) = col("__tfs").getItem(i).cast("double")
    def idfI(i: Int) = log((col("__n_docs") - col(s"__df_$i") + lit(0.5)) /
      (col(s"__df_$i") + lit(0.5)) + lit(1.0))
    def contribI(i: Int) = when(tfI(i) > 0.0,
      idfI(i) * tfI(i) * (lit(k1) + 1.0) /
        (tfI(i) + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / col("__avgdl"))))
      .otherwise(lit(0.0))
    def hitI(i: Int) = when(tfI(i) > 0.0, 1L).otherwise(0L)
    // The no-hit filter deliberately references the broadcast side
    // (`__n_docs < 0` is never true — N ≥ 0 by construction): a
    // left-side-only predicate gets pushed below the base exchange into
    // the scan, where it re-evaluates the kernel inside the predicate
    // AND de-symmetrizes the two exchange subtrees (killing the reuse
    // the stats branch depends on). A both-sides disjunction stays on
    // the join.
    base.crossJoin(broadcast(stats))
      .filter(((0 until nq).map(hitI).reduce(_ + _) > 0L) ||
        (col("__n_docs") < 0L))
      .select(col(idCol),
        (0 until nq).map(hitI).reduce(_ + _).as("n_terms_hit"),
        round((0 until nq).map(contribI).reduce(_ + _), 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Bigram language-model cross-entropy per document (the CCNet/KenLM
    * quality-filter shape, one order up from the unigram row): train an
    * add-α-smoothed bigram model ON THE CORPUS ITSELF and score each
    * document by the mean negative log-probability of its adjacent
    * token pairs — fluent/common text scores low, gibberish and
    * word-salad score high. P(b|a) = (c2(a,b)+α) / (c1(a)+α·V), with
    * c1 the CONTEXT count Σ_b c2(a,b) and V the number of distinct
    * contexts |{a}| — a valid add-α support constant that needs only a
    * light distinct over context tokens, never a pair explode.
    *
    * Scale shape (rebuilt r11 — this row sat over the 2× bar for three
    * rounds; the fix was measurement, not guessing): the pair stream
    * carries 16-byte TOKEN-HASH pairs from the fused
    * [[graft.plans.WsTokenHashes]] kernel (one byte pass: split + fold
    * + FNV; the old `zip_with` lambda form paid ~6 µs/pair of
    * interpreted higher-order evaluation — HOFs are CodegenFallback),
    * and the within-doc pre-collapse is GONE: it removed only ~3% of
    * rows at sf0.1 while costing a full (id, a, b) exchange and a
    * 600k-entry hash aggregate inside the serial scan stage
    * (BASELINE.md round 11, 934 → 408 ms). c2 and c1 attach in place as
    * unbounded windows over the (a, b) and (a) partitions of one
    * hash(a) exchange. Hot contexts make that window partition an
    * unsplittable straggler at scale — saltBuckets is the escape hatch.
    * Token hashes are engine-internal keys only (the WordGramHashes
    * collision contract: the DuckDB oracle replays the string form, so
    * a 64-bit collision surfaces as a verification diff, not silently).
    * Docs with < 2 tokens carry no bigram and are absent. Rounded to
    * 4 dp AFTER the mean, the same cross-engine float-sum tolerance
    * contract as `text_unigram_lm`.
    */
  def bigramLmScores(docs: DataFrame, idCol: String, textCol: String,
                     alpha: Double = 0.1, saltBuckets: Int = 1,
                     vocabFromPairs: Boolean = false): DataFrame = {
    require(alpha > 0, s"bigramLmScores: alpha must be > 0 (got $alpha)")
    require(saltBuckets >= 1, s"bigramLmScores: saltBuckets >= 1 (got $saltBuckets)")
    val base = docs.select(col(idCol),
      call_function("ws_token_hashes", col(textCol)).as("__th"))
    val pairs = base
      .filter(size(col("__th")) >= 2)
      .select(col(idCol), col("__th"), (size(col("__th")) - 1).as("__n"))
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("__th"), lit(1), col("__n")).as("a"),
          slice(col("__th"), lit(2), col("__n")).as("b"))).as("__p"))
      .select(col(idCol), col("__p.a").as("__a"), col("__p.b").as("__b"))
      .withColumn("__m", lit(1L))
    // Hot-context escape hatch (saltBuckets > 1): same rationale as
    // [[graft.operators.Curation.duplicateSpans]] — the window form
    // sorts each context partition in one unsplittable task, so a
    // degenerate context word ('the' in a scriptless corpus) becomes
    // the straggler. The salted form builds c2 as a two-level
    // (a, b, salt-of-doc) → (a, b) aggregate, derives c1 = Σ_b c2(a,b)
    // from the (small) c2 table rather than rescanning pairs, and
    // joins both back shuffle-hash so the skewed probe streams and AQE
    // can split it. Cost: the pair stream is scanned twice.
    val part = pairs.repartition(col("__a"))
    val enriched =
      if (saltBuckets <= 1) {
        val wAB = Window.partitionBy(col("__a"), col("__b"))
        val wA = Window.partitionBy(col("__a"))
        // explicit repartition(__a) FIRST (shared with the vocab branch
        // below — same exchange node, so ReuseExchange can collapse
        // them); hashpartitioning(a) also satisfies the (a, b) window's
        // clustering requirement, so c2 adds only a sort
        part
          .withColumn("__c1", sum(col("__m")).over(wA))
          .withColumn("__c2", sum(col("__m")).over(wAB))
      } else {
        val c2t = pairs
          .groupBy(col("__a"), col("__b"),
            pmod(xxhash64(col(idCol)), lit(saltBuckets.toLong)).as("__s"))
          .agg(sum(col("__m")).as("__c2p"))
          .groupBy(col("__a"), col("__b")).agg(sum(col("__c2p")).as("__c2"))
        val c1t = c2t.groupBy(col("__a")).agg(sum(col("__c2")).as("__c1"))
        pairs
          .join(c2t.hint("shuffle_hash"), Seq("__a", "__b"))
          .join(c1t.hint("shuffle_hash"), Seq("__a"))
      }
    // V = |distinct context tokens|. TWO equivalent formulations, and
    // the right one depends on scan economics:
    //  - vocabFromPairs = true: V = |distinct __a| as a SECOND CONSUMER
    //    of the same repartition(__a) exchange the windows sit on —
    //    ReuseExchange collapses the subtrees onto ONE scan+explode
    //    (plan-asserted in LshExchangeReuseSpec; the no-op conditional
    //    referencing idCol/__b/__m is load-bearing: column pruning
    //    would otherwise specialize this consumer's subtree and reuse
    //    fires only on canonical identity). This is the 100 TB form:
    //    half the scan+explode work.
    //  - default: a light second kernel pass over the corpus. LOCALLY
    //    faster — at 32 shuffle partitions the second scan is
    //    buffer-resident AND fully shadowed by the longer pairs stage
    //    (BigramLab r11: 408 vs 420 ms) — flip the flag at cluster
    //    scale, oracle unchanged (identical V either way).
    // prune guard: the when() condition is a runtime tautology the
    // optimizer cannot fold (xxhash64 of attributes is non-foldable),
    // so idCol and __b survive column pruning and the vocab branch's
    // below-exchange projection stays canonically identical to the
    // window branch's — the r10 form (`__m >= 0`) died when __m became
    // a literal 1 and the whole guard constant-folded away
    val vocab =
      if (vocabFromPairs)
        part.agg(countDistinct(when(
          xxhash64(col(idCol), col("__b")) >= lit(Long.MinValue),
          col("__a"))).as("__v"))
      else base
        .filter(size(col("__th")) >= 2)
        .select(explode(slice(col("__th"), lit(1), size(col("__th")) - 1)).as("__t"))
        .agg(countDistinct(col("__t")).as("__v"))
    val logp = log((col("__c2") + lit(alpha)) /
      (col("__c1") + lit(alpha) * col("__v")))
    enriched
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(sum(col("__m")).cast("long").as("n_bigrams"),
        (-sum(col("__m") * logp) / sum(col("__m"))).as("__x"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__x"), 4).as("bigram_xent"))
  }
}
