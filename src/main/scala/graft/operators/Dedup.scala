package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale corpus pipelines.
  *
  * All operators are pure DataFrame transforms: the only shuffles are the
  * ones the algorithm fundamentally needs (group-by-key or band-bucket
  * exchange), so each scales linearly with executors. No driver-side
  * collection anywhere.
  */
object Dedup {

  /** Exact dedup, keeping the lowest `orderCol` per key group —
    * deterministic, unlike dropDuplicates' arbitrary row choice.
    * One shuffle on the dedup key.
    */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Word n-gram shingles of a text column (distinct, order-insensitive). */
  def shingles(textCol: Column, n: Int): Column = {
    val words = split(textCol, " ", -1)
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
          i => when(i + n <= size(words), concat_ws(" ", slice(words, i + 1, lit(n))))),
        x => x.isNotNull))
  }

  /** Exact Jaccard similarity of two (distinct-element) array columns.
    * |A∪B| is derived as |A|+|B|-|A∩B| — one array traversal instead of
    * two (array_union is as expensive as array_intersect).
    */
  def jaccardSets(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a).cast("double") + size(b).cast("double") - inter
    when(union === 0, 1.0).otherwise(inter / union)
  }

  // ---- JIT'd hot path ----------------------------------------------------
  // Catalyst higher-order lambdas (transform/aggregate) evaluate
  // interpreted per element; for millions of hash evaluations a compiled
  // Scala kernel is ~10x faster. These UDFs are the hot-path versions of
  // the expression forms above — same semantics, same determinism.

  private def fnv64(s: String, from: Int, until: Int, seed: Long): Long = {
    var h = seed
    var i = from
    while (i < until) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  private def mix64(x0: Long): Long = {
    // splitmix64 finalizer
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Distinct, sorted hashed word n-gram shingles of a text. n must be
    * positive — the guard matches graft.plans.HashedShingles.compute so
    * the UDF-reference and codegen paths cannot silently diverge on a
    * degenerate n (they used to return different values for n = 0). */
  def hashedShingles(text: String, n: Int): Array[Long] = {
    require(n > 0, s"hashedShingles: n must be > 0 (got $n)")
    if (text == null) return Array.emptyLongArray
    // word boundaries without materializing the split
    val bounds = scala.collection.mutable.ArrayBuffer(-1)
    var i = 0
    while (i < text.length) { if (text.charAt(i) == ' ') bounds += i; i += 1 }
    bounds += text.length
    val nWords = bounds.length - 1
    if (nWords < n) return Array.emptyLongArray
    val out = new Array[Long](nWords - n + 1)
    var w = 0
    while (w + n <= nWords) {
      // hash the span covering words w .. w+n-1 (includes separators)
      out(w) = fnv64(text, bounds(w) + 1, bounds(w + n), 0xcbf29ce484222325L)
      w += 1
    }
    val distinct = out.distinct
    java.util.Arrays.sort(distinct)
    distinct
  }

  /** MinHash signature over hashed shingles (compiled kernel). */
  def minhashSig(sh: Seq[Long], numHashes: Int): Array[Long] = {
    val out = Array.fill(numHashes)(Long.MaxValue)
    val it = sh.iterator
    while (it.hasNext) {
      val h = it.next()
      var i = 0
      while (i < numHashes) {
        val v = mix64(h ^ (i * 0x9e3779b97f4a7c15L))
        if (v < out(i)) out(i) = v
        i += 1
      }
    }
    out
  }

  /** MinHash signature + LSH banding fused in one compiled kernel:
    * returns `numBands` bucket hashes (index = band), one per run of
    * `rows = numHashes / numBands` slots of [[minhashSig]], banded on the
    * signature array in place — no interpreted `transform`/`slice`/
    * `concat_ws` lambdas on the hot path, and the per-row code stays
    * small enough to JIT. Docs sharing a bucket at index b agree on
    * signature slots [b·rows, (b+1)·rows). */
  def minhashBandBuckets(sh: Seq[Long], numHashes: Int, numBands: Int): Array[Long] = {
    // layout guard (cheap int checks, also enforced per call in
    // minhashCandidates): numBands > numHashes would make rows = 0 and
    // hash every band over an EMPTY slot range — all docs collide into
    // one bucket per band and the skew cap then silently drops
    // everything (recall 0, no error); a non-divisible numHashes would
    // silently ignore the trailing signature slots
    require(numBands >= 1 && numHashes >= numBands && numHashes % numBands == 0,
      s"minhash banding: numHashes ($numHashes) must be a positive multiple " +
        s"of numBands ($numBands)")
    // no shingles → no bands: empty docs must not collide into one
    // sentinel-signature bucket (callers drop the empty row via
    // posexplode_outer + isNotNull instead of a size(sh)>0 filter, which
    // the optimizer would push below the projection with the shingle
    // kernel inlined)
    if (sh.isEmpty) return Array.emptyLongArray
    val sig = minhashSig(sh, numHashes)
    val rows = numHashes / numBands
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = 0xcbf29ce484222325L ^ b
      var i = b * rows
      val end = i + rows
      while (i < end) {
        // FNV-1a over the 8 bytes of each slot value
        var v = sig(i)
        var byte = 0
        while (byte < 8) { h ^= (v & 0xffL); h *= 0x100000001b3L; v >>>= 8; byte += 1 }
        i += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Jaccard of two SORTED long arrays — two-pointer merge, O(n+m). */
  def jaccardSortedLongs(a: Seq[Long], b: Seq[Long]): Double = {
    val xa = a.toArray; val xb = b.toArray
    if (xa.isEmpty && xb.isEmpty) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < xa.length && j < xb.length) {
      if (xa(i) == xb(j)) { inter += 1; i += 1; j += 1 }
      else if (xa(i) < xb(j)) i += 1
      else j += 1
    }
    inter.toDouble / (xa.length + xb.length - inter).toDouble
  }

  val hashedShinglesUdf = udf(hashedShingles _)
  val minhashBandBucketsUdf = udf(minhashBandBuckets _)
  val jaccardSortedLongsUdf = udf(jaccardSortedLongs _)

  /** Codegen form of [[hashedShingles]] (graft.plans.HashedShingles):
    * reads the text's UTF-8 bytes in place, no String copy, no codegen
    * fence at the scan. The UDF forms above remain as the reference
    * semantics the specs equivalence-check against. */
  def hashedShinglesCol(text: Column, n: Int): Column =
    call_function("hashed_shingles", text, lit(n))

  /** Codegen form of [[minhashBandBuckets]] (graft.plans.MinhashBands). */
  def minhashBandsCol(sh: Column, numHashes: Int, numBands: Int): Column =
    call_function("minhash_band_buckets", sh, lit(numHashes), lit(numBands))

  /** Codegen form of [[hashedDeleteNeighborhood]]
    * (graft.plans.DeleteNeighborhoodHashes). */
  def deleteNeighborhoodHashesCol(s: Column, k: Int): Column =
    call_function("delete_neighborhood_hashes", s, lit(k))

  /** Codegen form of [[jaccardSortedLongs]] (graft.plans.JaccardSorted):
    * reads the Tungsten arrays in place — no per-row WrappedArray copy. */
  def jaccardSortedCol(a: Column, b: Column): Column =
    call_function("jaccard_sorted", a, b)

  /** MinHash+LSH near-duplicate candidate pairs, scored with exact
    * shingle Jaccard.
    *
    * Plan shape (scales to the full corpus): shingle+sign per row (no
    * shuffle) → explode bands (×numBands rows) → self-join on (band,
    * bucket) = ONE shuffle on the band key → exact-score candidates.
    * Skew guard: buckets larger than `maxBucket` are dropped (hot bucket
    * = degenerate text, e.g. empty docs — the cross product would
    * explode; same move as a salting cutoff).
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 32, numBands: Int = 8,
                        maxBucket: Int = 100): DataFrame = {
    // fail at plan time, not per executor row (same contract as the
    // per-row guard inside minhashBandBuckets)
    require(numBands >= 1 && numHashes >= numBands && numHashes % numBands == 0,
      s"minhashCandidates: numHashes ($numHashes) must be a positive multiple " +
        s"of numBands ($numBands)")
    // No size(sh)>0 gate here: a filter on a UDF-projected column gets
    // pushed below the projection with the UDF INLINED (the shingle
    // kernel would run twice per row), and empty-shingle docs are
    // dropped by the explode_outer+isNotNull on the banding path anyway
    // (they can never appear in candidates, so the scoring joins need no
    // gate either).
    val sh = df
      .select(col(idCol).as("id"),
        hashedShinglesCol(col(textCol), shingleN).as("sh"))
    // band-join carries only (band, bucket, id) — the shingle arrays are
    // re-joined for scoring AFTER candidate dedup, so the wide rows never
    // go through the candidate shuffle. Banding runs inside the fused
    // compiled kernel (minhashBandBuckets), not the interpreted
    // bandKeys expression form. Same banding moves as the cosine-LSH
    // paths ([[lshBands]]): posexplode_OUTER defeats the optimizer's
    // inferred size>0 filter (which would inline the banding kernel), and
    // the WINDOW skew cap (buckets > maxBucket dropped — hot bucket =
    // degenerate text; same move as a salting cutoff) rides the
    // self-join's own (band, bucket) exchange so the scan + shingle +
    // banding subtree materializes once for the cap and both join sides.
    val withBands = sh
      .select(col("id"),
        posexplode_outer(minhashBandsCol(col("sh"), numHashes, numBands))
          .as(Seq("band", "bucket")))
      .filter(col("band").isNotNull)
    val pruned = withBands
      .withColumn("bsize",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bsize") <= maxBucket)
      .drop("bsize")
    val candidates = pruned.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(pruned.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardSortedCol(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** INCREMENTAL near-dup detection: score a NEW batch against an
    * EXISTING corpus — the production curation shape (daily crawl vs
    * the historical index) where re-running all-pairs dedup over the
    * union would redo quadratically growing work every ingest.
    *
    * Same MinHash+LSH machinery as [[minhashCandidates]], asymmetric:
    * the history side is the INDEX (at 100 TB its (band, bucket, id)
    * band table is computed once per snapshot and persisted bucketed by
    * (band, bucket), so each ingest shuffles only the new batch's bands
    * — batch-sized, not corpus-sized), the batch side probes it with an
    * equi-join on the narrow band keys. Candidates re-join their
    * shingle arrays for the exact-Jaccard refine, so wide rows never
    * enter the candidate shuffle. The skew cap (`maxBucket`) applies to
    * the HISTORY index only — that is where accumulated boilerplate
    * makes buckets hot, and it is the side a production deployment
    * persists and can size offline. The batch side is never capped:
    * this keeps the operator's answer IDENTICAL to the streaming twin
    * ([[graft.streaming.DocStreams.incrementalDedup]]), where a
    * (band, bucket) window over the in-flight increment is not
    * stream-expressible. A pathological batch (one gram in a million
    * arriving docs) fans out on the join; the upstream fix there is
    * batch partitioning, not silent candidate drops.
    *
    * Returns (batch_id, hist_id, jaccard) for every candidate pair;
    * callers filter at their threshold. Complete above the banding
    * recall envelope: a pair at jaccard j is emitted with probability
    * 1 − (1 − j^rows)^bands (rows = numHashes/numBands).
    */
  def dedupAgainst(history: DataFrame, batch: DataFrame,
                   idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 32, numBands: Int = 8,
                   maxBucket: Int = 100): DataFrame = {
    require(numBands >= 1 && numHashes >= numBands && numHashes % numBands == 0,
      s"dedupAgainst: numHashes ($numHashes) must be a positive multiple " +
        s"of numBands ($numBands)")
    def shingled(df: DataFrame): DataFrame = df.select(col(idCol).as("id"),
      hashedShinglesCol(col(textCol), shingleN).as("sh"))
    // posexplode_outer + isNotNull: same optimizer-inlining defense as
    // minhashCandidates (a size(..)>0 filter would be pushed below the
    // projection with the banding kernel inlined per conjunct)
    def banded(sh: DataFrame): DataFrame = sh
      .select(col("id"),
        posexplode_outer(minhashBandsCol(col("sh"), numHashes, numBands))
          .as(Seq("band", "bucket")))
      .filter(col("band").isNotNull)
    def capped(b: DataFrame): DataFrame = b
      .withColumn("bsize",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bsize") <= maxBucket)
      .drop("bsize")
    val hsh = shingled(history)
    val bsh = shingled(batch)
    val candidates = banded(bsh).select(
        col("band"), col("bucket"), col("id").as("batch_id"))
      .join(capped(banded(hsh)).select(
        col("band"), col("bucket"), col("id").as("hist_id")),
        Seq("band", "bucket"))
      .select(col("batch_id"), col("hist_id"))
      .dropDuplicates("batch_id", "hist_id")
    candidates
      .join(bsh.select(col("id").as("batch_id"), col("sh").as("sh_b")), "batch_id")
      .join(hsh.select(col("id").as("hist_id"), col("sh").as("sh_h")), "hist_id")
      .select(col("batch_id"), col("hist_id"),
        jaccardSortedCol(col("sh_b"), col("sh_h")).as("jaccard"))
  }

  /** [[dedupAgainst]] convenience: the batch rows with NO historical
    * near-dup at `threshold` — what an ingest pipeline appends to the
    * corpus. One left-anti join against the scored pairs. */
  def novelAgainst(history: DataFrame, batch: DataFrame,
                   idCol: String, textCol: String, threshold: Double,
                   shingleN: Int = 3, numHashes: Int = 32, numBands: Int = 8,
                   maxBucket: Int = 100): DataFrame = {
    val dups = dedupAgainst(history, batch, idCol, textCol,
      shingleN, numHashes, numBands, maxBucket)
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"))
    batch.join(dups, batch(idCol) === dups("batch_id"), "left_anti")
  }

  /** Deletion neighborhood of depth ≤ k: all distinct strings obtainable
    * by deleting up to k characters (includes the string itself). The
    * SymSpell blocking guarantee: ed(a,b) ≤ k ⟹ the neighborhoods
    * intersect (take an optimal alignment; deleting the ≤k unmatched
    * characters from each side yields the same string), so equi-joining
    * on neighborhood keys is a COMPLETE candidate generator for a
    * Levenshtein-≤k join — a linear key-shuffle instead of a cross join.
    * Neighborhood size is O(len^k) per row (k is 1-2 in practice), the
    * right trade for name-length strings; longer texts should block on
    * PassJoin segments instead.
    */
  def deleteNeighborhood(s: String, k: Int): Array[String] = {
    if (s == null) return Array.empty
    var frontier = Set(s)
    val out = scala.collection.mutable.LinkedHashSet(s)
    var d = 0
    while (d < k) {
      frontier = frontier.flatMap(x =>
        (0 until x.length).map(i => x.substring(0, i) + x.substring(i + 1)))
      out ++= frontier
      d += 1
    }
    out.toArray
  }

  /** Delete-neighborhood as FNV-1a hashes computed in place — no variant
    * string is ever allocated (the k≤2 hot path hashes the original with
    * 0, 1, or 2 skipped positions). Equal variant strings hash equal by
    * construction; a distinct-variant collision (p ≈ 2⁻⁶⁴ per pair) can
    * only merge two candidate keys, which the exact refine absorbs.
    * k>2 falls back to the string neighborhood, hashed the same way. */
  def hashedDeleteNeighborhood(s: String, k: Int): Array[Long] = {
    if (s == null) return Array.empty[Long]
    val n = s.length
    def hashSkipping(skip1: Int, skip2: Int): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < n) {
        if (i != skip1 && i != skip2) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L }
        i += 1
      }
      h
    }
    if (k > 2) {
      return deleteNeighborhood(s, k).map { v =>
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < v.length) { h ^= v.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
        h
      }
    }
    val seen = new java.util.HashSet[java.lang.Long](2 * (1 + n + n * n / 2))
    val out = scala.collection.mutable.ArrayBuilder.make[Long]
    def add(h: Long): Unit = if (seen.add(h)) out += h
    add(hashSkipping(-1, -1))
    if (k >= 1) { var i = 0; while (i < n) { add(hashSkipping(i, -1)); i += 1 } }
    if (k >= 2) {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { add(hashSkipping(i, j)); j += 1 }
        i += 1
      }
    }
    out.result()
  }

  val hashedDeleteNeighborhoodUdf = udf(hashedDeleteNeighborhood _)

  /** All (id_a < id_b) pairs within Levenshtein distance ≤ maxDist, found
    * WITHOUT a cross join: explode delete-neighborhood keys, equi-join on
    * the key (one shuffle), dedup candidates, then refine with the exact
    * levenshtein. Complete by the neighborhood-intersection guarantee —
    * oracle-verifiable against a brute-force distance join.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String, maxDist: Int): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
    // join on the variant HASH, not the variant string: an 8-byte shuffle
    // key instead of a ~len-char one, and the hash is computed IN PLACE
    // (no variant string allocation). Pair generation goes through one
    // groupBy of that single pass — the neighborhood kernel runs once,
    // not once per join side.
    val keyed = base.select(col("id"),
      explode(deleteNeighborhoodHashesCol(col("s"), maxDist)).as("key"))
    // r18 measured negative result (FuzzyLab, OPTIMIZATION_r18.md): the
    // pre-refine dropDuplicates was suspected as the hot spot (740k
    // joined rows → 303k distinct pairs at sf0.1) and moving the dedup
    // AFTER the refine was tried — it measured 1.03 s → 3.5 s: the
    // duplicate-candidate refine (2.4× the attach-join and DP volume on
    // rows that still carry both strings) costs far more than the narrow
    // distinct saves. The dedup-before-refine shape stands.
    val candidates = keyed.select(col("key"), col("id").as("id_a"))
      .join(keyed.select(col("key"), col("id").as("id_b")), Seq("key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      // threshold form runs the banded O(len·k) DP and returns -1 past
      // the bound — exact distance for every kept row, ~len/k cheaper
      // than the full O(len²) matrix on the refine path
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0)
  }

  /** Sign-LSH near-dup candidates over an embedding column, with
    * INTEGER-EXACT bucketing: vectors are quantized to floor(x*1000+0.5)
    * longs, so the plane dot products (±1 components) are exact integer
    * sums — any engine that replays the same planes computes bit-identical
    * buckets (the oracle SQL does exactly that). Plan shape: band buckets
    * per row (codegen kernel, map-only) → explode (band, bucket) → ONE
    * exchange on (band, bucket) → skew cap → each bucket's pairs from
    * [[graft.plans.LshBucketPairs]] — the scale path that replaces the
    * all-pairs cosine product.
    */
  /** Column form of the fused sign-LSH banding kernel
    * ([[graft.plans.SignLshBuckets]], a codegen expression — no ScalaUDF
    * on the banding hot path, same promotion the minhash twin got with
    * `minhashBandBuckets`/`WordGramHashes`). Planes fold into the plan
    * as a flat ±1 literal. */
  def signLshBucketsCol(v: Column, planes: Array[Array[Double]],
                        numBands: Int, bitsPerBand: Int): Column = {
    require(planes.length >= numBands * bitsPerBand, "not enough planes")
    val flat = planes.take(numBands * bitsPerBand).flatten
    call_function("sign_lsh_buckets", v,
      lit(flat), lit(numBands), lit(bitsPerBand))
  }

  /** True when `vecCol` on `df` is `array<float>` — the LSH paths then
    * keep the un-widened floats through the banded exchange (half the
    * bytes per vector copy) and score them with the float decode of
    * [[graft.plans.LshBucketPairs]]; the banding kernel input alone is
    * cast (below the exchange, integer-exact quantization either way).
    * Measured r12 (LshLab): the double-array carry was ~70 ms of the
    * banded write stage on 2000x64 vectors. */
  private[graft] def vecIsFloat(df: DataFrame, vecCol: String): Boolean =
    df.select(col(vecCol)).schema.head.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }

  /** All band buckets packed into ONE long (band i's `bitsPerBand`-bit
    * bucket at bits [i·b, (i+1)·b)) — carried through the banded exchange
    * in place of the 8-long bucket ARRAY when they fit (numBands·b ≤ 64):
    * 8 bytes instead of ~80 (array header + null bitmap + elements) on
    * every exchanged row. Bit 63 may be a bucket's top bit; the pair
    * kernel masks after a logical shift. */
  private def packedBks(bks: Column, numBands: Int, bitsPerBand: Int): Column =
    (0 until numBands).map(i =>
      shiftleft(bks.getItem(i), i * bitsPerBand)).reduce(_ bitwiseOR _)

  /** Banded rows shared by the candidate/scored variants:
    * (id, <keep…>, [bks | __bksp], band, bucket), one row per (doc, band).
    * posexplode_OUTER + isNotNull on the GENERATED column: a non-outer
    * explode makes the optimizer infer `size(bks)>0 AND isnotnull(bks)`
    * and inline the banding kernel into that filter — the dot-product
    * kernel would run 3x per row. The outer form infers nothing and
    * null/empty `bks` cannot occur (fixed numBands output on a non-null
    * vector), so the post-filter drops only null-vector rows. */
  private def lshBands(df: DataFrame, idCol: String, vecCol: String,
                       planes: Array[Array[Double]], numBands: Int,
                       bitsPerBand: Int, keep: Seq[(String, Column)],
                       keepBks: Boolean = false,
                       packBks: Boolean = false): DataFrame = {
    val bandIn =
      if (vecIsFloat(df, vecCol)) col(vecCol).cast("array<double>")
      else col(vecCol)
    df
      .select(col(idCol).as("id") +: keep.map { case (n, c) => c.as(n) } :+
        signLshBucketsCol(bandIn, planes, numBands, bitsPerBand)
          .as("bks"): _*)
      .select((col("id") +: keep.map { case (n, _) => col(n) }) ++
        (if (keepBks) Seq(col("bks")) else Nil) ++
        (if (packBks) Seq(packedBks(col("bks"), numBands, bitsPerBand)
          .as("__bksp")) else Nil) ++
        Seq(posexplode_outer(col("bks")).as(Seq("band", "bucket"))): _*)
      .filter(col("band").isNotNull)
  }

  /** Every id-ordered pair within each bucket of `rows` (grouped by
    * `keys`) of at most `maxBucket` rows: (id_a, id_b, …) from
    * [[graft.plans.LshBucketPairs]] over the bucket's `members` (a struct
    * with fields id[, v, n][, bks], carry…). One exchange on `keys`:
    *  - a WINDOW-counted skew cap, not a groupBy + anti-join on the hot
    *    buckets: the window, the collect and the pair kernel all ride
    *    that one exchange (the window adds a per-partition sort, no
    *    shuffle), and the scan + banding kernel run once. A hot bucket
    *    is dropped by the spillable window before `collect_list` could
    *    hold it, so no group in memory exceeds `maxBucket` members.
    *  - a bucket's pairs come from one loop over its members, each
    *    vector decoded once: no m² joined rows, half of them rejected
    *    by `id_a < id_b`, each re-reading two `UnsafeArrayData`. */
  private[graft] def cappedBucketPairs(rows: DataFrame, keys: Seq[String],
                                       maxBucket: Int, members: Seq[Column],
                                       numBands: Int = 0,
                                       bitsPerBand: Int = 0): DataFrame = {
    val k = keys.map(col)
    rows
      .withColumn("__bsize", count(lit(1)).over(Window.partitionBy(k: _*)))
      .filter(col("__bsize") <= maxBucket)
      .groupBy(k: _*).agg(collect_list(struct(members: _*)).as("__members"))
      .select(call_function("lsh_bucket_pairs", col("__members"),
        lit(numBands), lit(bitsPerBand)))
  }

  def cosineLshCandidates(df: DataFrame, idCol: String, vecCol: String,
                          planes: Array[Array[Double]], numBands: Int,
                          bitsPerBand: Int, maxBucket: Int): DataFrame =
    cappedBucketPairs(lshBands(df, idCol, vecCol, planes, numBands, bitsPerBand, Nil),
      Seq("band", "bucket"), maxBucket, Seq(col("id")))
      .dropDuplicates("id_a", "id_b")

  /** Banded, capped, scored pairs: (id_a, id_b, cos, [band_collisions],
    * <c>_a, <c>_b …). Vectors (and any `carry` columns) ride the one
    * banded exchange and the cosine is computed in the pair kernel, so
    * only NARROW rows (ids, score, carried scalars) leave the bucket
    * stage. Norms are computed ONCE PER VECTOR below the exchange (r11):
    * per pair only the cross dot remains. `collisions` adds each pair's
    * band-agreement count, from the band buckets carried packed into one
    * long when they fit (r12: ~72 fewer bytes per exchanged row). */
  private def cosineLshPairs(df: DataFrame, idCol: String, vecCol: String,
                             planes: Array[Array[Double]], numBands: Int,
                             bitsPerBand: Int, maxBucket: Int, carry: Seq[String],
                             collisions: Boolean): DataFrame = {
    require(!carry.exists(Set("id", "v", "n", "bks")),
      s"carry columns may not be named id, v, n or bks: ${carry.mkString(", ")}")
    val normC =
      if (vecIsFloat(df, vecCol)) Similarity.normF(col(vecCol))
      else Similarity.norm(col(vecCol))
    val packed = collisions && numBands * bitsPerBand <= 64
    val banded = lshBands(df, idCol, vecCol, planes, numBands, bitsPerBand,
      carry.map(c => c -> col(c)) :+ ("__v" -> col(vecCol)) :+ ("__n" -> normC),
      keepBks = collisions && !packed, packBks = packed)
    val bks =
      if (!collisions) Nil
      else Seq(col(if (packed) "__bksp" else "bks").as("bks"))
    cappedBucketPairs(banded, Seq("band", "bucket"), maxBucket,
      Seq(col("id"), col("__v").as("v"), col("__n").as("n")) ++ bks ++ carry.map(col),
      numBands, bitsPerBand)
  }

  /** Sign-LSH candidates with the exact-cosine refine FUSED into the
    * bucket stage ([[cosineLshPairs]]): no post-candidate id-joins — at
    * scale those were two extra shuffles of the whole embedding table
    * plus two join stages per refine. A near-dup pair colliding in k
    * bands computes its cosine k times before the pair-dedup shuffle —
    * k·dim multiply-adds, cheaper than one extra shuffle join at any k
    * in use.
    *
    * Output: (id_a, id_b, cos, <c>_a, <c>_b …) — one row per candidate
    * pair, cos and carried values identical whichever band produced it.
    */
  def cosineLshScoredPairs(df: DataFrame, idCol: String, vecCol: String,
                           planes: Array[Array[Double]], numBands: Int,
                           bitsPerBand: Int, maxBucket: Int,
                           carry: Seq[String] = Nil): DataFrame =
    cosineLshPairs(df, idCol, vecCol, planes, numBands, bitsPerBand, maxBucket,
      carry, collisions = false)
      .dropDuplicates("id_a", "id_b")

  /** [[cosineLshScoredPairs]] WITHOUT the pair-dedup shuffle: a pair
    * colliding in k bands is emitted k times, each row carrying
    * `band_collisions` = k (the count of bands where both sides' bucket
    * words agree, computed in the pair kernel — no exchange). A
    * downstream DUPLICATE-INSENSITIVE aggregate can then
    * recover exact distinct-pair statistics by weighting each row
    * 1/band_collisions (integer-exactly: weight L/k with L a multiple of
    * lcm(1..numBands), then divide the summed weight by L), folding the
    * dedup into an aggregation it was already going to shuffle for —
    * one barrier fewer than the dropDuplicates form at any scale.
    *
    * Cap interplay (the reason this is a separate variant, not the
    * default): `band_collisions` counts collisions over ALL bands, but
    * pairs are emitted only for buckets that SURVIVED the skew cap. If a
    * pair collides in a capped (hot) bucket AND a cold one, its emitted
    * multiplicity is less than `band_collisions` and the weighted sum
    * under-counts. A per-group divisibility-by-L assert downstream
    * catches any SINGLE such pair (m of m' colliding bands emitted sums
    * to m·L/m', never a multiple of L for 0 < m < m'), but compensating
    * errors can cancel (two half-counted pairs sum to exactly L), so the
    * assert is a tripwire, not a proof — the exactness GUARANTEE is only
    * for corpora where no emitted pair overlaps a hot bucket (hot
    * buckets are the degenerate tail the cap exists to skip; the oracle
    * verification hashes full results, so residual drift is caught at
    * the gate). Fall back to [[cosineLshScoredPairs]] for corpora with
    * hot-bucket overlap.
    */
  /** @param verifyCollisions debug/verify mode: additionally assert,
    *   per PAIR, that the pair appears in exactly `band_collisions`
    *   surviving buckets — the precondition under which the caller's
    *   L/band_collisions weighting is exact. The default path only
    *   tripwires divisibility per GROUP, where compensating errors
    *   across pairs can cancel; this check cannot be fooled but costs
    *   one extra (id_a, id_b) shuffle, so it is off on the hot path. */
  def cosineLshScoredPairsWeighted(df: DataFrame, idCol: String, vecCol: String,
                                   planes: Array[Array[Double]], numBands: Int,
                                   bitsPerBand: Int, maxBucket: Int,
                                   carry: Seq[String] = Nil,
                                   verifyCollisions: Boolean = false): DataFrame = {
    val scored = cosineLshPairs(df, idCol, vecCol, planes, numBands, bitsPerBand,
      maxBucket, carry, collisions = true)
    if (!verifyCollisions) scored
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id_a"), col("id_b"))
      scored
        .withColumn("__pair_rows", count(lit(1)).over(w))
        .withColumn("__chk", assert_true(
          col("__pair_rows") === col("band_collisions"),
          lit("LSH weighted pair-dedup precondition violated: a pair " +
            "overlaps a capped hot bucket — its weight would under-count; " +
            "use the dropDuplicates variant for this corpus")))
        .filter(col("__chk").isNull)
        .drop("__pair_rows", "__chk")
    }
  }

  /** EXACT Jaccard-threshold pair join via the PREFIX FILTER (Bayardo et
    * al., "Scaling Up All Pairs Similarity Search"): under a global token
    * order, jac(A,B) ≥ t implies A and B share a token among their first
    * |S| - ⌈t·|S|⌉ + 1 sorted tokens (the smallest element of A∩B is
    * preceded only by non-shared elements in each set). So an equi-join
    * on prefix tokens is a COMPLETE candidate generator: one key shuffle
    * of ~(1-t)·Σ|S| rows instead of a quadratic product, then an exact
    * two-pointer refine. The deterministic-exact counterpart of
    * [[minhashCandidates]] — use MinHash when approximate recall is
    * acceptable, this when the answer must be exact.
    */
  def jaccardThresholdPairs(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, threshold: Double,
                            freqOrdered: Boolean = true,
                            materialize: Boolean = true): DataFrame = {
    // hashedShingles returns sorted distinct longs — numeric order is A
    // global token order (any fixed total order satisfies the prefix
    // lemma)
    //
    // r18 (guide §8.4 "decide with small rows, move big rows once" +
    // §3.3 materialize reused intermediates): the shingled corpus is
    // read FOUR times by this pipeline (prefix side A, prefix side B,
    // refine side A, refine side B), and Catalyst additionally
    // re-evaluates the shingle kernel inside the pushed size/notnull
    // filter — the before-plan (91246ba:plans/r18/dedup_prefix_filter_before.txt)
    // shows 4 duplicated scan→shingle subtrees and 2 duplicated
    // dfreq-aggregate+window subtrees. One eager localCheckpoint of the
    // (id, shingles) rows, and one of the tiny prefix-token relation,
    // computes each ONCE; every downstream leg reads the materialized
    // rows. At corpus scale this is the §8 fingerprint-pass pattern
    // (tokenize once, decide on the small proxy); `materialize = false`
    // restores the inline plan.
    val shAll = df
      .select(col(idCol).as("id"),
        hashedShinglesCol(col(textCol), shingleN).as("sh"))
    val sh = (if (materialize) shAll.localCheckpoint() else shAll)
      .filter(size(col("sh")) > 0)
    // epsilon guards fp overshoot: t·|S| that is mathematically integral
    // can evaluate just above it (0.8*90 = 72.000000000000004), and an
    // overshot ceil would shorten the prefix below the completeness
    // bound; a longer prefix only adds candidates
    val prefLen =
      (size(col("sh")) - ceil(lit(threshold) * size(col("sh")) - 1e-9) + 1)
        .cast("int")
    // Prefix token choice. Hash order is correct but scale-hostile: a
    // FREQUENT token that happens to hash small sits in the prefix of
    // every document containing it — one hot join key, quadratic
    // candidates. Bayardo's canonical order is ascending document
    // frequency: prefixes then hold each document's RAREST tokens, so
    // join keys are rare by construction and candidate volume collapses.
    // Any fixed total order preserves completeness (the lemma only needs
    // the order to be global), and the refine below always scores the
    // ORIGINAL shingle sets — so both paths return identical pairs; the
    // df-computation costs two extra token-key shuffles (dfreq aggregate
    // + join), which the candidate reduction repays many times over at
    // corpus scale. The per-id window is per-document work; the dfreq
    // aggregate is vocabulary-sized (bounded by |alphabet|^n for char
    // n-grams), not corpus-sized.
    val pre0 =
      if (!freqOrdered)
        sh.select(col("id"), explode(slice(col("sh"), lit(1), prefLen)).as("tok"))
      else {
        val toks = sh.select(col("id"), size(col("sh")).as("sz"),
          explode(col("sh")).as("tok"))
        val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("dfreq"))
        toks.join(dfreq, "tok")
          .withColumn("pos", row_number().over(
            Window.partitionBy("id").orderBy(col("dfreq"), col("tok"))))
          .filter(col("pos") <=
            col("sz") - ceil(lit(threshold) * col("sz") - 1e-9) + 1)
          .select(col("id"), col("tok"))
      }
    // the prefix relation feeds BOTH sides of the candidate self-join —
    // materialized it is computed (dfreq aggregate + per-id window)
    // once instead of twice; rows ≈ (1−t)·Σ|sh| (small by construction)
    val pre = if (materialize) pre0.localCheckpoint() else pre0
    val candidates = pre.select(col("tok"), col("id").as("id_a"))
      .join(pre.select(col("tok"), col("id").as("id_b")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardSortedCol(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** DuckDB `VALUES (pid, [±1.0, …])` rows for replaying
    * [[cosineLshCandidates]]' literal hyperplanes in an oracle query. */
  def planesSqlValues(planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.map(x => if (x > 0) "1.0" else "-1.0").mkString(",")}])"
    }.mkString(",\n    ")

  // ---- dedup clustering: connected components over near-dup pairs ----

  /** Distributed connected components via alternating large-star /
    * small-star rounds — the step that turns near-dup PAIRS (from
    * [[minhashCandidates]] / [[jaccardThresholdPairs]] / [[fuzzyPairs]])
    * into canonical dedup GROUPS. The reference reaches clusters through
    * its recursive-CTE machinery (duckdb-internal.hpp `LogicalRecursiveCTE`,
    * duckdb-9.cpp binder); a faithful translation would iterate
    * O(diameter) joins. Large-star/small-star instead converges in
    * O(log^2 n) rounds regardless of graph shape, each round one
    * group-by-key shuffle plus one co-partitioned join — the shape that
    * survives a 100 TB edge list.
    *
    * Input: an edge list (two integral id columns). Output: one row per
    * node incident to an edge, `(id, comp)` with `comp` = the minimum
    * node id in its component (deterministic canonical representative).
    *
    * Two-tier (same design as [[Recursion.fixpoint]]): an edge set at or
    * under `localEdgeLimit` is resolved with driver-local union-find
    * (microseconds; skips ~10 scheduler round-trips that dominate at
    * test scale), larger sets run the distributed star loop. Both tiers
    * produce the identical mapping.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxRounds: Int = 50,
                          localEdgeLimit: Long = 100000L): DataFrame = {
    def orientMaxFirst(df: DataFrame): DataFrame = df
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct()

    def checksum(df: DataFrame): (Long, BigDecimal) = {
      // decimal sum: ANSI-safe (no long overflow) and order-independent
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }

    var e = orientMaxFirst(edges.select(
      col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")))
      .localCheckpoint()
    var prev = checksum(e)
    if (prev._1 <= localEdgeLimit) {
      val spark = edges.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val p = parent(c); parent(c) = r; c = p }
        r
      }
      e.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val keys = parent.keySet.toArray ++
        parent.values.toArray.filterNot(parent.contains)
      return keys.distinct.map(k => (k, find(k))).toSeq.toDF("id", "comp")
    }
    var converged = prev._1 == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star: every neighbor w > u re-links to u's neighborhood
      // minimum m = min(N(u) ∪ {u}); one shuffle on u (groupBy + join
      // share the partitioning)
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
      val lsOriented = orientMaxFirst(ls).localCheckpoint()
      // small-star: edges already point max→min; every smaller neighbor
      // (and u itself) re-links to m = min(N(u))
      val mins2 = lsOriented.groupBy("u").agg(min(col("v")).as("m"))
      val ss = lsOriented.join(mins2, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .union(mins2.select(col("u").as("a"), col("m").as("b")))
      val next = orientMaxFirst(ss).localCheckpoint()
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      e = next
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // e is now a star forest oriented (member, root)
    e.select(col("u").as("id"), col("v").as("comp"))
      .union(e.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** One-call corpus canonicalization: every row gains a `canonical_id`
    * column — the minimum id of its near-duplicate cluster (exact
    * threshold Jaccard ≥ `threshold` via the prefix filter, clusters via
    * [[connectedComponents]]); rows with no near-dup map to themselves.
    * The composition a training-data pipeline actually calls: dedup =
    * `canonicalize(...).filter(col(idCol) === col("canonical_id"))`.
    */
  def canonicalize(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    val pairs = jaccardThresholdPairs(df, idCol, textCol, shingleN, threshold)
    val mapping = connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "__cc_id")
    // plain equi-join: AQE broadcasts the mapping when it is actually
    // small (the usual case — only clustered ids appear); forcing a
    // broadcast hint would be wrong on a high-duplication corpus
    df.join(mapping, df(idCol) === mapping("__cc_id"), "left")
      .withColumn("canonical_id",
        coalesce(col("comp"), df(idCol).cast("long")))
      .drop("__cc_id", "comp")
  }

  /** 64-bit SimHash over whitespace tokens (deterministic; seed via
    * xxhash64). Scalar per-row computation — used as a UDF.
    */
  def simhash64(text: String): Long = {
    if (text == null) return 0L
    val tokens = text.split(" ")
    if (tokens.isEmpty) return 0L
    val acc = new Array[Int](64)
    tokens.foreach { tok =>
      // FNV-1a 64-bit — stable, dependency-free
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < tok.length) { h ^= tok.charAt(i); h *= 0x100000001b3L; i += 1 }
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** Hamming distance between two simhash values. */
  def simhashDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
