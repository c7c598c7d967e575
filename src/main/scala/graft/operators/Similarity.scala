package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column.
  *
  * Baseline is brute-force cosine top-k (broadcast the query set, scan
  * the corpus once — the right plan at any corpus size when the query set
  * is small). The scale path is LSH bucketing (random hyperplanes): one
  * shuffle on the bucket key instead of a full cross product.
  */
object Similarity {

  /** dot(a, b) over two array<double> columns — the native codegen'd
    * [[graft.plans.ArrayDot]] expression (installed by GraftExtensions). */
  def dot(a: Column, b: Column): Column = call_function("array_dot", a, b)

  /** [[dot]] over `array<float>` columns, accumulated in double with each
    * element widened first — bit-identical to dot-after-cast-to-double at
    * half the bytes (see [[graft.plans.ArrayDotFloat]]). Use when the
    * vectors ride a shuffle: un-widened float arrays halve the exchange. */
  def dotF(a: Column, b: Column): Column = call_function("array_dot_float", a, b)

  /** L2 norm of an array<float> column (double result, exact widening). */
  def normF(v: Column): Column = sqrt(dotF(v, v))

  /** L2 norm of an array<double> column. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** dot / (normA·normB), or -1.0 where that product is 0: DuckDB 1.0's
    * `list_cosine_similarity` of a zero vector, where the bare divide
    * fails the query with DIVIDE_BY_ZERO. Each norm is read twice, so
    * pass columns computed once per vector. */
  def cosineFromNorms(dotAB: Column, normA: Column, normB: Column): Column = {
    val denom = normA * normB
    when(denom === 0.0, lit(-1.0)).otherwise(dotAB / denom)
  }

  /** Cosine similarity of two array<double> columns. */
  def cosine(a: Column, b: Column): Column = cosineFromNorms(dot(a, b), norm(a), norm(b))

  /** Brute-force cosine top-k: for each query vector (small set,
    * broadcast), the k nearest corpus vectors. Corpus-side norm is
    * computed once per row; the join is a broadcast nested loop — a
    * single corpus scan, no shuffle of the corpus itself; the only
    * shuffle is the final per-query top-k (tiny: k rows per query after
    * partial TopK).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cnorm", norm(col("cv")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qnorm", norm(col("qv")))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosineFromNorms(dot(col("qv"), col("cv")), col("qnorm"), col("cnorm")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("rn").cast("long").as("rn"), col("sim"))
  }

  /** Deterministic random hyperplanes: `numPlanes` × `dim`, components in
    * {-1, +1} from a seeded PRNG (sign-random projections preserve cosine
    * similarity in expectation). Small — intended for literal broadcast.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** Sign-LSH bucket id: bit p = sign(dot(v, plane_p)). Expression-only
    * (the planes are folded in as literals), no shuffle.
    */
  def lshBucket(vecCol: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(vecCol, planeLit) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Per-row scores against driver-known centroids, folded in as literal
    * arrays: score_i = dot(v, c_i)/|c_i|. |v| is a per-row constant, so
    * the argmax over i equals the cosine argmax — no need to divide by it.
    * Everything stays inside whole-stage codegen; zero joins, zero
    * shuffles.
    */
  private def centroidScores(vecCol: Column,
                             centroids: Array[(Int, Array[Double])]): Array[Column] =
    centroids.map { case (cid, cv) =>
      val n = { val s = math.sqrt(cv.map(x => x * x).sum); if (s == 0) 1.0 else s }
      struct((dot(vecCol, array(cv.map(lit).toIndexedSeq: _*)) / n).as("s"),
        lit(cid).as("cid"))
    }

  /** Assign each vector to its nearest centroid (score_i =
    * dot(v, c_i)/|c_i| — |v| is a per-row constant, so the argmax over i
    * equals the cosine argmax). Centroids are k driver-known rows —
    * assignment is a pure map stage, zero joins/shuffles (the old
    * crossJoin(broadcast)+groupBy(min_by) pushed n×k rows through a
    * shuffle per call). Runs as the codegen [[graft.plans.CentroidAssign]]
    * expression: the centroid table is a runtime reference object, so
    * k-means iterations with fresh centroids reuse the SAME generated
    * class (no per-iteration recompile — the concern that once justified
    * a closure UDF here), and the scan stage keeps whole-stage codegen.
    */
  def assignToCentroids(vectors: DataFrame,
                        centroids: Array[(Int, Array[Double])]): DataFrame = {
    val cidsLit = typedLit(centroids.map(_._1).toSeq)
    val vecsLit = typedLit(centroids.map(_._2.toSeq).toSeq)
    vectors.withColumn("cid",
      call_function("centroid_assign", col("v"), cidsLit, vecsLit))
  }

  /** Lloyd k-means over array<double> vectors (no MLlib), the way a
    * coarse IVF quantizer is actually trained at scale: Lloyd iterations
    * run DRIVER-LOCALLY on a bounded deterministic sample (first
    * `sampleCap` by id — one TakeOrdered job; FAISS trains IVF on a
    * corpus sample the same way), then, only if the corpus exceeded the
    * sample, ONE distributed refinement pass over the full data via the
    * partial-aggregable vector-sum Aggregator (map-side combine reduces
    * each partition to k×dim doubles before the k-row shuffle). Total
    * cluster work: 1 sample job + at most 1 full scan, independent of
    * iteration count. Returns driver-side centroids (k is small).
    */
  /** Distributed Lloyd k-means over an embedding column with INTEGER-
    * EXACT arithmetic (Lloyd 1982; the semantic-clustering step of a
    * training-data pipeline — diversity sampling, semantic dedup,
    * per-cluster quota). Vectors are quantized to floor(x·scale+0.5)
    * longs; distances are exact int64 squared-L2 sums; the centroid
    * update is an exact long vecsum + floor division; argmin ties break
    * to the lowest centroid id via a composite (dist·k + j) key. Every
    * step is order-independent integer math, so ANY engine replaying the
    * recipe on the same inputs computes the bit-identical assignment —
    * double addition would diverge in the low bits between distributed
    * and single-node sums and flip boundary assignments.
    *
    * Scale shape: centroids live in the plan as literals (k·dim longs).
    * Each iteration is one corpus map pass (k·dim codegen mult-adds per
    * row) + a k-row partial-aggregated shuffle; the final assignment is
    * map-only. The corpus is NEVER shuffled, collected, or cached; the
    * only driver state is the k×dim centroid table. Init is the k
    * lowest-id vectors (deterministic; k driver rows).
    */
  def semanticClusters(corpus: DataFrame, idCol: String, vecCol: String,
                       k: Int, iterations: Int, scale: Long = 1000L): DataFrame =
    semanticAssignments(corpus, idCol, vecCol, k, iterations, scale)
      .select(col("id"), col("cid"))

  /** [[semanticClusters]] keeping the quantized vector: (id, w, cid) in
    * ONE corpus pass — consumers that need both the assignment and the
    * vector (e.g. [[semDedup]]'s within-cluster cosine) read this
    * instead of joining the assignment back to a second corpus scan. */
  def semanticAssignments(corpus: DataFrame, idCol: String, vecCol: String,
                          k: Int, iterations: Int,
                          scale: Long = 1000L): DataFrame = {
    require(k >= 1, "semanticClusters: k must be >= 1")
    require(iterations >= 0, "semanticClusters: iterations >= 0")
    // null/empty vectors are excluded up front (they have no distance to
    // any centroid); vectors are assumed FIXED-DIMENSION, like every
    // embedding path in this module.
    val wq = transform(col(vecCol).cast("array<double>"),
      x => floor(x * lit(scale.toDouble) + lit(0.5)).cast("long"))
    val base = corpus
      .filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol).as("id"), wq.as("w"))
    // Offline/serving split, same shape (and same memo-key scheme) as
    // the IVF quantizer memo below: Lloyd training is driver-synchronous
    // (init collect + guard + one collect per iteration) and its result
    // depends only on (corpus plan, params), so first call per key
    // trains and later calls serve the stored table — a repeated
    // pipeline (cluster, then semDedup over the same corpus) pays
    // training once. Keyed on [[graft.Engine.planKey]] (the FULL plan
    // text plus the input files, not a 32-bit semanticHash — a hash
    // collision would silently serve the wrong centroids); the SQL oracle
    // replays training from scratch each run, so a stale/wrong memo hit
    // cannot pass verification. Plans whose text does NOT capture their
    // data (LocalRelation etc.) have no key and bypass the memo.
    val centroids = graft.Engine.planKey(corpus) match {
      case Some(key) =>
        centroidMemo.getOrCompute((key, idCol, vecCol, k, iterations, scale))(
          trainLloyd(base, k, iterations))
      case None => trainLloyd(base, k, iterations)
    }
    // Assignment runs as ONE codegen expression
    // ([[graft.plans.ArgminSqDistLong]]): argmin of the exact integer
    // squared distance over the whole centroid table, first-wins ties;
    // the table rides as runtime reference objects, so fresh centroid
    // values reuse the SAME generated class.
    val vecsLit = typedLit(centroids.map(_.toSeq).toSeq)
    base.select(col("id"), col("w"),
      call_function("argmin_sqdist_long", col("w"), vecsLit)
        .cast("int").as("cid"))
  }

  /** Bounded per-JVM model memo (LRU on access): an unbounded map would
    * grow for the process lifetime in a service that clusters many
    * distinct corpora — each entry holds k·dim values plus a full
    * [[graft.Engine.planKey]] string. Eviction only costs a retrain.
    *
    * Concurrency: the map lock is held only for get/put; the training
    * thunk runs OUTSIDE it inside a per-key [[java.util.concurrent.FutureTask]]
    * latch, so a multi-minute Lloyd training on one corpus never blocks
    * memo hits (or concurrent trainings) for other keys, while two
    * threads racing on the SAME key still train exactly once. A failed
    * training removes its latch so the next caller retries instead of
    * replaying a cached exception forever. */
  private final class ModelMemo[K, V <: AnyRef](cap: Int) {
    private type Cell = java.util.concurrent.FutureTask[V]
    private val m = new java.util.LinkedHashMap[K, Cell](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, Cell]): Boolean =
        size() > cap
    }
    def getOrCompute(k: K)(f: => V): V = {
      val cell = m.synchronized {
        val hit = m.get(k)
        if (hit != null) hit
        else {
          val t = new Cell(() => f)
          m.put(k, t)
          t
        }
      }
      cell.run() // no-op unless this thread installed the (fresh) task
      try cell.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          m.synchronized { if (m.get(k) eq cell) m.remove(k) }
          throw e.getCause
      }
    }
  }

  private val centroidMemo = new ModelMemo[
    (String, String, String, Int, Int, Long), Array[Array[Long]]](64)

  private def trainLloyd(base: DataFrame, k: Int,
                         iterations: Int): Array[Array[Long]] = {
    var centroids: Array[Array[Long]] = base.orderBy(col("id")).limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    require(centroids.nonEmpty, "semanticClusters: empty corpus")
    // Exactness envelope (asserted, not assumed): the double dot-product
    // identity is exact only while every product and partial sum stays
    // below 2^53, and the driver-side cc = Σc_i² long fold must not
    // overflow 2^63. Both hold when dim·maxAbs² < 2^52 (centroid entries
    // are floor-averages of quantized values, so bounded by the same
    // maxAbs). One up-front guard pass over the FULL corpus — a
    // projection + 1-row max aggregate, the cheapest scan shape there
    // is — so a large `scale` or unnormalized embeddings fail loudly
    // with a named error instead of silently degrading the
    // bit-exactness contract (or surfacing as an opaque ANSI cast
    // overflow mid-iteration).
    val dim0 = centroids.map(_.length).max
    val corpusMax = base
      .agg(max(array_max(transform(col("w"), x => abs(x))))).head()
    if (!corpusMax.isNullAt(0))
      require(dim0 * corpusMax.getLong(0).toDouble * corpusMax.getLong(0).toDouble
          < math.pow(2, 52),
        s"semanticClusters: quantized magnitude bound exceeded " +
          s"(max|w_i| = ${corpusMax.getLong(0)}, dim = $dim0 requires " +
          "dim*max|w|^2 < 2^52); reduce `scale` or normalize the embeddings")
    // (codegen-cache note: the argmin expression carries the centroid
    // table as runtime reference objects — see the assignment in
    // [[semanticAssignments]] — so each Lloyd iteration with fresh
    // centroid values reuses the SAME generated class; the previous
    // `least(k composite expressions)` form re-embedded k·dim literals
    // per iteration and paid a full Janino recompile each time,
    // measured ~3.7 s/iteration at k = 64 on an 8.5k-row corpus.)
    def assignCol: Column = {
      val vecsLit = typedLit(centroids.map(_.toSeq).toSeq)
      call_function("argmin_sqdist_long", col("w"), vecsLit)
    }
    val vecsumLong = udaf(graft.functions.Aggs.VecSumLongAgg)
    for (_ <- 0 until iterations) {
      val updated = base.withColumn("cid", assignCol)
        .groupBy(col("cid"))
        .agg(vecsumLong(col("w")).as("s"), count(lit(1)).as("n"))
        .collect()
        .filter(r => !r.isNullAt(0) && !r.isNullAt(1)) // ragged-dim guard
        .map(r => r.getInt(0) -> ((r.getSeq[Long](1).toArray, r.getLong(2))))
        .toMap
      centroids = centroids.zipWithIndex.map { case (old, j) =>
        updated.get(j) match {
          case Some((s, n)) => s.map(x => Math.floorDiv(x, n))
          case None => old // empty cell keeps its centroid
        }
      }
    }
    centroids
  }

  /** Per-JVM memo of trained IVF coarse quantizers, keyed on the
    * corpus's [[graft.Engine.planKey]] (plan text plus input files) and
    * every training parameter. An IVF index is trained OFFLINE and
    * served many times in any production ANN system (FAISS/ScaNN build
    * once, probe millions) — retraining per query would be the modeling
    * error. A corpus planned after one of its files is rewritten or
    * added has a new key, so it retrains.
    */
  private val quantizerMemo = new ModelMemo[
    (String, String, String, Int, Int, Int), Array[(Int, Array[Double])]](64)

  /** [[kmeansCentroids]] through the offline-index memo: first call per
    * (corpus plan, params) trains, later calls serve the stored
    * centroids with zero cluster work. The key is the FULL plan text
    * plus the input files ([[graft.Engine.planKey]]), not a 32-bit
    * semanticHash — a hash collision between two different corpora
    * would silently serve the wrong centroids JVM-wide. */
  def kmeansCentroidsCached(corpus: DataFrame, idCol: String, vecCol: String,
                            k: Int, iterations: Int,
                            sampleCap: Int = 65536): Array[(Int, Array[Double])] = {
    graft.Engine.planKey(corpus) match {
      case Some(key) =>
        quantizerMemo.getOrCompute((key, idCol, vecCol, k, iterations, sampleCap))(
          kmeansCentroids(corpus, idCol, vecCol, k, iterations, sampleCap))
      case None => kmeansCentroids(corpus, idCol, vecCol, k, iterations, sampleCap)
    }
  }

  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iterations: Int,
                      sampleCap: Int = 65536): Array[(Int, Array[Double])] = {
    val v = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val sampleRows = v.orderBy(col("id")).limit(sampleCap + 1).collect()
    val truncated = sampleRows.length > sampleCap
    val sample = sampleRows.take(sampleCap).map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "kmeansCentroids: empty corpus")
    var centroids: Array[(Int, Array[Double])] =
      sample.take(k).zipWithIndex.map { case (cv, i) => (i, cv) }
    // same scoring as assignToCentroids: argmax of dot(v, c)/|c|,
    // first-wins ties — the two assignment paths must agree
    def assignLocal(x: Array[Double], cs: Array[(Int, Array[Double])]): Int = {
      var best = 0
      var bestS = Double.NegativeInfinity
      var i = 0
      while (i < cs.length) {
        val cv = cs(i)._2
        val nrm = { val s = math.sqrt(cv.map(c => c * c).sum); if (s == 0) 1.0 else s }
        val n = math.min(cv.length, x.length)
        var s = 0.0
        var j = 0
        while (j < n) { s += x(j) * cv(j); j += 1 }
        s /= nrm
        if (s > bestS) { bestS = s; best = i }
        i += 1
      }
      best
    }
    for (_ <- 0 until iterations) {
      val dim = centroids.map(_._2.length).max
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { x =>
        val c = assignLocal(x, centroids)
        val n = math.min(dim, x.length)
        var j = 0
        while (j < n) { sums(c)(j) += x(j); j += 1 }
        counts(c) += 1
      }
      centroids = centroids.zipWithIndex.map { case ((cid, old), i) =>
        if (counts(i) == 0) (cid, old) // empty cell keeps its centroid
        else (cid, sums(i).map(_ / counts(i)))
      }
    }
    if (truncated) {
      val vecsum = udaf(graft.functions.Aggs.VecSumAgg)
      val updated = assignToCentroids(v, centroids)
        .groupBy(col("cid"))
        .agg(vecsum(col("v")).as("vs"), count(lit(1)).as("n"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray.map(_ / r.getLong(2)))
        .toMap
      centroids = centroids.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
    }
    centroids
  }

  /** IVF approximate NN: coarse-quantize the corpus into k-means cells,
    * probe only the `nProbe` cells nearest each query — corpus is
    * scanned once for assignment, search touches ~nProbe/k of the data.
    * The inverted-file scale path alongside sign-LSH. The corpus never
    * shuffles: assignment is a map stage and the probe set (queries ×
    * nProbe, small by contract) broadcasts onto it.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              numCells: Int, nProbe: Int, k: Int, trainIterations: Int = 3): DataFrame = {
    val centroids = kmeansCentroids(corpus, idCol, vecCol, numCells, trainIterations)
    val v = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val assigned = assignToCentroids(v, centroids).withColumn("vnorm", norm(col("v")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qnorm", norm(col("qv")))
    // nProbe nearest cells per query: literal centroid scores sorted
    // per-row — no crossJoin, no window shuffle over the query set
    val cells = array(centroidScores(col("qv"), centroids).toIndexedSeq: _*)
    val probes = q
      .select(col("qid"), col("qv"), col("qnorm"),
        explode(slice(reverse(array_sort(cells)), 1, nProbe).getField("cid")).as("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    assigned.join(broadcast(probes), "cid")
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"),
        cosineFromNorms(dot(col("qv"), col("v")), col("qnorm"), col("vnorm")).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("rn").cast("long").as("rn"), col("sim"))
  }

  /** IVF + exact-recall report for a DRIVER-KNOWN query set, fused into
    * ONE corpus scan and ONE exchange — the serving-path shape of
    * `sim_ivf_topk`'s contract check. The generic [[ivfTopK]] +
    * [[cosineTopK]] + join composition pays ~8 barriers (two window
    * shuffles, a hits join, two aggregates); when the query set is
    * driver-resident (the normal ANN serving case: queries arrive at
    * the coordinator), both rankings collapse into one pass:
    *
    *   scan → per-row: cid (centroid closure), per-query sim +
    *   probe-membership (query vectors/probe cells are plan literals) →
    *   per-map-task top-k ([[RecallTopK]], partial) → ONE (qid)
    *   exchange of at most 2k rows per query and task → merged top-k.
    *
    * Probe-cell selection replicates [[ivfTopK]]'s in-plan
    * `array_sort(struct(s, cid))` semantics exactly (ascending (s, cid),
    * reversed, first nProbe) with the same sequential-dot IEEE
    * arithmetic, so the candidate sets match the operator's. At 100 TB
    * the corpus still never shuffles, and neither do its (qid, sim)
    * pairs: each map task sends its own top-k per query.
    *
    * Returns (qid, n_results, recall_ok): n_results = IVF hits in its
    * top-k, recall_ok = |IVF top-k ∩ exact top-k| ≥ minHits.
    */
  def ivfRecallReport(corpus: DataFrame, idCol: String, vecCol: String,
                      queries: Array[(Long, Array[Double])],
                      centroids: Array[(Int, Array[Double])],
                      nProbe: Int, k: Int, minHits: Int): DataFrame =
    ivfRecallCounts(ivfScored(corpus, idCol, vecCol, queries, centroids, nProbe), k)
      .select(col("qid"), col("n_results"), (col("n_hits") >= minHits).as("recall_ok"))

  /** Every (qid, nid ≠ qid) pair of the corpus with its cosine `sim` and
    * `is_cand` (nid's cell is among the query's nProbe probe cells). */
  private[graft] def ivfScored(corpus: DataFrame, idCol: String, vecCol: String,
                               queries: Array[(Long, Array[Double])],
                               centroids: Array[(Int, Array[Double])],
                               nProbe: Int): DataFrame = {
    def probeCells(qv: Array[Double]): Array[Int] = {
      // mirror of centroidScores + array_sort + reverse + slice: sort
      // ascending by (score, cid), reverse, take nProbe
      val scored = centroids.map { case (cid, cv) =>
        val nrm = { val s = math.sqrt(cv.map(x => x * x).sum); if (s == 0) 1.0 else s }
        val n = math.min(cv.length, qv.length)
        var s = 0.0; var j = 0
        while (j < n) { s += qv(j) * cv(j); j += 1 }
        (s / nrm, cid)
      }
      scored.sortBy(identity).reverse.take(nProbe).map(_._2)
    }
    val qStructs = queries.map { case (qid, qv) =>
      struct(lit(qid).as("qid"),
        array(qv.map(lit).toIndexedSeq: _*).as("qv"),
        lit(math.sqrt(qv.map(x => x * x).sum)).as("qnorm"),
        array(probeCells(qv).map(lit).toIndexedSeq: _*).as("cells"))
    }
    val v = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    assignToCentroids(v, centroids)
      .select(col("id").as("nid"), col("cid"), col("v"), norm(col("v")).as("vnorm"),
        explode(array(qStructs.toIndexedSeq: _*)).as("q"))
      .filter(col("q.qid") =!= col("nid"))
      .select(col("q.qid").as("qid"), col("nid"),
        cosineFromNorms(dot(col("v"), col("q.qv")), col("vnorm"), col("q.qnorm")).as("sim"),
        array_contains(col("q.cells"), col("cid")).as("is_cand"))
  }

  /** (qid, n_results, n_hits) of [[ivfScored]] rows ranked per qid by
    * `sim DESC NULLS LAST, nid ASC`: n_results = |candidate top-k|,
    * n_hits = |candidate top-k ∩ exact top-k|. */
  private[graft] def ivfRecallCounts(scored: DataFrame, k: Int): DataFrame = {
    val recall = udaf(new RecallTopK(k))
    scored.groupBy(col("qid"))
      .agg(recall(col("sim"), col("nid"), coalesce(col("is_cand"), lit(false))).as("r"))
      .select(col("qid"), col("r._1").as("n_results"), col("r._2").as("n_hits"))
  }

  /** [[RecallTopK]]'s buffer: the k best candidate rows in slots [0, k)
    * and the k best other rows in [k, 2k), each list best first; `n`
    * holds the two list lengths. */
  final case class RecallBuf(sim: Array[Double], isNull: Array[Boolean],
                             nid: Array[Long], n: Array[Int])

  /** Bounded top-k aggregate of (sim, nid, is_cand) → (n_results, n_hits),
    * ranking as Spark's `sim DESC NULLS LAST, nid ASC` sort does: NaN
    * above every number and -0.0 equal to 0.0 (`SQLOrderingUtil`). The
    * two lists' union holds the exact top-k, and merging two buffers
    * keeps both lists exact, so each map task ships at most 2k rows per
    * qid. */
  final class RecallTopK(k: Int)
      extends Aggregator[(java.lang.Double, Long, Boolean), RecallBuf, (Long, Long)] {
    def zero: RecallBuf = RecallBuf(new Array[Double](2 * k), new Array[Boolean](2 * k),
      new Array[Long](2 * k), new Array[Int](2))

    /** Does the row (an = sim is null, as, ai) rank before slot j? */
    private def before(b: RecallBuf, an: Boolean, as: Double, ai: Long, j: Int): Boolean =
      if (an != b.isNull(j)) !an
      else {
        val c = if (an) 0
          else org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(as, b.sim(j))
        if (c != 0) c > 0 else ai < b.nid(j)
      }

    private def offer(b: RecallBuf, list: Int, an: Boolean, as: Double, ai: Long): Unit = {
      val base = list * k
      val n = b.n(list)
      var pos = n
      while (pos > 0 && before(b, an, as, ai, base + pos - 1)) pos -= 1
      if (pos < k) {
        val moved = math.min(n, k - 1) - pos
        System.arraycopy(b.sim, base + pos, b.sim, base + pos + 1, moved)
        System.arraycopy(b.isNull, base + pos, b.isNull, base + pos + 1, moved)
        System.arraycopy(b.nid, base + pos, b.nid, base + pos + 1, moved)
        b.sim(base + pos) = as; b.isNull(base + pos) = an; b.nid(base + pos) = ai
        b.n(list) = pos + moved + 1
      }
    }

    def reduce(b: RecallBuf, a: (java.lang.Double, Long, Boolean)): RecallBuf = {
      val an = a._1 == null
      offer(b, if (a._3) 0 else 1, an, if (an) 0.0 else a._1.doubleValue, a._2)
      b
    }

    def merge(x: RecallBuf, y: RecallBuf): RecallBuf = {
      for (list <- 0 to 1; i <- list * k until list * k + y.n(list))
        offer(x, list, y.isNull(i), y.sim(i), y.nid(i))
      x
    }

    def finish(b: RecallBuf): (Long, Long) = {
      // walk the exact top-k: the first k rows of the two lists merged
      var i = 0; var j = 0; var hits = 0L
      while (i + j < k && (i < b.n(0) || j < b.n(1))) {
        if (j >= b.n(1) || (i < b.n(0) && before(b, b.isNull(i), b.sim(i), b.nid(i), k + j))) {
          hits += 1; i += 1
        } else j += 1
      }
      (b.n(0).toLong, hits)
    }

    def bufferEncoder: Encoder[RecallBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[RecallBuf]()
    def outputEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  }

  /** LSH-bucketed approximate NN: bucket every vector, then compute exact
    * cosine only within buckets. One shuffle (bucket key) instead of a
    * quadratic cross product — the 100-TB-scale variant of cosineTopK.
    */
  def lshNearNeighbors(corpus: DataFrame, idCol: String, vecCol: String,
                       numPlanes: Int = 12, dim: Int = 64, k: Int = 5,
                       maxBucket: Int = 1000): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val b = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes))
      .withColumn("n", norm(col("v")))
    // the bucket-pair path of the banded dedup (one bucket exchange, a
    // window skew cap, the pair kernel); the cap drops a degenerate
    // bucket — e.g. all-zero vectors hashing together — like a salting
    // cutoff instead of scoring it quadratically
    val pairs = Dedup.cappedBucketPairs(b, Seq("bucket"), maxBucket,
        Seq(col("id"), col("v"), col("n")))
      .withColumnRenamed("cos", "sim")
    val w = Window.partitionBy(col("id_a")).orderBy(col("sim").desc, col("id_b").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Hybrid lexical + dense retrieval with reciprocal-rank fusion
    * (RRF, Cormack et al.): fused(d) = Σ_arm 1/(kRrf + rank_arm(d)).
    * The query is a document of the corpus itself (its id): the lexical
    * arm runs [[TextAnalysis.bm25TopK]] over `queryTerms`, the dense arm
    * ranks by cosine against the query document's embedding. Rank-based
    * fusion needs no score calibration between arms — exactly why RRF
    * is the standard hybrid-search combiner.
    *
    * Scale shape: the lexical arm is bm25TopK (pre-shuffle term filter,
    * top-k without global sort). The dense arm broadcasts the single
    * query vector, rounds the cosine BEFORE ranking (rank determinism
    * across engines), and takes its top armK in two phases — per-shard
    * heads then a rank over ≤ numShards·armK survivors — the
    * [[graft.operators.Curation.quotaSample]] pattern, never a
    * one-reducer corpus window. (Swap in [[ivfTopK]] for the dense arm
    * when an offline index exists; brute force is the exact baseline.)
    * Fusion joins two ≤ armK-row sides — trivial at any corpus size.
    *
    * Returns top `k` rows (docIdCol, lex_rank, dense_rank, rrf_score),
    * ranks null for an arm that did not retrieve the doc.
    */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame,
                docIdCol: String, textCol: String,
                vecIdCol: String, vecCol: String,
                queryId: Long, queryTerms: Seq[String],
                k: Int, armK: Int = 50, kRrf: Int = 60,
                numShards: Int = 16): DataFrame = {
    require(k > 0 && armK > 0, s"hybridRrf: need k > 0 and armK > 0 (got k=$k, armK=$armK)")
    val lex = TextAnalysis.bm25TopK(
        docs.filter(col(docIdCol) =!= queryId), docIdCol, textCol, queryTerms, armK)
      // unpartitioned window is safe here: bm25TopK already limited to armK rows
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("score").desc, col(docIdCol).asc)))
      .select(col(docIdCol).as("__id"), col("lex_rank"))
    // float-carry cosine (the r12 LSH exchange-diet lesson): the
    // embeddings stay array<float> end-to-end — ArrayDotFloat widens
    // per element, bit-identical to dot-after-cast at half the bytes.
    // (A double-array caller gets float precision here; every shipped
    // corpus carries float32 embeddings.)
    val qv = embeddings.filter(col(vecIdCol) === queryId)
      .select(col(vecCol).cast("array<float>").as("__qv"))
      .withColumn("__qn", normF(col("__qv")))
    val scored = embeddings.filter(col(vecIdCol) =!= queryId)
      .select(col(vecIdCol).as("__id"), col(vecCol).cast("array<float>").as("__cv"))
      .withColumn("__cn", normF(col("__cv")))
      .crossJoin(broadcast(qv))
      .select(col("__id"),
        round(cosineFromNorms(dotF(col("__qv"), col("__cv")), col("__qn"), col("__cn")), 6)
          .as("__sim"))
    val w1 = Window.partitionBy(pmod(col("__id"), lit(numShards.toLong)))
      .orderBy(col("__sim").desc, col("__id").asc)
    val survivors = scored.withColumn("__rn1", row_number().over(w1))
      .filter(col("__rn1") <= armK)
    val dense = survivors
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("__sim").desc, col("__id").asc)))
      .filter(col("dense_rank") <= armK)
      .select(col("__id"), col("dense_rank"))
    lex.join(dense, Seq("__id"), "full_outer")
      .select(col("__id").as(docIdCol),
        col("lex_rank").cast("long").as("lex_rank"),
        col("dense_rank").cast("long").as("dense_rank"),
        round(
          coalesce(lit(1.0) / (lit(kRrf) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("dense_rank")), lit(0.0)), 6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(docIdCol).asc)
      .limit(k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the embedding space with [[semanticClusters]], then WITHIN each
    * cluster keep a document only if no lower-id cluster-mate sits
    * within cosine `tau` — the paper's greedy one-representative-per-
    * ε-ball rule, with the deterministic id order standing in for its
    * arbitrary keep choice. Near-dup pairs split across two clusters
    * are deliberately out of scope (the paper's own approximation; the
    * global near-dup path is [[Dedup.cosineLshScoredPairsWeighted]]).
    *
    * Scale shape: candidate pairs are generated per CLUSTER (one
    * exchange on cid per join side), so the pair count is Σ|C_i|²
    * rather than n² — SemDeDup's published recipe keeps |C_i| bounded
    * by growing k with the corpus (50k clusters on LAION; same rule as
    * [[ivfTopK]]'s sqrt(n) cells). Cosines are computed on the SAME
    * floor(x·scale+0.5) quantized vectors the clustering used, so both
    * the assignment AND the prune replay bit-identically in integer/
    * double SQL on any engine — the survivors set is exact, not
    * approximately reproducible. The prune side of the anti-join is a
    * distinct id set, broadcastable until the duplicate population
    * itself is huge (then AQE falls back to a shuffled anti-join).
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               k: Int, iterations: Int, tau: Double,
               scale: Long = 1000L): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"semDedup: tau in (0,1] (got $tau)")
    // ONE corpus scan by construction. Two moves close the former
    // triple-scan: (1) both self-join sides read through the SAME
    // explicit hashpartitioning(cid) exchange — identical full-width
    // subtrees, so ReuseExchange collapses them and the scan + quantize
    // + argmin-assign map stage runs once; (2) the survivor set is
    // computed FROM that self-join (left join + "no qualifying mate"
    // count) instead of anti-joining the assignment back — the old
    // probe side was column-pruned to (id, cid), which broke exchange
    // canonical-equality and forced a third scan. The remaining trap is
    // InferFiltersFromConstraints: a left join infers IsNotNull on the
    // BUILD side's join inputs only, de-symmetrizing the two subtrees
    // and killing the reuse — so quant pre-applies every inferable
    // not-null itself (they drop nothing: id is the caller's key, cid
    // is an argmin over a non-empty vector, __nn a sqrt of a
    // non-negative dot), leaving the optimizer nothing to add to either
    // side. The join emits each row's qualifying lower-id mates, or a
    // null-mate row when none: count(__idb) = 0 is exactly the paper's
    // keep rule. Pair volume is unchanged (Σ|C_i|² + one row per
    // survivor), the count partial-aggregates map-side, and no
    // cache/checkpoint is needed.
    val quant = semanticAssignments(corpus, idCol, vecCol, k, iterations, scale)
      .select(col("id"), col("cid"), col("w").cast("array<double>").as("__wd"))
      .withColumn("__nn", sqrt(dot(col("__wd"), col("__wd"))))
      .filter(col("id").isNotNull && col("cid").isNotNull && col("__nn").isNotNull)
      .repartition(col("cid"))
    val b = quant.select(col("cid").as("__cidb"), col("id").as("__idb"),
      col("__wd").as("__wb"), col("__nn").as("__nb"))
    quant
      .join(b,
        col("cid") === col("__cidb") && col("__idb") < col("id") &&
          dot(col("__wd"), col("__wb")) / (col("__nn") * col("__nb")) >= tau,
        "left")
      .groupBy(col("id"), col("cid"))
      .agg(count(col("__idb")).as("__mates"))
      .filter(col("__mates") === 0)
      .select(col("id"), col("cid"))
  }
}
