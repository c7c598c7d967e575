package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded documents/embeddings corpus in the program's schema.
  *
  * Documents are token soup: about one token in eight is one of the common
  * words the text queries search for, the rest come from a 20011-token
  * vocabulary, so documents share words but no two are near-duplicates by
  * chance. Planted on top, all with known ids:
  *   - near-duplicate twins (id + TwinOffset) of every 101st document with at
  *     least 30 tokens, differing in the last token only (3-shingle Jaccard
  *     at least 27/29), in source `twin`;
  *   - skew blocks: empty documents, a boilerplate source whose documents
  *     share their first 20 tokens (Jaccard about 0.5, below every
  *     threshold), and a block of byte-identical documents.
  * Embeddings are unit vectors around ten label centroids, each planted twin
  * (vec_id + TwinOffset) a byte-identical copy of its base vector. A twin
  * pair gets a label of its own (PairLabel + base id) and shares it with
  * its base vector, so per-label-pair aggregates count found twins.
  */
object CorpusGen {
  val TwinOffset = 100000000L
  val SkewOffset = 200000000L
  val PairLabel = 1000
  val BaseDocs = 5000
  val BaseVecs = 2000
  val Dim = 64
  private val Common = Seq("vector", "spark", "merge", "window", "table", "column", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch")
  private val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  case class Corpus(docs: DataFrame, embeddings: DataFrame)

  private def h(seed: Long, parts: Column*): Column =
    xxhash64((lit(seed) +: parts): _*)

  private def token(seed: Long, doc: Column, i: Column): Column = {
    val u = h(seed, doc, i)
    val rest = shiftrightunsigned(u, 3)
    when(pmod(u, lit(8L)) === 0,
      element_at(array(Common.map(lit): _*), (pmod(rest, lit(Common.size.toLong)) + 1).cast("int")))
      .otherwise(format_string("t%05d", pmod(rest, lit(20011L))))
  }

  private def soup(seed: Long, doc: Column, n: Column): Column =
    concat_ws(" ", transform(sequence(lit(0), n - 1), i => token(seed, doc, i)))

  def docs(spark: SparkSession, seed: Long, mult: Int): DataFrame = {
    val n = BaseDocs.toLong * mult
    val id = col("id")
    val nTok = (pmod(h(seed, id, lit("len")), lit(51)) + 10).cast("int")
    val base = spark.range(n).select(id.as("doc_id"), nTok.as("n_tok"),
      soup(seed, id, nTok).as("text"),
      concat(lit("src"), pmod(id, lit(20L))).as("source"))
    val twins = base
      .filter(pmod(col("doc_id"), lit(101L)) === 0 && col("n_tok") >= 30)
      .select((col("doc_id") + TwinOffset).as("doc_id"),
        concat(expr("substring_index(text, ' ', n_tok - 1)"), lit(" twinend")).as("text"),
        lit("twin").as("source"))
    val empties = spark.range(mult * 100L)
      .select((id + SkewOffset).as("doc_id"), lit("").as("text"), lit("empty").as("source"))
    val boilerText = (0 until 20).map(i => s"boilerplate$i").mkString(" ") + " "
    val boiler = spark.range(mult * 100L)
      .select((id + SkewOffset + 1000000L).as("doc_id"),
        concat(lit(boilerText), soup(seed + 1, id, lit(8))).as("text"),
        lit("boiler").as("source"))
    val ident = spark.range(mult * 25L)
      .select((id + SkewOffset + 2000000L).as("doc_id"),
        lit("identical stress document body shared verbatim by every row of this block").as("text"),
        lit("ident").as("source"))
    base.drop("n_tok").unionByName(twins).unionByName(empties).unionByName(boiler)
      .unionByName(ident)
      .select(col("doc_id"), col("text"),
        element_at(array(Langs.map(lit): _*),
          (pmod(h(seed, col("doc_id"), lit("lang")), lit(Langs.size)) + 1).cast("int")).as("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars"))
  }

  def embeddings(spark: SparkSession, seed: Long, mult: Int): DataFrame = {
    val n = BaseVecs.toLong * mult
    val id = col("id")
    val label = pmod(h(seed, id, lit("label")), lit(10L))
    // centroid component + noise, each uniform in [-1, 1]; the centroid is
    // weighted so that same-label vectors have cosine about 0.2
    def unif(parts: Column*): Column = pmod(h(seed, parts: _*), lit(2001L)).cast("double") / 1000.0 - 1.0
    val raw = transform(sequence(lit(0), lit(Dim - 1)),
      j => unif(label, j, lit("c")) * 0.15 + unif(id, j))
    val base = spark.range(n).select(id.as("vec_id"), label.as("label"), raw.as("raw"))
      .select(col("vec_id"), col("label"),
        expr("transform(raw, x -> CAST(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) AS FLOAT))")
          .as("embedding"))
    val isTwin = pmod(col("vec_id"), lit(101L)) === 0
    val relabelled = base.withColumn("label",
      when(isTwin, col("vec_id") + PairLabel).otherwise(col("label")))
    val twins = relabelled.filter(isTwin).withColumn("vec_id", col("vec_id") + TwinOffset)
    relabelled.unionByName(twins)
      .select(col("vec_id"), col("embedding"), col("label").cast("int").as("label"))
  }

  /** Click-stream events; only the registry's table loader reads them here. */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(id.as("event_id"),
      timestamp_add("SECOND", pmod(h(seed, id, lit("ts")), lit(86400L * 30)),
        to_timestamp(lit("2024-01-01 00:00:00"))).as("ts"),
      pmod(h(seed, id, lit("user")), lit(5000L)).as("user_id"),
      element_at(array(Seq("view", "click", "buy", "error").map(lit): _*),
        (pmod(h(seed, id, lit("type")), lit(4L)) + 1).cast("int")).as("event_type"),
      (pmod(h(seed, id, lit("value")), lit(100000L)) / 100.0).as("value"),
      format_string("{\"k\": %d}", pmod(h(seed, id, lit("k")), lit(100L))).as("props"))
  }

  def corpus(spark: SparkSession, seed: Long, mult: Int): Corpus =
    Corpus(docs(spark, seed, mult), embeddings(spark, seed, mult))
}
