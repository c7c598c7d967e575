package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generated input data set of each workload. run.py keys the cached
  * copy on a hash of this file and the generators, so a change here writes
  * fresh data. */
final case class Inputs(name: String, tables: SparkSession => Seq[(String, DataFrame)],
                        extras: Data.Extras = (_, _) => Map.empty)

object Inputs {
  /** Seed of every generated table: the data are the same on every run, so
    * the committed fingerprints apply; `--seed` drives the operation stream. */
  val DataSeed = 20191017L

  /** The x4 TPC-H replica plus the small corpus and events tables that
    * `Engine.registerAll` also opens. */
  val TpchX4 = Inputs("tpch_x4", spark => {
    val c = CorpusGen.corpus(spark, DataSeed, 1)
    TpchGen.tables(spark, 4) ++ Seq("documents" -> c.docs, "embeddings" -> c.embeddings,
      "events" -> CorpusGen.events(spark, DataSeed, 1000L))
  })

  /** The x8 corpus; the manifest lists the planted twins the checks look for. */
  val DocsX8 = Inputs("pipeline_docs_x8", spark => {
    val c = CorpusGen.corpus(spark, DataSeed, 8)
    Seq("documents" -> c.docs, "embeddings" -> c.embeddings)
  }, (spark, dir) => {
    import CorpusGen.TwinOffset
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    def ids(df: DataFrame): String = df.collect().map(_.getLong(0)).sorted.mkString(",")
    Map(
      "twin_docs" -> ids(docs.filter(col("source") === "twin").select(col("doc_id") - TwinOffset)),
      "twin_vecs" -> ids(vecs.filter(col("vec_id") >= TwinOffset).select(col("vec_id") - TwinOffset)))
  })

  /** The sf0.1-sized TPC-H base behind the SQL views. */
  val Sf01 = Inputs("sql_mix", spark => TpchGen.tables(spark, 1))
}
