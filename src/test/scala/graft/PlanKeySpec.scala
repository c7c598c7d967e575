package graft

import graft.operators.Similarity

/** Plan-keyed memos must tell apart two parquet directories that share a
  * schema: their canonical plan texts are equal (a scan renders without
  * its path), so the key also carries the input files. */
class PlanKeySpec extends SparkSpec {
  import spark.implicits._

  private def corpus(dir: String, name: String, ids: Range, axis: Int) = {
    val path = s"$dir/$name.parquet"
    ids.map { i =>
      val v = Array.fill(4)(0.1f)
      v(axis) = 1.0f + (i % 7) * 0.1f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Two same-schema parquet corpora whose canonical plan texts agree. */
  private def twoCorpora() = {
    val dir = java.nio.file.Files.createTempDirectory("graft_plankey_").toString
    val a = corpus(dir, "a", 0 until 200, axis = 0)
    val b = corpus(dir, "b", 1000 until 1200, axis = 2)
    assert(a.queryExecution.analyzed.canonicalized.toString ==
      b.queryExecution.analyzed.canonicalized.toString, "the repro needs equal plan texts")
    (dir, a, b)
  }

  test("kmeansCentroidsCached trains each same-schema file its own quantizer") {
    val (_, a, b) = twoCorpora()
    val cA = Similarity.kmeansCentroidsCached(a, "vec_id", "embedding", k = 2, iterations = 2)
    val cB = Similarity.kmeansCentroidsCached(b, "vec_id", "embedding", k = 2, iterations = 2)
    val fresh = Similarity.kmeansCentroids(b, "vec_id", "embedding", k = 2, iterations = 2)
    assert(cB.map(_._1).toSeq == fresh.map(_._1).toSeq)
    assert(cB.map(_._2.toSeq).toSeq == fresh.map(_._2.toSeq).toSeq, "b was served a's centroids")
    assert(cA.map(_._2.toSeq).toSeq != cB.map(_._2.toSeq).toSeq)
  }

  test("summarizeTable summarizes each same-schema file itself") {
    val (_, a, b) = twoCorpora()
    def idRange(df: org.apache.spark.sql.DataFrame) =
      Engine.summarizeTable(spark, df).filter($"column_name" === "vec_id")
        .select($"min", $"max").as[(String, String)].head()
    assert(idRange(a) == ("0", "199"))
    assert(idRange(b) == ("1000", "1199"), "b was summarized with a's plan")
  }

  test("planKey carries the input files") {
    val (dir, a, b) = twoCorpora()
    assert(Engine.planKey(a).isDefined && Engine.planKey(a) != Engine.planKey(b))
    assert(Engine.planKey(a) == Engine.planKey(spark.read.parquet(s"$dir/a.parquet")))
    // a file rewritten under the same path is a new key
    val a2 = corpus(dir, "a", 500 until 520, axis = 1)
    assert(Engine.planKey(a2) != Engine.planKey(a))
  }

  test("plans whose rows are not in their text have no key") {
    assert(Engine.planKey(Seq((1L, Seq(1.0f))).toDF("vec_id", "embedding")).isEmpty)
  }
}
