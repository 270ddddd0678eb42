package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{ScaleBench, TestSpark}

/** The duplication-density-preserving amplifier
  * ([[ScaleBench.generateRenamedDocs]]): per-replica token bijection
  * must leave within-replica similarity structure EXACTLY the base
  * corpus's and make cross-replica similarity zero — so the true
  * near-dup pair set of the amplified corpus is exactly factor× the
  * base's. Checked by brute force (the pipelines' own word-hash
  * arithmetic, every pair), not through LSH. */
class ScaleAmplifierSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark

  /** All unordered pairs with word-hash Jaccard >= 0.9, brute force. */
  private def exactPairs(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"),
      graft.functions.VectorOps.distinctWordHashes(col("text")).as("ws"))
    val a = w.select(col("doc_id").as("da"), col("ws").as("wsa"))
    val b = w.select(col("doc_id").as("db"), col("ws").as("wsb"))
    a.crossJoin(b).filter(col("da") < col("db"))
      .withColumn("shared",
        graft.functions.VectorOps.sharedCount(col("wsa"), col("wsb")))
      .filter(col("shared") * 10 >=
        (size(col("wsa")) + size(col("wsb")) - col("shared")) * 9)
      .select(col("da"), col("db"))
  }

  test("renamed replicas preserve pair density exactly; no " +
      "cross-replica pairs") {
    val src = "/root/testdata/sf0.001"
    val out = tempDir("graft_amp_spec").toString
    val factor = 3
    ScaleBench.generateRenamedDocs(spark, src, out, factor)
    val base = spark.read.parquet(s"$src/documents.parquet")
    val amp = spark.read.parquet(s"$out/documents.parquet")
    val stride = base.agg(max(col("doc_id"))).head.getLong(0) + 1L
    assert(amp.count() === base.count() * factor)

    val basePairs = exactPairs(base).count()
    val ampPairs = exactPairs(amp).cache()
    val cross = ampPairs
      .filter(floor(col("da") / stride) =!= floor(col("db") / stride))
      .count()
    assert(cross === 0L, "token bijection leaked cross-replica overlap")
    assert(ampPairs.count() === basePairs * factor,
      s"pair density not preserved: base=$basePairs amp=${ampPairs.count()}")
    ampPairs.unpersist()
  }
}
