package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The streaming ingest screen must emit exactly the batch screen's
  * matches: same historical corpus, incoming docs split across two
  * micro-batches, union of per-epoch outputs == the batch face. */
class DocStreamsSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark

  test("streaming dedup-at-ingest equals the batch screen across " +
      "micro-batches") {
    val sf = TestSpark.sfDir
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val hist = all.filter(pmod(col("doc_id"), lit(5)) =!= 4)
    val inc = all.filter(pmod(col("doc_id"), lit(5)) === 4)
    val base = tempDir("graft_docstream").toString
    val staging = s"$base/staging"
    // two files → two micro-batches (maxFilesPerTrigger=1)
    inc.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/chunk_a")
    inc.filter(col("doc_id") >= 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/chunk_b")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
    for ((c, i) <- Seq("chunk_a", "chunk_b").zipWithIndex) {
      val part = new java.io.File(s"$base/$c").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$staging/$i.parquet"))
    }
    val q = DocStreams.screenIngest(spark, staging, hist,
      s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$base/out/epoch=*")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val batch = graft.operators.TextOps.incomingNearDups(inc, hist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"missed=${(batch -- streamed).take(3)} " +
        s"extra=${(streamed -- batch).take(3)}")
    assert(streamed.nonEmpty, "expected cross-split near-dup matches")
    // genuinely two micro-batches, each with output
    val epochs = new java.io.File(s"$base/out").listFiles()
      .filter(_.getName.startsWith("epoch=")).map(_.getName).toSet
    assert(epochs.size == 2, s"expected 2 epochs, got $epochs")
  }
}
