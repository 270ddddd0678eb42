package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.{TempDirs, TestSpark}

/** The source-table loader [[T]]: a table's schema is inferred once
  * (one Spark job), then every later read plans with no job at all.
  * The memo follows the session's parquet-inference confs and the
  * file's identity, so it can never hand out a schema the session
  * would not have inferred itself. Jobs are counted under a job group
  * through `statusTracker` after the listener bus is drained.
  */
class SourceLoaderSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  import TestSpark.jobsIn

  test("a warm T call plans its DataFrame with no Spark job") {
    // the counter sees the inference job a bare read launches...
    assert(jobsIn {
      spark.read.parquet(s"$sf/orders.parquet").schema
    } >= 1)
    T(spark, sf, "orders")
    // ...and none once the schema is known
    assert(jobsIn { T(spark, sf, "orders").schema } == 0)
    assert(T(spark, sf, "orders").schema ==
      spark.read.parquet(s"$sf/orders.parquet").schema)
  }

  test("the memo follows the session's timestamp inference conf") {
    // written with parquet's own writer: a Spark-written file carries
    // its Spark schema in the footer, which inference prefers to the conf
    val dir = tempDir("graft-source-loader").getPath
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(MICROS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/ntz.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1704164645000000L))
    finally w.close()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prior = spark.conf.get(key)
    def tsType(infer: Boolean) = {
      spark.conf.set(key, infer.toString)
      T(spark, dir, "ntz").schema("ts").dataType
    }
    try {
      assert(tsType(infer = true) == TimestampNTZType)
      assert(tsType(infer = false) == TimestampType)
      assert(tsType(infer = true) == TimestampNTZType)
    } finally spark.conf.set(key, prior)
  }

  test("a rewritten file is seen by the next T call") {
    val dir = tempDir("graft-source-loader").getPath
    spark.sql("SELECT 1L AS a").write.parquet(s"$dir/t.parquet")
    assert(T(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.sql("SELECT 'x' AS b, 2 AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = T(spark, dir, "t")
    assert(df.columns.toSeq == Seq("b", "c"))
    assert(df.collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("x", 2)))
  }

  test("point_lookup runs as exactly one Spark job after warm-up") {
    val face = graft.SparkEntry.queries("point_lookup")
    face(spark, sf).collect()
    var rows = 0
    val jobs = jobsIn {
      rows = face(spark, sf).collect().length
    }
    assert(rows == 1)
    assert(jobs == 1, s"point_lookup ran $jobs jobs — a schema-inference " +
      "job is back on the warm path")
  }
}
