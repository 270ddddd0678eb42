package graft

import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.funsuite.AnyFunSuite

/** The one session profile ([[GraftSession]]): the test session carries
  * every value the profile sets, the Spark defaults the code relies on
  * still hold, and `SPARK_GRAFT_CONF` entries are applied last. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the test session carries every profile value") {
    val c = spark.sessionState.conf
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(c.legacyParquetNanosAsLong)
    assert(!c.parquetInferTimestampNTZEnabled)
    assert(c.sessionLocalTimeZone == "UTC")
    assert(c.filesMaxPartitionBytes == 4L * 1024 * 1024)
    assert(c.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) == 4096)
    assert(c.numShufflePartitions == 8)
    // the rest, master and graft warehouse included, as the profile lists
    GraftSession.settings("graft-test", 8, None, Some(TestSpark.warehouse), "")
      .foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("the Spark defaults the code relies on are still Spark's defaults") {
    // the profile does not set these; a Spark upgrade that flips one
    // changes plans (AQE coalescing, key-grouped scans, GraftTable's
    // agg-pushdown gate), so it must fail here first
    val c = spark.sessionState.conf
    assert(c.adaptiveExecutionEnabled)
    assert(c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) ==
      1024L * 1024)
    assert(c.v2BucketingEnabled)
    assert(c.v2BucketingPushPartValuesEnabled)
  }

  test("SPARK_GRAFT_CONF entries are applied last; malformed ones skipped") {
    val base = GraftSession.settings("a", 4, None, None, "")
    val s = GraftSession.settings("a", 4, None, None,
      " spark.sql.files.maxPartitionBytes = 128m;junk;;k=v=w")
    assert(s.take(base.size) == base)
    assert(s.drop(base.size) ==
      Seq("spark.sql.files.maxPartitionBytes" -> "128m", "k" -> "v=w"))
    // the builder applies the pairs in order, so the override wins
    assert(s.toMap.apply("spark.sql.files.maxPartitionBytes") == "128m")
    assert(base.toMap.apply("spark.master") == "local[4]")
    assert(GraftSession.settings("a", 4, Some("yarn"), None, "")
      .toMap.apply("spark.master") == "yarn")
  }
}
