package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** One shared local session for all suites (Test/fork := true → one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // storage-partitioned joins / key-grouped scans over fixed-split
      // graft tables (KeyGroupedPartitioning is only honored with these)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse",
        s"/tmp/graft_test_warehouse_${ProcessHandle.current().pid()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Regions the plan's `GraftScan` node reads after pruning (the
    * `regions=N` of its explain line). */
  def regionsScanned(df: DataFrame): Int = {
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    "GraftScan \\S+ regions=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt)
      .getOrElse(throw new AssertionError(s"no GraftScan node in:\n$p"))
  }
}
