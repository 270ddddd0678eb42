package graft.catalog

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** In-region skip-scan: the reference's `HBaseCustomFilter` seeks
  * across composite-key ranges INSIDE a region
  * (`findNextHint:353-404`, SEEK_NEXT_USING_HINT) so a point predicate
  * on a trailing key dimension doesn't read the whole region. The
  * parquet-native rebuild is the column index: with bounded pages
  * (`graft.pageRowLimit`), a trailing-dimension predicate becomes a
  * parquet FilterPredicate and the vectorized reader's page-stats
  * filter skips every page whose k2 range misses — the scan emits a
  * small fraction of the region's rows, and Spark's residual filter
  * keeps exactness.
  */
class SkipScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Rows the task-side scan emits after row-group and page skipping;
    * the local read is off, since it would read this one-region table
    * on the driver. */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long =
    TestSpark.withConf(GraftAccel.LocalRead -> "false") {
      df.collect()
      val scans = df.queryExecution.executedPlan.collectLeaves().collect {
        case b: BatchScanExec => b
      }
      assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
      scans.map(_.metrics("numOutputRows").value).sum
    }

  test("trailing-dim point predicate reads a fraction of a wide region") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.skip")
    spark.sql("DROP TABLE IF EXISTS graft.skip.wide")
    // one region; k1 runs of 10000 rows; 1000-row pages → within a k1
    // run, each page covers a narrow k2 band the column index can skip
    spark.sql(
      """CREATE TABLE graft.skip.wide (k1 INT, k2 INT, v BIGINT)
        |TBLPROPERTIES('keyCols'='k1;k2', 'numRegions'='1',
        |              'graft.pageRowLimit'='1000')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.skip.wide
        |SELECT CAST(id DIV 10000 AS INT), CAST(id % 10000 AS INT), id
        |FROM range(0, 50000)""".stripMargin)

    val total = 50000L
    val point = spark.sql(
      "SELECT * FROM graft.skip.wide WHERE k2 = 5")
    val emitted = scanOutputRows(point)
    // answers exact: one row per k1 run
    val rows = point.collect().map(r => (r.getInt(0), r.getLong(2))).sorted
    assert(rows.toSeq == (0 until 5).map(i => (i, i * 10000L + 5L)))
    // the scan skipped the overwhelming majority of the region
    assert(emitted < total / 5,
      s"skip-scan emitted $emitted of $total rows — column-index " +
        "page skipping is not engaging")

    // a full scan still reads everything (sanity of the metric)
    val full = spark.sql("SELECT * FROM graft.skip.wide")
    assert(scanOutputRows(full) == total)
    spark.sql("DROP TABLE graft.skip.wide")
  }
}
