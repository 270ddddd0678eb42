package graft.catalog

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Parquet column bloom filters on graft regions
  * (`graft.bloomCols` — the HBase column-family BLOOMFILTER option
  * reborn storage-native): point predicates on scattered
  * high-cardinality columns skip whole row groups even though the
  * column's [min,max] spans everything, complementing the manifest
  * stats (clustered ranges) and the column index (sorted trailing
  * dims). */
class BloomSkipSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Rows the task-side scan emits after row-group skipping; the local
    * read is off, since it would read a pruned region on the driver. */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long =
    TestSpark.withConf(GraftAccel.LocalRead -> "false") {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: BatchScanExec => b
      }.map(_.metrics("numOutputRows").value).sum
    }

  test("bloom on a scattered uuid-ish column skips absent point lookups") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bloom")
    spark.sql("DROP TABLE IF EXISTS graft.bloom.t")
    spark.sql(
      """CREATE TABLE graft.bloom.t (k BIGINT, fp STRING, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='2',
        |              'graft.bloomCols'='fp')""".stripMargin)
    // fp = md5 of EVEN ids only: high-cardinality, scattered — every
    // region's [min,max] covers essentially the whole hex space, so
    // min/max stats cannot skip a point lookup; the bloom can
    spark.sql(
      """INSERT INTO graft.bloom.t
        |SELECT id, md5(CAST(id * 2 AS STRING)), id * 1.0
        |FROM range(50000)""".stripMargin)

    // present value: found exactly
    val present = spark.sql(
      """SELECT k FROM graft.bloom.t
        |WHERE fp = md5(CAST(123 * 2 AS STRING))""".stripMargin)
    assert(present.collect().map(_.getLong(0)).toSeq == Seq(123L))

    // absent value (md5 of an odd number): bloom proves no row group
    // can hold it — the scan emits (near) zero rows
    val absent = spark.sql(
      """SELECT k FROM graft.bloom.t
        |WHERE fp = md5(CAST(777 AS STRING))""".stripMargin)
    assert(absent.collect().isEmpty)
    val emitted = scanOutputRows(absent)
    assert(emitted < 50000 / 10,
      s"bloom skip not engaging: scan emitted $emitted of 50000 rows")

    // control: same table WITHOUT blooms reads everything for the
    // same absent lookup (min/max cannot help on scattered values)
    spark.sql("DROP TABLE IF EXISTS graft.bloom.ctl")
    spark.sql(
      """CREATE TABLE graft.bloom.ctl (k BIGINT, fp STRING, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='2')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.bloom.ctl
        |SELECT id, md5(CAST(id * 2 AS STRING)), id * 1.0
        |FROM range(50000)""".stripMargin)
    val ctl = spark.sql(
      """SELECT k FROM graft.bloom.ctl
        |WHERE fp = md5(CAST(777 AS STRING))""".stripMargin)
    assert(ctl.collect().isEmpty)
    assert(scanOutputRows(ctl) > emitted,
      "control without bloom should read more than the bloom table")
    spark.sql("DROP TABLE graft.bloom.t")
    spark.sql("DROP TABLE graft.bloom.ctl")
  }

  test("bloomCols with a typo'd column fails the CREATE") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bloom")
    spark.sql("DROP TABLE IF EXISTS graft.bloom.bad")
    val e = intercept[Exception] {
      spark.sql(
        """CREATE TABLE graft.bloom.bad (k BIGINT, v DOUBLE)
          |TBLPROPERTIES('keyCols'='k', 'graft.bloomCols'='nope')"""
          .stripMargin)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("bloomCols on a nested column fails the CREATE") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bloom")
    spark.sql("DROP TABLE IF EXISTS graft.bloom.nested")
    val e = intercept[Exception] {
      spark.sql(
        """CREATE TABLE graft.bloom.nested (k BIGINT, emb ARRAY<FLOAT>)
          |TBLPROPERTIES('keyCols'='k', 'graft.bloomCols'='emb')"""
          .stripMargin)
    }
    assert(e.getMessage.contains("nested") ||
      e.getCause != null && e.getCause.getMessage.contains("nested"))
  }
}
