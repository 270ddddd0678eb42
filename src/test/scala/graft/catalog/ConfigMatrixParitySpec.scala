package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.TestSpark
import graft.operators.CatalogQueries

/** Config-matrix parity: the reference proves its semantics are
  * mode-independent by running its query corpus across the coprocessor
  * × customfilter × codegen matrix (`HBaseAdditionalQuerySuite.scala:
  * 172-260`). Graft's analogue: every [[GraftAccel]] switch (stats
  * skipping, parquet-side predicates incl. blooms and page skip,
  * manifest-answered aggregates, region packing, the driver-side
  * local read) is a pure acceleration — this suite runs the ENTIRE
  * catalog query set with all of them off and asserts answer-identity
  * with the accelerated run, plus spot-checks that the switches
  * genuinely disengage their machinery (a toggle that changes nothing
  * proves nothing). */
class ConfigMatrixParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def comparable(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case a: Array[_] => a.toSeq.map(comparable)
    case s: scala.collection.Seq[_] => s.map(comparable)
    case x => x
  }

  private def runAll(): Map[String, Seq[String]] =
    CatalogQueries.queries.map { case (name, q) =>
      name -> q(spark, TestSpark.sfDir).collect()
        .map(r => comparable(r.toSeq).toString).sorted.toSeq
    }

  private def allOff[T](body: => T): T = {
    GraftAccel.All.foreach(k => spark.conf.set(k, "false"))
    try body finally GraftAccel.All.foreach(k => spark.conf.unset(k))
  }

  test("entire catalog query set is answer-identical with all " +
      "accelerations off") {
    val accelerated = runAll()
    assert(accelerated.size >= 20, s"only ${accelerated.size} queries")
    val plain = allOff(runAll())
    accelerated.foreach { case (name, rows) =>
      assert(plain(name) == rows,
        s"$name diverged with accelerations off " +
          s"(on=${rows.size} rows, off=${plain(name).size} rows)")
    }
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
    df.collect() // finalize adaptive plan before descending
    def find(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[BatchScanExec] = p match {
      case b: BatchScanExec => Some(b)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        find(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        find(q.plan)
      case other => other.children.iterator.flatMap(find(_)).nextOption()
    }
    find(df.queryExecution.executedPlan).get
  }

  /** Read partitions the table's scan plans, whichever node reads it. */
  private def partsOf(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    TestSpark.graftScans(df.queryExecution.executedPlan).head
      .planInputPartitions().length
  }

  private def readsLocally(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.collectFirst {
      case l: GraftLocalScanExec => l
    }.nonEmpty

  test("toggles genuinely disengage (agg pushdown, packing, stats skip)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.accel")
    spark.sql("DROP TABLE IF EXISTS graft.accel.t")
    spark.sql(
      """CREATE TABLE graft.accel.t (k BIGINT, day INT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    // 6 tiny appends → 6 regions (packing normally coalesces them)
    (0 until 6).foreach { i =>
      spark.sql(s"""INSERT INTO graft.accel.t
        SELECT id, CAST(id / 100 AS INT), id * 1.0
        FROM range(${i * 100}, ${i * 100 + 100})""")
    }
    // agg pushdown: manifest-answered on, ordinary agg scan off
    val aggOn = spark.sql("SELECT count(*) AS c FROM graft.accel.t")
    assert(scanOf(aggOn).scan.isInstanceOf[GraftAggScan])
    assert(aggOn.collect().head.getLong(0) == 600L)
    allOff {
      val aggOff = spark.sql("SELECT count(*) AS c FROM graft.accel.t")
      assert(!scanOf(aggOff).scan.isInstanceOf[GraftAggScan],
        "aggPushdown=false must fall back to a data scan")
      assert(aggOff.collect().head.getLong(0) == 600L)
      // packing: one task per region when off
      val dfOff = spark.table("graft.accel.t")
      assert(partsOf(dfOff) == 6,
        "packing=false must plan one partition per region")
      // stats skip: non-key predicate stops pruning regions (all read)
      val skipOff = spark.table("graft.accel.t").where("day = 3")
      assert(partsOf(skipOff) == 6)
      assert(skipOff.count() == 100L)
    }
    // accelerated run for contrast: fewer tasks, pruned regions.
    // (minPartitionNum=1 raises the pack target above one tiny region —
    // with the default parallelism of 8, six regions already satisfy it)
    TestSpark.withConf("spark.sql.files.minPartitionNum" -> "1",
        TestSpark.SparkDefaultSplit) {
      val dfOn = spark.table("graft.accel.t")
      assert(partsOf(dfOn) < 6,
        "packing should coalesce 6 tiny regions")
    }
    val skipOn = spark.table("graft.accel.t").where("day = 3")
    assert(partsOf(skipOn) == 1,
      "stats skipping should isolate the day=3 region")
    assert(skipOn.count() == 100L)
    // local read: that one small region is read on the driver when on,
    // by a task when off
    assert(readsLocally(skipOn))
    allOff {
      assert(!readsLocally(spark.table("graft.accel.t").where("day = 3")))
    }
    spark.sql("DROP TABLE graft.accel.t")
  }
}
