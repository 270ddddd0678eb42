package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `CALL graft.sys.scan_estimate`: the readout must equal what a real
  * scan schedules (it IS the planning path), prune on key intervals
  * and non-key stats alike, and admit honest full scans for
  * un-pushable predicates. */
class ScanEstimateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val fqn: String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.est")
    val t = "graft.est.orders_e"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, grp STRING, v DOUBLE) " +
      "TBLPROPERTIES('keyCols'='k', 'numRegions'='8')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('g', id % 3), id * 1.5 " +
      "FROM range(4000)")
    t
  }

  private def estimate(pred: String): (Long, Long, Long, Long) = {
    val r = spark.sql(
      s"CALL graft.sys.scan_estimate(table => 'est.orders_e', " +
        s"predicate => '$pred')").head()
    (r.getString(0).toLong, r.getString(1).toLong,
      r.getString(2).toLong, r.getString(3).toLong)
  }

  test("key-interval predicate prunes in the estimate exactly as it scans") {
    fqn
    val (total, scanned, rows, bytes) = estimate("k BETWEEN 10 AND 20")
    assert(total == 8)
    assert(scanned == 1, s"one region holds k in [10,20], got $scanned")
    // rows upper bound = the surviving REGION's rows — region-sized,
    // not table-sized. The sorted load's range boundaries come from
    // Spark's range-shuffle SAMPLING, so regions are only ~4000/8 even
    // (a run may cut 499/501); assert the magnitude, not a pseudo-
    // exact count.
    assert(rows >= 400 && rows <= 600,
      s"rows upper bound should be one region (~500), got $rows")
    assert(bytes > 0)
    // the real scan schedules the same single partition
    val real = spark.table(fqn).where("k BETWEEN 10 AND 20")
      .rdd.getNumPartitions
    assert(real == 1)
  }

  test("a one-region predicate reports one region with the local read " +
      "on and off") {
    fqn
    val on = estimate("k = 15")
    val off = TestSpark.withConf(GraftAccel.LocalRead -> "false") {
      estimate("k = 15")
    }
    assert(on._2 == 1 && off._2 == 1, s"on=$on off=$off")
    assert(on == off)
  }

  test("no-match predicate estimates zero; unfiltered reads everything") {
    fqn
    val (_, scanned0, rows0, _) = estimate("k > 999999")
    assert(scanned0 == 0 && rows0 == 0)
    val (total, scannedAll, rowsAll, _) = estimate("true")
    assert(scannedAll == total && rowsAll == 4000)
  }

  test("un-pushable predicate reads honestly as a full scan") {
    fqn
    val (total, scanned, _, _) = estimate("length(grp) + k % 7 = 3")
    assert(scanned == total)
  }
}
