package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** LIMIT / ORDER-BY-leading-key LIMIT pushdown: the scan plans only
  * the regions whose manifest bounds/row counts can contribute, always
  * partially (Spark's own Limit/TopN stays on top, so answers never
  * depend on the truncation). The TopN rule is sound under OVERLAPPING
  * region key ranges — region P survives unless ≥ n rows sit in regions
  * entirely before P's range on the first sort column. */
class LimitPushdownSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def regionStats(sql: String): (Long, Long) = {
    val q = spark.sql(sql)
    q.collect()
    val scan = TestSpark.graftScans(spark.sql(sql).queryExecution.executedPlan)
      .head
    val m = scan.reportDriverMetrics().map(t => t.name -> t.value).toMap
    (m("regionsScanned"), m("regionsTotal"))
  }

  private lazy val fqn: String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lim")
    val f = "graft.lim.t"
    spark.sql(s"DROP TABLE IF EXISTS $f")
    spark.sql(s"CREATE TABLE $f (k BIGINT, v STRING) " +
      "TBLPROPERTIES('keyCols'='k', 'numRegions'='1')")
    // three appends: [0,100), an OVERLAPPING [40,50), and [200,300)
    spark.sql(s"INSERT INTO $f SELECT id, concat('a', id) FROM range(100)")
    spark.sql(s"INSERT INTO $f SELECT id, concat('b', id) " +
      "FROM range(40, 50)")
    spark.sql(s"INSERT INTO $f SELECT id, concat('c', id) " +
      "FROM range(200, 300)")
    f
  }

  test("bare LIMIT plans a minimal region subset and still returns " +
      "exactly n rows") {
    val (scanned, total) = regionStats(s"SELECT * FROM $fqn LIMIT 5")
    assert(total == 3L && scanned == 1L, s"scanned=$scanned total=$total")
    assert(spark.sql(s"SELECT * FROM $fqn LIMIT 5").count() == 5L)
  }

  test("ORDER BY key ASC LIMIT prunes regions that cannot hold the " +
      "top-n — keeping BOTH overlapping low regions") {
    val sql = s"SELECT * FROM $fqn ORDER BY k LIMIT 5"
    val (scanned, total) = regionStats(sql)
    // [0,100) and [40,50) overlap: neither is entirely before the
    // other, both must survive; [200,300) has 110 rows before it
    assert(total == 3L && scanned == 2L, s"scanned=$scanned total=$total")
    val got = spark.sql(sql).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("ORDER BY key DESC LIMIT reads only the high tail region") {
    val sql = s"SELECT * FROM $fqn ORDER BY k DESC LIMIT 5"
    val (scanned, total) = regionStats(sql)
    assert(total == 3L && scanned == 1L, s"scanned=$scanned total=$total")
    val got = spark.sql(sql).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(299L, 298L, 297L, 296L, 295L))
  }

  test("a filter disables the truncation (row counts no longer bound " +
      "the yield) and answers stay exact") {
    val sql = s"SELECT * FROM $fqn WHERE v LIKE 'c%' ORDER BY k LIMIT 3"
    val got = spark.sql(sql).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(200L, 201L, 202L))
  }

  test("ORDER BY a non-leading column refuses the pushdown; answers " +
      "exact") {
    val sql = s"SELECT * FROM $fqn ORDER BY v LIMIT 3"
    val (scanned, _) = regionStats(sql)
    assert(scanned == 3L, "no unsound pruning on a non-key sort")
    assert(spark.sql(sql).count() == 3L)
  }

  test("kill switch off: same answers, no truncation") {
    spark.conf.set(GraftAccel.LimitPushdown, "false")
    try {
      val (scanned, _) = regionStats(s"SELECT * FROM $fqn LIMIT 5")
      assert(scanned == 3L)
      val got = spark.sql(s"SELECT * FROM $fqn ORDER BY k LIMIT 5")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(0L, 1L, 2L, 3L, 4L))
    } finally spark.conf.unset(GraftAccel.LimitPushdown)
  }

  test("top-n over the full table equals a no-limit sort's head — " +
      "including across the overlap boundary") {
    val all = spark.sql(s"SELECT k FROM $fqn ORDER BY k, v")
      .collect().map(_.getLong(0)).toSeq
    val topn = spark.sql(s"SELECT k FROM $fqn ORDER BY k, v LIMIT 45")
      .collect().map(_.getLong(0)).toSeq
    assert(topn == all.take(45), "suffix sort columns compose soundly")
  }
}
