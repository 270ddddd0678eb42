package graft.catalog

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.codec.ZOrder
import graft.functions.ZOrderOps

/** Z-order clustering (`CALL graft.sys.cluster`, [[GraftCluster]]):
  * rewriting regions by the Morton order of chosen columns makes
  * per-region min/max stats tight on every clustered dimension, so
  * non-key predicates prune regions the key-sorted layout cannot.
  * Answers must be layout-independent; the clustering only changes
  * which regions a filter has to touch.
  */
class GraftClusterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // ------------------------------------------------------ bit substrate

  test("interleave: known bit patterns land in the right positions") {
    // one column: identity (modulo the signed-domain flip)
    assert(ZOrder.interleave(Array(0x8000000000000000L)) == 0L)
    assert(ZOrder.interleave(Array(0L)) == Long.MinValue)
    // two columns: MSBs alternate a,b,a,b...
    val z = ZOrder.interleave(Array(1L << 63, 0L))
    assert((z ^ Long.MinValue) == (1L << 63),
      "col 0's MSB must land at z bit 63")
    val z2 = ZOrder.interleave(Array(0L, 1L << 63))
    assert((z2 ^ Long.MinValue) == (1L << 62),
      "col 1's MSB must land at z bit 62")
  }

  test("zorder is monotone in each column with the others fixed") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val b = rnd.nextLong()
      val a1 = rnd.nextLong(); val a2 = rnd.nextLong()
      val (lo, hi) = if (a1 < a2) (a1, a2) else (a2, a1)
      if (lo != hi) {
        val zLo = ZOrder.interleave(Array(ZOrder.u64Long(lo), ZOrder.u64Long(b)))
        val zHi = ZOrder.interleave(Array(ZOrder.u64Long(hi), ZOrder.u64Long(b)))
        assert(zLo < zHi, s"zorder must grow with a: $lo->$zLo, $hi->$zHi")
      }
    }
  }

  test("the zorder expression matches the interpreted kernel (codegen)") {
    val df = spark.range(1000).select(
      col("id"), (col("id") * 37 % 1000).as("b"),
      concat(lit("s"), col("id") % 100).as("s"))
    val rows = df.select(col("id"), col("b"), col("s"),
      ZOrderOps.zorder(col("id"), col("b"), col("s")).as("z")).collect()
    rows.foreach { r =>
      val expect = ZOrder.interleave(Array(
        ZOrder.u64Long(r.getLong(0)), ZOrder.u64Long(r.getLong(1)),
        ZOrder.u64(org.apache.spark.sql.types.StringType,
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(2)))))
      assert(r.getLong(3) == expect)
    }
    // null contributes image 0, never a null output
    val zn = spark.sql("SELECT CAST(NULL AS BIGINT) AS a, 5L AS b")
      .select(ZOrderOps.zorder(col("a"), col("b"))).head()
    assert(!zn.isNullAt(0))
  }

  // ------------------------------------------------------ the rewrite

  private def regionStats(fqn: String,
      where: String): (Long, Long) = {
    val q = spark.sql(s"SELECT count(*) AS c FROM $fqn WHERE $where")
    q.collect()
    val scan = TestSpark.graftScans(q.queryExecution.executedPlan).head
    val m = scan.reportDriverMetrics().map(t => t.name -> t.value).toMap
    (m("regionsScanned"), m("regionsTotal"))
  }

  test("clustering makes non-key predicates prune regions; answers " +
      "unchanged") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.clu")
    val fqn = "graft.clu.zt"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(
      s"""CREATE TABLE $fqn (k BIGINT, b BIGINT, c BIGINT)
         |TBLPROPERTIES('keyCols'='k', 'numRegions'='8')""".stripMargin)
    // c is uncorrelated with the key: on the key-sorted layout every
    // region's [min,max] for c spans ~the whole domain
    spark.sql(
      s"""INSERT INTO $fqn
         |SELECT id, id % 97, (id * 7919) % 10000 FROM range(40000)"""
        .stripMargin)
    val before = spark.table(fqn).orderBy("k").collect()
    val (scan0, total0) = regionStats(fqn, "c BETWEEN 100 AND 300")
    assert(total0 >= 8)
    assert(scan0 == total0,
      s"key-sorted layout must not prune on c (scanned $scan0/$total0)")

    spark.sql(s"CALL graft.sys.cluster(table => 'clu.zt', " +
      s"cols => 'c;b', target_regions => 8)")

    // same answers, region count at the target, generation bumped
    val after = spark.table(fqn).orderBy("k").collect()
    assert(after.toSeq == before.toSeq, "clustering changed answers")
    val (scan1, total1) = regionStats(fqn, "c BETWEEN 100 AND 300")
    assert(total1 == 8)
    assert(scan1 < total1,
      s"clustered layout must prune on c (scanned $scan1/$total1)")
    // the second clustered dimension prunes too
    val (scanB, totalB) = regionStats(fqn, "b BETWEEN 0 AND 9")
    assert(scanB < totalB,
      s"clustered layout must prune on b (scanned $scanB/$totalB)")
    // exact counts survive the layout change
    assert(spark.sql(
      s"SELECT count(*) FROM $fqn WHERE c BETWEEN 100 AND 300")
      .head().getLong(0) ==
      (0L until 40000L).count(id => { val c = id * 7919 % 10000
        c >= 100 && c <= 300 }))
    spark.sql(s"DROP TABLE $fqn")
  }

  test("clustering survives a concurrent-append carry-forward and a " +
      "tailing stream skips the rewrite") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.clu")
    val fqn = "graft.clu.ztail"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(
      s"""CREATE TABLE $fqn (k BIGINT, c BIGINT)
         |TBLPROPERTIES('keyCols'='k', 'numRegions'='4')""".stripMargin)
    spark.sql(
      s"INSERT INTO $fqn SELECT id, (id * 31) % 1000 FROM range(4000)")
    // a tailing stream consumes the pre-cluster regions fully
    val q = spark.readStream.table(fqn)
      .writeStream.format("memory").queryName("clu_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n0 = spark.sql("SELECT count(*) FROM clu_tail").head().getLong(0)
      assert(n0 == 4000L)
      spark.sql("CALL graft.sys.cluster(table => 'clu.ztail', " +
        "cols => 'c', target_regions => 4)")
      // the rewrite carries NO new data: srcMaxId coverage makes the
      // stream skip it instead of re-emitting 4000 rows
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM clu_tail").head().getLong(0)
        == n0, "a tailing stream must skip a clustering rewrite")
      // appends after the clustering still flow
      spark.sql(s"INSERT INTO $fqn VALUES (999999, 1)")
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM clu_tail").head().getLong(0)
        == n0 + 1)
    } finally q.stop()
    spark.sql(s"DROP TABLE $fqn")
  }

  test("cluster refuses regionSplits tables, dedupKeys tables, " +
      "unknown and unsupported columns") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.clu")
    spark.sql("DROP TABLE IF EXISTS graft.clu.fixed")
    spark.sql(
      """CREATE TABLE graft.clu.fixed (k BIGINT, c BIGINT)
        |TBLPROPERTIES('keyCols'='k', 'regionSplits'='100;200')""".stripMargin)
    spark.sql("INSERT INTO graft.clu.fixed VALUES (1, 1)")
    def rootMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val e1 = intercept[Exception](spark.sql(
      "CALL graft.sys.cluster(table => 'clu.fixed', cols => 'c', " +
        "target_regions => 2)"))
    assert(rootMsg(e1).contains("regionSplits"), rootMsg(e1))

    spark.sql("DROP TABLE IF EXISTS graft.clu.dedup")
    spark.sql(
      """CREATE TABLE graft.clu.dedup (k BIGINT, c BIGINT)
        |TBLPROPERTIES('keyCols'='k', 'graft.dedupKeys'='true')""".stripMargin)
    spark.sql("INSERT INTO graft.clu.dedup VALUES (1, 1)")
    val e2 = intercept[Exception](spark.sql(
      "CALL graft.sys.cluster(table => 'clu.dedup', cols => 'c', " +
        "target_regions => 2)"))
    assert(rootMsg(e2).contains("dedupKeys"), rootMsg(e2))

    spark.sql("DROP TABLE IF EXISTS graft.clu.cols")
    spark.sql(
      """CREATE TABLE graft.clu.cols (k BIGINT, c BIGINT, e ARRAY<DOUBLE>)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.clu.cols VALUES (1, 1, array(1.0))")
    val e3 = intercept[Exception](spark.sql(
      "CALL graft.sys.cluster(table => 'clu.cols', cols => 'nope', " +
        "target_regions => 2)"))
    assert(rootMsg(e3).contains("no such column"), rootMsg(e3))
    val e4 = intercept[Exception](spark.sql(
      "CALL graft.sys.cluster(table => 'clu.cols', cols => 'e', " +
        "target_regions => 2)"))
    assert(rootMsg(e4).contains("unsupported type"), rootMsg(e4))
    Seq("fixed", "dedup", "cols").foreach(t =>
      spark.sql(s"DROP TABLE graft.clu.$t"))
  }
}
