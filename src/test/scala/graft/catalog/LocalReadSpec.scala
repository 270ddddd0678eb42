package graft.catalog

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.CatalogQueries

/** Zero-job point reads ([[GraftLocalRead]]): a scan pruned to one
  * small region is read on the driver with no Spark job, answers
  * exactly as the task-side read does, and declines every shape it
  * cannot serve. Jobs are counted by [[TestSpark.jobsIn]]. */
class LocalReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val off = GraftAccel.LocalRead -> "false"

  import TestSpark.jobsIn

  /** (jobs, sorted rows) of collecting the query `q` builds. */
  private def run(q: => DataFrame): (Int, Seq[String]) = {
    var rows = Seq.empty[String]
    val jobs = jobsIn {
      rows = q.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    }
    (jobs, rows)
  }

  private def plan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }

  private def localNodes(p: SparkPlan): Seq[GraftLocalScanExec] = p match {
    case l: GraftLocalScanExec => Seq(l)
    case a: AdaptiveSparkPlanExec => localNodes(a.executedPlan)
    case q: QueryStageExec => localNodes(q.plan)
    case other => other.children.flatMap(localNodes)
  }

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** The query runs as 0 jobs and explains as a one-region local read;
    * with the switch off it runs as ≥ 1 job; both give the same rows,
    * which are returned. */
  private def servedLocally(q: => DataFrame): Seq[String] = {
    q.collect() // warm: fixtures, schema memos, manifest cache
    val (onJobs, onRows) = run(q)
    assert(onJobs == 0, explain(q))
    assert("GraftScan \\S+ regions=1 .* local".r.findFirstIn(explain(q))
      .nonEmpty, explain(q))
    val (offJobs, offRows) = TestSpark.withConf(off)(run(q))
    assert(offJobs >= 1)
    assert(onRows == offRows)
    onRows
  }

  /** The query plans a task-side read and runs as ≥ 1 job. */
  private def declined(q: => DataFrame): Unit = {
    q.collect()
    assert(localNodes(plan(q)).isEmpty, explain(q))
    assert(run(q)._1 >= 1)
  }

  private def ns(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lread")

  private def tableDir(name: String): File =
    spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("lread"), name)).asInstanceOf[GraftTable].tableDir

  /** A 4-region table over k in [0, 400): 100 rows per region. */
  private def fourRegions(name: String): String = {
    ns()
    val fqn = s"graft.lread.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v DOUBLE, s STRING) " +
      "TBLPROPERTIES('keyCols'='k', 'regionSplits'='100;200;300')")
    spark.sql(s"INSERT INTO $fqn SELECT id, id * 1.5, " +
      "concat('s', CAST(id AS STRING)) FROM range(400)")
    fqn
  }

  test("point faces and an ingest-shaped read-back run as zero jobs") {
    val d = TestSpark.sfDir
    Seq("catalog_point_lookup", "store_point_lookup").foreach { face =>
      val rows = servedLocally(CatalogQueries.queries(face)(spark, d))
      assert(rows.size == 1, face)
    }
    // ingest's read-back: small VALUES commits, then a literal full-key
    // SELECT of one committed row
    ns()
    val fqn = "graft.lread.ingest"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (ok BIGINT, ln INT, qty DOUBLE, " +
      "flag STRING) TBLPROPERTIES('keyCols'='ok;ln')")
    (0 until 3).foreach { c =>
      spark.sql(s"INSERT INTO $fqn VALUES " + (0 until 40).map { i =>
        val ok = c * 100 + i / 4
        s"($ok, ${i % 4}, ${i * 0.5}, 'f$c')"
      }.mkString(", "))
    }
    val rows = servedLocally(spark.sql(
      s"SELECT ok, ln, qty, flag FROM $fqn WHERE ok = 105 AND ln = 2"))
    assert(rows == Seq("105|2|11.0|f1"))
  }

  test("take and tail return rows with no job") {
    val fqn = fourRegions("take")
    val q = spark.sql(s"SELECT k FROM $fqn WHERE k >= 110 AND k < 120")
    q.collect()
    var head: Array[org.apache.spark.sql.Row] = null
    var tail: Array[org.apache.spark.sql.Row] = null
    assert(jobsIn {
      head = q.take(3)
      tail = q.tail(2)
    } == 0)
    assert(head.map(_.getLong(0)).toSeq == Seq(110L, 111L, 112L))
    assert(tail.map(_.getLong(0)).toSeq == Seq(118L, 119L))
  }

  test("an operator above the local read gets its rows as one partition") {
    val fqn = fourRegions("above")
    val q = spark.sql(s"SELECT s, count(*) AS n, sum(v) AS t FROM $fqn " +
      "WHERE k >= 150 AND k < 160 GROUP BY s")
    assert(localNodes(plan(q)).size == 1)
    val rows = q.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == (150 until 160).map(k => s"s$k" -> 1L).toMap)
    TestSpark.withConf(off) {
      assert(spark.sql(s"SELECT s, count(*) AS n, sum(v) AS t FROM $fqn " +
        "WHERE k >= 150 AND k < 160 GROUP BY s").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap == rows)
    }
  }

  test("declines a 2-region range, a region above MaxRows, rand() and " +
      "a scalar subquery") {
    val fqn = fourRegions("decline")
    declined(spark.sql(s"SELECT k FROM $fqn WHERE k BETWEEN 150 AND 250"))
    // (a bound outside rand()'s [0, 1) would be folded by the optimizer)
    declined(spark.sql(s"SELECT k FROM $fqn WHERE k = 5 AND rand() < 0.5"))
    declined(spark.sql(s"SELECT k FROM $fqn WHERE k = 5 AND " +
      "v < (SELECT max(id) FROM range(10))"))
    // the same point read is served locally once the shapes go away
    servedLocally(spark.sql(s"SELECT k FROM $fqn WHERE k = 5"))

    val big = "graft.lread.big"
    spark.sql(s"DROP TABLE IF EXISTS $big")
    spark.sql(s"CREATE TABLE $big (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('keyCols'='k', 'numRegions'='1')")
    spark.sql(s"INSERT INTO $big SELECT id, id FROM " +
      s"range(${GraftLocalRead.MaxRows + 1})")
    val bigQ = spark.sql(s"SELECT v FROM $big WHERE k = 7")
    assert(TestSpark.regionsScanned(bigQ) == 1)
    declined(bigQ)
    assert(bigQ.collect().map(_.getLong(0)).toSeq == Seq(7L))
    spark.sql(s"DROP TABLE $big")
  }

  test("declines DELETE, UPDATE and MERGE; their answers are unchanged") {
    val fqn = fourRegions("dml")
    // a non-interval DELETE rewrites its region (group-mode read)
    val del = spark.sql(s"DELETE FROM $fqn WHERE k = 5 AND v >= 0")
    val upd = spark.sql(s"UPDATE $fqn SET v = -1.0 WHERE k = 6")
    val mrg = spark.sql(
      s"""MERGE INTO $fqn t USING (SELECT 7L AS k, -2.0 AS v) s
         |ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    Seq(del, upd, mrg).foreach { dml =>
      val p = plan(dml)
      assert(localNodes(p).isEmpty, p.toString)
      assert(TestSpark.graftScans(p).nonEmpty, p.toString)
    }
    val got = spark.sql(s"SELECT k, v FROM $fqn WHERE k BETWEEN 4 AND 8")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(4L -> 6.0, 6L -> -1.0, 7L -> -2.0, 8L -> 12.0))
  }

  test("serves metadata columns, existence defaults and VERSION AS OF") {
    val fqn = fourRegions("serve")
    val meta = servedLocally(spark.sql(
      s"SELECT k, _graft_region_id, _graft_file FROM $fqn WHERE k = 250"))
    val rid = TestSpark.graftScans(plan(spark.sql(
      s"SELECT k FROM $fqn WHERE k = 250"))).head
      .planInputPartitions().head.asInstanceOf[RegionPartition]
    assert(meta == Seq(s"250|${rid.ids.head}|" +
      new File(rid.files.head).getName))

    val v1 = TableMeta.currentVersion(tableDir("serve"))
    spark.sql(s"UPDATE $fqn SET v = 0.0 WHERE k = 250")
    spark.sql(s"ALTER TABLE $fqn ADD COLUMN w BIGINT DEFAULT 7")
    assert(servedLocally(spark.sql(s"SELECT k, v, w FROM $fqn WHERE k = 251"))
      == Seq("251|376.5|7"))
    assert(servedLocally(spark.sql(s"SELECT k, v, w FROM $fqn WHERE k = 250"))
      == Seq("250|0.0|7"))
    assert(servedLocally(spark.sql(
      s"SELECT k, v FROM $fqn VERSION AS OF $v1 WHERE k = 250"))
      == Seq("250|375.0"))
  }
}
