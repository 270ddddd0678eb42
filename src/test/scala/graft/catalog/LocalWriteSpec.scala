package graft.catalog

import java.io.File

import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** Zero-job small INSERTs ([[GraftLocalRead]]'s write case): an append
  * or overwrite of a small local relation is written on the driver by
  * the write's own region writer and committed by its own batch commit,
  * with no Spark job; it writes what the job path writes and declines
  * every shape it cannot serve. Jobs are counted by [[TestSpark.jobsIn]].
  * The job path is reached with the same rows read from a parquet file,
  * an input that is not a local relation. */
class LocalWriteSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  import TestSpark.jobsIn

  private def ns(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lwrite")

  private def fresh(name: String, cols: String, props: String): String = {
    ns()
    val fqn = s"graft.lwrite.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn ($cols) TBLPROPERTIES($props)")
    fqn
  }

  private def tableDir(name: String): File =
    spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("lwrite"), name)).asInstanceOf[GraftTable].tableDir

  private def rows(fqn: String): Seq[String] =
    spark.table(fqn).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def regionFiles(name: String): Seq[String] =
    Option(tableDir(name).list()).toSeq.flatten.filter(_.endsWith(".parquet"))

  /** Jobs run by the statement `sql`. */
  private def jobs(sql: String): Int = jobsIn(spark.sql(sql))

  /** Ingest's shape: a 16-fixed-region lineitem-like table. */
  private def lineitem(name: String): String =
    fresh(name, "ok BIGINT, ln INT, qty DOUBLE, flag STRING, " +
      "ship TIMESTAMP",
      s"'keyCols'='ok;ln', 'regionSplits'='${(1 until 16).map(_ * 100)
        .mkString(";")}'")

  /** 40 rows of commit `c`, unsorted, spanning two or three regions. */
  private def values(c: Int): String = (0 until 40).reverse.map { i =>
    val flag = if (i % 7 == 0) "NULL" else s"'f$c'"
    s"(${c * 100 + (i / 4) * 17}, ${i % 4}, ${i * 0.5}D, $flag, " +
      s"TIMESTAMP'2024-01-0${1 + i % 9} 10:00:00')"
  }.mkString(", ")

  /** Per commit: per region bucket, (rows, lowest key, highest key) of
    * the regions that commit added. */
  private def commits(name: String)
      : Seq[Map[Int, (Long, Seq[String], Seq[String])]] = {
    val dir = tableDir(name)
    val ord = Ordering.Implicits.seqOrdering[Seq, String]
    (1L to TableMeta.currentVersion(dir)).map { v =>
      val before =
        if (v == 1L) Set.empty[String]
        else TableMeta.stateAt(dir, v - 1).regions.map(_.file).toSet
      TableMeta.stateAt(dir, v).regions.filterNot(r => before(r.file))
        .groupBy(_.bucket).map { case (b, rs) =>
          b -> (rs.map(_.rows).sum, rs.map(_.mins).min(ord),
            rs.map(_.maxs).max(ord))
        }
    }.filter(_.nonEmpty)
  }

  private def localWrites(p: SparkPlan): Seq[GraftLocalWriteExec] =
    p match {
      case c: CommandResultExec => localWrites(c.commandPhysicalPlan)
      case other => other.collect { case w: GraftLocalWriteExec => w }
    }

  test("40-row INSERT … VALUES into a 16-region table runs as zero jobs " +
      "and writes what the job path writes") {
    val on = lineitem("on")
    val viaJob = lineitem("job")
    val src = tempDir("graft_lwrite_src")
    (0 until 3).foreach { c =>
      val sql = s"VALUES ${values(c)}"
      assert(jobs(s"INSERT INTO $on $sql") == 0)
      val file = new File(src, s"c$c").getPath
      spark.sql(s"SELECT * FROM $sql").write.parquet(file)
      spark.read.parquet(file).createOrReplaceTempView("lwrite_src")
      assert(jobs(s"INSERT INTO $viaJob SELECT * FROM lwrite_src") >= 1)
    }
    spark.catalog.dropTempView("lwrite_src")
    assert(rows(on).size == 120)
    assert(rows(on) == rows(viaJob))
    val onCommits = commits("on")
    assert(onCommits.size == 3)
    assert(onCommits.forall(_.size >= 2), "each commit spans two regions")
    assert(onCommits == commits("job"))
    // a fresh read through the manifest sees every row
    TableMeta.evictManifestCache(tableDir("on"))
    assert(spark.newSession().table(on).count() == 120L)
  }

  test("EXPLAIN names the local write; the write posts its row count") {
    val fqn = lineitem("explain")
    val plan = spark.sql(s"EXPLAIN INSERT INTO $fqn VALUES ${values(0)}")
      .collect().head.getString(0)
    assert("GraftLocalWrite \\S*lwrite\\.explain rows=40 local".r
      .findFirstIn(plan).nonEmpty, plan)
    assert(regionFiles("explain").isEmpty, "EXPLAIN wrote nothing")
    val pass = TestSpark.ledger.record(
      spark.sql(s"INSERT INTO $fqn VALUES ${values(0)}"))
    assert(pass.row.jobs == 0)
    val written = pass.queries.flatMap(q => localWrites(q.executedPlan))
    assert(written.map(_.metrics("numOutputRows").value) == Seq(40L))
  }

  test("a CHECK violation commits nothing and leaves no region file") {
    val fqn = fresh("check", "k BIGINT, qty BIGINT",
      "'keyCols'='k', 'graft.check.positive_qty'='qty > 0', " +
        "'regionSplits'='10;20'")
    val e = intercept[Exception] {
      // the violating row sorts last: earlier rows were written first
      spark.sql(s"INSERT INTO $fqn VALUES " + (0 until 30).map(k =>
        s"($k, ${if (k == 29) -1 else k + 1})").mkString(", "))
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("positive_qty")))
    assert(spark.table(fqn).count() == 0L)
    assert(regionFiles("check").isEmpty)
  }

  test("IDENTITY and GENERATED columns are filled") {
    val fqn = fresh("fill", "k BIGINT, id BIGINT GENERATED BY DEFAULT AS " +
      "IDENTITY (START WITH 100 INCREMENT BY 2), " +
      "b BIGINT GENERATED ALWAYS AS (k % 10), v STRING", "'keyCols'='k'")
    assert(jobs(s"INSERT INTO $fqn (k, v) VALUES " +
      (1 to 20).map(k => s"($k, 'v$k')").mkString(", ")) == 0)
    assert(jobs(s"INSERT INTO $fqn (k, v) VALUES (21, 'a'), (22, 'b')") == 0)
    val got = spark.table(fqn).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).sorted.toSeq == (1L to 22L))
    assert(got.forall { case (k, _, b) => b == k % 10 })
    val ids = got.map(_._2)
    assert(ids.distinct.length == ids.length, ids.mkString(","))
    assert(ids.forall(id => id >= 100 && (id - 100) % 2 == 0))
  }

  test("INSERT OVERWRITE … VALUES swaps the table") {
    val fqn = fresh("overwrite", "k BIGINT, v STRING", "'keyCols'='k'")
    spark.sql(s"INSERT INTO $fqn SELECT id, 'old' FROM range(100)")
    assert(jobs(s"INSERT OVERWRITE $fqn VALUES (5, 'new'), (3, 'new')") == 0)
    assert(rows(fqn) == Seq("3|new", "5|new"))
    assert(TableMeta.loadState(tableDir("overwrite")).regions.map(_.rows)
      == Seq(2L))
  }

  test("a WAP-branch insert stays invisible to main") {
    val fqn = fresh("wap", "k BIGINT, v STRING", "'keyCols'='k'")
    spark.sql(s"INSERT INTO $fqn VALUES (1, 'main')")
    try {
      spark.conf.set(GraftBranch.WapConf, "audit")
      assert(jobs(s"INSERT INTO $fqn VALUES (2, 'staged'), (3, 'staged')")
        == 0)
      assert(spark.table(fqn).count() == 3L, "the branch preview sees it")
    } finally spark.conf.unset(GraftBranch.WapConf)
    assert(TableMeta.branchExists(tableDir("wap"), "audit"))
    assert(rows(fqn) == Seq("1|main"))
  }

  test("a numRegions=4 table gets 4 regions") {
    val fqn = fresh("four", "k BIGINT, v BIGINT",
      "'keyCols'='k', 'numRegions'='4'")
    assert(jobs(s"INSERT INTO $fqn VALUES " +
      (0 until 40).reverse.map(k => s"($k, $k)").mkString(", ")) == 0)
    val regions = TableMeta.loadState(tableDir("four")).regions
      .sortBy(_.mins.head)
    assert(regions.map(_.rows) == Seq(10L, 10L, 10L, 10L))
    regions.sliding(2).foreach { case Seq(a, b) =>
      assert(a.maxs.head < b.mins.head, "disjoint contiguous key runs")
    }
    // a key never spans two regions: 10 keys, 4 rows each
    val dup = fresh("fourdup", "k BIGINT, v BIGINT",
      "'keyCols'='k', 'numRegions'='4'")
    assert(jobs(s"INSERT INTO $dup VALUES " +
      (0 until 40).map(i => s"(${i % 10}, $i)").mkString(", ")) == 0)
    val dupRegions = TableMeta.loadState(tableDir("fourdup")).regions
    assert(dupRegions.map(_.rows).sum == 40L)
    assert(dupRegions.forall(_.rows % 4 == 0), dupRegions.map(_.rows))
  }

  test("declines a relation over MaxRows, INSERT … SELECT from range(n), " +
      "MERGE and UPDATE") {
    val s = spark
    import s.implicits._
    val fqn = fresh("decline", "k BIGINT, v BIGINT", "'keyCols'='k'")
    // the same DataFrame append is local under the bound
    assert(jobsIn(Seq.tabulate(10)(i => (i.toLong, i.toLong)).toDF("k", "v")
      .writeTo(fqn).append()) == 0)
    val big = GraftLocalRead.MaxRows + 1
    assert(jobsIn(Seq.tabulate(big)(i => (i.toLong + 10, 0L)).toDF("k", "v")
      .writeTo(fqn).append()) >= 1)
    assert(jobs(s"INSERT INTO $fqn SELECT id + $big + 10, id FROM range(50)")
      >= 1)
    assert(jobs(s"UPDATE $fqn SET v = -1 WHERE k = 3") >= 1)
    assert(jobs(
      s"""MERGE INTO $fqn t USING (SELECT 4L AS k, -2L AS v) s
         |ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
      >= 1)
    assert(spark.table(fqn).count() == 10L + big + 50L)
    assert(spark.sql(s"SELECT v FROM $fqn WHERE k IN (3, 4) ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(-1L, -2L))
  }
}
