package graft.catalog

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The one region-replace commit ([[TableMeta.replaceRegions]]) that
  * compaction, cluster, merge, split, DELETE, UPDATE / MERGE INTO and
  * INSERT OVERWRITE all commit through: a stale snapshot fails loudly
  * and leaves no output files, latest-wins precedence is re-checked at
  * commit, a new-cycle swap ages the previous retired set out (files
  * deleted, tag pins kept), and compaction's staging table never
  * displaces a user table. */
class RegionReplaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh(name: String, props: String = ""): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rr")
    val fqn = s"graft.rr.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v DOUBLE) " +
      s"TBLPROPERTIES('keyCols'='k', 'numRegions'='1'$props)")
    fqn
  }

  private def dir(name: String): File = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("rr"), name)).asInstanceOf[GraftTable].tableDir
  }

  /** A rewrite of `snapshot` as a compaction would stage it: a copy of
    * each region file under a new name, with the snapshot's coverage. */
  private def rewriteOf(d: File, snapshot: Seq[RegionMeta])
      : Seq[RegionMeta] = {
    val srcMax = snapshot.map(_.covers).max
    snapshot.map { r =>
      val f = s"rewrite-${r.file}"
      Files.copy(new File(d, r.file).toPath, new File(d, f).toPath)
      r.copy(file = f, id = 0L, srcMaxId = srcMax)
    }
  }

  private def parquetFiles(d: File): Set[String] =
    d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet

  test("a compaction whose snapshot lost a region to a DELETE throws, " +
      "deletes its outputs and commits nothing") {
    val fqn = fresh("stale")
    spark.sql(s"INSERT INTO $fqn SELECT id, 1.0 FROM range(10)")
    spark.sql(s"INSERT INTO $fqn SELECT id, 1.0 FROM range(10, 20)")
    val d = dir("stale")
    val snapshot = TableMeta.loadRegions(d)
    assert(snapshot.size == 2, snapshot)
    val outputs = rewriteOf(d, snapshot)
    // an aligned DELETE retires the first region between the snapshot
    // and the commit
    spark.sql(s"DELETE FROM $fqn WHERE k < 10")
    assert(TableMeta.loadRegions(d).size == 1)
    val version = TableMeta.currentVersion(d)
    val e = intercept[IllegalStateException] {
      TableMeta.replaceRegions(d, "compact", outputs, newCycle = true)(
        TableMeta.stillLive("compaction of rr.stale", snapshot))
    }
    assert(e.getMessage.contains("lost a race"), e.getMessage)
    outputs.foreach(o => assert(!new File(d, o.file).exists(),
      s"abandoned output ${o.file} left on disk"))
    assert(TableMeta.currentVersion(d) == version, "nothing committed")
    assert(spark.table(fqn).count() == 10L)
  }

  test("dedupKeys: a rewrite of a stale snapshot is refused at commit " +
      "under a newer overlapping INSERT, not a disjoint one; latest wins") {
    val fqn = fresh("prec", ", 'graft.dedupKeys'='true'")
    spark.sql(s"INSERT INTO $fqn SELECT id, 1.0 FROM range(10)")
    val d = dir("prec")
    // a newer INSERT disjoint from the snapshot is no hazard
    val snap1 = TableMeta.loadRegions(d)
    val out1 = rewriteOf(d, snap1)
    spark.sql(s"INSERT INTO $fqn SELECT 100L, 3.0")
    TableMeta.replaceRegions(d, "compact", out1, newCycle = true)(
      TableMeta.stillLive("compaction of rr.prec", snap1))
    // a newer version of key 5 commits mid-rewrite: the rewrite's
    // fresh ids would outrank it
    val snap2 = TableMeta.loadRegions(d)
    val out2 = rewriteOf(d, snap2)
    spark.sql(s"INSERT INTO $fqn SELECT 5L, 2.0")
    val version = TableMeta.currentVersion(d)
    val e = intercept[IllegalStateException] {
      TableMeta.replaceRegions(d, "compact", out2, newCycle = true)(
        TableMeta.stillLive("compaction of rr.prec", snap2))
    }
    assert(e.getMessage.contains("newer overlapping commit"), e.getMessage)
    out2.foreach(o => assert(!new File(d, o.file).exists()))
    assert(TableMeta.currentVersion(d) == version, "nothing committed")
    val latest = spark.sql(
      s"""SELECT v FROM (SELECT v, row_number() OVER (
         |  PARTITION BY k ORDER BY _graft_region_id DESC) rn
         |FROM $fqn WHERE k = 5) WHERE rn = 1""".stripMargin)
      .head().getDouble(0)
    assert(latest == 2.0)
  }

  test("INSERT OVERWRITE ages the previous retired set out: the files " +
      "on disk are exactly live + retired, before and after vacuum") {
    val fqn = fresh("ow")
    val d = dir("ow")
    spark.sql(s"INSERT INTO $fqn SELECT id, 1.0 FROM range(10)")
    spark.sql(s"INSERT OVERWRITE $fqn SELECT id, 2.0 FROM range(5)")
    spark.sql(s"INSERT OVERWRITE $fqn SELECT id, 3.0 FROM range(3)")
    def tracked(): Set[String] = {
      val st = TableMeta.loadState(d)
      (st.regions ++ st.retired).map(_.file).toSet
    }
    assert(parquetFiles(d) == tracked())
    spark.sql("CALL graft.sys.vacuum(table => 'rr.ow')").collect()
    assert(parquetFiles(d) == tracked())
    assert(TableMeta.loadState(d).retired.isEmpty)
    assert(spark.table(fqn).count() == 3L)
  }

  test("INSERT OVERWRITE keeps a tag-pinned file on the retired list " +
      "and readable through later overwrites and vacuum") {
    val fqn = fresh("owtag")
    val d = dir("owtag")
    spark.sql(s"INSERT INTO $fqn SELECT id, 1.0 FROM range(10)")
    val pinned = TableMeta.loadRegions(d).map(_.file).toSet
    spark.sql(s"ALTER TABLE $fqn CREATE TAG keep")
    spark.sql(s"INSERT OVERWRITE $fqn SELECT id, 2.0 FROM range(5)")
    spark.sql(s"INSERT OVERWRITE $fqn SELECT id, 3.0 FROM range(3)")
    spark.sql("CALL graft.sys.vacuum(table => 'rr.owtag')").collect()
    val retired = TableMeta.loadState(d).retired.map(_.file).toSet
    assert(pinned.subsetOf(retired), s"pinned $pinned, retired $retired")
    pinned.foreach(f => assert(new File(d, f).isFile))
    assert(spark.sql(s"SELECT k FROM $fqn VERSION AS OF 'keep'")
      .count() == 10L)
    assert(spark.table(fqn).count() == 3L)
  }

  test("compaction refuses a staging name a user table holds and " +
      "leaves that table's rows alone") {
    val fqn = fresh("orders")
    spark.sql(s"INSERT INTO $fqn SELECT id, 1.0 FROM range(10)")
    val user = fresh("orders__compacting")
    spark.sql(s"INSERT INTO $user SELECT id, 9.0 FROM range(7)")
    val e = intercept[Exception] {
      spark.sql("CALL graft.sys.compact(table => 'rr.orders', " +
        "target_regions => 1)").collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[TableAlreadyExistsException]), e)
    assert(spark.table(user).count() == 7L)
    assert(spark.table(fqn).count() == 10L)
    // once the name is free, compaction runs and drops its own staging
    spark.sql(s"DROP TABLE $user")
    spark.sql("CALL graft.sys.compact(table => 'rr.orders', " +
      "target_regions => 1)").collect()
    assert(spark.table(fqn).count() == 10L)
    assert(!spark.catalog.tableExists(user))
  }
}
