package graft.catalog

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Time travel over the commit log: every manifest mutation is one
  * CAS'd log segment, so the commit protocol IS the version history —
  * `VERSION AS OF n` reconstructs the manifest at seq n from the
  * retained checkpoints + segments ([[TableMeta.stateAt]]), with zero
  * extra write-path cost. The reference has no versioned reads at all
  * (HBase overwrites cells in place up to VERSIONS); this is the
  * capability a 100-TB training-data pipeline actually needs —
  * reproducible reads of the exact corpus a run trained on, and
  * metadata-only rollback of a bad ingest. */
class TimeTravelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ns(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")

  private def tableDir(name: String): File = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("tt"), name)).asInstanceOf[GraftTable].tableDir
  }

  private def ks(fqn: String): Seq[Long] =
    spark.sql(s"SELECT k FROM $fqn ORDER BY k").collect()
      .map(_.getLong(0)).toSeq

  test("VERSION AS OF reads the manifest as of any commit: appends, " +
      "metadata DELETE, and the current head") {
    ns()
    val fqn = "graft.tt.versions"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql(s"INSERT INTO $fqn SELECT id, concat('a', id) FROM range(10)")
    val v1 = TableMeta.currentVersion(tableDir("versions"))
    spark.sql(s"INSERT INTO $fqn SELECT id, concat('b', id) " +
      "FROM range(10, 20)")
    val v2 = TableMeta.currentVersion(tableDir("versions"))
    spark.sql(s"DELETE FROM $fqn WHERE k >= 10") // interval: metadata-only
    assert(v2 == v1 + 1, "one commit = one version")

    assert(ks(s"$fqn VERSION AS OF $v1") == (0L until 10L))
    assert(ks(s"$fqn VERSION AS OF $v2") == (0L until 20L))
    assert(ks(fqn) == (0L until 10L), "head sees the DELETE")
    // DataFrameReader option face resolves through the same path
    assert(spark.read.option("versionAsOf", v2.toString).table(fqn)
      .count() == 20L)
  }

  test("TIMESTAMP AS OF resolves to the newest commit at or before " +
      "the timestamp; a pre-table timestamp refuses") {
    ns()
    val fqn = "graft.tt.bytime"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    val t0 = System.currentTimeMillis()
    Thread.sleep(20)
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql(s"INSERT INTO $fqn SELECT id, 'x' FROM range(5)")
    Thread.sleep(20)
    val mid = System.currentTimeMillis()
    Thread.sleep(20)
    spark.sql(s"INSERT INTO $fqn SELECT id, 'y' FROM range(5, 9)")

    val midTs = new java.sql.Timestamp(mid).toString
    assert(ks(s"$fqn TIMESTAMP AS OF '$midTs'") == (0L until 5L))
    assert(ks(fqn) == (0L until 9L))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $fqn TIMESTAMP AS OF " +
        s"'${new java.sql.Timestamp(t0).toString}'").collect()
    }
    assert(e.getMessage.contains("no version"),
      s"unexpected: ${e.getMessage}")
  }

  test("snapshots prune regions like live scans, answer " +
      "manifest-only aggregates from the pinned manifest, and refuse " +
      "writes") {
    ns()
    val fqn = "graft.tt.pinned"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('keyCols'='k', 'regionSplits'='100;200;300')")
    spark.sql(s"INSERT INTO $fqn SELECT id, id * 1.0 FROM range(400)")
    val v1 = TableMeta.currentVersion(tableDir("pinned"))
    spark.sql(s"DELETE FROM $fqn WHERE k >= 100") // drops 3 regions

    // pruning on the pinned manifest: a point predicate hits 1 of the
    // snapshot's 4 regions
    val df = spark.sql(s"SELECT v FROM $fqn VERSION AS OF $v1 " +
      "WHERE k = 250")
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(250.0))
    val scans = TestSpark.graftScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    assert(scans.head.planInputPartitions().length == 1,
      "snapshot scan must prune to the single matching pinned region")

    // manifest-answered COUNT on the snapshot: the PINNED region set
    assert(spark.sql(s"SELECT count(*) FROM $fqn VERSION AS OF $v1")
      .head().getLong(0) == 400L)
    assert(spark.sql(s"SELECT count(*) FROM $fqn").head().getLong(0)
      == 100L)

    // snapshots are read-only: the write surfaces refuse
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val snap = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("tt"), "pinned"), v1.toString)
    assert(snap.capabilities() == java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ))
    val err = intercept[UnsupportedOperationException] {
      snap.asInstanceOf[GraftTable]
        .newWriteBuilder(null)
    }
    assert(err.getMessage.contains("time-travel snapshot"))
  }

  test("a pre-compaction version still reads the original regions " +
      "(files retired, not deleted); after vacuum it refuses loudly") {
    ns()
    val fqn = "graft.tt.compacted"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    (0 until 3).foreach(b => spark.sql(
      s"INSERT INTO $fqn SELECT id, concat('b$b-', id) " +
        s"FROM range(${b * 10}, ${b * 10 + 10})"))
    val preCompact = TableMeta.currentVersion(tableDir("compacted"))
    spark.sql(s"CALL graft.sys.compact(table => 'tt.compacted', " +
      "target_regions => 1)")
    // the snapshot reads the ORIGINAL (now-retired) region files
    assert(ks(s"$fqn VERSION AS OF $preCompact") == (0L until 30L))

    // vacuum removes the retired files; the snapshot now refuses at
    // load time with a message naming the cause
    spark.sql("CALL graft.sys.vacuum(table => 'tt.compacted')")
    val e = intercept[Exception] {
      ks(s"$fqn VERSION AS OF $preCompact")
    }
    assert(e.getMessage.contains("vacuum"), s"unexpected: ${e.getMessage}")
    // the head is untouched
    assert(ks(fqn) == (0L until 30L))
  }

  test("restore rolls the live manifest back metadata-only, as a NEW " +
      "commit: history is preserved and the restore itself can be " +
      "time-traveled over") {
    ns()
    val fqn = "graft.tt.rolled"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql(s"INSERT INTO $fqn SELECT id, 'good' FROM range(10)")
    val good = TableMeta.currentVersion(tableDir("rolled"))
    spark.sql(s"INSERT INTO $fqn SELECT id, 'bad' FROM range(10, 50)")
    val bad = TableMeta.currentVersion(tableDir("rolled"))

    val res = spark.sql(s"CALL graft.sys.restore(" +
      s"table => 'tt.rolled', version => $good)").collect().head
    assert(res.getString(0) == good.toString)
    assert(ks(fqn) == (0L until 10L), "head rolled back")
    // the rolled-over version is STILL readable (restore is a commit,
    // not an erasure)...
    assert(ks(s"$fqn VERSION AS OF $bad") == (0L until 50L))
    // ...and the restore can itself be undone by restoring forward
    spark.sql(s"CALL graft.sys.restore(table => 'tt.rolled', " +
      s"version => $bad)")
    assert(ks(fqn) == (0L until 50L))
  }

  test("graft.sys.history lists the retained commits oldest-first " +
      "with dense versions and operation labels") {
    ns()
    val fqn = "graft.tt.hist"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql(s"INSERT INTO $fqn SELECT id, 'x' FROM range(10)")
    spark.sql(s"DELETE FROM $fqn WHERE k >= 5")
    spark.sql("CALL graft.sys.compact(table => 'tt.hist', " +
      "target_regions => 1)")
    val rows = spark.sql("CALL graft.sys.history(table => 'tt.hist')")
      .collect()
    val versions = rows.map(_.getString(0).toLong).toSeq
    assert(versions == versions.sorted, "oldest first")
    assert(versions == (versions.head to versions.last),
      s"versions must be dense, got $versions")
    val ops = rows.map(r => r.getString(0).toLong -> r.getString(2)).toMap
    // create(swap) -> append -> delete -> compact
    assert(ops.values.toSet.intersect(
      Set("append", "delete", "compact")).size == 3,
      s"expected append/delete/compact labels, got $ops")
    // the append row carries its delta sizes
    val append = rows.find(_.getString(2) == "append").get
    assert(append.getString(4).toLong == 10L, "rows_added")
    // manifest readout exposes the current version
    val mani = spark.sql("CALL graft.sys.manifest(table => 'tt.hist')")
      .collect().head
    assert(mani.getString(7).toLong == versions.last)
  }

  test("a version whose segments aged past the retention horizon " +
      "refuses with the earliest reconstructible version") {
    ns()
    val fqn = "graft.tt.aged"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql(s"INSERT INTO $fqn SELECT id, 'x' FROM range(5)")
    val v1 = TableMeta.currentVersion(tableDir("aged"))
    spark.sql(s"INSERT INTO $fqn SELECT id, 'y' FROM range(5, 8)")
    // fold + simulate the horizon passing: cleanup with retention 0
    val saved = TableMeta.historyRetainMillis
    try {
      TableMeta.historyRetainMillis = 0L
      TableMeta.foldLog(tableDir("aged"))
    } finally TableMeta.historyRetainMillis = saved
    val e = intercept[Exception] { ks(s"$fqn VERSION AS OF $v1") }
    assert(e.getMessage.contains("no longer reconstructible"),
      s"unexpected: ${e.getMessage}")
    assert(ks(fqn) == (0L until 8L), "the head is unaffected")
  }

  test("version numbers beyond the head refuse with the current " +
      "version named") {
    ns()
    val fqn = "graft.tt.future"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql(s"INSERT INTO $fqn SELECT id, 'x' FROM range(3)")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $fqn VERSION AS OF 999").collect()
    }
    assert(e.getMessage.contains("current version"),
      s"unexpected: ${e.getMessage}")
  }
}
