package graft.catalog

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.ExplainMode
import graft.TestSpark

/** `CALL graft.sys.analyze`: stats backfill on pre-upgrade manifests.
  * Strips the writer-collected ColStats from a live manifest (the
  * exact state of a table ingested before stats existed), asserts the
  * degradation is real (manifest-answered aggregates stop pushing),
  * then analyzes and requires the backfilled stats to be
  * BYTE-IDENTICAL to what the writer had collected — same encoded
  * bounds, same null counts — and every consumer to re-engage. */
class AnalyzeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(sql: String): String =
    spark.sql(sql).queryExecution.explainString(
      ExplainMode.fromString("simple"))

  private def tableDir(ns: String, t: String): File =
    new File(s"${TestSpark.warehouse}/$ns/$t")

  /** Simulate a pre-upgrade manifest: republish every region with its
    * stats dropped (metadata-only, same protocol analyze uses). */
  private def stripStats(dir: File): Unit = {
    TableMeta.withManifestLock(dir) {
      val (state, viewSeq) = TableMeta.commitView(dir)
      TableMeta.writeDelta(dir, viewSeq,
        regions = state.regions.map(_.copy(stats = Map.empty)),
        removeIds = state.regions.map(_.id).toSet)
      TableMeta.evictManifestCache(dir)
    }
  }

  test("analyze reproduces the writer's stats byte-for-byte") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.anz")
    spark.sql("DROP TABLE IF EXISTS graft.anz.t")
    spark.sql(
      """CREATE TABLE graft.anz.t (k BIGINT, n INT, d DOUBLE, s STRING,
        |dt DATE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='4')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.anz.t SELECT id,
        |  CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id % 100 AS INT) END,
        |  id * 0.25,
        |  CASE WHEN id % 5 = 0 THEN NULL ELSE concat('v', id) END,
        |  date_add(DATE'2024-01-01', CAST(id % 300 AS INT))
        |FROM range(1000)""".stripMargin)
    val dir = tableDir("anz", "t")
    val original = TableMeta.loadRegions(dir)
      .map(r => r.file -> r.stats).toMap
    assert(original.values.forall(_.nonEmpty), "writer should collect stats")

    stripStats(dir)
    assert(TableMeta.loadRegions(dir).forall(_.stats.isEmpty))
    // degradation is real: the manifest can no longer answer count(n)
    assert(!plan("SELECT count(n) FROM graft.anz.t")
      .contains("GraftAggScan"))

    val res = spark.sql("CALL graft.sys.analyze(table => 'anz.t')")
      .collect().head
    assert(res.getString(0).toInt == original.size) // every region updated
    assert(res.getString(1).toInt == 4) // n, d, s, dt tracked

    val rebuilt = TableMeta.loadRegions(dir).map(r => r.file -> r.stats)
      .toMap
    assert(rebuilt == original,
      s"backfilled stats differ from writer-collected:\n$rebuilt\nvs\n" +
        s"$original")
    // consumers re-engage: manifest-answered aggregate pushes and is right
    assert(plan("SELECT count(n) FROM graft.anz.t").contains("GraftAggScan"))
    val c = spark.sql("SELECT count(n) AS c FROM graft.anz.t")
      .collect().head.getLong(0)
    assert(c == 1000L - (1000 + 6) / 7) // multiples of 7 in [0,1000)
    // idempotent: nothing left to do
    val again = spark.sql("CALL graft.sys.analyze(table => 'anz.t')")
      .collect().head
    assert(again.getString(0).toInt == 0)
    spark.sql("DROP TABLE graft.anz.t")
  }

  test("ALTER-added column backfills as all-null stats") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.anz")
    spark.sql("DROP TABLE IF EXISTS graft.anz.alter_t")
    spark.sql(
      """CREATE TABLE graft.anz.alter_t (k BIGINT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql(
      "INSERT INTO graft.anz.alter_t SELECT id, CAST(id AS INT) " +
        "FROM range(100)")
    spark.sql("ALTER TABLE graft.anz.alter_t ADD COLUMNS (w BIGINT)")
    val dir = tableDir("anz", "alter_t")
    // the old region has no stats entry for w -> analyze backfills
    val res = spark.sql("CALL graft.sys.analyze(table => 'anz.alter_t')")
      .collect().head
    assert(res.getString(0).toInt >= 1)
    val stats = TableMeta.loadRegions(dir).head.stats
    val w = stats.collectFirst { case (n, s) if n.equalsIgnoreCase("w") => s }
    assert(w.isDefined && w.get.nulls == 100L && w.get.min.isEmpty)
    // count(w) now answers 0 from the manifest
    assert(plan("SELECT count(w) FROM graft.anz.alter_t")
      .contains("GraftAggScan"))
    assert(spark.sql("SELECT count(w) AS c FROM graft.anz.alter_t")
      .collect().head.getLong(0) == 0L)
    spark.sql("DROP TABLE graft.anz.alter_t")
  }
}
