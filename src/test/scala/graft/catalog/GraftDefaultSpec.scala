package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Column DEFAULT values (ANSI DDL via Spark 4.1's DSv2
  * `SUPPORT_COLUMN_DEFAULT_VALUE`): declared at CREATE TABLE, filled by
  * the analyzer for omitted columns and the DEFAULT keyword, altered
  * with `ALTER COLUMN … SET/DROP DEFAULT`. The default lives in the
  * column metadata of the stored schema, so it round-trips the table
  * meta like any other schema fact. ADD COLUMN with DEFAULT is refused:
  * existing region files would read the new column as NULL, silently
  * disagreeing with the declared default. */
class GraftDefaultSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ns(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dflt")

  test("CREATE TABLE with DEFAULT fills omitted columns and the " +
      "DEFAULT keyword; explicit values win") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.dflt.t1")
    spark.sql("CREATE TABLE graft.dflt.t1 (k BIGINT, qty BIGINT DEFAULT 7, " +
      "status STRING DEFAULT 'new') TBLPROPERTIES('keyCols'='k')")
    spark.sql("INSERT INTO graft.dflt.t1 (k) VALUES (1)")
    spark.sql("INSERT INTO graft.dflt.t1 (k, qty) VALUES (2, 99)")
    spark.sql("INSERT INTO graft.dflt.t1 VALUES (3, DEFAULT, DEFAULT)")
    spark.sql("INSERT INTO graft.dflt.t1 VALUES (4, 5, 'old')")
    val rows = spark.table("graft.dflt.t1").orderBy("k").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq == Seq((1L, 7L, "new"), (2L, 99L, "new"),
        (3L, 7L, "new"), (4L, 5L, "old")))
  }

  test("defaults survive a catalog cache drop (stored in table meta, " +
      "not the session)") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.dflt.t2")
    spark.sql("CREATE TABLE graft.dflt.t2 (k BIGINT, v BIGINT DEFAULT 42) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql("REFRESH TABLE graft.dflt.t2")
    spark.sql("INSERT INTO graft.dflt.t2 (k) VALUES (1)")
    assert(spark.sql("SELECT v FROM graft.dflt.t2 WHERE k = 1")
      .collect().head.getLong(0) == 42L)
  }

  test("ALTER COLUMN SET DEFAULT changes future inserts; DROP DEFAULT " +
      "restores NULL fill") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.dflt.t3")
    spark.sql("CREATE TABLE graft.dflt.t3 (k BIGINT, v BIGINT DEFAULT 1) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql("INSERT INTO graft.dflt.t3 (k) VALUES (1)")
    spark.sql("ALTER TABLE graft.dflt.t3 ALTER COLUMN v SET DEFAULT 2")
    spark.sql("INSERT INTO graft.dflt.t3 (k) VALUES (2)")
    spark.sql("ALTER TABLE graft.dflt.t3 ALTER COLUMN v DROP DEFAULT")
    spark.sql("INSERT INTO graft.dflt.t3 (k) VALUES (3)")
    val got = spark.table("graft.dflt.t3").orderBy("k")
      .collect().map(r => if (r.isNullAt(1)) None else Some(r.getLong(1)))
    assert(got.toSeq == Seq(Some(1L), Some(2L), None))
  }

  test("ADD COLUMN with DEFAULT: rows in regions written BEFORE the " +
      "column existed read the default (existence default), omitted " +
      "INSERT columns fill it, explicit values and NULLs win") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.dflt.t4")
    spark.sql("CREATE TABLE graft.dflt.t4 (k BIGINT) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql("INSERT INTO graft.dflt.t4 VALUES (1), (2)") // pre-ALTER file
    spark.sql("ALTER TABLE graft.dflt.t4 ADD COLUMN v BIGINT DEFAULT 5")
    spark.sql("ALTER TABLE graft.dflt.t4 " +
      "ADD COLUMN tag STRING DEFAULT 'x'")
    spark.sql("INSERT INTO graft.dflt.t4 (k) VALUES (3)")   // filled
    spark.sql("INSERT INTO graft.dflt.t4 VALUES (4, 9, 'y')") // explicit
    spark.sql("INSERT INTO graft.dflt.t4 VALUES (5, NULL, NULL)") // real null
    val got = spark.table("graft.dflt.t4").orderBy("k").collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getString(2)))
    }
    assert(got.toSeq == Seq(
      (1L, Some(5L), Some("x")), (2L, Some(5L), Some("x")),
      (3L, Some(5L), Some("x")), (4L, Some(9L), Some("y")),
      (5L, None, None)), got.toSeq.toString)
    // the pre-ALTER rows keep reading the default after a predicate
    // forces a scan of the old file only
    assert(spark.sql("SELECT v FROM graft.dflt.t4 WHERE k = 1")
      .collect().head.getLong(0) == 5L)
    // plain ADD COLUMN (no default) still reads NULL for old rows
    spark.sql("ALTER TABLE graft.dflt.t4 ADD COLUMN w BIGINT")
    assert(spark.sql("SELECT w FROM graft.dflt.t4 WHERE k = 1")
      .collect().head.isNullAt(0))
  }

  test("the region reader's rows() fill existence defaults for columns " +
      "absent from the file (the scan's contract)") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.dflt.t6")
    spark.sql("CREATE TABLE graft.dflt.t6 (k BIGINT) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql("INSERT INTO graft.dflt.t6 VALUES (1), (2)") // file w/o v
    spark.sql("ALTER TABLE graft.dflt.t6 ADD COLUMN v BIGINT DEFAULT 5")
    // read the pre-ALTER region file directly through the region
    // reader with the post-ALTER requested schema (carries
    // EXISTS_DEFAULT)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dir = new java.io.File(s"$wh/dflt/t6")
    val regionFile = Option(dir.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).head
    val requested = spark.table("graft.dflt.t6").schema
    val r = new ParquetColumnarIO.ColumnarReader(regionFile.getPath,
      requested, Nil)
    val vIdx = requested.fieldIndex("v")
    var n = 0
    try r.rows().foreach { row =>
      assert(!row.isNullAt(vIdx) && row.getLong(vIdx) == 5L,
        s"existence default not filled: $row")
      n += 1
    } finally r.close()
    assert(n == 2)
  }

  test("existence defaults are written out by merge and the DELETE " +
      "boundary rewrite") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.dflt.t7")
    spark.sql("CREATE TABLE graft.dflt.t7 (k BIGINT) " +
      "TBLPROPERTIES('keyCols'='k', 'numRegions'='1')")
    // two pre-ALTER regions: the merge input and the DELETE straddler
    spark.sql("INSERT INTO graft.dflt.t7 SELECT id FROM range(0, 50)")
    spark.sql("INSERT INTO graft.dflt.t7 SELECT id FROM range(50, 100)")
    spark.sql("ALTER TABLE graft.dflt.t7 ADD COLUMN v BIGINT DEFAULT 5")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val dir = cat.loadTable(org.apache.spark.sql.connector.catalog
      .Identifier.of(Array("dflt"), "t7")).asInstanceOf[GraftTable].tableDir
    def newFiles(before: Seq[RegionMeta]): Seq[String] = {
      val old = before.map(_.file).toSet
      TableMeta.loadRegions(dir).map(_.file).filterNot(old)
    }
    // a stock parquet read of the rewritten file: `v` is physically 5
    def assertWritten(file: String, rows: Long): Unit = {
      val df = spark.read.parquet(new java.io.File(dir, file).getPath)
      assert(df.columns.contains("v"), s"$file has no column v")
      assert(df.count() == rows)
      assert(df.where("v IS NULL OR v <> 5").count() == 0L,
        s"$file lost the existence default")
    }

    val beforeMerge = TableMeta.loadRegions(dir)
    assert(beforeMerge.size == 2)
    spark.sql("CALL graft.sys.merge(table => 'dflt.t7', " +
      "target_bytes => 104857600L)")
    val merged = newFiles(beforeMerge)
    assert(merged.size == 1 && merged.head.startsWith("merge-"))
    assertWritten(merged.head, 100L)

    val beforeDelete = TableMeta.loadRegions(dir)
    spark.sql("DELETE FROM graft.dflt.t7 WHERE k < 10")
    val rewritten = newFiles(beforeDelete)
    assert(rewritten.size == 1 && rewritten.head.startsWith("delete-rw-"))
    assertWritten(rewritten.head, 90L)
    assert(spark.sql("SELECT count(*), sum(v) FROM graft.dflt.t7").head()
      == org.apache.spark.sql.Row(90L, 450L))
    spark.sql("DROP TABLE graft.dflt.t7")
  }

  test("ADD COLUMN with a non-constant DEFAULT is refused (an " +
      "existence default must be a literal readers can materialize)") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.dflt.t5")
    spark.sql("CREATE TABLE graft.dflt.t5 (k BIGINT) " +
      "TBLPROPERTIES('keyCols'='k')")
    val e = intercept[Exception] {
      spark.sql(
        "ALTER TABLE graft.dflt.t5 ADD COLUMN v DOUBLE DEFAULT rand()") }
    assert(exists(e, m => m.contains("DEFAULT") || m.contains("fold") ||
      m.contains("constant")), s"got: ${e.getMessage}")
  }

  test("non-foldable default expressions are refused at DDL time") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.dflt.bad")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.dflt.bad (k BIGINT, " +
        "v DOUBLE DEFAULT rand()) TBLPROPERTIES('keyCols'='k')") }
    assert(exists(e, m => m.contains("DEFAULT") || m.contains("fold")),
      s"got: ${e.getMessage}")
  }

  private def exists(e: Throwable, p: String => Boolean): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.getMessage != null && p(t.getMessage)) return true
      t = t.getCause
    }
    false
  }
}
