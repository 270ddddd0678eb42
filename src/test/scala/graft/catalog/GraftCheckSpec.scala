package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** CHECK constraints (`'graft.check.<name>'='<expr>'`): analyzed at
  * DDL time, existing data validated at ADD CONSTRAINT, and every
  * user-facing write path refuses a violating row BEFORE commit —
  * Delta's table-constraint contract on the graft writer. NULL
  * passes (SQL CHECK: violated only when FALSE). */
class GraftCheckSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark

  private def ns(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ck")

  private def fresh(name: String, props: String = ""): String = {
    ns()
    val fqn = s"graft.ck.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, qty BIGINT, status STRING) " +
      s"TBLPROPERTIES('keyCols'='k'$props)")
    fqn
  }

  test("a violating INSERT fails naming the constraint; nothing " +
      "commits; valid rows and NULLs pass") {
    val fqn = fresh("basic",
      ", 'graft.check.positive_qty'='qty > 0'")
    spark.sql(s"INSERT INTO $fqn VALUES (1, 5, 'ok'), (2, NULL, 'ok')")
    assert(spark.table(fqn).count() == 2, "valid + NULL rows pass")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $fqn VALUES (3, 7, 'ok'), (4, -1, 'bad')")
    }
    assert(exists(e, _.contains("positive_qty")),
      s"constraint named in: ${e.getMessage}")
    assert(spark.table(fqn).count() == 2,
      "the failed INSERT committed nothing (not even its valid rows)")
  }

  test("type coercion applies (int literal vs BIGINT column, string " +
      "IN list); multiple constraints all enforce") {
    val fqn = fresh("multi",
      ", 'graft.check.qty_range'='qty BETWEEN 0 AND 100'" +
        ", 'graft.check.status_domain'='status IN (''a'', ''b'')'")
    spark.sql(s"INSERT INTO $fqn VALUES (1, 50, 'a')")
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT INTO $fqn VALUES (2, 101, 'a')") }
    assert(exists(e1, _.contains("qty_range")))
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO $fqn VALUES (2, 5, 'z')") }
    assert(exists(e2, _.contains("status_domain")))
    assert(spark.table(fqn).count() == 1)
  }

  test("CREATE refuses unresolvable, non-boolean, and " +
      "non-deterministic expressions") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.ck.bad")
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.ck.bad (k BIGINT) " +
        "TBLPROPERTIES('keyCols'='k', 'graft.check.c'='nope > 0')") }
    assert(exists(e1, _.contains("cannot analyze")))
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.ck.bad (k BIGINT) " +
        "TBLPROPERTIES('keyCols'='k', 'graft.check.c'='k + 1')") }
    // the analyzer's Filter type check fires first ("cannot analyze");
    // the explicit BOOLEAN require is the belt behind it
    assert(exists(e2,
      m => m.contains("not BOOLEAN") || m.contains("cannot analyze")))
    val e3 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.ck.bad (k BIGINT) " +
        "TBLPROPERTIES('keyCols'='k', 'graft.check.c'='rand() > 0.5')") }
    assert(exists(e3, _.contains("non-deterministic")))
  }

  test("ADD CONSTRAINT via ALTER validates existing data: clean data " +
      "accepts then enforces; violating data refuses the ALTER") {
    val fqn = fresh("alter")
    spark.sql(s"INSERT INTO $fqn VALUES (1, 5, 'a'), (2, 10, 'b')")
    spark.sql(s"ALTER TABLE $fqn SET TBLPROPERTIES(" +
      "'graft.check.qty_pos'='qty > 0')")
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT INTO $fqn VALUES (3, -5, 'c')") }
    assert(exists(e1, _.contains("qty_pos")), "enforced after ALTER")
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $fqn SET TBLPROPERTIES(" +
        "'graft.check.qty_small'='qty < 10')") }
    assert(exists(e2, _.contains("existing row")),
      s"violating stored data refuses the ALTER: ${e2.getMessage}")
    // dropping the constraint re-opens the domain
    spark.sql(s"ALTER TABLE $fqn UNSET TBLPROPERTIES(" +
      "'graft.check.qty_pos')")
    spark.sql(s"INSERT INTO $fqn VALUES (3, -5, 'c')")
    assert(spark.table(fqn).count() == 3)
  }

  test("row-level UPDATE enforces (a rewrite can introduce a " +
      "violation); compliant UPDATE passes") {
    val fqn = fresh("update",
      ", 'graft.check.qty_pos'='qty > 0'")
    spark.sql(s"INSERT INTO $fqn VALUES (1, 5, 'a'), (2, 10, 'b')")
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $fqn SET qty = -1 WHERE k = 1") }
    assert(exists(e, _.contains("qty_pos")))
    assert(spark.sql(s"SELECT qty FROM $fqn WHERE k = 1")
      .collect().head.getLong(0) == 5, "failed UPDATE left data intact")
    spark.sql(s"UPDATE $fqn SET qty = 7 WHERE k = 1")
    assert(spark.sql(s"SELECT qty FROM $fqn WHERE k = 1")
      .collect().head.getLong(0) == 7)
  }

  test("dropping a referenced column refuses; UNSET TBLPROPERTIES " +
      "is DROP CONSTRAINT") {
    val fqn = fresh("dropcol",
      ", 'graft.check.qty_pos'='qty > 0'")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $fqn DROP COLUMN qty") }
    assert(exists(e, _.contains("references it")),
      s"unexpected: ${e.getMessage}")
    spark.sql(s"ALTER TABLE $fqn UNSET TBLPROPERTIES(" +
      "'graft.check.qty_pos')")
    spark.sql(s"ALTER TABLE $fqn DROP COLUMN qty")
    assert(!spark.table(fqn).columns.contains("qty"))
  }

  test("streaming epoch writes enforce: a violating micro-batch fails " +
      "the query and commits nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fqn = fresh("stream",
      ", 'graft.check.qty_pos'='qty > 0'")
    val ckpt = tempDir("graft_check_stream_ckpt").toString
    val in = MemoryStream[(Long, Long, String)]
    val q = in.toDF().toDF("k", "qty", "status").writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .toTable(fqn)
    try {
      in.addData((1L, 5L, "ok"))
      q.processAllAvailable()
      assert(spark.table(fqn).count() == 1, "clean epoch commits")
      in.addData((2L, -1L, "bad"))
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(exists(e, _.contains("qty_pos")),
        s"constraint named in streaming failure: ${e.getMessage}")
    } finally q.stop()
    assert(spark.table(fqn).count() == 1,
      "the violating epoch committed nothing")
  }

  test("ANSI syntax: inline CONSTRAINT … CHECK at CREATE TABLE " +
      "enforces on INSERT") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.ck.ansi")
    spark.sql("CREATE TABLE graft.ck.ansi (k BIGINT, qty BIGINT, " +
      "CONSTRAINT positive_qty CHECK (qty > 0)) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql("INSERT INTO graft.ck.ansi VALUES (1, 5), (2, NULL)")
    assert(spark.table("graft.ck.ansi").count() == 2)
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.ck.ansi VALUES (3, -1)") }
    assert(exists(e, _.contains("positive_qty")),
      s"constraint named in: ${e.getMessage}")
    assert(spark.table("graft.ck.ansi").count() == 2)
  }

  test("ANSI syntax: ALTER TABLE ADD CONSTRAINT validates stored data " +
      "(Spark's scan) and DROP CONSTRAINT re-opens the domain") {
    val fqn = fresh("ansi_alter")
    spark.sql(s"INSERT INTO $fqn VALUES (1, 5, 'a'), (2, 10, 'b')")
    spark.sql(s"ALTER TABLE $fqn ADD CONSTRAINT qty_pos CHECK (qty > 0)")
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT INTO $fqn VALUES (3, -5, 'c')") }
    assert(exists(e1, _.contains("qty_pos")), "enforced after ADD")
    // a violating stored row refuses the ADD (Spark's validation scan)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $fqn ADD CONSTRAINT qty_small " +
        "CHECK (qty < 10)") }
    assert(exists(e2, m => m.contains("qty_small") ||
      m.contains("CHECK_CONSTRAINT_VIOLATION")),
      s"violation refuses the ALTER: ${e2.getMessage}")
    // duplicate name refused; IF EXISTS drop of a missing name is quiet
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $fqn ADD CONSTRAINT qty_pos " +
        "CHECK (qty > 1)") }
    assert(exists(e3, _.contains("already exists")))
    spark.sql(s"ALTER TABLE $fqn DROP CONSTRAINT IF EXISTS nope")
    spark.sql(s"ALTER TABLE $fqn DROP CONSTRAINT qty_pos")
    spark.sql(s"INSERT INTO $fqn VALUES (3, -5, 'c')")
    assert(spark.table(fqn).count() == 3)
    val e4 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $fqn DROP CONSTRAINT qty_pos") }
    assert(exists(e4, m => m.contains("does not exist") ||
      m.contains("CONSTRAINT_DOES_NOT_EXIST")))
  }

  test("ANSI and TBLPROPERTIES faces share one store: a property-" +
      "declared constraint drops via DROP CONSTRAINT and shows in " +
      "DESCRIBE EXTENDED") {
    val fqn = fresh("ansi_shared",
      ", 'graft.check.qty_pos'='qty > 0'")
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $fqn")
      .collect().map(_.mkString("|")).mkString("\n")
    assert(desc.contains("qty_pos"), s"constraint surfaced:\n$desc")
    spark.sql(s"ALTER TABLE $fqn DROP CONSTRAINT qty_pos")
    spark.sql(s"INSERT INTO $fqn VALUES (1, -1, 'ok')")
    assert(spark.table(fqn).count() == 1)
  }

  test("bulk load (CALL load_csv) enforces CHECK and fills DEFAULT + " +
      "GENERATED columns: the writer backstop covers the non-analyzer " +
      "path") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.ck.bulk")
    spark.sql("CREATE TABLE graft.ck.bulk (k BIGINT, qty BIGINT, " +
      "g BIGINT GENERATED ALWAYS AS (k % 10), " +
      "CONSTRAINT qp CHECK (qty > 0)) TBLPROPERTIES('keyCols'='k')")
    val dir = tempDir("graft_ck_csv").toPath
    // short lines: qty and g backfill NULL (permissive mode); g then
    // fills from the expression in the write task; NULL qty passes
    java.nio.file.Files.write(dir.resolve("ok.csv"),
      "17,5\n23\n".getBytes)
    spark.sql("CALL graft.sys.load_csv(table => 'ck.bulk', " +
      s"path => '${dir.resolve("ok.csv")}')")
    val got = spark.table("graft.ck.bulk").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == Seq((17L, 7L), (23L, 3L)),
      "generated column filled on the bulk-load path")
    java.nio.file.Files.write(dir.resolve("bad.csv"),
      "31,5\n37,-2\n".getBytes)
    val e = intercept[Exception] {
      spark.sql("CALL graft.sys.load_csv(table => 'ck.bulk', " +
        s"path => '${dir.resolve("bad.csv")}')") }
    assert(exists(e, _.contains("qp")), s"got: ${e.getMessage}")
    assert(spark.table("graft.ck.bulk").count() == 2,
      "the violating load committed nothing")
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
