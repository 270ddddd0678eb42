package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `GENERATED ALWAYS AS (expr)` columns: the expression is rescued from
  * the V2 column definitions at CREATE (the stock TableInfo.schema()
  * drops it), validated against the non-generated columns, and computed
  * per row inside every write task — NULL/omitted fills, a conflicting
  * explicit value refuses (Delta's semantics). Generated key columns
  * and dangling references are refused at DDL time. */
class GraftGeneratedSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark

  private def ns(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gen")

  test("omitted and NULL values fill from the expression; a matching " +
      "explicit value passes; a conflicting one refuses") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.gen.t1")
    spark.sql("CREATE TABLE graft.gen.t1 (k BIGINT, " +
      "b BIGINT GENERATED ALWAYS AS (k % 10), v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql("INSERT INTO graft.gen.t1 (k, v) VALUES (15, 'omitted')")
    spark.sql("INSERT INTO graft.gen.t1 VALUES (23, NULL, 'null')")
    spark.sql("INSERT INTO graft.gen.t1 VALUES (37, 7, 'matching')")
    val got = spark.table("graft.gen.t1").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((15L, 5L), (23L, 3L), (37L, 7L)))
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.gen.t1 VALUES (41, 9, 'conflict')") }
    assert(exists(e, _.contains("GENERATED ALWAYS")),
      s"got: ${e.getMessage}")
    assert(spark.table("graft.gen.t1").count() == 3,
      "the refused INSERT committed nothing")
  }

  test("expressions over strings compute in the write task (works for " +
      "derived columns a pipeline filters on)") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.gen.t2")
    spark.sql("CREATE TABLE graft.gen.t2 (k BIGINT, text STRING, " +
      "n_chars INT GENERATED ALWAYS AS (CAST(length(text) AS INT))) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql("INSERT INTO graft.gen.t2 (k, text) VALUES " +
      "(1, 'hello'), (2, ''), (3, NULL)")
    val got = spark.table("graft.gen.t2").orderBy("k").collect()
      .map(r => if (r.isNullAt(2)) -1 else r.getInt(2))
    assert(got.toSeq == Seq(5, 0, -1), "NULL text -> NULL length")
  }

  test("DDL refusals: generated key column, wrong declared type, " +
      "reference to another generated column, unresolvable") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.gen.bad")
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.gen.bad (k BIGINT " +
        "GENERATED ALWAYS AS (v % 10), v BIGINT) " +
        "TBLPROPERTIES('keyCols'='k')") }
    assert(exists(e1, _.contains("key column")), s"got: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.gen.bad (k BIGINT, " +
        "b INT GENERATED ALWAYS AS (k % 10)) " +
        "TBLPROPERTIES('keyCols'='k')") }
    // Spark's own GENERATED_COLUMN validation fires first; the explicit
    // CAST message is the belt behind it
    assert(exists(e2, m => m.contains("CAST") || m.contains("incompatible")),
      s"got: ${e2.getMessage}")
    val e3 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.gen.bad (k BIGINT, " +
        "a BIGINT GENERATED ALWAYS AS (k % 10), " +
        "b BIGINT GENERATED ALWAYS AS (a + 1)) " +
        "TBLPROPERTIES('keyCols'='k')") }
    assert(exists(e3, m => m.contains("cannot analyze") ||
      m.contains("another generated column")), s"got: ${e3.getMessage}")
  }

  test("dropping a column a generation expression reads refuses; " +
      "dropping the generated column itself works") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.gen.t3")
    spark.sql("CREATE TABLE graft.gen.t3 (k BIGINT, src BIGINT, " +
      "b BIGINT GENERATED ALWAYS AS (src * 2)) " +
      "TBLPROPERTIES('keyCols'='k')")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.gen.t3 DROP COLUMN src") }
    assert(exists(e, _.contains("generated column")), s"got: ${e.getMessage}")
    spark.sql("ALTER TABLE graft.gen.t3 DROP COLUMN b")
    spark.sql("ALTER TABLE graft.gen.t3 DROP COLUMN src")
    assert(spark.table("graft.gen.t3").columns.toSeq == Seq("k"))
  }

  test("generated values land in streaming epoch writes too (same " +
      "writer factory)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.gen.t4")
    spark.sql("CREATE TABLE graft.gen.t4 (k BIGINT, v BIGINT, " +
      "b BIGINT GENERATED ALWAYS AS (v + 100)) " +
      "TBLPROPERTIES('keyCols'='k')")
    val ckpt = tempDir("graft_gen_stream_ckpt").toString
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("k", "v")
      .selectExpr("k", "v", "CAST(NULL AS BIGINT) AS b")
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").toTable("graft.gen.t4")
    try {
      in.addData((1L, 5L))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.sql("SELECT b FROM graft.gen.t4 WHERE k = 1")
      .collect().head.getLong(0) == 105L)
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
