package graft.catalog

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `COPY INTO` — idempotent per-file ingestion over the ledger commit
  * ([[TableMeta.commitCopy]]), plus the `ANALYZE TABLE ... COMPUTE
  * STATISTICS` statement face. */
class CopyIntoSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark

  private def mk(name: String): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.copyin")
    val fqn = s"graft.copyin.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('keyCols'='k', 'numRegions'='2')")
    fqn
  }

  private def tableDir(name: String): java.io.File = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    cat.loadTable(org.apache.spark.sql.connector.catalog
      .Identifier.of(Array("copyin"), name))
      .asInstanceOf[GraftTable].tableDir
  }

  private def csv(dir: java.nio.file.Path, name: String,
      range: Range): Unit =
    Files.write(dir.resolve(name),
      range.map(i => s"$i,${i * 2}").mkString("\n").getBytes("UTF-8"))

  test("COPY INTO loads each source file exactly once across reruns " +
      "and incremental arrivals") {
    val fqn = mk("once")
    val src = tempDir("copyinto").toPath
    csv(src, "f1.csv", 0 until 10)
    csv(src, "f2.csv", 10 until 20)

    val first = spark.sql(s"COPY INTO $fqn FROM '$src'").collect()
      .map(r => Paths.get(r.getString(0)).getFileName.toString ->
        r.getString(1)).toMap
    assert(first == Map("f1.csv" -> "loaded", "f2.csv" -> "loaded"))
    assert(spark.table(fqn).count() == 20L)

    // verbatim rerun: nothing double-loads
    val rerun = spark.sql(s"COPY INTO $fqn FROM '$src'").collect()
      .map(_.getString(1))
    assert(rerun.forall(_ == "skipped"))
    assert(spark.table(fqn).count() == 20L)

    // a new arrival loads alone
    csv(src, "f3.csv", 20 until 25)
    val third = spark.sql(s"COPY INTO $fqn FROM '$src'").collect()
      .map(r => Paths.get(r.getString(0)).getFileName.toString ->
        r.getString(1)).toMap
    assert(third == Map("f1.csv" -> "skipped", "f2.csv" -> "skipped",
      "f3.csv" -> "loaded"))
    assert(spark.table(fqn).count() == 25L)
    assert(spark.table(fqn).selectExpr("sum(v)").collect().head.getLong(0)
      == (0 until 25).map(_ * 2L).sum)
  }

  test("PATTERN filters the file set; hidden files are never loaded") {
    val fqn = mk("pat")
    val src = tempDir("copypat").toPath
    csv(src, "a.csv", 0 until 5)
    csv(src, "b.txt", 100 until 105)
    csv(src, "_meta.csv", 200 until 205)
    val out = spark.sql(
      s"COPY INTO $fqn FROM '$src' PATTERN = '*.csv'").collect()
    assert(out.length == 1 && out.head.getString(0).endsWith("a.csv"))
    assert(spark.table(fqn).count() == 5L)
  }

  test("FILEFORMAT = PARQUET ingests parquet files idempotently") {
    val fqn = mk("pq")
    val src = tempDir("copypq").toString
    spark.range(0, 30).selectExpr("id AS k", "id * 3 AS v")
      .coalesce(1).write.mode("overwrite").parquet(src)
    spark.sql(s"COPY INTO $fqn FROM '$src' FILEFORMAT = PARQUET")
    assert(spark.table(fqn).count() == 30L)
    val rerun = spark.sql(
      s"COPY INTO $fqn FROM '$src' FILEFORMAT = PARQUET").collect()
    assert(rerun.map(_.getString(1)).forall(_ == "skipped"))
    assert(spark.table(fqn).count() == 30L)
  }

  test("rows and file identity commit atomically: a pre-recorded " +
      "ledger key makes the file invisible to COPY INTO") {
    val fqn = mk("atomic")
    val src = tempDir("copyatomic").toPath
    csv(src, "f1.csv", 0 until 10)
    csv(src, "f2.csv", 10 until 20)
    val dir = tableDir("atomic")
    // what a racing COPY INTO leaves behind: f1's key in the ledger
    val f1Key = "copy:" + java.security.MessageDigest.getInstance("MD5")
      .digest(s"file:$src/f1.csv".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(TableMeta.commitCopy(dir, Nil, Seq(f1Key)))
    // a second commit of the same key must refuse — the CAS the write
    // path's conflict handling relies on
    assert(!TableMeta.commitCopy(dir, Nil, Seq(f1Key)))

    val out = spark.sql(s"COPY INTO $fqn FROM '$src'").collect()
      .map(r => Paths.get(r.getString(0)).getFileName.toString ->
        r.getString(1)).toMap
    assert(out == Map("f1.csv" -> "skipped", "f2.csv" -> "loaded"))
    assert(spark.table(fqn).count() == 10L, "only f2's rows landed")
  }

  test("ANALYZE TABLE ... COMPUTE STATISTICS lowers onto " +
      "CALL graft.sys.analyze") {
    val fqn = mk("anz")
    spark.sql(s"INSERT INTO $fqn SELECT id, id FROM range(50)")
    // runs through the statement face without error (analyze itself is
    // value-tested in AnalyzeSpec); repeatable
    spark.sql(s"ANALYZE TABLE $fqn COMPUTE STATISTICS")
    spark.sql(s"ANALYZE TABLE $fqn COMPUTE STATISTICS")
    assert(spark.table(fqn).count() == 50L)
  }

  test("COPY INTO on a non-graft identifier refuses loudly") {
    val e = intercept[Exception] {
      spark.sql("COPY INTO spark_catalog.default.nope FROM '/tmp/x'")
    }
    assert(e.getMessage.contains("graft"))
  }
}
