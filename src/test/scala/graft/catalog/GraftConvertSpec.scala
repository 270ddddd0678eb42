package graft.catalog

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** `CONVERT TO GRAFT` / `CALL graft.sys.convert`: zero-copy adoption
  * of sorted parquet files as regions, sorted-rewrite of the rest. */
class GraftConvertSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark

  private def tableDir(ns: String, name: String): File = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    cat.loadTable(org.apache.spark.sql.connector.catalog
      .Identifier.of(Array(ns), name))
      .asInstanceOf[GraftTable].tableDir
  }

  private def fresh(name: String): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.conv")
    spark.sql(s"DROP TABLE IF EXISTS graft.conv.$name")
    s"conv.$name"
  }

  private def inode(f: File): Any =
    java.nio.file.Files.getAttribute(f.toPath, "unix:ino")

  test("sorted files hard-link as regions with exact bounds and stats; " +
      "answers and pruning match a native load") {
    val t = fresh("sorted")
    val src = tempDir("convsrc").toString
    // two key-sorted files
    spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS v",
      "CAST(id * 3 AS DOUBLE) AS m")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(src)
    val report = spark.sql("CALL graft.sys.convert(table => 'conv.sorted', " +
      s"source => '$src', keys => 'k')").collect()
    assert(report.length == 2)
    assert(report.forall(_.getString(1) == "linked"))

    // zero bytes moved: region files share inodes with the source
    val dir = tableDir("conv", "sorted")
    val regions = TableMeta.loadRegions(dir)
    assert(regions.size == 2)
    val srcInodes = new File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(inode).toSet
    regions.foreach(r =>
      assert(srcInodes.contains(inode(new File(dir, r.file)))))

    // manifest metadata is real: bounds prune, stats are attached
    assert(regions.forall(_.stats.nonEmpty))
    assert(spark.table("graft.conv.sorted").count() == 1000L)
    assert(spark.sql("SELECT sum(v) FROM graft.conv.sorted WHERE " +
      "k BETWEEN 10 AND 20").collect().head.getLong(0) ==
      (10L to 20L).map(_ % 7).sum)
    // a tight key range must not scan both regions
    val pruned = spark.sql(
      "SELECT * FROM graft.conv.sorted WHERE k < 5")
    assert(pruned.rdd.getNumPartitions == 1, "range scan pruned to 1 region")
    assert(pruned.count() == 5L)
  }

  test("unsorted files rewrite through the sorted bulk load; mixed " +
      "directories split file-by-file") {
    val t = fresh("mixed")
    val src = tempDir("convmix").toPath
    spark.range(0, 100).selectExpr("id AS k", "id AS v", "CAST(id AS DOUBLE) AS m")
      .orderBy(col("k")).coalesce(1)
      .write.parquet(src.resolve("a").toString)
    spark.range(100, 200).selectExpr("id AS k", "id AS v", "CAST(id AS DOUBLE) AS m")
      .orderBy(col("k").desc).coalesce(1) // descending = not key-sorted
      .write.parquet(src.resolve("b").toString)
    val flat = tempDir("convflat").toPath
    Seq("a", "b").foreach { d =>
      val f = src.resolve(d).toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, flat.resolve(s"$d.parquet"))
    }
    val report = spark.sql("CALL graft.sys.convert(table => 'conv.mixed', " +
      s"source => '$flat', keys => 'k')").collect()
      .map(r => new File(r.getString(0)).getName -> r.getString(1)).toMap
    assert(report == Map("a.parquet" -> "linked", "b.parquet" -> "rewritten"))
    assert(spark.table("graft.conv.mixed").count() == 200L)
    assert(spark.sql("SELECT sum(v) FROM graft.conv.mixed")
      .collect().head.getLong(0) == (0L until 200L).sum)
    // the rewritten region is key-sorted like any native region: a
    // point lookup prunes to one region
    val one = spark.sql("SELECT v FROM graft.conv.mixed WHERE k = 150")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(150L))
  }

  test("a null key value refuses the convert and leaves no table") {
    fresh("nullkey")
    val src = tempDir("convnull").toString
    spark.sql("SELECT CAST(NULL AS BIGINT) AS k, 1 AS v " +
      "UNION ALL SELECT 2, 3").coalesce(1)
      .write.mode("overwrite").parquet(src)
    val e = intercept[Exception] {
      spark.sql("CALL graft.sys.convert(table => 'conv.nullkey', " +
        s"source => '$src', keys => 'k')").collect()
    }
    assert(e.getMessage.contains("null"))
    val e2 = intercept[Exception] {
      spark.table("graft.conv.nullkey").collect()
    }
    assert(e2 != null, "half-made table was dropped")
  }

  test("CONVERT TO GRAFT statement face; converted tables take " +
      "further DML and maintenance") {
    fresh("stmt")
    val src = tempDir("convstmt").toString
    spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v")
      .orderBy("k").coalesce(1).write.mode("overwrite").parquet(src)
    spark.sql(s"CONVERT TO GRAFT '$src' AS graft.conv.stmt KEY (k)")
    assert(spark.table("graft.conv.stmt").count() == 50L)
    spark.sql("INSERT INTO graft.conv.stmt SELECT id, id * 2 " +
      "FROM range(50, 80)")
    assert(spark.table("graft.conv.stmt").count() == 80L)
    spark.sql("CALL graft.sys.compact(table => 'conv.stmt', " +
      "target_regions => 2)")
    assert(spark.table("graft.conv.stmt").count() == 80L)
    assert(spark.sql("SELECT v FROM graft.conv.stmt WHERE k = 70")
      .collect().head.getLong(0) == 140L)
  }
}
