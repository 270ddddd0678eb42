package graft.catalog

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.TestSpark
import graft.codec.KeyCodec

/** Every path that turns rows into a region — INSERT, a fixed-split
  * INSERT, split, merge (plain and folding), the DELETE boundary
  * rewrite and CONVERT — records the manifest entry a stock parquet
  * read of the region file agrees with: its row count, its
  * per-dimension key bounds and the null count of every stat column,
  * over the same set of stat columns. */
class RegionMetaParitySpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark

  private val Cols = "k BIGINT, g STRING, v DOUBLE, n INT, s STRING"
  private val KeyTypes = Seq(
    org.apache.spark.sql.types.LongType,
    org.apache.spark.sql.types.StringType)
  private val StatCols = Set("v", "n", "s")

  /** Rows with nulls in every stat column; (k, g) is a function of id. */
  private def rowsSql(lo: Long, hi: Long): String =
    s"""SELECT id AS k, concat('g', CAST(id % 3 AS STRING)) AS g,
       |  IF(id % 5 = 0, NULL, CAST(id AS DOUBLE) * 0.5) AS v,
       |  IF(id % 7 = 0, NULL, CAST(id AS INT)) AS n,
       |  IF(id % 4 = 0, NULL, concat('s', CAST(id % 11 AS STRING))) AS s
       |FROM range($lo, $hi)""".stripMargin

  private def create(name: String, props: String = ""): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.parity")
    val fqn = s"graft.parity.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn ($Cols) " +
      s"TBLPROPERTIES('keyCols'='k;g', 'numRegions'='1'$props)")
    fqn
  }

  private def insert(fqn: String, lo: Long, hi: Long): Unit =
    spark.sql(s"INSERT INTO $fqn ${rowsSql(lo, hi)}")

  private def tableDir(name: String): File = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("parity"), name)).asInstanceOf[GraftTable].tableDir
  }

  private def regions(name: String): Seq[RegionMeta] =
    TableMeta.loadRegions(tableDir(name))

  private def decode(i: Int, hex: String): Any = {
    val b = KeyCodec.fromHex(hex)
    KeyCodec.decode(KeyTypes(i), b, 0, b.length)
  }

  /** Compare each region's manifest entry with a stock parquet read of
    * its file; returns the stat-column sets the regions record. */
  private def checkRegions(path: String, dir: File,
      rs: Seq[RegionMeta]): Set[Set[String]] = {
    assert(rs.nonEmpty, s"$path produced no region")
    rs.foreach { r =>
      val stock = spark.read.parquet(new File(dir, r.file).getPath)
        .selectExpr("count(*)", "min(k)", "max(k)", "min(g)", "max(g)",
          "count(*) - count(v)", "count(*) - count(n)",
          "count(*) - count(s)").head()
      val where = s"$path region ${r.file}"
      assert(r.rows == stock.getLong(0), s"$where: rows")
      assert(Seq(decode(0, r.mins(0)), decode(0, r.maxs(0)),
        decode(1, r.mins(1)), decode(1, r.maxs(1))) ==
        Seq(stock.get(1), stock.get(2), stock.get(3), stock.get(4)),
        s"$where: key bounds")
      assert(Seq("v", "n", "s").map(c => r.stats.get(c).map(_.nulls)) ==
        Seq(5, 6, 7).map(i => Some(stock.getLong(i))),
        s"$where: null counts")
    }
    rs.map(_.stats.keySet).toSet
  }

  private def added(before: Seq[RegionMeta], after: Seq[RegionMeta])
      : Seq[RegionMeta] = {
    val old = before.map(_.file).toSet
    after.filterNot(r => old(r.file))
  }

  test("every region path records the manifest entry a stock parquet " +
      "read of its file agrees with") {
    val statSets = scala.collection.mutable.Map[String, Set[Set[String]]]()

    // plain INSERT, two commits
    val ins = create("ins")
    insert(ins, 0, 300); insert(ins, 300, 500)
    statSets("insert") = checkRegions("insert", tableDir("ins"),
      regions("ins"))

    // fixed-split INSERT: one region per bucket
    val fix = create("fixed", ", 'regionSplits'='100;250'")
    insert(fix, 0, 400)
    val fixed = regions("fixed")
    assert(fixed.map(_.bucket).toSet == Set(0, 1, 2))
    statSets("fixed-split insert") = checkRegions("fixed-split insert",
      tableDir("fixed"), fixed)

    // CALL graft.sys.split
    val spl = create("split")
    insert(spl, 0, 2000)
    val splBefore = regions("split")
    val target = new File(tableDir("split"), splBefore.head.file).length / 3
    spark.sql(s"CALL graft.sys.split(table => 'parity.split', " +
      s"target_bytes => ${target}L)")
    val parts = added(splBefore, regions("split"))
    assert(parts.size >= 2 && parts.forall(_.file.startsWith("split-")))
    statSets("split") = checkRegions("split", tableDir("split"), parts)

    // CALL graft.sys.merge over overlapping regions
    val mrg = create("merge")
    insert(mrg, 0, 200); insert(mrg, 100, 300); insert(mrg, 250, 400)
    val mrgBefore = regions("merge")
    spark.sql("CALL graft.sys.merge(table => 'parity.merge', " +
      "target_bytes => 104857600L)")
    val merged = added(mrgBefore, regions("merge"))
    assert(merged.size == 1 && merged.head.rows == 550L)
    statSets("merge") = checkRegions("merge", tableDir("merge"), merged)

    // merge on a dedupKeys table folds the upserted keys
    val dd = create("dedup", ", 'graft.dedupKeys'='true'")
    insert(dd, 0, 200); insert(dd, 100, 300)
    val ddBefore = regions("dedup")
    spark.sql("CALL graft.sys.merge(table => 'parity.dedup', " +
      "target_bytes => 104857600L)")
    val folded = added(ddBefore, regions("dedup"))
    assert(folded.size == 1 && folded.head.rows == 300L)
    statSets("dedup merge") = checkRegions("dedup merge",
      tableDir("dedup"), folded)

    // DELETE boundary rewrite
    val del = create("del")
    insert(del, 0, 400)
    val delBefore = regions("del")
    spark.sql(s"DELETE FROM $del WHERE k < 123")
    val kept = added(delBefore, regions("del"))
    assert(kept.size == 1 && kept.head.file.startsWith("delete-rw-"))
    statSets("delete rewrite") = checkRegions("delete rewrite",
      tableDir("del"), kept)

    // CONVERT TO GRAFT of two key-sorted parquet files
    spark.sql("DROP TABLE IF EXISTS graft.parity.conv")
    val src = tempDir("parity-conv").toString
    spark.sql(rowsSql(0, 600))
      .repartitionByRange(2, org.apache.spark.sql.functions.col("k"))
      .sortWithinPartitions("k", "g")
      .write.mode("overwrite").parquet(src)
    val report = spark.sql("CALL graft.sys.convert(table => " +
      s"'parity.conv', source => '$src', keys => 'k;g')").collect()
    assert(report.map(_.getString(1)).toSet == Set("linked"))
    statSets("convert") = checkRegions("convert", tableDir("conv"),
      regions("conv"))

    statSets.foreach { case (path, sets) =>
      assert(sets == Set(StatCols), s"$path records stat columns $sets")
    }
    Seq("ins", "fixed", "split", "merge", "dedup", "del", "conv")
      .foreach(t => spark.sql(s"DROP TABLE graft.parity.$t"))
  }

  test("createReader returns the rows createColumnarReader returns, " +
      "metadata columns included") {
    val fqn = create("rowpath")
    insert(fqn, 0, 300); insert(fqn, 300, 500); insert(fqn, 200, 260)
    val dir = tableDir("rowpath")
    val rs = regions("rowpath")
    assert(rs.size == 3)
    // one packed partition over every region file
    val partition = GraftInputPartition(
      rs.map(r => new File(dir, r.file).getPath).toArray, rs.map(_.rows).sum,
      ids = rs.map(_.id).toArray)
    val required = spark.table(fqn).schema
      .add(GraftMetaCols.RegionId, org.apache.spark.sql.types.LongType)
      .add(GraftMetaCols.FileName, org.apache.spark.sql.types.StringType)
    val factory = GraftReaderFactory(required.json, Array.empty, "UTC",
      caseSensitive = false)
    def external(r: org.apache.spark.sql.catalyst.InternalRow): Row = {
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(required)
      conv(r).asInstanceOf[Row]
    }

    val viaRows = scala.collection.mutable.ArrayBuffer[Row]()
    val rowReader = factory.createReader(partition)
    try while (rowReader.next()) viaRows += external(rowReader.get())
    finally rowReader.close()

    val viaBatches = scala.collection.mutable.ArrayBuffer[Row]()
    val batchReader = factory.createColumnarReader(partition)
    try while (batchReader.next()) {
      val it = batchReader.get().rowIterator()
      while (it.hasNext) viaBatches += external(it.next())
    } finally batchReader.close()

    assert(viaRows.size == 560)
    assert(viaRows == viaBatches)
    // the metadata columns carry each file's region id and name
    val byFile = rs.map(r => r.file -> r.id).toMap
    assert(viaRows.forall(r => byFile(r.getString(6)) == r.getLong(5)))
    assert(viaRows.map(_.getString(6)).toSet == byFile.keySet)
    spark.sql(s"DROP TABLE $fqn")
  }
}
