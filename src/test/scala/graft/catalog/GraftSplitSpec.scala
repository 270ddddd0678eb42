package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Targeted region splitting ([[GraftSplit]], `CALL graft.sys.split`):
  * oversized regions re-cut in place, O(touched) IO, answers and
  * pruning invariants preserved, tailing streams unaffected. */
class GraftSplitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def build(name: String, rows: Long = 2000L,
      props: String = "'keyCols'='k', 'numRegions'='1'"): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spl")
    val fqn = s"graft.spl.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(
      s"""CREATE TABLE $fqn (k BIGINT, v DOUBLE, tag STRING)
         |TBLPROPERTIES($props)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $fqn
         |SELECT id, id * 1.0, concat('t', CAST(id % 7 AS STRING))
         |FROM range($rows)""".stripMargin)
    fqn
  }

  private def tableDir(name: String): java.io.File = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("spl"), name)).asInstanceOf[GraftTable].tableDir
  }

  test("split re-cuts one oversized region; answers and stats survive") {
    val fqn = build("basic")
    val dir = tableDir("basic")
    val before = TableMeta.loadRegions(dir)
    assert(before.size == 1)
    val sum0 = spark.sql(s"SELECT sum(v), count(*) FROM $fqn").head()

    val target = new java.io.File(dir, before.head.file).length() / 4
    val res = spark.sql(
      s"CALL graft.sys.split(table => 'spl.basic', " +
        s"target_bytes => ${target}L)").head()
    assert(res.getString(0).toInt == 1, "one region split")
    val parts = res.getString(1).toInt
    assert(parts >= 3, s"expected >=3 parts, got $parts")

    val after = TableMeta.loadRegions(dir)
    assert(after.size == parts)
    // disjoint, contiguous leading-key ranges covering [0, 2000)
    val ranges = after.map(r => (
      graft.codec.KeyCodec.fromHex(r.mins.head),
      graft.codec.KeyCodec.fromHex(r.maxs.head)))
      .sortWith((a, b) => graft.codec.KeyCodec.compare(a._1, b._1) < 0)
    ranges.sliding(2).foreach {
      case Seq(a, b) =>
        assert(graft.codec.KeyCodec.compare(a._2, b._1) < 0,
          "part key ranges must be disjoint")
      case _ =>
    }
    // answers unchanged
    val sum1 = spark.sql(s"SELECT sum(v), count(*) FROM $fqn").head()
    assert(sum0 == sum1)
    // lineage: every part carries the source region's id; the source
    // retired (file kept one cycle for tailing streams)
    val st = TableMeta.loadState(dir)
    assert(after.forall(_.srcMaxId == before.head.id))
    assert(st.retired.map(_.file) == Seq(before.head.file))
    // column stats recomputed per part: each part's v-range must be a
    // strict sub-range of the original region's
    val vStats = after.flatMap(_.stats.get("v"))
    assert(vStats.size == after.size)
    spark.sql(s"DROP TABLE $fqn")
  }

  test("point lookups scan exactly one of the new parts") {
    val fqn = build("prune")
    val dir = tableDir("prune")
    val target = new java.io.File(dir,
      TableMeta.loadRegions(dir).head.file).length() / 4
    spark.sql(s"CALL graft.sys.split(table => 'spl.prune', " +
      s"target_bytes => ${target}L)")
    val df = spark.sql(s"SELECT v FROM $fqn WHERE k = 1500")
    assert(df.head().getDouble(0) == 1500.0)
    val scans = df.queryExecution.executedPlan.collectLeaves()
    val nParts = df.rdd.getNumPartitions
    assert(nParts == 1, s"point lookup hit $nParts parts (scans=$scans)")
    spark.sql(s"DROP TABLE $fqn")
  }

  test("undersized and single-key regions are left alone") {
    val fqn = build("noop", rows = 100L)
    val dir = tableDir("noop")
    val size = new java.io.File(dir,
      TableMeta.loadRegions(dir).head.file).length()
    // target above the file size: nothing to split
    val r0 = spark.sql(s"CALL graft.sys.split(table => 'spl.noop', " +
      s"target_bytes => ${size * 2}L)").head()
    assert(r0.getString(0).toInt == 0 && r0.getString(1).toInt == 0)
    assert(TableMeta.loadRegions(dir).size == 1)
    spark.sql(s"DROP TABLE $fqn")

    // single leading key: no admissible boundary, refused as a no-op
    spark.sql("DROP TABLE IF EXISTS graft.spl.onekey")
    spark.sql(
      """CREATE TABLE graft.spl.onekey (k BIGINT, s BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k;s', 'numRegions'='1')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.spl.onekey
        |SELECT 7, id, id * 1.0 FROM range(5000)""".stripMargin)
    val r1 = spark.sql(s"CALL graft.sys.split(table => 'spl.onekey', " +
      "target_bytes => 1024L)").head()
    assert(r1.getString(0).toInt == 0,
      "a single-leading-key region must not split")
    spark.sql("DROP TABLE graft.spl.onekey")
  }

  test("a key run never spans two parts (point lookup stays 1 region)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spl")
    spark.sql("DROP TABLE IF EXISTS graft.spl.runs")
    // 20 distinct keys x 200 rows each: boundaries must land between runs
    spark.sql(
      """CREATE TABLE graft.spl.runs (k BIGINT, s BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k;s', 'numRegions'='1')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.spl.runs
        |SELECT id % 20, id, id * 1.0 FROM range(4000)""".stripMargin)
    val dir = tableDir("runs")
    val target = new java.io.File(dir,
      TableMeta.loadRegions(dir).head.file).length() / 5
    spark.sql(s"CALL graft.sys.split(table => 'spl.runs', " +
      s"target_bytes => ${target}L)")
    val after = TableMeta.loadRegions(dir)
    assert(after.size >= 2)
    // every key's 200 rows sit in exactly one part
    (0L until 20L).foreach { key =>
      val hit = after.count { r =>
        val e = graft.codec.KeyCodec.encode(
          org.apache.spark.sql.types.LongType, key)
        graft.codec.KeyCodec.compare(e,
          graft.codec.KeyCodec.fromHex(r.mins.head)) >= 0 &&
          graft.codec.KeyCodec.compare(e,
            graft.codec.KeyCodec.fromHex(r.maxs.head)) <= 0
      }
      assert(hit == 1, s"key $key covered by $hit parts")
    }
    assert(spark.table("graft.spl.runs").count() == 4000L)
    spark.sql("DROP TABLE graft.spl.runs")
  }

  test("dedupKeys: split skips regions overlapped by newer versions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spl")
    spark.sql("DROP TABLE IF EXISTS graft.spl.dedup")
    spark.sql(
      """CREATE TABLE graft.spl.dedup (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='1',
        |              'graft.dedupKeys'='true')""".stripMargin)
    // base (region id 1) then a newer overlapping version (id 2): the
    // base must NOT split (its re-id would beat the newer version);
    // the newest region may
    spark.sql("INSERT INTO graft.spl.dedup " +
      "SELECT id, 1.0 FROM range(3000)")
    spark.sql("INSERT INTO graft.spl.dedup " +
      "SELECT id, 2.0 FROM range(1000, 1100)")
    val dir = tableDir("dedup")
    // the target sits between the two file sizes: the base is a split
    // candidate by size, the 100-row overlay (whose footer carries
    // Spark's ~1 KB schema metadata) is not
    val target = 4096L
    val sizes = TableMeta.loadRegions(dir).map(r =>
      r.rows -> new java.io.File(dir, r.file).length()).toMap
    assert(sizes(3000L) > target && sizes(100L) <= target, sizes)
    val r = spark.sql("CALL graft.sys.split(table => 'spl.dedup', " +
      s"target_bytes => ${target}L)").head()
    val regions = TableMeta.loadRegions(dir)
    // the big base region is still whole; only the small overlay was a
    // candidate (and is under target, so nothing split at all)
    assert(r.getString(0).toInt == 0,
      s"split touched a precedence-unsafe region: $regions")
    // latest-wins unchanged
    val v1100 = spark.sql(
      """SELECT v FROM (SELECT v, row_number() OVER (
        |  PARTITION BY k ORDER BY _graft_region_id DESC) rn
        |FROM graft.spl.dedup WHERE k = 1050) WHERE rn = 1""".stripMargin)
      .head().getDouble(0)
    assert(v1100 == 2.0)
    spark.sql("DROP TABLE graft.spl.dedup")
  }

  test("graft.maxRegionBytes auto-splits oversized regions at commit") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spl")
    spark.sql("DROP TABLE IF EXISTS graft.spl.auto")
    spark.sql(
      """CREATE TABLE graft.spl.auto (k BIGINT, v DOUBLE, tag STRING)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='1',
        |              'graft.maxRegionBytes'='4096')""".stripMargin)
    // one append producing a region well over 4 KiB: the commit itself
    // must leave the table already re-cut, HBase-style
    spark.sql(
      """INSERT INTO graft.spl.auto
        |SELECT id, id * 1.0, concat('tag_', CAST(id AS STRING))
        |FROM range(5000)""".stripMargin)
    val dir = tableDir("auto")
    val regions = TableMeta.loadRegions(dir)
    assert(regions.size > 1,
      s"auto split did not run (still ${regions.size} region)")
    assert(regions.forall(r =>
      new java.io.File(dir, r.file).length() <= 4096 * 2),
      "auto split left a region far over the declared cap")
    assert(spark.table("graft.spl.auto").count() == 5000L)
    // a table without the property is untouched by the same write path
    spark.sql("DROP TABLE IF EXISTS graft.spl.plain")
    spark.sql(
      """CREATE TABLE graft.spl.plain (k BIGINT, v DOUBLE, tag STRING)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='1')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.spl.plain
        |SELECT id, id * 1.0, concat('tag_', CAST(id AS STRING))
        |FROM range(5000)""".stripMargin)
    assert(TableMeta.loadRegions(tableDir("plain")).size == 1)
    spark.sql("DROP TABLE graft.spl.auto")
    spark.sql("DROP TABLE graft.spl.plain")
  }

  test("tailing stream does not re-read rows re-cut by a split") {
    val fqn = build("stream")
    val dir = tableDir("stream")
    val q = spark.readStream.table(fqn)
      .writeStream.format("memory").queryName("split_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("split_tail").count() == 2000L)
      val target = new java.io.File(dir,
        TableMeta.loadRegions(dir).head.file).length() / 4
      spark.sql(s"CALL graft.sys.split(table => 'spl.stream', " +
        s"target_bytes => ${target}L)")
      spark.sql(
        s"INSERT INTO $fqn SELECT id, id * 1.0, 'x' FROM range(2000, 2100)")
      q.processAllAvailable()
      // only the 100 appended rows arrive: the parts are srcMaxId-marked
      // rewrites of data the stream already consumed
      assert(spark.table("split_tail").count() == 2100L)
    } finally q.stop()
    spark.sql(s"DROP TABLE $fqn")
  }

  test("split of a fixed-bucket table keeps bucket ids and plans") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spl")
    spark.sql("DROP TABLE IF EXISTS graft.spl.bucketed")
    spark.sql(
      """CREATE TABLE graft.spl.bucketed (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'regionSplits'='1000')""".stripMargin)
    spark.sql(
      "INSERT INTO graft.spl.bucketed SELECT id, id * 1.0 FROM range(2000)")
    val dir = tableDir("bucketed")
    val before = TableMeta.loadRegions(dir)
    assert(before.size == 2 && before.forall(_.bucket >= 0))
    val target = before.map(r =>
      new java.io.File(dir, r.file).length()).max / 3
    spark.sql(s"CALL graft.sys.split(table => 'spl.bucketed', " +
      s"target_bytes => ${target}L)")
    val after = TableMeta.loadRegions(dir)
    assert(after.size > 2)
    // parts inherit their source's bucket: the key-grouped scan still
    // groups them, and the exchange-free GROUP BY result is unchanged
    assert(after.map(_.bucket).toSet == before.map(_.bucket).toSet)
    val grouped = spark.sql(
      """SELECT CAST(k >= 1000 AS INT) AS b, count(*) AS n
        |FROM graft.spl.bucketed GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(grouped == Seq((0, 1000L), (1, 1000L)))
    spark.sql("DROP TABLE graft.spl.bucketed")
  }

  test("part size arithmetic stays in Long past 2^31 parts") {
    val GiB = 1L << 30
    // ordinary cut: 4 parts of a 4000-row region
    assert(GraftSplit.rowsPerPart(4000L, 4 * GiB, GiB) == 1000L)
    // at least 2 parts, even just over the target
    assert(GraftSplit.rowsPerPart(4000L, GiB + 1, GiB) == 2000L)
    assert(GraftSplit.rowsPerPart(1L, 10L, 1L) == 1L)
    // a 3 GiB region with target_bytes => 1: k = 3·2^30 parts, which
    // an Int wraps negative; 10^10 rows make 4 rows per part
    assert(GraftSplit.rowsPerPart(10000000000L, 3 * GiB, 1L) == 4L)
    // 4 GiB + 4 bytes: an Int k wraps to 4, i.e. 250-row parts
    assert(GraftSplit.rowsPerPart(1000L, 4 * GiB + 4, 1L) == 1L)
    // no overflow at the extremes
    assert(GraftSplit.rowsPerPart(Long.MaxValue, Long.MaxValue,
      Long.MaxValue) == Long.MaxValue / 2 + 1)
  }
}
