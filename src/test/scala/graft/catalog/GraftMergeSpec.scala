package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Targeted region merging ([[GraftMerge]], `CALL graft.sys.merge`):
  * fragmented tables defragment O(touched), sort and answers
  * preserved, upsert fold applied, tailing streams unaffected. */
class GraftMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tableDir(name: String): java.io.File = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("mrg"), name)).asInstanceOf[GraftTable].tableDir
  }

  test("merge defragments append litter; answers and order survive") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mrg")
    spark.sql("DROP TABLE IF EXISTS graft.mrg.frag")
    spark.sql(
      """CREATE TABLE graft.mrg.frag (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='1')""".stripMargin)
    // 8 small appends -> 8 disjoint single-region commits
    (0 until 8).foreach { i =>
      spark.sql(s"INSERT INTO graft.mrg.frag " +
        s"SELECT id, id * 1.0 FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val dir = tableDir("frag")
    val before = TableMeta.loadRegions(dir)
    assert(before.size == 8)
    val total = before.map(r =>
      new java.io.File(dir, r.file).length()).sum
    val res = spark.sql(
      s"CALL graft.sys.merge(table => 'mrg.frag', " +
        s"target_bytes => ${total / 2}L)").head()
    assert(res.getString(0).toInt >= 2, "at least two groups merged")
    val after = TableMeta.loadRegions(dir)
    assert(after.size < before.size)
    assert(spark.table("graft.mrg.frag").count() == 800L)
    assert(spark.sql(
      "SELECT sum(v) FROM graft.mrg.frag").head().getDouble(0)
      == (0 until 800).map(_.toDouble).sum)
    // merged regions carry lineage and fresh column stats
    assert(after.filter(_.srcMaxId >= 0).forall(_.stats.contains("v")))
    // sources retired for tailing streams
    assert(TableMeta.loadState(dir).retired.nonEmpty)
    spark.sql("DROP TABLE graft.mrg.frag")
  }

  test("overlapping regions interleave into one sorted region") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mrg")
    spark.sql("DROP TABLE IF EXISTS graft.mrg.overlap")
    spark.sql(
      """CREATE TABLE graft.mrg.overlap (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='1')""".stripMargin)
    // evens then odds: two fully-overlapping key ranges
    spark.sql("INSERT INTO graft.mrg.overlap " +
      "SELECT id * 2, id * 1.0 FROM range(500)")
    spark.sql("INSERT INTO graft.mrg.overlap " +
      "SELECT id * 2 + 1, id * 1.0 FROM range(500)")
    val dir = tableDir("overlap")
    assert(TableMeta.loadRegions(dir).size == 2)
    spark.sql("CALL graft.sys.merge(table => 'mrg.overlap', " +
      "target_bytes => 104857600L)")
    val after = TableMeta.loadRegions(dir)
    assert(after.size == 1, s"expected 1 merged region, got ${after.size}")
    assert(spark.table("graft.mrg.overlap").count() == 1000L)
    // the merged file is genuinely key-sorted: a raw sequential read
    // of the region file yields ascending keys
    val reader = new ParquetColumnarIO.ColumnarReader(
      new java.io.File(dir, after.head.file).getPath,
      spark.table("graft.mrg.overlap").schema, Nil)
    var prev = Long.MinValue
    try reader.rows().foreach { row =>
      val k = row.getLong(0)
      assert(k > prev, s"merge broke the region sort at key $k")
      prev = k
    } finally reader.close()
    spark.sql("DROP TABLE graft.mrg.overlap")
  }

  test("merge on a dedupKeys table folds equal keys to the newest row") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mrg")
    spark.sql("DROP TABLE IF EXISTS graft.mrg.upsert")
    spark.sql(
      """CREATE TABLE graft.mrg.upsert (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='1',
        |              'graft.dedupKeys'='true')""".stripMargin)
    spark.sql("INSERT INTO graft.mrg.upsert " +
      "SELECT id, 1.0 FROM range(300)")
    spark.sql("INSERT INTO graft.mrg.upsert " +
      "SELECT id, 2.0 FROM range(100, 200)") // overwrite the middle third
    val dir = tableDir("upsert")
    assert(TableMeta.loadRegions(dir).size == 2)
    spark.sql("CALL graft.sys.merge(table => 'mrg.upsert', " +
      "target_bytes => 104857600L)")
    assert(TableMeta.loadRegions(dir).size == 1)
    // physically folded: 300 rows remain, middle third at v=2.0
    assert(TableMeta.loadRegions(dir).head.rows == 300L)
    val byV = spark.sql(
      """SELECT v, count(*) AS n FROM graft.mrg.upsert
        |GROUP BY v ORDER BY v""".stripMargin)
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(byV == Seq((1.0, 200L), (2.0, 100L)))
    spark.sql("DROP TABLE graft.mrg.upsert")
  }

  test("dedupKeys: merge never inverts latest-wins (random upsert fuzz)") {
    // random overlapping upserts interleaved with merges; after every
    // merge the latest-wins read must still match a driver-side model.
    // This is the test of the precedence-safety rule: an unsafe fold
    // (group lifted above an interleaved newer version) would surface
    // as a stale value here.
    val rnd = new scala.util.Random(424242L)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mrg")
    spark.sql("DROP TABLE IF EXISTS graft.mrg.upfuzz")
    spark.sql(
      """CREATE TABLE graft.mrg.upfuzz (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='1',
        |              'graft.dedupKeys'='true')""".stripMargin)
    var model = Map.empty[Long, Double]
    var gen = 0
    def upsert(): Unit = {
      gen += 1
      val a = rnd.nextInt(500); val n = 20 + rnd.nextInt(120)
      spark.sql(s"INSERT INTO graft.mrg.upfuzz " +
        s"SELECT id, id + $gen * 10000.0 FROM range($a, ${a + n})")
      model ++= (a.toLong until (a + n)).map(k => k -> (k + gen * 10000.0))
    }
    def latestWins(): Map[Long, Double] = spark.sql(
      """SELECT k, v FROM (
        |  SELECT k, v, row_number() OVER (
        |    PARTITION BY k ORDER BY _graft_region_id DESC) AS rn
        |  FROM graft.mrg.upfuzz) WHERE rn = 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def regionBytes(): Seq[Long] = {
      val dir = tableDir("upfuzz")
      TableMeta.loadRegions(dir)
        .map(r => new java.io.File(dir, r.file).length())
    }
    for (i <- 1 to 24) {
      if (i % 6 == 5) {
        // PARTIAL merge: a target of about half the bytes forms a
        // group whose envelope newer outside regions overlap — the
        // exact shape the precedence filter exists for (with the
        // filter disabled this fuzz catches the stale-version win)
        val szs = regionBytes()
        val target = math.max(szs.max + 1, szs.sum / 2)
        spark.sql("CALL graft.sys.merge(table => 'mrg.upfuzz', " +
          s"target_bytes => ${target}L)")
      } else if (i % 6 == 0) {
        spark.sql("CALL graft.sys.merge(table => 'mrg.upfuzz', " +
          "target_bytes => 1048576L)") // global fold
      } else upsert()
      assert(latestWins() == model, s"latest-wins diverged at step $i")
    }
    // compaction folds everything; the final state must still agree
    spark.sql("CALL graft.sys.compact(table => 'mrg.upfuzz', " +
      "target_regions => 2)")
    assert(spark.table("graft.mrg.upfuzz").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap == model)
    spark.sql("DROP TABLE graft.mrg.upfuzz")
  }

  test("dedupKeys: a precedence-unsafe partial group is skipped, not folded") {
    // regression pin for the latest-wins inversion: group {r1, r2}
    // (ids 1, 2) folds under a byte cap that excludes r3 (id 3), but
    // r3 overlaps the group's envelope with NEWER versions of 80..99 —
    // folding would re-stamp r1's stale rows above it (verified: with
    // the precedenceSafe filter disabled, k=85 reads 1.0 instead of
    // 3.0). The filter must skip the group entirely.
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mrg")
    spark.sql("DROP TABLE IF EXISTS graft.mrg.unsafe")
    spark.sql(
      """CREATE TABLE graft.mrg.unsafe (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='1',
        |              'graft.dedupKeys'='true')""".stripMargin)
    spark.sql("INSERT INTO graft.mrg.unsafe SELECT id, 1.0 FROM range(0, 100)")
    spark.sql("INSERT INTO graft.mrg.unsafe SELECT id, 2.0 FROM range(40, 60)")
    spark.sql("INSERT INTO graft.mrg.unsafe SELECT id, 3.0 FROM range(80, 120)")
    val dir = tableDir("unsafe")
    val rs = TableMeta.loadRegions(dir)
    val cap = Seq(1L, 2L).map(id =>
      new java.io.File(dir, rs.find(_.id == id).get.file).length()).sum + 1
    val res = spark.sql("CALL graft.sys.merge(table => 'mrg.unsafe', " +
      s"target_bytes => ${cap}L)").head()
    assert(res.getString(0).toInt == 0,
      "merge folded a group overlapped by a newer outside region")
    def v85 = spark.sql(
      """SELECT v FROM (SELECT v, row_number() OVER (
        |  PARTITION BY k ORDER BY _graft_region_id DESC) rn
        |FROM graft.mrg.unsafe WHERE k = 85) WHERE rn = 1""".stripMargin)
      .head().getDouble(0)
    assert(v85 == 3.0)
    // a global merge (everything in one group, nothing outside) is
    // safe and folds correctly
    spark.sql("CALL graft.sys.merge(table => 'mrg.unsafe', " +
      "target_bytes => 1048576L)")
    assert(v85 == 3.0)
    assert(spark.table("graft.mrg.unsafe").count() == 120L)
    spark.sql("DROP TABLE graft.mrg.unsafe")
  }

  test("merge is a no-op when every region exceeds the target") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mrg")
    spark.sql("DROP TABLE IF EXISTS graft.mrg.noop")
    spark.sql(
      """CREATE TABLE graft.mrg.noop (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='2')""".stripMargin)
    spark.sql(
      "INSERT INTO graft.mrg.noop SELECT id, id * 1.0 FROM range(1000)")
    val r = spark.sql("CALL graft.sys.merge(table => 'mrg.noop', " +
      "target_bytes => 16L)").head()
    assert(r.getString(0).toInt == 0 && r.getString(1).toInt == 0)
    assert(TableMeta.loadRegions(tableDir("noop")).size == 2)
    spark.sql("DROP TABLE graft.mrg.noop")
  }

  test("tailing stream does not re-read rows consumed by a merge") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mrg")
    spark.sql("DROP TABLE IF EXISTS graft.mrg.stream")
    spark.sql(
      """CREATE TABLE graft.mrg.stream (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='1')""".stripMargin)
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO graft.mrg.stream " +
        s"SELECT id, id * 1.0 FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val q = spark.readStream.table("graft.mrg.stream")
      .writeStream.format("memory").queryName("merge_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("merge_tail").count() == 400L)
      spark.sql("CALL graft.sys.merge(table => 'mrg.stream', " +
        "target_bytes => 104857600L)")
      spark.sql("INSERT INTO graft.mrg.stream " +
        "SELECT id, id * 1.0 FROM range(400, 450)")
      q.processAllAvailable()
      // only the 50 appended rows arrive: the merged region is a
      // srcMaxId-marked rewrite of data the stream already consumed
      assert(spark.table("merge_tail").count() == 450L)
    } finally q.stop()
    spark.sql("DROP TABLE graft.mrg.stream")
  }
}
