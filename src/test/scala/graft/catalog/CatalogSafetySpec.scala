package graft.catalog

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Round-3 safety fixes: compaction vs concurrent commits, manifest
  * generations in streaming offsets, empty-string key aggregates, and
  * dropped-column tombstones. */
class CatalogSafetySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cat = spark.sessionState.catalogManager.catalog("graft")
    .asInstanceOf[GraftCatalog]
  private def tableDir(ns: String, t: String) =
    cat.loadTable(Identifier.of(Array(ns), t))
      .asInstanceOf[GraftTable].tableDir

  test("compaction carries forward regions committed concurrently") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.compact_race")
    spark.sql(
      """CREATE TABLE graft.safety.compact_race (k INT, v STRING)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    (1 to 6).foreach { i =>
      spark.sql(s"INSERT INTO graft.safety.compact_race VALUES ($i, 'base$i')")
    }

    // race 4 single-row inserts against the compaction rewrite
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val inserter = pool.submit(new Runnable {
      override def run(): Unit = {
        start.await()
        (101 to 104).foreach { i =>
          spark.sql(
            s"INSERT INTO graft.safety.compact_race VALUES ($i, 'race$i')")
        }
      }
    })
    val compactor = pool.submit(new Runnable {
      override def run(): Unit = {
        start.await()
        GraftCompact.compact(spark, "graft", "safety", "compact_race", 2)
      }
    })
    start.countDown()
    inserter.get(120, TimeUnit.SECONDS)
    compactor.get(120, TimeUnit.SECONDS)
    pool.shutdown()

    // no commit lost: all 10 rows present exactly once
    val rows = spark.table("graft.safety.compact_race").collect()
    assert(rows.length == 10, s"lost/duplicated rows: ${rows.length}")
    val ks = rows.map(_.getInt(0)).sorted.toSeq
    assert(ks == ((1 to 6) ++ (101 to 104)).toSeq)
    spark.sql("DROP TABLE graft.safety.compact_race")
  }

  test("compaction bumps manifest generation; appends preserve it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.gen_t")
    spark.sql(
      """CREATE TABLE graft.safety.gen_t (k INT, v STRING)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    val dir = tableDir("safety", "gen_t")
    assert(TableMeta.loadGeneration(dir) == 0L)
    spark.sql("INSERT INTO graft.safety.gen_t VALUES (1, 'a'), (2, 'b')")
    assert(TableMeta.loadGeneration(dir) == 0L)
    GraftCompact.compact(spark, "graft", "safety", "gen_t", 1)
    assert(TableMeta.loadGeneration(dir) == 1L)
    spark.sql("INSERT INTO graft.safety.gen_t VALUES (3, 'c')")
    assert(TableMeta.loadGeneration(dir) == 1L)
    spark.sql("DROP TABLE graft.safety.gen_t")
  }

  test("stream offsets survive one compaction; two cycles fails loudly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.stream_gen")
    spark.sql(
      """CREATE TABLE graft.safety.stream_gen (k INT, v STRING)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.safety.stream_gen VALUES (1, 'a')")
    spark.sql("INSERT INTO graft.safety.stream_gen VALUES (2, 'b')")
    val dir = tableDir("safety", "stream_gen")
    val stream = new GraftMicroBatchStream(dir,
      TableMeta.load(dir).schema, Array.empty)
    val before = stream.latestOffset().asInstanceOf[RegionCountOffset]
    assert(before.gen == 0L && before.id == 2L)

    // one compaction: the retired originals still serve the offset
    GraftCompact.compact(spark, "graft", "safety", "stream_gen", 1)
    assert(stream.planInputPartitions(
      RegionCountOffset(before.gen, 0L), before).length == 2)
    // a second cycle ages the originals out -> loud failure for a
    // mid-stream checkpoint...
    spark.sql("INSERT INTO graft.safety.stream_gen VALUES (3, 'c')")
    GraftCompact.compact(spark, "graft", "safety", "stream_gen", 1)
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(RegionCountOffset(0L, 1L), before)
    }
    assert(e.getMessage.contains("compaction cycle behind"))
    // a WAL-replayed (0, stale-end) batch whose originals aged out must
    // also fail loudly — a partial rewrite set would silently drop rows
    val e2 = intercept[IllegalStateException] {
      stream.planInputPartitions(RegionCountOffset(0L, 0L), before)
    }
    assert(e2.getMessage.contains("predates the compaction rewrites"))
    // ...while a fresh stream reads history from the rewrite regions
    val after = stream.latestOffset().asInstanceOf[RegionCountOffset]
    val fresh = stream.planInputPartitions(
      RegionCountOffset(after.gen, 0L), after)
    assert(fresh.nonEmpty)
    spark.sql("DROP TABLE graft.safety.stream_gen")
  }

  test("offset json round-trips; legacy bare-int offsets parse as gen 0") {
    val o = RegionCountOffset(3L, 17L)
    assert(RegionCountOffset.parse(o.json()) == o)
    assert(RegionCountOffset.parse("42") == RegionCountOffset(0L, -1L, 42))
    assert(RegionCountOffset.parse("""{"gen":1,"n":5}""") ==
      RegionCountOffset(1L, -1L, 5))
  }

  test("MIN/MAX agg pushdown honors empty-string keys") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.empty_key")
    spark.sql(
      """CREATE TABLE graft.safety.empty_key (k STRING, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.safety.empty_key VALUES ('', 1), ('b', 2)")
    val r = spark.sql(
      "SELECT min(k) AS lo, max(k) AS hi, count(*) AS n " +
        "FROM graft.safety.empty_key").collect().head
    assert(r.getString(0) == "", s"min was '${r.getString(0)}'")
    assert(r.getString(1) == "b")
    assert(r.getLong(2) == 2L)
    spark.sql("DROP TABLE graft.safety.empty_key")
  }

  test("re-adding a dropped column with a different type is rejected") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.tomb")
    spark.sql(
      """CREATE TABLE graft.safety.tomb (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.safety.tomb VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE graft.safety.tomb DROP COLUMN v")

    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.safety.tomb ADD COLUMN v STRING")
    }
    assert(e.getMessage.contains("previously dropped"))

    // same type is allowed and re-exposes the old cells (reference
    // behavior: dropping the mapping leaves the HBase cells in place)
    spark.sql("ALTER TABLE graft.safety.tomb ADD COLUMN v INT")
    val got = spark.sql(
      "SELECT v FROM graft.safety.tomb ORDER BY k").collect().map(_.getInt(0))
    assert(got.toSeq == Seq(10, 20))
    spark.sql("DROP TABLE graft.safety.tomb")
  }

  test("SET/UNSET TBLPROPERTIES cannot touch the tombstone property") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.tomb_prop")
    spark.sql(
      """CREATE TABLE graft.safety.tomb_prop (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("ALTER TABLE graft.safety.tomb_prop DROP COLUMN v")

    val eSet = intercept[Exception] {
      spark.sql("ALTER TABLE graft.safety.tomb_prop " +
        "SET TBLPROPERTIES('graft.droppedColumns'='v:string')")
    }
    assert(eSet.getMessage.contains("maintained internally"))
    val eUnset = intercept[Exception] {
      spark.sql("ALTER TABLE graft.safety.tomb_prop " +
        "UNSET TBLPROPERTIES('graft.droppedColumns')")
    }
    assert(eUnset.getMessage.contains("maintained internally"))

    // the guard still protects: re-add with a different type rejected
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.safety.tomb_prop ADD COLUMN v STRING")
    }
    assert(e.getMessage.contains("previously dropped"))
    // unrelated properties still settable
    spark.sql(
      "ALTER TABLE graft.safety.tomb_prop SET TBLPROPERTIES('note'='x')")
    spark.sql("DROP TABLE graft.safety.tomb_prop")
  }

  test("timestamp regionSplits parse timezone-independently (UTC)") {
    val saved = java.util.TimeZone.getDefault
    try {
      // derive splits under two different JVM default zones; boundaries
      // (and the split-set hash) must be identical
      java.util.TimeZone.setDefault(
        java.util.TimeZone.getTimeZone("America/Los_Angeles"))
      val la = RegionSplits.parse(
        org.apache.spark.sql.types.TimestampType, "2024-01-01 00:00:00")
      java.util.TimeZone.setDefault(
        java.util.TimeZone.getTimeZone("Asia/Tokyo"))
      val tokyo = RegionSplits.parse(
        org.apache.spark.sql.types.TimestampType, "2024-01-01 00:00:00")
      assert(la.id == tokyo.id)
      assert(la.points.head.sameElements(tokyo.points.head))
      // and they equal the UTC epoch-micros encoding of the literal
      val utcMicros = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
        .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
      val expected = graft.codec.KeyCodec.encode(
        org.apache.spark.sql.types.TimestampType, utcMicros)
      assert(la.points.head.sameElements(expected))
    } finally java.util.TimeZone.setDefault(saved)
  }

  test("filter on an ALTER-added column over pre-ALTER region files") {
    // old files lack the column; the pushed parquet predicate must not
    // crash the scan and the rows must null-backfill correctly
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.altf")
    spark.sql(
      """CREATE TABLE graft.safety.altf (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.safety.altf VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE graft.safety.altf ADD COLUMN c INT")
    spark.sql("INSERT INTO graft.safety.altf VALUES (3, 30, 7), (4, 40, 3)")
    val rows = spark.sql(
      "SELECT k, c FROM graft.safety.altf WHERE c > 5").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(3))
    assert(spark.sql("SELECT count(*) FROM graft.safety.altf " +
      "WHERE c IS NULL").collect().head.getLong(0) == 2)
    spark.sql("DROP TABLE graft.safety.altf")
  }

  test("streaming micro-batch slice uses one manifest parse") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.slice_one")
    spark.sql(
      """CREATE TABLE graft.safety.slice_one (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.safety.slice_one VALUES (1, 1)")
    spark.sql("INSERT INTO graft.safety.slice_one VALUES (2, 2)")
    val dir = tableDir("safety", "slice_one")
    val stream = new GraftMicroBatchStream(dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType))), Array.empty)
    // offsets from the current generation plan fine
    val latest = stream.latestOffset().asInstanceOf[RegionCountOffset]
    assert(stream.planInputPartitions(
      RegionCountOffset(latest.gen, 0L), latest).length == 2)
    // mid-stream resume across a compaction: the stream consumed region
    // id 1, the table compacts, a third row arrives — the next batch
    // serves id 2 from the retired originals plus id of the new append,
    // never the rewrite (whose data would duplicate id 1)
    GraftCompact.compact(spark, "graft", "safety", "slice_one", 1)
    spark.sql("INSERT INTO graft.safety.slice_one VALUES (3, 3)")
    val end = stream.latestOffset().asInstanceOf[RegionCountOffset]
    val parts = stream.planInputPartitions(
      RegionCountOffset(latest.gen, 1L), end)
    assert(parts.length == 2)
    val rows = parts.map(_.asInstanceOf[GraftInputPartition].rows).sum
    assert(rows == 2, s"expected rows of regions 2+3 only, got $rows")
    spark.sql("DROP TABLE graft.safety.slice_one")
  }

  test("tiny append regions pack into few read partitions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.packed")
    spark.sql(
      """CREATE TABLE graft.safety.packed (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    // 12 single-row inserts = 12 tiny regions (the streaming-ingest
    // accumulation pattern before compaction)
    (1 to 12).foreach { i =>
      spark.sql(s"INSERT INTO graft.safety.packed VALUES ($i, ${i * 10})")
    }
    val dir = tableDir("safety", "packed")
    assert(TableMeta.loadRegions(dir).size == 12)
    val table = cat.loadTable(Identifier.of(Array("safety"), "packed"))
      .asInstanceOf[GraftTable]
    def plannedParts() = table.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
      .toBatch.planInputPartitions()
    // with cores >= files the target stays at openCost and nothing
    // packs — Spark's own small-file formula; force the
    // many-files-per-slot regime via minPartitionNum
    assert(plannedParts().length == 12)
    TestSpark.withConf("spark.sql.files.minPartitionNum" -> "2",
        TestSpark.SparkDefaultSplit) {
      val parts = plannedParts()
      assert(parts.length < 12 && parts.length >= 2,
        s"12 tiny regions should pack, got ${parts.length} partitions")
      // every file still read exactly once; answers exact
      assert(parts.map(_.asInstanceOf[GraftInputPartition].files.length)
        .sum == 12)
      val got = spark.sql(
        "SELECT k, v FROM graft.safety.packed ORDER BY k").collect()
      assert(got.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
        (1 to 12).map(i => (i, i * 10)))
    }
    spark.sql("DROP TABLE graft.safety.packed")
  }

  test("manifest host field flows to InputPartition.preferredLocations") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.locality")
    spark.sql(
      """CREATE TABLE graft.safety.locality (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.safety.locality VALUES (1, 1), (2, 2)")
    val dir = tableDir("safety", "locality")
    val (gen, regions) = TableMeta.loadManifest(dir)
    // file:// is location-less: the commit-time block-host stamping
    // (GraftCommits.withBlockHosts) must leave the hint empty here
    assert(regions.forall(_.host == ""))
    // stamp a locality hint the way HDFS block locations would
    TableMeta.saveRegions(dir,
      regions.map(_.copy(host = "datanode-7.example")), gen)
    assert(TableMeta.loadRegions(dir).forall(_.host == "datanode-7.example"))

    val table = cat.loadTable(Identifier.of(Array("safety"), "locality"))
      .asInstanceOf[GraftTable]
    val scan = table.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.nonEmpty)
    assert(parts.forall(_.preferredLocations()
      .sameElements(Array("datanode-7.example"))))
    // empty host (file://) → no hint, Spark schedules anywhere
    TableMeta.saveRegions(dir, regions, gen)
    spark.sql("DROP TABLE graft.safety.locality")
  }

  test("bad numeric table properties fail at CREATE, not first INSERT") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    Seq("numRegions" -> "abc", "numRegions" -> "0",
      "graft.pageRowLimit" -> "-5").foreach { case (p, v) =>
      spark.sql("DROP TABLE IF EXISTS graft.safety.badprop")
      val e = intercept[Exception] {
        spark.sql("CREATE TABLE graft.safety.badprop (k INT, v INT) " +
          s"TBLPROPERTIES('keyCols'='k', '$p'='$v')")
      }
      assert(e.getMessage.contains("positive integer"), s"$p=$v: $e")
    }
    // ...and at ALTER SET, the other route into table properties
    spark.sql("DROP TABLE IF EXISTS graft.safety.badprop")
    spark.sql("CREATE TABLE graft.safety.badprop (k INT, v INT) " +
      "TBLPROPERTIES('keyCols'='k')")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.safety.badprop " +
        "SET TBLPROPERTIES('numRegions'='abc')")
    }
    assert(e.getMessage.contains("positive integer"), e.getMessage)
    spark.sql("DROP TABLE graft.safety.badprop")
  }

  test("epoch commits race plain appends without lost updates") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.race_mix")
    spark.sql(
      """CREATE TABLE graft.safety.race_mix (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    val dir = tableDir("safety", "race_mix")
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    def region(name: String) =
      RegionMeta(name, 1, Seq("00"), Seq("01"))
    val tasks = (0 until 20).map { i =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          if (i % 2 == 0)
            TableMeta.appendRegions(dir, Seq(region(s"a$i.parquet")))
          else // each stream commits its own epochs 0..?
            TableMeta.commitEpoch(dir, Seq(region(s"e$i.parquet")),
              s"q${i % 3}", i.toLong)
        }
      })
    }
    start.countDown()
    tasks.foreach(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    val state = TableMeta.loadState(dir)
    // every append present; every epoch commit with the highest epoch
    // per query present (lower epochs of the same query may have been
    // rejected as stale — that is the ledger working, not a loss)
    val files = state.regions.map(_.file).toSet
    (0 until 20 by 2).foreach(i => assert(files.contains(s"a$i.parquet")))
    assert(state.epochs.keySet == Set("q0", "q1", "q2"))
    state.epochs.foreach { case (q, ep) =>
      assert(files.contains(s"e${ep.epoch}.parquet"),
        s"$q ledger says epoch ${ep.epoch} committed but its region " +
          "is missing")
    }
    spark.sql("DROP TABLE graft.safety.race_mix")
  }

  test("compaction ages out epoch-ledger entries of dead queries") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.ledger_age")
    spark.sql(
      """CREATE TABLE graft.safety.ledger_age (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k',
        |  'graft.epochRetainGenerations'='2')""".stripMargin)
    val dir = tableDir("safety", "ledger_age")
    spark.sql("INSERT INTO graft.safety.ledger_age VALUES (1, 1)")
    // a sink query commits once at gen 0, then terminates forever
    val r = RegionMeta("eq.parquet", 1, Seq("00"), Seq("01"))
    val src = new java.io.File(dir, TableMeta.loadRegions(dir).head.file)
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dir, "eq.parquet").toPath)
    assert(TableMeta.commitEpoch(dir, Seq(r), "dead_query", 7L))
    assert(TableMeta.loadState(dir).epochs.contains("dead_query"))
    // entry survives the retention window, then ages out
    GraftCompact.compact(spark, "graft", "safety", "ledger_age", 1)
    assert(TableMeta.loadState(dir).epochs.contains("dead_query"))
    GraftCompact.compact(spark, "graft", "safety", "ledger_age", 1)
    GraftCompact.compact(spark, "graft", "safety", "ledger_age", 1)
    assert(!TableMeta.loadState(dir).epochs.contains("dead_query"),
      "ledger entry of a long-terminated query should age out")
    // a REPLAYING query is alive even though its epoch never advances:
    // the rejected duplicate refreshes touchedGen so aging can't drop it
    val src2 = new java.io.File(dir, TableMeta.loadRegions(dir).head.file)
    java.nio.file.Files.copy(src2.toPath,
      new java.io.File(dir, "eq2.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(TableMeta.commitEpoch(dir, Seq(r.copy(file = "eq2.parquet")),
      "replayer", 3L))
    GraftCompact.compact(spark, "graft", "safety", "ledger_age", 1)
    assert(!TableMeta.commitEpoch(dir, Nil, "replayer", 3L)) // replay
    val ent = TableMeta.loadState(dir).epochs("replayer")
    assert(ent.touchedGen == TableMeta.loadGeneration(dir),
      s"rejected replay should refresh touchedGen, got $ent")
    spark.sql("DROP TABLE graft.safety.ledger_age")
  }

  test("loadManifest returns generation and regions from one parse") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.safety")
    spark.sql("DROP TABLE IF EXISTS graft.safety.manifest_one")
    spark.sql(
      """CREATE TABLE graft.safety.manifest_one (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.safety.manifest_one VALUES (1, 1)")
    spark.sql("INSERT INTO graft.safety.manifest_one VALUES (2, 2)")
    val dir = tableDir("safety", "manifest_one")
    val (gen0, regions0) = TableMeta.loadManifest(dir)
    assert(gen0 == 0L && regions0.size == 2)
    GraftCompact.compact(spark, "graft", "safety", "manifest_one", 1)
    val (gen1, regions1) = TableMeta.loadManifest(dir)
    assert(gen1 == 1L && regions1.size == 1)
    spark.sql("DROP TABLE graft.safety.manifest_one")
  }
}
