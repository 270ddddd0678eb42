package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Streaming semantics verified against the equivalent batch queries:
  * the windowed/sessionized/deduped streaming results on a bounded file
  * stream must equal the batch computation on the same data. */
class EventStreamsSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark
  private lazy val batchEvents = {
    val df = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet")
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df
  }

  /** Append mode only emits windows already past the watermark at
    * end-of-stream; compare against batch up to that horizon. */
  private lazy val horizon = {
    val maxTs = batchEvents.agg(max("ts")).collect()(0).getTimestamp(0)
    new java.sql.Timestamp(maxTs.getTime - 2 * 3600 * 1000L)
  }

  test("tumbling window stream equals batch aggregation up to watermark") {
    val stream = EventStreams.asStream(spark, TestSpark.sfDir)
    val got = EventStreams.runToBatch(spark,
      EventStreams.tumblingCounts(stream), "t_tumbling")
    val exp = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("cnt"), col("sum_value"))
      .filter(col("window_end") <= lit(horizon))
    val gotClosed = got.filter(
      col("window_start") + expr("INTERVAL 1 HOUR") <= lit(horizon))
    assert(gotClosed.count() == exp.count())
    assert(gotClosed.select("window_start", "event_type", "cnt")
      .collect().toSet ==
      exp.select("window_start", "event_type", "cnt").collect().toSet)
  }

  test("session windows: closed sessions match batch session_window") {
    val stream = EventStreams.asStream(spark, TestSpark.sfDir)
    val got = EventStreams.runToBatch(spark,
      EventStreams.sessionCounts(stream), "t_sessions")
    assert(got.count() > 0)
    assert(got.filter(col("session_end") <= col("session_start")).count() == 0)
    val exp = batchEvents
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))
      .filter(col("session_window.end") <= lit(horizon))
    val gotClosed = got.filter(col("session_end") <= lit(horizon))
      .select("session_start", "user_id", "n_events")
    assert(gotClosed.collect().toSet == exp.collect().toSet)
  }

  test("streaming dedup keeps one row per event_id") {
    val stream = EventStreams.asStream(spark, TestSpark.sfDir)
    val got = EventStreams.runToBatch(spark,
      EventStreams.dedupEvents(stream), "t_dedup")
    assert(got.count() == batchEvents.select("event_id").distinct().count())
  }

  test("sliding window stream equals batch aggregation up to watermark") {
    val stream = EventStreams.asStream(spark, TestSpark.sfDir)
    val got = EventStreams.runToBatch(spark,
      EventStreams.slidingCounts(stream), "t_sliding")
    val exp = batchEvents
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("cnt"))
      .filter(col("window_end") <= lit(horizon))
    val gotClosed = got.filter(
      col("window_start") + expr("INTERVAL 2 HOURS") <= lit(horizon))
    assert(gotClosed.select("window_start", "event_type", "cnt")
      .collect().toSet ==
      exp.select("window_start", "event_type", "cnt").collect().toSet)
  }

  test("stream-stream interval join matches the batch join") {
    val stream = EventStreams.asStream(spark, TestSpark.sfDir)
    val got = EventStreams.runToBatch(spark,
      EventStreams.clickViewJoin(stream), "t_ssjoin")
    val views = batchEvents.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val clicks = batchEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id"))
    val exp = clicks.join(views, expr(
      "c_user = v_user AND v_ts BETWEEN c_ts - INTERVAL 30 MINUTES AND c_ts"))
    assert(got.count() == exp.count())
    assert(got.count() > 0)
  }

  test("streaming ingest into a graft catalog table (continuous bulk load)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.events_t")
    spark.sql(
      """CREATE TABLE graft.stream.events_t (
        |  event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
        |  event_type STRING, value DOUBLE)
        |TBLPROPERTIES('keyCols'='event_id', 'numRegions'='4')""".stripMargin)
    val stream = EventStreams.asStream(spark, TestSpark.sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    EventStreams.streamIntoTable(spark, stream, "graft.stream.events_t")
    val n = spark.table("graft.stream.events_t").count()
    assert(n == batchEvents.count())
    // point lookup through region pruning still works on streamed data
    val one = spark.sql(
      "SELECT event_type FROM graft.stream.events_t WHERE event_id = 10")
      .collect()
    assert(one.length == 1)
    spark.sql("DROP TABLE graft.stream.events_t")
  }

  test("native streaming sink: writeStream.toTable into a graft table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.native_sink")
    spark.sql(
      """CREATE TABLE graft.stream.native_sink (
        |  event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
        |  event_type STRING, value DOUBLE)
        |TBLPROPERTIES('keyCols'='event_id', 'numRegions'='4')""".stripMargin)
    val ckpt = tempDir("graft_native_sink_ckpt").toString
    val stream = EventStreams.asStream(spark, TestSpark.sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .toTable("graft.stream.native_sink")
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("graft.stream.native_sink").count() ==
      batchEvents.count())
    // streamed regions prune like bulk-loaded ones
    val one = spark.sql("SELECT event_type FROM graft.stream.native_sink " +
      "WHERE event_id = 10").collect()
    assert(one.length == 1)
    spark.sql("DROP TABLE graft.stream.native_sink")
  }

  test("streaming sink handles embedding and payload columns") {
    // an embedding-ingest pipeline: vectors arrive on a stream and land
    // in a graft table with ARRAY<FLOAT> + BINARY cells, then serve
    // point lookups and vector functions from the store
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.vec_sink")
    spark.sql(
      """CREATE TABLE graft.stream.vec_sink (
        |  vec_id BIGINT, emb ARRAY<FLOAT>, payload BINARY)
        |TBLPROPERTIES('keyCols'='vec_id')""".stripMargin)
    graft.functions.VectorOps.register(spark)
    val in = MemoryStream[(Long, Array[Float], Array[Byte])]
    val ckpt = tempDir("graft_vec_sink_ckpt").toString
    val q = in.toDF().toDF("vec_id", "emb", "payload").writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .toTable("graft.stream.vec_sink")
    try {
      in.addData((1L, Array(1f, 0f), "a".getBytes),
        (2L, Array(0f, 1f), "b".getBytes))
      q.processAllAvailable()
      in.addData((3L, Array(0.6f, 0.8f), "c".getBytes))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql(
      """SELECT vec_id,
        |       round(vec_cosine(emb, array(CAST(0.6 AS FLOAT),
        |                                   CAST(0.8 AS FLOAT))), 4) AS sim,
        |       CAST(payload AS STRING) AS p
        |FROM graft.stream.vec_sink ORDER BY vec_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 0.6, "a"), (2L, 0.8, "b"), (3L, 1.0, "c")))
    spark.sql("DROP TABLE graft.stream.vec_sink")
  }

  test("table-to-table streaming pipe: tail one graft table into another") {
    // the full storage+streaming composition: a graft table as SOURCE
    // (manifest tail) feeding a transform into a graft table as native
    // SINK — the shape of an incremental cleaning/derivation pipeline
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.pipe_src")
    spark.sql("DROP TABLE IF EXISTS graft.stream.pipe_dst")
    spark.sql(
      """CREATE TABLE graft.stream.pipe_src (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql(
      """CREATE TABLE graft.stream.pipe_dst (k INT, v2 INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.stream.pipe_src VALUES (1, 10), (2, 20)")
    val ckpt = tempDir("graft_pipe_ckpt").toString
    val q = spark.readStream.table("graft.stream.pipe_src")
      .selectExpr("k", "v * 2 AS v2")
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .toTable("graft.stream.pipe_dst")
    try {
      q.processAllAvailable()
      assert(spark.table("graft.stream.pipe_dst").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet == Set((1, 20), (2, 40)))
      // new commits on the source flow through incrementally
      spark.sql("INSERT INTO graft.stream.pipe_src VALUES (3, 30)")
      q.processAllAvailable()
      assert(spark.table("graft.stream.pipe_dst").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet ==
        Set((1, 20), (2, 40), (3, 60)))
      // sink-written regions carry column stats like batch writes
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.catalog.GraftCatalog]
      val dst = cat.loadTable(
        org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("stream"), "pipe_dst"))
        .asInstanceOf[graft.catalog.GraftTable]
      val regions = graft.catalog.TableMeta.loadRegions(dst.tableDir)
      assert(regions.nonEmpty && regions.forall(_.stats.contains("v2")))
    } finally q.stop()
    spark.sql("DROP TABLE graft.stream.pipe_src")
    spark.sql("DROP TABLE graft.stream.pipe_dst")
  }

  test("epoch ledger rejects replayed micro-batch commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.epoch_t")
    spark.sql(
      """CREATE TABLE graft.stream.epoch_t (k INT, v INT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    val dir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("stream"), "epoch_t"))
      .asInstanceOf[graft.catalog.GraftTable].tableDir
    import graft.catalog.{RegionMeta, TableMeta}
    val r1 = RegionMeta("e1.parquet", 5, Seq("00"), Seq("01"))
    assert(TableMeta.commitEpoch(dir, Seq(r1), "q1", 0L))
    // same query, same epoch → duplicate replay, rejected
    assert(!TableMeta.commitEpoch(dir, Seq(r1), "q1", 0L))
    // next epoch commits; other queries have independent ledgers
    assert(TableMeta.commitEpoch(dir,
      Seq(r1.copy(file = "e2.parquet")), "q1", 1L))
    assert(TableMeta.commitEpoch(dir,
      Seq(r1.copy(file = "e3.parquet")), "q2", 0L))
    assert(TableMeta.loadRegions(dir).map(_.file).toSet ==
      Set("e1.parquet", "e2.parquet", "e3.parquet"))
    // plain appends and epoch state coexist
    TableMeta.appendRegions(dir, Seq(r1.copy(file = "a1.parquet")))
    assert(!TableMeta.commitEpoch(dir, Seq(r1), "q1", 1L))
    assert(TableMeta.loadState(dir).epochs.view
      .mapValues(_.epoch).toMap == Map("q1" -> 1L, "q2" -> 0L))
    spark.sql("DROP TABLE graft.stream.epoch_t")
  }

  test("readStream tails a graft table as regions are appended") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.tail_t")
    spark.sql(
      """CREATE TABLE graft.stream.tail_t (k INT, v STRING)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.stream.tail_t VALUES (1, 'a'), (2, 'b')")
    val q = spark.readStream.table("graft.stream.tail_t")
      .writeStream.format("memory").queryName("t_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_tail").count() == 2)
      // a second committed batch becomes the next micro-batch
      spark.sql("INSERT INTO graft.stream.tail_t VALUES (3, 'c')")
      q.processAllAvailable()
      assert(spark.table("t_tail").count() == 3)
      assert(spark.table("t_tail").select("k").collect()
        .map(_.getInt(0)).toSet == Set(1, 2, 3))
    } finally q.stop()
    spark.sql("DROP TABLE graft.stream.tail_t")
  }

  test("tailing stream survives a mid-stream compaction: no loss, no dups") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.tail_compact")
    spark.sql(
      """CREATE TABLE graft.stream.tail_compact (k INT, v STRING)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.stream.tail_compact VALUES (1, 'a')")
    spark.sql("INSERT INTO graft.stream.tail_compact VALUES (2, 'b')")
    val q = spark.readStream.table("graft.stream.tail_compact")
      .writeStream.format("memory").queryName("t_tail_compact")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_tail_compact").count() == 2)
      // compaction rewrites both consumed regions; the stream's offset
      // references stable ids, so the rewrite is recognized as already-
      // consumed data and appends after it flow through exactly once
      graft.catalog.GraftCompact.compact(
        spark, "graft", "stream", "tail_compact", 1)
      spark.sql("INSERT INTO graft.stream.tail_compact VALUES (3, 'c')")
      spark.sql("INSERT INTO graft.stream.tail_compact VALUES (4, 'd')")
      q.processAllAvailable()
      val got = spark.table("t_tail_compact").select("k").collect()
        .map(_.getInt(0)).toSeq
      assert(got.sorted == Seq(1, 2, 3, 4),
        s"lost or duplicated rows across compaction: $got")
    } finally q.stop()
    spark.sql("DROP TABLE graft.stream.tail_compact")
  }

  test("tailing stream survives a dedupKeys FOLD compaction") {
    // upsert tables rewrite to FEWER rows at compaction (latest per
    // key): the stream must treat the fold like any rewrite — already-
    // consumed data — and keep its append-log view (it legitimately
    // saw both versions, in commit order), while the TABLE reads fold
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.tail_fold")
    spark.sql(
      """CREATE TABLE graft.stream.tail_fold (k INT, v STRING)
        |TBLPROPERTIES('keyCols'='k', 'graft.dedupKeys'='true')"""
        .stripMargin)
    spark.sql("INSERT INTO graft.stream.tail_fold VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.stream.tail_fold VALUES (1, 'a2')")
    val q = spark.readStream.table("graft.stream.tail_fold")
      .writeStream.format("memory").queryName("t_tail_fold")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_tail_fold").count() == 3) // append history
      graft.catalog.GraftCompact.compact(
        spark, "graft", "stream", "tail_fold", 1)
      // table folded to latest-per-key …
      val tbl = spark.table("graft.stream.tail_fold").collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(tbl == Map(1 -> "a2", 2 -> "b"))
      // … and the stream neither re-reads the fold output nor breaks
      // on appends after it
      spark.sql("INSERT INTO graft.stream.tail_fold VALUES (3, 'c')")
      q.processAllAvailable()
      val got = spark.table("t_tail_fold").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(got == Set((1, "a"), (2, "b"), (1, "a2"), (3, "c")),
        s"stream view wrong after fold: $got")
    } finally q.stop()
    spark.sql("DROP TABLE graft.stream.tail_fold")
  }

  test("offset chains lose and duplicate nothing under random compaction") {
    // randomized invariant: for any interleaving of appends and
    // compactions, a stream consuming via successive (prev, latest)
    // offset pairs sees every inserted key exactly once — the
    // no-loss/no-dup contract of the stable-id offset machinery
    import graft.catalog._
    val rnd = new scala.util.Random(20260812)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    for (scenario <- 1 to 5) {
      val t = s"chain_$scenario"
      spark.sql(s"DROP TABLE IF EXISTS graft.stream.$t")
      spark.sql(s"CREATE TABLE graft.stream.$t (k INT, v INT) " +
        "TBLPROPERTIES('keyCols'='k')")
      val dir = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[GraftCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("stream"), t))
        .asInstanceOf[GraftTable].tableDir
      val stream = new GraftMicroBatchStream(dir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType))), Array.empty)
      var nextKey = 0
      val seen = scala.collection.mutable.ArrayBuffer[Int]()
      var prev = stream.initialOffset()
      for (step <- 1 to 8) {
        val compacted = rnd.nextInt(3) match {
          case 0 | 1 => // append 1-3 rows
            val ks = (0 until 1 + rnd.nextInt(3)).map(_ => {
              nextKey += 1; nextKey })
            spark.sql(s"INSERT INTO graft.stream.$t VALUES " +
              ks.map(k => s"($k, $k)").mkString(", "))
            false
          case 2 =>
            GraftCompact.compact(spark, "graft", "stream", t,
              1 + rnd.nextInt(2))
            true
        }
        // the retention contract is ONE compaction cycle: read after
        // every compaction (prev is then pre-compaction, served from
        // the retired originals) and periodically otherwise
        if (compacted || step % 2 == 0 || step == 8) {
          val latest = stream.latestOffset()
          val parts = stream.planInputPartitions(prev, latest)
          parts.foreach { p =>
            val files = p.asInstanceOf[GraftInputPartition].files
            if (files.nonEmpty)
              seen ++= spark.read
                .schema("k INT, v INT")
                .parquet(files: _*).select("k").collect().map(_.getInt(0))
          }
          prev = latest
        }
      }
      assert(seen.sorted == (1 to nextKey).toSeq,
        s"scenario $scenario: lost or duplicated keys — " +
          s"expected 1..$nextKey, saw ${seen.sorted}")
      spark.sql(s"DROP TABLE graft.stream.$t")
    }
  }

  test("tailing stream resolves _graft_region_id and resumes past it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.tail_meta")
    spark.sql("DROP TABLE IF EXISTS graft.stream.tail_meta_out")
    spark.sql(
      """CREATE TABLE graft.stream.tail_meta (k INT, v STRING)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    // the sink records each row's SOURCE region id — the provenance an
    // incremental consumer checkpoints via SQL alone
    spark.sql(
      """CREATE TABLE graft.stream.tail_meta_out (k INT, src_region BIGINT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.stream.tail_meta VALUES (1, 'a'), (2, 'b')")
    val ckpt = tempDir("graft-tail-meta-ckpt").toString
    def start() = spark.readStream.table("graft.stream.tail_meta")
      .select(col("k"), col("_graft_region_id").as("src_region"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .toTable("graft.stream.tail_meta_out")
    def out(): Map[Int, Long] =
      spark.table("graft.stream.tail_meta_out").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val q = start()
    try {
      q.processAllAvailable()
      val first = out()
      assert(first.keySet == Set(1, 2))
      // region ids are the REAL manifest ids (checkpointable
      // provenance), not placeholders
      val ids = graft.catalog.TableMeta.loadRegions(new java.io.File(
        s"${TestSpark.warehouse}/stream/tail_meta")).map(_.id).toSet
      assert(first.values.toSet.subsetOf(ids))
      spark.sql("INSERT INTO graft.stream.tail_meta VALUES (3, 'c')")
      q.processAllAvailable()
      // the new batch's region id is strictly newer — an incremental
      // consumer can checkpoint max(_graft_region_id) via SQL alone
      assert(out()(3) > first.values.max)
    } finally q.stop()
    // restart from the checkpoint: only NEW regions flow, and the
    // metadata column keeps resolving across the restart
    spark.sql("INSERT INTO graft.stream.tail_meta VALUES (4, 'd')")
    val before = out()
    val q2 = start()
    try {
      q2.processAllAvailable()
      val after = out()
      assert(after.keySet == Set(1, 2, 3, 4))
      assert(after(4) > before(3))
    } finally q2.stop()
    spark.sql("DROP TABLE graft.stream.tail_meta")
    spark.sql("DROP TABLE graft.stream.tail_meta_out")
  }

  test("flatMapGroupsWithState running totals match batch group-by") {
    val stream = EventStreams.asStream(spark, TestSpark.sfDir)
    val got = EventStreams.runToBatch(spark,
      EventStreams.userRunningTotals(spark, stream).toDF(), "t_state",
      outputMode = "update")
    // final state per user (last update) == batch totals
    val finalPerUser = got.groupBy("user_id")
      .agg(max("n").as("n"))
    val exp = batchEvents.groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(finalPerUser.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      exp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("watermarked session windows on a STREAMED graft table equal batch") {
    // the full watermark family on the graft source itself: tail the
    // key-sorted store as a stream, sessionize with a watermark, and
    // require the closed sessions to equal the batch session_window
    // over the same table — stream ≡ batch on graft storage end-to-end
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.sess_src")
    spark.sql(
      """CREATE TABLE graft.stream.sess_src (
        |  event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE)
        |TBLPROPERTIES('keyCols'='event_id', 'numRegions'='4')"""
        .stripMargin)
    val v = "sess_src_events"
    batchEvents.select("event_id", "ts", "user_id", "value")
      .createOrReplaceTempView(v)
    spark.sql(s"INSERT INTO graft.stream.sess_src SELECT * FROM $v")
    val streamed = spark.readStream.table("graft.stream.sess_src")
    val got = EventStreams.runToBatch(spark,
      EventStreams.sessionCounts(streamed), "t_graft_sessions")
    val exp = spark.table("graft.stream.sess_src")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))
      .filter(col("session_window.end") <= lit(horizon))
    val gotClosed = got.filter(col("session_end") <= lit(horizon))
      .select("session_start", "user_id", "n_events")
    assert(gotClosed.collect().toSet == exp.collect().toSet)
    assert(gotClosed.count() > 0)
    spark.sql("DROP TABLE graft.stream.sess_src")
  }
}
