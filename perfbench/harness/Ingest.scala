package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.TableMeta

/** Writes beside reads: rounds of 16 small INSERT commits (each one
  * contiguous run of orderkeys, append-style) with a read-back lookup
  * after each, then one `LOAD DATA INPATH` of a CSV slice. Compaction
  * and the final checks follow the timed phase. */
object Ingest {
  val Table = "lineitem_in"
  val CommitsPerRound = 16
  /** Orders per small commit (~4 lines each, so tens of rows). */
  val OrdersPerCommit = 10
  /** Orders per bulk-load slice (~20k rows). */
  val OrdersPerSlice = 5000
  /** Untimed commit + read-back pairs (the first with a load) on a
    * scratch table before timing starts: one checkpoint fold's worth. */
  val WarmCommits = 16

  def rounds(seconds: Int): Int = math.max(7, seconds * 7 / 10)

  private def lit(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double => s"${d}D"
    case s: String => s"'$s'"
    case t: java.sql.Timestamp => s"TIMESTAMP'$t'"
    case x => x.toString
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val rs = rounds(ctx.args.seconds)
    val nCommits = rs * CommitsPerRound
    val rng = new scala.util.Random(ctx.args.seed)
    // key layout from the seed: the commit runs and the load slices are
    // disjoint orderkey blocks inside the source key space
    val commitBase = rng.nextInt(60000).toLong
    val commitEnd = commitBase + nCommits * OrdersPerCommit
    val sliceBase = 75000L + rng.nextInt((75000 - rs * OrdersPerSlice).max(1))
    val sliceEnd = sliceBase + rs * OrdersPerSlice
    val t = s"graft.${Lineitem.Ns}.$Table"

    val src = Lineitem.source(ctx)
    val commitRows = src.where(s"l_orderkey >= $commitBase AND l_orderkey < $commitEnd")
      .collect().groupBy(r => ((r.getLong(0) - commitBase) / OrdersPerCommit).toInt)
    val batches = (0 until nCommits).map(g =>
      commitRows.getOrElse(g, Array.empty[Row]).sortBy(r => (r.getLong(0), r.getInt(3))))

    ctx.phase("expected")
    // set-up: table, CSV slices and a warm pass of every statement shape
    // on a scratch table (LOAD DATA leaves its input files in place)
    Lineitem.create(ctx, Table)
    src.where(s"l_orderkey >= $sliceBase AND l_orderkey < $sliceEnd")
      .withColumn("slice", ((col("l_orderkey") - sliceBase) / OrdersPerSlice).cast("int"))
      .repartition(col("slice")).write.partitionBy("slice").csv(slicesDir(ctx))
    val slices = (0 until rs).map(slicePath(ctx, _))
    ctx.phase("slices")
    Lineitem.create(ctx, "lineitem_warm")
    val warmT = s"graft.${Lineitem.Ns}.lineitem_warm"
    (0 until WarmCommits).foreach { w =>
      spark.sql(insertSql(warmT, batches(w)))
      spark.sql(readSql(warmT, batches(w).head)).collect()
      if (w % 16 == 0)
        spark.sql(s"LOAD DATA INPATH '${slices(w / 16 % rs)}' INTO TABLE $warmT")
    }
    spark.sql(s"DROP TABLE $warmT")
    // the warm pass's garbage is collected before, not inside, the timed window
    System.gc()
    ctx.phase("warm")
    val setupS = ctx.sinceJvmStart()

    val dir = ctx.tableDir(Lineitem.Ns, Table)
    val layers = new WriteLayers(ctx, dir)
    val reads = new ReadLayers(ctx, dir)
    val commitMs, readMs, loadMs = mutable.ArrayBuffer[Double]()
    val commitTraced = mutable.ArrayBuffer[Boolean]()
    var loadedRows = 0L
    var attempted = 0L
    var failed = 0L
    def fail(msg: String): Unit = { failed += 1; System.err.println(s"[perfbench] $msg") }
    val gc0 = ctx.gcMs()
    val t0 = System.nanoTime()
    var op = 0
    for (r <- 0 until rs) {
      for (c <- 0 until CommitsPerRound) {
        val batch = batches(r * CommitsPerRound + c)
        val traced = ctx.tracer.on && (r * CommitsPerRound + c) % 2 == 0
        attempted += 2
        try {
          val sql = insertSql(t, batch)
          commitMs += (if (traced) layers.commit(op, sql) else ctx.time(spark.sql(sql))._2)
          commitTraced += traced
        } catch { case e: Exception => fail(s"commit failed: $e") }
        op += 1
        // read back one just-written row by its full key
        val row = batch(rng.nextInt(batch.length))
        try {
          val sql = readSql(t, row)
          val (got, ms) =
            if (traced) reads.read(op, "readback", sql) else ctx.time(spark.sql(sql).collect())
          readMs += ms
          if (got.length != 1 || RowHash.row(got(0)) != RowHash.row(row))
            fail(s"read-back mismatch: $sql")
        } catch { case e: Exception => fail(s"read-back failed: $e") }
        if (traced) layers.manifest()
        op += 1
      }
      attempted += 1
      try {
        val sql = s"LOAD DATA INPATH '${slices(r)}' INTO TABLE $t"
        val before = Storage.bytesAndRows(dir)._2
        loadMs += (if (ctx.tracer.on) layers.load(op, sql) else ctx.time(spark.sql(sql))._2)
        loadedRows += Storage.bytesAndRows(dir)._2 - before
      } catch { case e: Exception => fail(s"bulk load failed: $e") }
      op += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcMs = ctx.gcMs() - gc0
    ctx.phase("timed")
    val firstDecile = Stats.firstDecileRatio(commitMs.toSeq)

    val compactMs = ctx.tracer.span("compact")(ctx.time(spark.sql(
      s"CALL graft.sys.compact(table => '${Lineitem.Ns}.$Table', target_regions => 16)"))._2)
    ctx.phase("compact")
    val regionsEnd = spark.sql(s"CALL graft.sys.manifest(table => '${Lineitem.Ns}.$Table')")
      .collect()(0).getAs[String]("live_regions").toDouble
    // final check through a cold manifest and a fresh catalog instance:
    // rows and checksums equal the acknowledged writes
    TableMeta.evictManifestCache(dir)
    val fresh = spark.newSession()
    val keys = s"(l_orderkey >= $commitBase AND l_orderkey < $commitEnd) OR " +
      s"(l_orderkey >= $sliceBase AND l_orderkey < $sliceEnd)"
    val got = checksum(fresh, s"SELECT * FROM $t")
    src.createOrReplaceTempView("lineitem_src")
    val want = checksum(spark, s"SELECT * FROM lineitem_src WHERE $keys")
    if (got != want) fail(s"final table $got != acknowledged writes $want")
    val (bytes, rows) = Storage.bytesAndRows(dir)
    val heap = ctx.heapLiveMb()
    ctx.info("first_decile_over_median", firstDecile)
    ctx.infoDeciles("commit_decile_medians_ms", commitMs.toSeq)
    ctx.infoDeciles("read_decile_medians_ms", readMs.toSeq)
    ctx.info("commits", commitMs.size)
    ctx.info("loaded_rows", loadedRows)

    if (!ctx.args.trace) Result(attempted, failed, Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", Stats.median(commitMs.toSeq), "ms"),
      ("op_tail_ms", Stats.quantile(commitMs.toSeq, 0.9), "ms"),
      ("read_p50_ms", Stats.median(readMs.toSeq), "ms"),
      ("ops_per_s", attempted / wallS, "1/s"),
      ("load_rows_per_s", loadedRows / (loadMs.sum / 1e3), "rows/s"),
      ("stored_bytes_per_row", bytes.toDouble / rows, "B"),
      ("heap_live_mb", heap, "MB")))
    else {
      val tr = commitMs.indices.filter(commitTraced).map(commitMs)
      val un = commitMs.indices.filterNot(commitTraced).map(commitMs)
      val encodeNs = ctx.tracer.span("codec.encodeComposite")(Layers.encodeNs(
        Lineitem.KeyTypes, batches.flatten.map(r => Seq[Any](r.getLong(0), r.getInt(3)))))
      Result.layers(attempted, failed,
        (reads.metrics(gcMs).toMap ++ layers.metrics ++ Map(
          "codec.encode_ns_per_key" -> encodeNs,
          "catalog.regions_end" -> regionsEnd,
          "catalog.compact_ms" -> compactMs,
          "trace.overhead_pct" -> (Stats.median(tr) / Stats.median(un) - 1) * 100)).toSeq)
    }
  }

  private def slicesDir(ctx: Ctx): String =
    new File(ctx.args.work, "slices").getAbsolutePath
  private def slicePath(ctx: Ctx, r: Int): String =
    s"${slicesDir(ctx)}/slice=$r"

  def insertSql(t: String, rows: Seq[Row]): String =
    s"INSERT INTO $t VALUES " + rows.map(r =>
      (0 until r.length).map(i => lit(r.get(i))).mkString("(", ", ", ")")).mkString(", ")

  def readSql(t: String, r: Row): String =
    s"SELECT ${Lineitem.ColList} FROM $t " +
      s"WHERE l_orderkey = ${r.getLong(0)} AND l_linenumber = ${r.getInt(3)}"

  /** "rows / sum of xxhash64 over every column / sum of keys". */
  def checksum(s: SparkSession, sql: String): String = {
    s.sql(sql).createOrReplaceTempView("perfbench_chk")
    s.sql(
      s"""SELECT count(*),
         |       sum(CAST(xxhash64(${Lineitem.ColList}) AS DECIMAL(38, 0))),
         |       sum(l_orderkey * 8 + l_linenumber)
         |FROM perfbench_chk""".stripMargin).collect()(0).toSeq.mkString(" / ")
  }
}

/** Per-layer measurements of traced commits and loads: driver-side
  * commit time, checkpoint folds, listener job times and shuffle
  * bytes, manifest loads after each commit. */
final class WriteLayers(ctx: Ctx, dir: File) {
  private val commit, fold, jobMs, loadJobMs, loadShuffleMb, cold, deser =
    mutable.ArrayBuffer[Double]()
  private val logDir = new File(dir, TableMeta.LogDirName)
  /** Name of the newest checkpoint in the commit log. */
  private def checkpoint(): Option[String] =
    Option(logDir.list()).flatMap(_.filter(_.startsWith("cp-")).maxOption)

  /** One traced INSERT; returns its wall ms. */
  def commit(op: Int, sql: String): Double = {
    val cp0 = checkpoint()
    val (_, ms) = ctx.time(ctx.tracer.op(op, "commit")(ctx.spark.sql(sql)))
    val c = ctx.tracer.counters(op)
    val driverMs = if (c.lastJobEndMs > 0) (c.endMs - c.lastJobEndMs).toDouble else ms
    commit += driverMs
    if (checkpoint() != cp0) fold += driverMs
    jobMs += c.jobMs
    deser += c.deserMs
    ms
  }

  def load(op: Int, sql: String): Double = {
    val (_, ms) = ctx.time(ctx.tracer.op(op, "load")(ctx.spark.sql(sql)))
    val c = ctx.tracer.counters(op)
    loadJobMs += c.jobMs
    loadShuffleMb += c.shuffleWriteBytes / 1048576.0
    ms
  }

  /** A cold manifest load, as every commit leaves it, then re-warm. */
  def manifest(): Unit = {
    TableMeta.evictManifestCache(dir)
    cold += ctx.tracer.span("catalog.loadState cold")(ctx.time(TableMeta.loadState(dir))._2)
  }

  private def med(xs: mutable.ArrayBuffer[Double]) =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  def metrics: Map[String, Double] = Map(
    "catalog.commit_ms" -> med(commit),
    "catalog.fold_commit_ms" -> med(fold),
    "catalog.manifest_cold_ms" -> med(cold),
    "write.job_ms" -> med(jobMs),
    "write.load_job_ms" -> med(loadJobMs),
    "write.shuffle_mb_per_load" -> med(loadShuffleMb),
    "sched.task_deser_ms" -> med(deser))
}
