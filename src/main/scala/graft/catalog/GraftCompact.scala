package graft.catalog

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier

/** Region compaction: rewrite a table's region files into `numRegions`
  * key-sorted, disjoint regions.
  *
  * The reference delegates this to HBase (memstore flushes create small
  * HFiles, the region server compacts them); in graft every append
  * commits its own region files, so a table fed by many small inserts —
  * e.g. the streaming foreachBatch sink — accumulates overlapping
  * little regions that weaken pruning. Compaction = one shuffled,
  * sorted rewrite through the normal write path into a staging table,
  * then a manifest swap under the table's manifest lock. A table with
  * fixed `regionSplits` is shuffled by region, so it compacts to at
  * most one region per bucket whatever `numRegions` asks for.
  *
  * Concurrency: the rewrite reads exactly the region files present when
  * compaction started (the snapshot), and the final swap happens inside
  * [[TableMeta.withManifestLock]], carrying forward any regions other
  * writers committed after the snapshot. A concurrent INSERT or
  * streaming sink therefore never loses its commit. The snapshot moves
  * to the manifest's retired list (files retained for one compaction
  * cycle), so a stream resumed from a pre-compaction checkpoint keeps
  * reading the original regions it had not yet consumed — offsets
  * reference stable region ids, not list positions. Only checkpoints
  * more than one compaction cycle behind fail loudly.
  */
object GraftCompact {

  /** Epoch-ledger entries untouched for this many manifest generations
    * (= compaction cycles) are dropped at compaction. */
  val EpochRetainProp = "graft.epochRetainGenerations"

  def compact(spark: SparkSession, catalogName: String, namespace: String,
      table: String, numRegions: Int): Unit = {
    val cat = spark.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[GraftCatalog]
    val ident = Identifier.of(Array(namespace), table)
    val t = cat.loadTable(ident).asInstanceOf[GraftTable]

    val snapshot = TableMeta.loadRegions(t.tableDir)
    if (snapshot.isEmpty) return
    val snapFiles = snapshot.map(_.file).toSet

    val stagingName = s"${table}__compacting"
    val stagingIdent = Identifier.of(Array(namespace), stagingName)
    cat.dropTable(stagingIdent) // stale staging from a failed run
    val props = new java.util.HashMap[String, String]()
    t.meta.properties.foreach { case (k, v) => props.put(k, v) }
    props.put(TableMeta.NumRegionsProp, numRegions.toString)
    cat.createTable(stagingIdent, t.meta.schema,
      Array.empty, props)
    // read exactly the snapshot files (not the live table) so rows
    // committed mid-compaction are rewritten by nobody and carried
    // forward as-is below; files lacking later-ALTERed columns read null
    val snapDf = spark.read.schema(t.meta.schema)
      .parquet(snapshot.map(r => new File(t.tableDir, r.file).getPath): _*)
    // upsert fold ([[TableMeta.DedupKeysProp]]): keep the row from the
    // highest source region id per key. Provenance comes from a
    // broadcast (file basename -> region id) join — O(regions) driver
    // metadata, no giant literal in the plan — and the keep-latest is
    // one row_number window keyed like the write shuffle that follows,
    // so at 100 TB the fold costs one extra key-partitioned exchange,
    // the same order of work the reference's region server spends
    // folding HFile cells at its own compaction.
    val folded = if (!TableMeta.dedupKeys(t.meta.properties)) snapDf else {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val ids = snapshot.map(r => (r.file, r.id))
      val idDf = spark.createDataFrame(ids).toDF("_graft_file", "_graft_src")
      val keyed = snapDf
        .withColumn("_graft_file",
          element_at(split(input_file_name(), "/"), -1))
        .join(broadcast(idDf), "_graft_file")
      val w = Window
        .partitionBy(t.meta.keyCols.map(col): _*)
        .orderBy(col("_graft_src").desc)
      keyed
        .withColumn("_graft_rn", row_number().over(w))
        .filter(col("_graft_rn") === 1)
        .drop("_graft_file", "_graft_src", "_graft_rn")
    }
    folded.writeTo(s"$catalogName.$namespace.$stagingName").append()

    val staging = cat.loadTable(stagingIdent).asInstanceOf[GraftTable]
    val newRegions = TableMeta.loadRegions(staging.tableDir)
    // swap under the manifest lock: keep regions committed after the
    // snapshot (lost-update-free vs concurrent INSERT / streaming sink)
    val agedOut = TableMeta.withManifestLock(t.tableDir) {
      val (state, viewSeq) = TableMeta.commitView(t.tableDir)
      val tail = state.regions.filterNot(r => snapFiles.contains(r.file))
      val snapLive = state.regions.filter(r => snapFiles.contains(r.file))
      if (snapLive.size != snapFiles.size) {
        // the snapshot changed under us — a racing compactor rewrote it
        // (all gone) or a concurrent DELETE dropped part of it; swapping
        // the rewrite in would resurrect deleted rows. Abandon cleanly
        // before touching the live table dir (staging outputs are
        // dropped with the staging table below).
        None
      } else {
        newRegions.foreach { r =>
          // idempotent: under the lock-free `cas` store a lost commit
          // race re-runs this whole body, and a prior attempt may have
          // moved the file already
          val src = new File(staging.tableDir, r.file)
          if (src.exists())
            Files.move(src.toPath,
              new File(t.tableDir, r.file).toPath,
              StandardCopyOption.REPLACE_EXISTING)
        }
        // the rewrite covers exactly the original data of every region
        // id ≤ srcMax: included rewrites contribute their own coverage,
        // originals their id (tail ids are all higher — the id counter
        // is monotonic and tail regions committed after the snapshot)
        val srcMax = snapLive
          .map(r => if (r.srcMaxId >= 0) r.srcMaxId else r.id).max
        var next = state.nextId
        val outputs = newRegions.map { r =>
          val o = r.copy(id = next, srcMaxId = srcMax); next += 1; o
        }
        val newGen = state.gen + 1
        // epochs carried forward so streaming-sink replay dedup survives
        // compaction; entries untouched for epochRetainGenerations
        // compaction cycles are aged out so the ledger cannot grow
        // without bound. The window trades ledger size against idle
        // sinks: a query that commits (or even replays) within the
        // window stays; one idle across the whole window loses replay
        // dedup for its next restart. Size it to cover the longest
        // plausible idle stretch of a live sink.
        val retain = t.meta.properties
          .get(GraftCompact.EpochRetainProp).map(_.toLong).getOrElse(64L)
        val keptEpochs = state.epochs.filter { case (_, e) =>
          e.touchedGen >= newGen - retain }
        // the snapshot becomes the retired set (files kept one cycle for
        // tailing streams); the previous retired set ages out now —
        // EXCEPT files a tagged version still references
        // ([[TableMeta.pinnedFiles]]): those stay on the retired list
        // so `VERSION AS OF '<tag>'` outlives any number of compaction
        // cycles. A SWAP segment CAS'd at the view's seq: a commit that
        // landed since the view surfaces as a lost race (retried under
        // `cas`) instead of being clobbered.
        val pinned = TableMeta.pinnedFiles(t.tableDir)
        val (kept, aged) = state.retired.partition(r => pinned(r.file))
        TableMeta.saveStateAt(t.tableDir, viewSeq, TableMeta.ManifestState(
          newGen, outputs ++ tail, keptEpochs, snapLive ++ kept, next),
          op = "compact")
        Some(aged)
      }
    }
    agedOut.foreach(_.foreach(r => new File(t.tableDir, r.file).delete()))
    cat.dropTable(stagingIdent)
    cat.invalidateTable(ident)
  }
}
