package graft.catalog

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier

import graft.codec.KeyCodec

/** Targeted region splitting (`CALL graft.sys.split`): rewrite ONLY
  * the regions larger than `target_bytes`, each into key-contiguous
  * parts — the graft analogue of the HBase region split the reference
  * delegates to its region servers (a region crossing
  * `hbase.hregion.max.filesize` splits in place;
  * `HBasePartition.scala:31-60` models the resulting boundaries).
  *
  * Compaction ([[GraftCompact]]) is a whole-table rewrite — the wrong
  * cost model when ONE region went hot under a skewed append stream.
  * At 100 TB the fix for a 40 GB region must cost O(that region):
  * each oversized region is re-cut locally into
  * ceil(bytes/target) parts, sort preserved by sequential copy, part
  * boundaries advanced to the next leading-key change (a single key
  * never spans two regions, so point lookups keep touching one
  * region), with fresh key bounds and per-column stats per part.
  * Pruning sharpens for free: each part's bounds/stats cover a
  * fraction of the original region's.
  *
  * Three phases like [[GraftDelete.deleteWhere]]: snapshot candidates,
  * rewrite WITHOUT the lock (one Spark task per oversized region —
  * region files live on storage every scan task can read, so the
  * rewrite parallelizes across executors), then swap through
  * [[TableMeta.replaceRegions]] with an O(touched) delta. Sources
  * retire (files kept one compaction cycle for tailing streams) and the
  * parts carry `srcMaxId` lineage exactly like delete's boundary
  * rewrites, so a stream that already consumed the original never
  * re-reads its rows as new data. A race with a concurrent
  * compaction/delete/cluster that replaced a candidate abandons
  * cleanly (outputs deleted, loud retry), and concurrent appends are
  * carried forward untouched (on a `dedupKeys` table, a newer one
  * overlapping a candidate abandons the split the same way).
  *
  * Fixed-bucket tables split too: parts inherit the source's bucket
  * id, and the scan already groups multiple regions per bucket (the
  * append path commits one region per bucket per batch).
  */
object GraftSplit {

  /** Precedence safety for region rewrites on `dedupKeys` tables.
    * Latest-wins reads order versions by `_graft_region_id`, and a
    * rewrite re-stamps its rows with a FRESH (higher) id — so
    * re-cutting an OLD region would lift its stale versions above
    * newer appends. Manifest-only safe condition: a rewrite of
    * `target` regions is precedence-safe iff every OTHER live region
    * whose leading-key range overlaps the targets' envelope has a
    * LOWER id than every target (older versions losing to the fresh
    * id is the order they already lost in; a newer overlapping region
    * must win, and would not). Auto-split and streaming-litter merges
    * pass naturally — the regions being re-cut are the newest. */
  private[catalog] def precedenceSafe(target: Seq[RegionMeta],
      all: Seq[RegionMeta]): Boolean = {
    val ids = target.map(_.id).toSet
    val minId = target.map(_.id).min
    val los = target.map(r => KeyCodec.fromHex(r.mins.head))
    val his = target.map(r => KeyCodec.fromHex(r.maxs.head))
    val lo = los.reduce((a, b) => if (KeyCodec.compare(a, b) <= 0) a else b)
    val hi = his.reduce((a, b) => if (KeyCodec.compare(a, b) >= 0) a else b)
    all.filterNot(r => ids.contains(r.id)).forall { r =>
      r.id < minId ||
        KeyCodec.compare(KeyCodec.fromHex(r.maxs.head), lo) < 0 ||
        KeyCodec.compare(KeyCodec.fromHex(r.mins.head), hi) > 0
    }
  }

  /** Table property enabling HBase-style AUTOMATIC splitting: when
    * set, every batch-append commit re-checks region sizes and splits
    * oversized ones post-commit (the reference's storage tier does
    * exactly this — a region crossing `hbase.hregion.max.filesize`
    * splits without operator action). Streaming epoch commits stay
    * latency-first and leave splitting to the operator loop. */
  val MaxRegionBytesProp = "graft.maxRegionBytes"

  /** Split every region of `table` larger than `targetBytes`. Returns
    * (regions split, parts written). */
  def split(spark: SparkSession, catalogName: String, namespace: String,
      table: String, targetBytes: Long): (Int, Int) = {
    val cat = spark.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[GraftCatalog]
    val ident = Identifier.of(Array(namespace), table)
    val t = cat.loadTable(ident).asInstanceOf[GraftTable]
    val res = splitDir(spark, t.tableDir, t.meta, targetBytes)
    cat.invalidateTable(ident)
    res
  }

  /** Post-batch-commit hook: honor [[MaxRegionBytesProp]] if declared.
    * A lost race (a concurrent writer's auto-split already re-cut the
    * same region) is swallowed — the append that triggered us is
    * already durable, and the next commit re-checks. */
  def maybeAutoSplit(spark: SparkSession, tableDir: File,
      meta: TableMeta): Unit =
    meta.properties.get(MaxRegionBytesProp).foreach { v =>
      try splitDir(spark, tableDir, meta, v.toLong)
      catch { case _: IllegalStateException => () }
    }

  /** The split itself, catalog-independent (callable from the write
    * path's post-commit hook, where only the table dir is in hand). */
  private[catalog] def splitDir(spark: SparkSession, tableDir: File,
      meta: TableMeta, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"target_bytes must be positive: $targetBytes")
    val dirPath = tableDir.getPath

    // phase 1: snapshot the oversized regions. A single-leading-key
    // region cannot split (no admissible boundary) — skipped here, so
    // a hot single-key region surfaces through `stats` instead of
    // looping a futile rewrite.
    val snapshot = TableMeta.loadRegions(tableDir)
    val dedup = TableMeta.dedupKeys(meta.properties)
    val cands = snapshot.filter { r =>
      new File(tableDir, r.file).length() > targetBytes && r.rows >= 2 &&
        KeyCodec.compare(KeyCodec.fromHex(r.mins.head),
          KeyCodec.fromHex(r.maxs.head)) != 0 &&
        // dedupKeys: re-idding an old region would lift stale versions
        // above newer overlapping appends — split only precedence-safe
        // regions (the newest ones; compaction folds the rest)
        (!dedup || precedenceSafe(Seq(r), snapshot))
    }
    if (cands.isEmpty) return (0, 0)

    // phase 2 (no lock): one task per oversized region
    val results: Seq[(RegionMeta, Seq[RegionMeta])] = spark.sparkContext
      .parallelize(cands, cands.size)
      .map(r => r -> splitRegion(dirPath, meta, r, targetBytes))
      .collect().toSeq
    val split = results.filter(_._2.size >= 2)
    // a candidate whose key runs defeated every boundary stays as-is
    results.filter(_._2.size < 2).foreach { case (_, parts) =>
      parts.foreach(p => new File(tableDir, p.file).delete()) }
    if (split.isEmpty) return (0, 0)

    // phase 3: swap the parts in for their sources, which must all
    // still be live; each part's lineage is its source's id
    TableMeta.replaceRegions(tableDir, "split",
      split.flatMap { case (src, parts) =>
        parts.map(_.copy(srcMaxId = src.id)) })(
      TableMeta.stillLive("graft split", split.map(_._1)))
    (split.size, split.map(_._2.size).sum)
  }

  /** Rows per part when a region of `rows` rows and `bytes` bytes is
    * re-cut into k = ceil(bytes/target) parts (at least 2). Long
    * throughout: a 3 GiB region split with `target_bytes => 1` has
    * k = 3·2^30 parts, past Int. */
  private[catalog] def rowsPerPart(rows: Long, bytes: Long,
      targetBytes: Long): Long = {
    def ceilDiv(a: Long, b: Long): Long = a / b + (if (a % b == 0) 0 else 1)
    math.max(1L, ceilDiv(rows, math.max(2L, ceilDiv(bytes, targetBytes))))
  }

  /** Re-cut one region file into key-contiguous parts of
    * [[rowsPerPart]] rows each, boundaries only where the leading key
    * changes. Sequential copy preserves the region sort; each part is a
    * [[RegionWriter]]. Runs on an executor. */
  private def splitRegion(dirPath: String, meta: TableMeta,
      r: RegionMeta, targetBytes: Long): Seq[RegionMeta] = {
    val tableDir = new File(dirPath)
    val keyIdx = RegionWriter.keyIdx(meta)
    val keyTypes = meta.keyTypes.toArray
    val rowsPer = rowsPerPart(r.rows,
      new File(tableDir, r.file).length(), targetBytes)
    val out = scala.collection.mutable.ArrayBuffer.empty[RegionMeta]
    def openPart(): RegionWriter = RegionWriter(tableDir,
      s"split-${r.id}-${out.size}-${java.util.UUID.randomUUID()}.parquet",
      meta, r.bucket)

    val reader = new ParquetColumnarIO.ColumnarReader(
      new File(tableDir, r.file).getPath, meta.schema, Nil)
    var part = openPart()
    try {
      var prevLead: Array[Byte] = null
      reader.rows().foreach { row =>
        val encs = RegionWriter.encodeKeys(row, keyIdx, keyTypes)
        if (part.rows >= rowsPer && prevLead != null &&
          KeyCodec.compare(encs(0), prevLead) != 0) {
          out ++= part.close()
          part = openPart()
        }
        part.write(row, encs)
        prevLead = encs(0)
      }
      out ++= part.close()
    } finally reader.close()
    out.toSeq
  }
}
