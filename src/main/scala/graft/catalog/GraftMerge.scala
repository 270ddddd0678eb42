package graft.catalog

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier

import graft.codec.KeyCodec

/** Targeted region merging (`CALL graft.sys.merge`): adjacent small
  * regions — the fragmentation a streaming `foreachBatch` sink or
  * frequent small INSERTs leave behind — are k-way sort-merged into
  * single files, O(touched) IO. The other half of the region
  * lifecycle [[GraftSplit]] opens: split bounds a region's maximum
  * size under append, merge bounds the region COUNT under
  * fragmentation, and both cost only the regions they touch where
  * [[GraftCompact]] rewrites the whole table. (The reference leans on
  * HBase for both sides: region split at max filesize, and the
  * HFile compactions its region servers run per store, not per
  * table.)
  *
  * Candidates group greedily: regions sorted by min leading key
  * (within a fixed-split bucket, when the table has buckets) pack
  * into groups while the summed file size stays under
  * `target_bytes`; only groups of two or more merge. Each group
  * k-way merges by full composite key — the inputs are each
  * key-sorted, so the output is key-sorted with no shuffle and no
  * sort; overlapping inputs (the append-stream shape) interleave
  * correctly. On a `dedupKeys` table equal-key rows fold to the row
  * from the newest source region (the same keep-latest rule
  * compaction applies) — but ONLY for groups whose key envelope no
  * newer outside region overlaps ([[GraftSplit.precedenceSafe]]):
  * the merged output carries a fresh region id, and lifting a folded
  * group above an interleaved newer version elsewhere would invert
  * latest-wins. Unsafe groups are skipped (compaction folds them);
  * streaming-upsert litter — the case merge exists for — is the
  * newest data and passes.
  *
  * Commit protocol identical to [[GraftSplit]]: rewrite without the
  * lock (one Spark task per group), swap through
  * [[TableMeta.replaceRegions]] with an O(touched) delta; sources
  * retire one compaction cycle with `srcMaxId` lineage so tailing
  * streams skip the merged data; races with concurrent
  * compaction/delete/cluster abandon cleanly, and on a `dedupKeys`
  * table so does a newer overlapping append that landed mid-merge.
  */
object GraftMerge {

  /** Merge adjacent regions of `table` whose summed size fits
    * `targetBytes`. Returns (groups merged, source regions consumed). */
  def merge(spark: SparkSession, catalogName: String, namespace: String,
      table: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"target_bytes must be positive: $targetBytes")
    val cat = spark.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[GraftCatalog]
    val ident = Identifier.of(Array(namespace), table)
    val t = cat.loadTable(ident).asInstanceOf[GraftTable]
    val dirPath = t.tableDir.getPath
    val meta = t.meta
    val fold = TableMeta.dedupKeys(meta.properties)

    // phase 1: greedy adjacent grouping, per bucket, by min leading key
    val snapshot = TableMeta.loadRegions(t.tableDir)
    val groups: Seq[Seq[RegionMeta]] = snapshot.groupBy(_.bucket).values
      .flatMap { bucketRegions =>
        val sorted = bucketRegions.sortWith { (a, b) =>
          val c = KeyCodec.compare(KeyCodec.fromHex(a.mins.head),
            KeyCodec.fromHex(b.mins.head))
          if (c != 0) c < 0 else a.id < b.id
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[Seq[RegionMeta]]
        var cur = scala.collection.mutable.ArrayBuffer.empty[RegionMeta]
        var curBytes = 0L
        sorted.foreach { r =>
          val len = new File(t.tableDir, r.file).length()
          if (cur.nonEmpty && curBytes + len > targetBytes) {
            if (cur.size >= 2) out += cur.toSeq
            cur = scala.collection.mutable.ArrayBuffer.empty[RegionMeta]
            curBytes = 0L
          }
          if (len <= targetBytes) { cur += r; curBytes += len }
          else { // an oversized region never joins a group
            if (cur.size >= 2) out += cur.toSeq
            cur = scala.collection.mutable.ArrayBuffer.empty[RegionMeta]
            curBytes = 0L
          }
        }
        if (cur.size >= 2) out += cur.toSeq
        out.toSeq
      }.toSeq
      // dedupKeys: the merged output's fresh id must not lift stale
      // versions above newer overlapping regions OUTSIDE the group,
      // and the intra-group fold must see ALL interleaved versions —
      // both hold exactly when every outside region overlapping the
      // group's envelope is older than the whole group
      // ([[GraftSplit.precedenceSafe]]). Streaming-upsert litter (the
      // case merge exists for) is the newest data, so its groups pass.
      .filter(g => !fold || GraftSplit.precedenceSafe(g, snapshot))
    if (groups.isEmpty) return (0, 0)

    // phase 2 (no lock): one task per group
    val results: Seq[(Seq[RegionMeta], RegionMeta)] = spark.sparkContext
      .parallelize(groups, groups.size)
      .map(g => g -> mergeGroup(dirPath, meta, g, fold))
      .collect().toSeq

    // phase 3: swap the merged files in for their sources, which
    // must all still be live; each output covers its group's data
    TableMeta.replaceRegions(t.tableDir, "merge",
      results.map { case (g, m) => m.copy(srcMaxId = g.map(_.covers).max) })(
      TableMeta.stillLive("graft merge", results.flatMap(_._1)))
    cat.invalidateTable(ident)
    (results.size, results.map(_._1.size).sum)
  }

  /** K-way merge one group of key-sorted region files into one sorted
    * [[RegionWriter]] file; on `fold`, equal-full-key rows keep the
    * newest source region's row (ties within a region: the later row).
    * Runs on an executor. */
  private def mergeGroup(dirPath: String, meta: TableMeta,
      group: Seq[RegionMeta], fold: Boolean): RegionMeta = {
    val tableDir = new File(dirPath)
    val keyIdx = RegionWriter.keyIdx(meta)
    val keyTypes = meta.keyTypes.toArray
    def cmpKeys(a: Array[Array[Byte]], b: Array[Array[Byte]]): Int = {
      var d = 0
      while (d < a.length) {
        val c = KeyCodec.compare(a(d), b(d))
        if (c != 0) return c
        d += 1
      }
      0
    }

    val srcIds = group.map(_.id).toArray
    val readers = group.map(r => new ParquetColumnarIO.ColumnarReader(
      new File(tableDir, r.file).getPath, meta.schema, Nil)).toArray
    val rows = readers.map(_.rows())
    // a head is a view into its reader's batch: valid until that
    // reader advances
    val heads = new Array[InternalRow](readers.length)
    val headKeys = new Array[Array[Array[Byte]]](readers.length)
    def advance(i: Int): Unit =
      if (rows(i).hasNext) {
        heads(i) = rows(i).next()
        headKeys(i) = RegionWriter.encodeKeys(heads(i), keyIdx, keyTypes)
      } else { heads(i) = null; headKeys(i) = null }

    val writer = RegionWriter(tableDir,
      s"merge-${group.head.id}-${java.util.UUID.randomUUID()}.parquet",
      meta, group.head.bucket)
    var merged: Option[RegionMeta] = None
    try {
      readers.indices.foreach(advance)
      // pending row for the fold: same-key emissions arrive in
      // ascending source-id order (the tie-break below), so each
      // replaces the last and the final one is the keep-latest winner
      var pendRow: InternalRow = null
      var pendKey: Array[Array[Byte]] = null
      var live = heads.count(_ != null)
      while (live > 0) {
        var pick = -1
        var i = 0
        while (i < heads.length) {
          if (heads(i) != null && (pick < 0 || {
            val c = cmpKeys(headKeys(i), headKeys(pick))
            c < 0 || (c == 0 && srcIds(i) < srcIds(pick))
          })) pick = i
          i += 1
        }
        val row = heads(pick); val key = headKeys(pick)
        if (!fold) writer.write(row, key)
        else {
          if (pendRow != null && cmpKeys(pendKey, key) != 0)
            writer.write(pendRow, pendKey)
          // a later same-key emission replaces it; it outlives
          // advance(pick), so it is a copy
          pendRow = row.copy(); pendKey = key
        }
        advance(pick)
        if (heads(pick) == null) live -= 1
      }
      if (fold && pendRow != null) writer.write(pendRow, pendKey)
    } finally {
      readers.foreach(_.close())
      merged = writer.close()
    }
    merged.get
  }
}
