package graft.catalog

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions.col

import graft.functions.ZOrderOps

/** Multi-dimensional region clustering: rewrite a table's regions so
  * rows are grouped by the Z-ORDER of a chosen column set — the
  * capability Delta Lake ships as `OPTIMIZE ... ZORDER BY`, re-expressed
  * for graft's region manifest.
  *
  * Why it matters at 100 TB: region pruning on a NON-key column uses
  * the per-region min/max stats ([[ColStats]]), and on a key-sorted
  * layout every region's range for an uncorrelated column spans the
  * whole domain — zero skipping. Clustering assigns rows to regions by
  * range of the interleaved z-value, which bounds EVERY clustered
  * dimension per region at once, so predicates on any of them skip
  * most regions before a task is scheduled. Inside each region rows
  * stay sorted by the table key (parquet page/column-index skipping on
  * the key keeps working); the cost is wider per-region KEY ranges —
  * clustering trades key-range pruning for multi-column stat pruning,
  * which is the right trade exactly when queries filter on non-key
  * columns.
  *
  * Mechanics mirror [[GraftCompact]]: snapshot the live regions,
  * rewrite outside the lock (z-range partitioning + key sort within
  * each region through the SAME region writer the append path uses, so
  * stats/blooms/page limits all apply), then swap through
  * [[TableMeta.replaceRegions]] with the snapshot re-validated — a
  * racing compaction or DELETE aborts the clustering cleanly,
  * concurrent appends are carried forward untouched. The rewrite
  * carries no new data (`srcMaxId` coverage like compaction), so a
  * tailing stream skips it instead of re-reading.
  *
  * Refused loudly: tables with fixed `regionSplits` (their bucket
  * contract IS the layout — the two layouts are mutually exclusive)
  * and `graft.dedupKeys` tables (a clustering rewrite is not a fold;
  * compact first).
  */
object GraftCluster {

  /** Set on a table after `CALL graft.sys.cluster`: the ';'-separated
    * column list its current region layout is z-ordered by. Purely
    * informational (appends after a clustering are key-sorted regions
    * until the next re-cluster). */
  val ClusteredByProp = "graft.clusteredBy"

  def cluster(spark: SparkSession, catalogName: String, namespace: String,
      table: String, cols: Seq[String], numRegions: Int): Unit = {
    require(numRegions > 0, "target_regions must be positive")
    require(cols.nonEmpty, "cluster needs at least one column")
    val cat = spark.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[GraftCatalog]
    val ident = Identifier.of(Array(namespace), table)
    val t = cat.loadTable(ident).asInstanceOf[GraftTable]
    val meta = t.meta

    if (meta.splits.isDefined) throw new IllegalArgumentException(
      s"cannot cluster $namespace.$table: it declares fixed " +
        "regionSplits — the bucket layout and a z-order layout are " +
        "mutually exclusive")
    if (TableMeta.dedupKeys(meta.properties))
      throw new IllegalArgumentException(
        s"cannot cluster $namespace.$table: 'graft.dedupKeys' tables " +
          "fold at compaction; run CALL graft.sys.compact first")
    cols.foreach { c =>
      val f = meta.schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"cluster: no such column '$c' in $namespace.$table"))
      if (!graft.codec.ZOrder.supportedTypes.contains(f.dataType))
        throw new IllegalArgumentException(
          s"cluster: column '$c' has unsupported type ${f.dataType.sql}")
    }

    val snapshot = TableMeta.loadRegions(t.tableDir)
    if (snapshot.isEmpty) return

    // rewrite OUTSIDE the lock, reading exactly the snapshot files:
    // z-range shuffle assigns each region a bounding box in every
    // clustered dimension; the key sort within each region keeps
    // page-level skipping on the key intact
    val snapDf = spark.read.schema(meta.schema)
      .parquet(snapshot.map(r => new File(t.tableDir, r.file).getPath): _*)

    // sample each column's RANGE-PARTITION boundaries (Delta's
    // range_partition_id move): raw bit images put a small-domain
    // column's information in low bits, which the top-bits interleave
    // truncates away. Ranks spread every distribution across the top
    // `rankBits` bits. Driver cost: one bounded sample, O(buckets)
    // boundaries per column.
    val colTypes = cols.map(c =>
      meta.schema.fields.find(_.name.equalsIgnoreCase(c)).get.dataType)
    val rankBits = math.min(13, 64 / cols.length)
    val buckets = 1 << rankBits
    val sampleRows = snapDf.selectExpr(cols: _*)
      .queryExecution.toRdd.map(_.copy())
      .takeSample(withReplacement = false, num = buckets * 4, seed = 421L)
    val boundaries: Seq[Array[Long]] = colTypes.zipWithIndex.map {
      case (dt, i) =>
        val imgs = sampleRows.map(r =>
          graft.codec.ZOrder.s64(dt, r.get(i, dt))).sorted
        if (imgs.isEmpty) Array.empty[Long]
        else (1 until buckets)
          .map(j => imgs(math.min(j * imgs.length / buckets,
            imgs.length - 1)))
          .distinct.toArray
    }

    val zCol = "_graft_z"
    val ordered = snapDf
      .withColumn(zCol,
        ZOrderOps.zorderRanked(cols.map(col), boundaries, rankBits))
      .repartitionByRange(numRegions, col(zCol))
      .sortWithinPartitions(meta.keyCols.map(col): _*)
      .select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
    // drive the normal region writer manually: the V2 append path
    // would re-shuffle into key ranges, undoing the clustering
    // layout rewrite: rows are unchanged, so CHECK constraints are not
    // re-evaluated (validated at ingest / ADD CONSTRAINT time)
    val factory = GraftCommits.factory(t.tableDir, meta,
      enforceChecks = false)
    val messages = ordered.queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, rows) =>
        val w = factory.createWriter(pid, pid.toLong)
        var any = false
        while (rows.hasNext) { w.write(rows.next()); any = true }
        if (any) Iterator.single(w.commit()) else { w.abort(); Iterator.empty }
      }.collect()
    val newRegions = GraftCommits.withBlockHosts(t.tableDir,
      GraftCommits.commits(messages.map(_.asInstanceOf[
        org.apache.spark.sql.connector.write.WriterCommitMessage])))

    // same swap as compaction: the rewrite holds exactly the original
    // data of every snapshot region (srcMaxId coverage), so tailing
    // streams checkpointed past them skip it; a snapshot region
    // replaced meanwhile (racing compaction/DELETE) abandons the
    // rewrite, deleting its files
    val srcMax = snapshot.map(_.covers).max
    TableMeta.replaceRegions(t.tableDir, "cluster",
      newRegions.map(_.copy(srcMaxId = srcMax)), newCycle = true)(
      TableMeta.stillLive(s"cluster of $namespace.$table", snapshot))
    // record the layout in the table properties (outside the manifest
    // lock — save takes it itself): operators can see how a table is
    // clustered, and fixture builders can distinguish a clustered
    // table from a half-built one
    TableMeta.save(t.tableDir, meta.copy(properties =
      meta.properties + (GraftCluster.ClusteredByProp -> cols.mkString(";"))))
    cat.invalidateTable(ident)
  }
}
