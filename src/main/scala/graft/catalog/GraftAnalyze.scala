package graft.catalog

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** `CALL graft.sys.analyze` — backfill per-region non-key column
  * statistics ([[ColStats]]) on manifests that predate them.
  *
  * Region writers collect min/max/null-count inline, but a table
  * ingested before stats existed (or whose schema gained columns via
  * ALTER TABLE) carries regions with missing entries, and every
  * consumer of the stats degrades soundly-but-slowly there: no
  * manifest skipping on non-key predicates, no runtime re-prune, no
  * manifest-answered aggregates, weaker CBO row estimates. Analyze
  * closes that gap without rewriting any data: one distributed pass
  * computes the missing trackers per region file (only the missing
  * columns are read — column-pruned parquet reads), and one O(touched)
  * metadata delta republishes those regions with stats attached, CAS'd
  * through the same commit protocol every other mutation uses.
  *
  * The reference has no analogue (its HBase regions carry no column
  * stats at all); this is the ops face a 100-TB migration needs on day
  * one — backfilling a petabyte table costs one column-pruned read of
  * the missing columns and an O(regions-touched) commit, not a
  * rewrite.
  */
object GraftAnalyze {

  /** Returns (regions updated, stat-tracked columns). Idempotent: a
    * second call finds nothing missing and commits nothing. */
  def analyze(spark: SparkSession, table: GraftTable): (Int, Int) = {
    val meta = table.meta
    val statFields = ColStats.statFields(meta.schema, meta.keyCols)
    if (statFields.isEmpty) return (0, 0)

    def missingOf(r: RegionMeta): Seq[String] = statFields
      .filterNot(f => r.stats.exists(_._1.equalsIgnoreCase(f.name)))
      .map(_.name)
    val todo = TableMeta.loadRegions(table.tableDir)
      .map(r => r.file -> missingOf(r)).filter(_._2.nonEmpty).toMap
    if (todo.isEmpty) return (0, statFields.size)

    // distributed stat computation: per file, read ONLY the missing
    // columns (the region reader projects; a column absent from an old
    // file — e.g. ALTER-added — reads as its existence default or null,
    // which is exactly its true stat)
    val dirPath = table.tableDir.getPath
    val fieldJson = statFields.map(f => f.name -> StructType(Seq(f)).json)
      .toMap
    val tasks = todo.toSeq.map { case (f, cols) =>
      f -> cols.map(fieldJson)
    }
    val parallelism = math.max(1,
      math.min(tasks.size, spark.sparkContext.defaultParallelism))
    val computed: Map[String, Map[String, ColStat]] = spark.sparkContext
      .parallelize(tasks, parallelism)
      .map { case (file, jsons) =>
        val sub = StructType(jsons.map(j =>
          DataType.fromJson(j).asInstanceOf[StructType].fields.head))
        val trackers = sub.fields.map(ColStats.tracker)
        val rd = new ParquetColumnarIO.ColumnarReader(
          new File(dirPath, file).getPath, sub, Nil)
        try rd.rows().foreach { row =>
          var i = 0
          while (i < trackers.length) {
            if (row.isNullAt(i)) trackers(i).nulls += 1
            else trackers(i).observe(row, i)
            i += 1
          }
        } finally rd.close()
        file -> trackers.map(t => t.name -> t.stat).toMap
      }.collect().toMap

    // O(touched) metadata delta under the commit protocol: re-read the
    // state inside the critical section (a region may have been
    // compacted away since the computation — skip it; its rewrite
    // collected stats itself), remove-and-readd the touched regions
    // with stats merged, same ids. Under the lock-free `cas` store a
    // lost race re-runs this body against fresh state.
    TableMeta.withManifestLock(table.tableDir) {
      val (state, viewSeq) = TableMeta.commitView(table.tableDir)
      val touched = state.regions.filter(r => computed.contains(r.file) &&
        missingOf(r).nonEmpty)
      if (touched.isEmpty) (0, statFields.size)
      else {
        val updated = touched.map(r => r.copy(
          stats = r.stats ++ computed(r.file)
            .filter { case (n, _) => missingOf(r).exists(_
              .equalsIgnoreCase(n)) }))
        TableMeta.writeDelta(table.tableDir, viewSeq,
          regions = updated, removeIds = touched.map(_.id).toSet,
          op = "analyze")
        TableMeta.evictManifestCache(table.tableDir)
        (updated.size, statFields.size)
      }
    }
  }
}
