package graft.catalog

import java.io.File
import java.nio.file.Files

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
  * compaction started (the snapshot) and commits through
  * [[TableMeta.replaceRegions]], carrying forward any regions other
  * writers committed after the snapshot. A concurrent INSERT or
  * streaming sink therefore never loses its commit; a snapshot region
  * replaced meanwhile (a racing compaction, merge, split or DELETE)
  * fails the compaction loudly as a lost race, and so does, on a
  * `graft.dedupKeys` table, an append overlapping the snapshot (the
  * rewrite's fresh ids would outrank its newer rows). The snapshot
  * moves to the manifest's retired list (files retained for one
  * compaction cycle), so a stream resumed from a pre-compaction
  * checkpoint keeps reading the original regions it had not yet
  * consumed — offsets reference stable region ids, not list
  * positions. Only checkpoints more than one compaction cycle behind
  * fail loudly.
  */
object GraftCompact {

  /** Epoch-ledger entries untouched for this many manifest generations
    * are dropped when a rewrite opens a new retention cycle (compaction,
    * cluster, INSERT OVERWRITE — [[TableMeta.replaceRegions]]). Every
    * rewrite bumps the generation, not only those: DELETE, UPDATE /
    * MERGE INTO, merge and split count too. Default 64. The window
    * trades ledger size against idle sinks: a query that commits (or
    * even replays) within the window stays; one idle across the whole
    * window loses replay dedup for its next restart. Size it to cover
    * the longest plausible idle stretch of a live sink. */
  val EpochRetainProp = "graft.epochRetainGenerations"

  def compact(spark: SparkSession, catalogName: String, namespace: String,
      table: String, numRegions: Int): Unit = {
    val cat = spark.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[GraftCatalog]
    val ident = Identifier.of(Array(namespace), table)
    val t = cat.loadTable(ident).asInstanceOf[GraftTable]

    val snapshot = TableMeta.loadRegions(t.tableDir)
    if (snapshot.isEmpty) return

    // a name already taken (a user table, or a crashed run's leftover)
    // fails the create loudly; only the staging table this call
    // created is dropped, in the finally below
    val stagingName = s"${table}__compacting"
    val stagingIdent = Identifier.of(Array(namespace), stagingName)
    val props = new java.util.HashMap[String, String]()
    t.meta.properties.foreach { case (k, v) => props.put(k, v) }
    props.put(TableMeta.NumRegionsProp, numRegions.toString)
    cat.createTable(stagingIdent, t.meta.schema,
      Array.empty, props)
    try {
      rewrite(spark, t, snapshot)
        .writeTo(s"$catalogName.$namespace.$stagingName").append()

      // move the rewrite into the table dir, then swap it in for the
      // snapshot: regions committed after the snapshot are carried
      // forward (lost-update-free vs concurrent INSERT / streaming sink),
      // and a snapshot region that was replaced meanwhile fails the
      // compaction as a lost race. The rewrite covers exactly the
      // original data of every region id <= the snapshot's max coverage.
      val staging = cat.loadTable(stagingIdent).asInstanceOf[GraftTable]
      val staged = TableMeta.loadRegions(staging.tableDir)
      staged.foreach(r => Files.move(new File(staging.tableDir, r.file).toPath,
        new File(t.tableDir, r.file).toPath))
      val srcMax = snapshot.map(_.covers).max
      TableMeta.replaceRegions(t.tableDir, "compact",
        staged.map(_.copy(srcMaxId = srcMax)), newCycle = true)(
        TableMeta.stillLive(s"compaction of $namespace.$table", snapshot))
    } finally cat.dropTable(stagingIdent)
    cat.invalidateTable(ident)
  }

  /** The rewrite of exactly the `snapshot` files (not the live table),
    * so rows committed mid-compaction are rewritten by nobody and
    * carried forward as-is; files lacking later-ALTERed columns read
    * null. */
  private def rewrite(spark: SparkSession, t: GraftTable,
      snapshot: Seq[RegionMeta]): org.apache.spark.sql.DataFrame = {
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
    if (!TableMeta.dedupKeys(t.meta.properties)) snapDf else {
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
  }
}
