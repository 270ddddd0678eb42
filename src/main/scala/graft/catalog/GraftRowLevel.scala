package graft.catalog

import java.io.File

import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based row-level operations (SQL `UPDATE`, `MERGE INTO`, and
  * the rewrite fallback for `DELETE`s that are not exact leading-key
  * intervals): copy-on-write at REGION granularity.
  *
  * Spark plans the rewrite (`RewriteUpdateTable` /
  * `RewriteMergeIntoTable` / `RewriteDeleteFromTable`); the source
  * contributes three pieces:
  *
  *  - a group-mode scan ([[GraftScanBuilder]] with `groupMode`):
  *    pushed predicates and the runtime group filter on `_graft_file`
  *    prune REGIONS, but every row of a surviving region is produced —
  *    a rewritten group must carry its unmatched rows forward;
  *  - the standard shuffled, sorted region write
  *    ([[GraftWrite]]'s distribution/ordering: by region function on a
  *    fixed-split table, by key range otherwise), so rewritten regions
  *    are as key-sorted and bucket-stamped as bulk-loaded ones and the
  *    table's key-grouped plans survive any number of UPDATEs;
  *  - a commit that atomically swaps exactly the scanned regions for
  *    the rewritten files through [[TableMeta.replaceRegions]] (the
  *    one commit DELETE and compaction use too), retiring originals
  *    one compaction cycle and bumping the generation.
  *
  * The reference reaches update semantics only through Put-upsert on
  * whole rows (`HBaseRelation.scala:659-723`); expression-level UPDATE
  * and MERGE are an extension the V2 API makes natural. At 100 TB the
  * cost model is the right one for UPDATE/DELETE: regions without
  * matches are never read, never rewritten, and never shuffled.
  *
  * MERGE caveat (Spark planning, not this source): the runtime group
  * filter rule bails when the operation condition is the TrueLiteral,
  * which is how MERGE is planned (matching lives in the join) — an
  * unbounded MERGE therefore rewrites every statically-surviving
  * region. The scale pattern is to bound the target side in the ON
  * clause (`ON t.k = s.k AND t.k BETWEEN lo AND hi`): target-only
  * conjuncts prune regions statically (asserted in RowLevelOpsSpec).
  */
class GraftRowLevelBuilder(tableDir: File, meta: TableMeta,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(tableDir, meta, info.command)
}

class GraftRowLevelOperation(tableDir: File, meta: TableMeta,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** The group-mode scan built for this operation's read; its
    * (runtime-filtered) selected regions are what the commit
    * replaces. */
  @volatile private[catalog] var scan: GraftScan = _

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"GraftRowLevel($cmd, ${tableDir.getName})"

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(tableDir, meta, None, groupMode = true,
      onBuild = s => scan = s)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // a WAP session stages APPENDS; a row-level rewrite has no staged
    // form (branches are append-only) and would silently mutate main
    // mid-audit — refuse loudly, the same posture as streaming-to-
    // branch. Unset the conf for intentional main DML.
    GraftBranch.resolve(None).foreach { b =>
      throw new UnsupportedOperationException(
        s"UPDATE/MERGE/DELETE while ${GraftBranch.WapConf}='$b' is " +
          "set would modify MAIN, not the branch (branches stage " +
          "appends only); unset the conf to run main DML")
    }
    // versioned (dedupKeys) tables: a region rewrite would collapse
    // every stored version of a key into ONE fresh region id,
    // destroying the latest-wins order that both the read recipe and
    // the compaction fold rely on (ORDER BY region id DESC ties, the
    // stale version can win). Their update path IS the append-upsert.
    // Guarded here and not in newRowLevelOperationBuilder: Spark
    // constructs the row-level plan for every DELETE at analysis, and
    // interval-exact DELETEs (sound on versioned tables — an interval
    // drops ALL versions of its keys) must still reach the
    // metadata-only path, which never builds this write.
    if (TableMeta.dedupKeys(meta.properties))
      throw new UnsupportedOperationException(
        "UPDATE/MERGE/non-interval DELETE are not supported on a " +
          "'graft.dedupKeys' table: the rewrite would collapse stored " +
          "key versions and break latest-wins ordering. Upsert by " +
          "INSERT (latest append wins at compaction), or DELETE by an " +
          "exact leading-key interval.")
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceWrite(tableDir, meta, GraftRowLevelOperation.this)
    }
  }

  /** Ask Spark to carry `_graft_file` through the row-level read: it
    * is the group identity the runtime group filter narrows on. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftMetaCols.FileName))
}

/** The replacement write: same physical write as a bulk load, commit
  * swaps the scanned regions for the rewrite. */
class GraftReplaceWrite(tableDir: File, meta: TableMeta,
    op: GraftRowLevelOperation)
    extends Write with RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.Distribution
  import org.apache.spark.sql.connector.expressions.SortOrder

  override def requiredDistribution(): Distribution =
    GraftWriteOrdering.distribution(meta)
  override def requiredOrdering(): Array[SortOrder] =
    GraftWriteOrdering.sortOrders(meta)

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo)
        : DataWriterFactory = GraftCommits.factory(tableDir, meta)

    // swap the regions the (runtime-filtered) scan actually read for
    // the rewrite — an O(touched) delta, so a 2-region UPDATE on a
    // 100k-region table logs 2 regions; one replaced meanwhile by a
    // concurrent compaction/DELETE fails the commit as a lost race.
    // srcMaxId stays -1: unlike a compaction rewrite these files carry
    // CHANGED data — a tailing stream should see them. A no-match
    // operation (nothing scanned, nothing written) commits nothing.
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      TableMeta.replaceRegions(tableDir, "rowlevel",
        GraftCommits.withBlockHosts(tableDir, GraftCommits.commits(messages)))(
        TableMeta.stillLive("graft row-level operation",
          op.scan.selectedRegions))

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      GraftCommits.deleteFiles(tableDir, messages)
  }
}
