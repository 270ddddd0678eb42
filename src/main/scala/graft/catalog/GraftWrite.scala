package graft.catalog

import java.io.File
import java.util.UUID

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import graft.codec.KeyCodec

/** Write path: every append is a shuffled, key-sorted bulk load,
  * except a small local-relation append (`INSERT … VALUES`), written on
  * the driver by the same writer ([[GraftLocalWriteExec]]).
  *
  * The reference bulk-loads by shuffling rows with a custom partitioner
  * over the table's region start keys, sorting within partitions and
  * writing one HFile per region (the reference's
  * `HBaseCatalog.loadTable:507-663`, `HBasePartitioner.scala`). The
  * Spark-4-native equivalent is [[RequiresDistributionAndOrdering]]:
  * the write declares a distribution ([[GraftWriteOrdering]]) plus a
  * key sort, and Spark plans the shuffle and sort itself.
  *  - A table with fixed `regionSplits` is clustered by its region
  *    function, the `HBasePartitioner` analogue: no sampling pass, and
  *    each bucket goes to exactly one task, which writes it as one
  *    region file.
  *  - Any other table is range-shuffled on the key columns: Spark
  *    samples the input for the range bounds (AQE sizes the
  *    partitions), and every task writes its disjoint, sorted key range
  *    as one region file.
  * The commit message carries per-dimension min/max encoded keys; the
  * driver appends them to the region manifest atomically on commit.
  *
  * Key columns reject nulls at write time (the reference's key columns
  * are structurally non-null, SURVEY §1.2).
  */
class GraftWriteBuilder(tableDir: File, meta: TableMeta,
    info: LogicalWriteInfo) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var truncateAll = false

  /** `INSERT OVERWRITE` / `df.writeTo(t).overwrite(lit(true))`: the
    * whole-table overwrite is an atomic truncate-swap commit
    * ([[TableMeta.overwriteRegions]]). Filtered overwrites are
    * refused — the row-level path (DELETE/UPDATE/MERGE) covers
    * predicate rewrites with region-exact granularity. */
  override def truncate(): WriteBuilder = { truncateAll = true; this }
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder =
    if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      truncate()
    else throw new UnsupportedOperationException(
      "graft: INSERT OVERWRITE with a predicate is not supported; " +
        "use DELETE + INSERT, or MERGE INTO")

  override def build(): Write = {
    val branch =
      GraftBranch.resolve(Option(info.options.get(GraftBranch.OptionKey)))
    branch.foreach { b =>
      require(TableMeta.validBranchName(b),
        s"invalid branch name '$b'")
      if (truncateAll) throw new UnsupportedOperationException(
        "graft branches are append-only staging lanes; INSERT " +
          "OVERWRITE onto a branch is not supported — overwrite main " +
          "after publish, or stage into a fresh table")
      if (info.options.containsKey(GraftWrite.CopyKeysOption))
        throw new UnsupportedOperationException(
          "COPY INTO onto a branch is not supported (the per-file " +
            "ledger is a main-manifest commit); unset " +
            s"${GraftBranch.WapConf} for the COPY")
    }
    new GraftWrite(tableDir, meta, info.queryId,
      Option(info.options.get(GraftWrite.CopyKeysOption)), truncateAll,
      branch)
  }
}

object GraftWrite {
  /** Write option carrying COPY INTO's comma-joined `copy:<md5>` file
    * keys: when present, the batch commit goes through
    * [[TableMeta.commitCopy]] (atomic region append + per-file ledger
    * entries) instead of the plain append — the seam that makes COPY
    * INTO exactly-once per source file. */
  val CopyKeysOption = "graft.copyKeys"
}

/** Raised (after deleting the written files) when a copy-ledger commit
  * loses to a concurrent COPY INTO that already recorded one of the
  * same source files; the statement re-plans against the fresh
  * ledger. */
class GraftCopyConflictException(msg: String)
    extends RuntimeException(msg)

/** The ONE definition of the write-side distribution and key ordering:
  * bulk loads, `COPY INTO`, the streaming sink, compaction staging and
  * row-level rewrites ([[GraftReplaceWrite]]) must shuffle and sort
  * identically or rewritten regions would lose the key-grouped plan
  * guarantees. */
private[catalog] object GraftWriteOrdering {
  def sortOrders(meta: TableMeta): Array[SortOrder] =
    meta.keyCols.map(k =>
      Expressions.sort(Expressions.column(k), SortDirection.ASCENDING)).toArray

  /** A fixed-split table clusters by its region function, the same
    * transform its scan reports as `KeyGroupedPartitioning` (Spark
    * resolves it through [[GraftCatalog.loadFunction]]), so every bucket
    * lands whole in one task and no sampling job runs. Any other table
    * range-partitions on the key columns. */
  def distribution(meta: TableMeta): Distribution = meta.splits match {
    case Some(sp) => Distributions.clustered(Array(Expressions.apply(
      sp.functionName, Expressions.column(meta.keyCols.head))))
    case None => Distributions.ordered(sortOrders(meta))
  }
}

class GraftWrite(tableDir: File, meta: TableMeta, queryId: String,
    copyKeys: Option[String] = None, truncateAll: Boolean = false,
    branch: Option[String] = None)
    extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    GraftWriteOrdering.distribution(meta)
  override def requiredOrdering(): Array[SortOrder] =
    GraftWriteOrdering.sortOrders(meta)
  override def requiredNumPartitions(): Int =
    meta.properties.get(TableMeta.NumRegionsProp).map(_.toInt).getOrElse(0)

  override def toBatch: BatchWrite =
    if (truncateAll) new GraftTruncateBatchWrite(tableDir, meta)
    else (branch, copyKeys) match {
      case (Some(b), _) => new GraftBranchBatchWrite(tableDir, meta, b)
      case (None, Some(keys)) =>
        new GraftCopyBatchWrite(tableDir, meta, keys.split(',').toSeq)
      case (None, None) => new GraftBatchWrite(tableDir, meta)
    }

  /** Native streaming sink (`df.writeStream.toTable("graft.ns.t")`):
    * each micro-batch runs the same shuffled, sorted region write,
    * and the epoch commit is deduplicated through the manifest's
    * per-query epoch ledger, so a replayed micro-batch after a failure
    * commits nothing twice (effectively exactly-once). This supersedes
    * the foreachBatch recipe (which remains valid). */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    if (truncateAll) throw new UnsupportedOperationException(
      "graft streaming sink supports Append output mode only " +
        "(Complete mode would overwrite the table every epoch)")
    // streaming-to-branch is refused: the sink's exactly-once story is
    // the MAIN manifest's per-query epoch ledger, and a branch publish
    // re-keys epochs — a replayed micro-batch after a mid-stream
    // publish could no longer be recognized as a duplicate
    if (branch.isDefined) throw new UnsupportedOperationException(
      s"streaming writes onto a branch are not supported; unset " +
        s"${GraftBranch.WapConf} for the stream and stage batch " +
        "appends instead")
    // identity tables refuse streaming ingest: epochs share one writer
    // factory, so there is no per-epoch driver-side seam to reserve a
    // fresh sequence-number block — reusing one block across epochs
    // would duplicate ids
    GraftIdentity.specs(meta.schema).headOption.foreach { case (n, _, _, _) =>
      throw new UnsupportedOperationException(
        s"streaming writes into a table with identity column '$n' are " +
          "not supported; generate ids in the stream (e.g. from the " +
          "source offset) or land into a staging table and INSERT")
    }
    new GraftStreamingWrite(tableDir, meta, queryId)
  }
}

/** One task may emit several region files (one per fixed region bucket
  * it received rows for, when the table declares `regionSplits`). */
final case class RegionCommits(files: Seq[RegionMeta])
    extends WriterCommitMessage

/** Commit-message plumbing shared by the batch and streaming writes. */
private[catalog] object GraftCommits {
  /** `enforceChecks = false` for internal LAYOUT rewrites (cluster):
    * their rows were validated at ingest or ADD CONSTRAINT time, so
    * re-evaluating the predicates is pure overhead — and a constraint
    * must never be able to brick maintenance. Every user-facing write
    * path keeps the default. */
  def factory(tableDir: File, meta: TableMeta,
      enforceChecks: Boolean = true): GraftWriterFactory =
    GraftWriterFactory(tableDir.getPath, meta.schema.json,
      meta.keyCols.toArray, meta.splits,
      RegionWriter.pageRowLimit(meta),
      TableMeta.bloomCols(meta.properties).toArray,
      if (enforceChecks) GraftChecks.bound(meta) else Nil,
      if (enforceChecks) GraftGenerated.bound(meta) else Nil,
      // identity: reserve one disjoint sequence-number block per write
      // job, HERE on the driver (factory construction is the per-job
      // driver-side seam every write path passes through)
      if (enforceChecks) {
        val ids = GraftIdentity.specs(meta.schema)
        if (ids.isEmpty) Nil
        else {
          val base = GraftIdentity.reserve(tableDir)
          ids.map { case (n, i, start, step) => (n, i, start, step, base) }
        }
      } else Nil)

  def commits(messages: Array[WriterCommitMessage]): Seq[RegionMeta] =
    messages.toSeq.flatMap {
      case RegionCommits(files) => files
      case other => throw new IllegalStateException(other.toString)
    }.filter(_.rows > 0)

  /** Locality hints for freshly committed regions (the reference's
    * `getPreferredLocations` source, `HBaseSQLReaderRDD:115-119`): on a
    * block-located filesystem (HDFS), record each region file's
    * majority block host in the manifest so scans schedule node-local.
    * Location-less filesystems (file://, s3://) report no real hosts —
    * the hint stays empty there, which `preferredLocations` treats as
    * "schedule anywhere". */
  def withBlockHosts(tableDir: File, regions: Seq[RegionMeta])
      : Seq[RegionMeta] = {
    val conf = ParquetColumnarIO.hadoopConf()
    val base = new org.apache.hadoop.fs.Path(tableDir.getPath)
    val fs = base.getFileSystem(conf)
    if (fs.getScheme != "hdfs") return regions
    regions.map { r =>
      try {
        val p = new org.apache.hadoop.fs.Path(base, r.file)
        val st = fs.getFileStatus(p)
        val host = fs.getFileBlockLocations(st, 0L, st.getLen)
          .flatMap(_.getHosts)
          .groupBy(identity).view.mapValues(_.length).toSeq
          .sortBy { case (h, n) => (-n, h) }
          .headOption.map(_._1).getOrElse("")
        r.copy(host = host)
      } catch { case _: java.io.IOException => r } // hint only
    }
  }

  def deleteFiles(tableDir: File, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case RegionCommits(files) =>
        files.foreach(r => new File(tableDir, r.file).delete())
      case _ =>
    }
}

class GraftBatchWrite(tableDir: File, meta: TableMeta) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = GraftCommits.factory(tableDir, meta)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    TableMeta.appendRegions(tableDir, GraftCommits.withBlockHosts(tableDir,
      GraftCommits.commits(messages)))
    // HBase-style auto split: only when the table declares a max
    // region size ('graft.maxRegionBytes'); a no-op metadata check
    // otherwise
    GraftSplit.maybeAutoSplit(
      org.apache.spark.sql.SparkSession.active, tableDir, meta)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftCommits.deleteFiles(tableDir, messages)
}

/** INSERT OVERWRITE's batch commit: the new regions REPLACE the whole
  * live set in one swap ([[TableMeta.overwriteRegions]] — displaced
  * regions retire, generation bumps, readers never see a mixed
  * state). */
class GraftTruncateBatchWrite(tableDir: File, meta: TableMeta)
    extends GraftBatchWrite(tableDir, meta) {
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    TableMeta.overwriteRegions(tableDir,
      GraftCommits.withBlockHosts(tableDir,
        GraftCommits.commits(messages)))
    GraftSplit.maybeAutoSplit(
      org.apache.spark.sql.SparkSession.active, tableDir, meta)
  }
}

/** WAP staging commit: regions land on the branch's own ladder
  * ([[TableMeta.appendBranch]]), INVISIBLE to main readers until
  * `CALL graft.sys.publish`. The branch auto-creates on first write
  * (the `spark.graft.wap.branch` session flow). No auto-split: region
  * geometry decisions belong to main's manifest, which this commit
  * deliberately does not touch. */
class GraftBranchBatchWrite(tableDir: File, meta: TableMeta,
    branch: String) extends GraftBatchWrite(tableDir, meta) {
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    TableMeta.appendBranch(tableDir, branch,
      GraftCommits.withBlockHosts(tableDir,
        GraftCommits.commits(messages)),
      autoCreate = true)
}

/** COPY INTO's batch commit: the region append and the per-file
  * `copy:` ledger entries land in ONE commit segment, so a source
  * file is in the table iff its ledger key is — the invariant that
  * makes a crashed/replayed/racing COPY INTO safe to re-run. */
class GraftCopyBatchWrite(tableDir: File, meta: TableMeta,
    fileKeys: Seq[String]) extends GraftBatchWrite(tableDir, meta) {
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val regions = GraftCommits.withBlockHosts(tableDir,
      GraftCommits.commits(messages))
    if (!TableMeta.commitCopy(tableDir, regions, fileKeys)) {
      GraftCommits.deleteFiles(tableDir, messages)
      throw new GraftCopyConflictException(
        "a concurrent COPY INTO already loaded one of these files; " +
          "re-plan against the refreshed ledger")
    }
    GraftSplit.maybeAutoSplit(
      org.apache.spark.sql.SparkSession.active, tableDir, meta)
  }
}

final case class GraftWriterFactory(dir: String, schemaJson: String,
    keyCols: Array[String], splits: Option[RegionSplits],
    pageRowLimit: Int, bloomCols: Array[String] = Array.empty,
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    generated: Seq[(String, Int,
      org.apache.spark.sql.catalyst.expressions.Expression,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    identity: Seq[(String, Int, Long, Long, Long)] = Nil)
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftDataWriter(dir, schemaJson, keyCols, splits, partitionId,
      taskId, pageRowLimit, bloomCols, checks, generated, identity)
  // streaming face: same sorted region writer per micro-batch task
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** Micro-batch streaming sink: every epoch is a normal sorted bulk
  * load; the commit goes through [[TableMeta.commitEpoch]], whose
  * per-query ledger rejects replays (post-failure re-execution of a
  * committed epoch deletes its files instead of double-appending). */
class GraftStreamingWrite(tableDir: File, meta: TableMeta, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = GraftCommits.factory(tableDir, meta)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val commits = GraftCommits.commits(messages)
    val committed = TableMeta.commitEpoch(tableDir,
      GraftCommits.withBlockHosts(tableDir,
        commits), queryId, epochId)
    if (!committed) // duplicate replay: drop the rewritten files
      commits.foreach(r => new File(tableDir, r.file).delete())
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftCommits.deleteFiles(tableDir, messages)
}

/** Writes one region file per (task, region bucket). Input arrives
  * key-sorted (RequiresDistributionAndOrdering, or the driver-side sort
  * of [[GraftLocalWriteExec]]), and the bucket is
  * monotone in the first key column, so files roll at most
  * `numBuckets` times per task and each file covers a single bucket.
  * The bucket is the `splits` function the write's shuffle routed the
  * row by, so a job-path task receives whole buckets and writes one
  * file for each. */
final class GraftDataWriter(dir: String, schemaJson: String,
    keyCols: Array[String], splits: Option[RegionSplits], partitionId: Int,
    taskId: Long, pageRowLimit: Int = 0,
    bloomCols: Array[String] = Array.empty,
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    generated: Seq[(String, Int,
      org.apache.spark.sql.catalyst.expressions.Expression,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    identity: Seq[(String, Int, Long, Long, Long)] = Nil)
    extends DataWriter[InternalRow] {

  private val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]

  // GENERATED ALWAYS AS: per-row fill (NULL → computed) via one
  // codegen'd projection over the whole row, plus a per-column
  // violation predicate (arrived non-NULL and ≠ computed → the user
  // tried to override a GENERATED ALWAYS column; refuse, never
  // silently replace). Empty for tables without generated columns and
  // for internal layout rewrites.
  private val genNames: Array[String] = generated.map(_._1).toArray
  private val genViolations = generated.map { case (_, _, _, v) =>
    org.apache.spark.sql.catalyst.expressions.Predicate.create(v)
  }.toArray
  private val genProj =
    if (generated.isEmpty && identity.isEmpty) null
    else {
      val byIdx = generated.map(g => g._2 -> g._3).toMap
      // IDENTITY fill: value = start + step·n for this task's next
      // sequence number n (lane = reservation base + partitionId slot).
      // Coalesce evaluates the filler ONLY for NULL arrivals, so
      // explicit values (BY DEFAULT form) pass through and consume no
      // sequence numbers; the value is a pure function of
      // (base, partitionId, fill index), so task retries regenerate
      // identical ids.
      val idByIdx = identity.map { case (_, i, start, step, base) =>
        i -> IdentityFillExpr(
          new GraftIdentity.Filler(start, step, base, partitionId))
      }.toMap
      org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
        schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
          val ref = org.apache.spark.sql.catalyst.expressions
            .BoundReference(i, f.dataType, f.nullable)
          byIdx.get(i).orElse(idByIdx.get(i)) match {
            case Some(gen) => org.apache.spark.sql.catalyst.expressions
              .Coalesce(Seq(ref, gen))
            case None => ref: org.apache.spark.sql.catalyst.expressions.Expression
          }
        })
    }

  // CHECK constraints, compiled to codegen'd VIOLATION predicates
  // (`expr <=> false`: NULL passes, per SQL CHECK semantics). The
  // expressions arrive resolved + bound to schema ordinals from the
  // driver (GraftChecks.bound); empty for tables without constraints
  // and for internal layout rewrites.
  private val checkNames: Array[String] = checks.map(_._1).toArray
  private val checkPreds = checks.map { case (_, cond) =>
    org.apache.spark.sql.catalyst.expressions.Predicate.create(
      GraftChecks.violation(cond))
  }.toArray
  private val keyIdx = keyCols.map(schema.fieldIndex)
  private val keyTypes = keyIdx.map(schema.fields(_).dataType)

  private var current: RegionWriter = _
  private var closed = List.empty[RegionMeta]
  private var opened = List.empty[String]

  private def closeCurrent(): Unit = if (current != null) {
    closed = current.close().toList ::: closed
    current = null
  }

  override def write(row0: InternalRow): Unit = {
    var gi = 0
    while (gi < genViolations.length) {
      if (genViolations(gi).eval(row0)) throw new IllegalArgumentException(
        s"column '${genNames(gi)}' is GENERATED ALWAYS AS and cannot be " +
          "assigned a different value (omit it or pass NULL/DEFAULT); " +
          "no data was committed")
      gi += 1
    }
    val row = if (genProj == null) row0 else genProj(row0)
    var ci = 0
    while (ci < checkPreds.length) {
      if (checkPreds(ci).eval(row)) throw new IllegalArgumentException(
        s"CHECK constraint '${checkNames(ci)}' violated by a row being " +
          s"written (key ${keyCols.mkString(",")} = " +
          keyIdx.map(i => if (row.isNullAt(i)) "null"
            else row.get(i, schema.fields(i).dataType)).mkString(",") +
          "); no data was committed")
      ci += 1
    }
    val encs = new Array[Array[Byte]](keyIdx.length)
    var d = 0
    while (d < keyIdx.length) {
      if (row.isNullAt(keyIdx(d)))
        throw new IllegalArgumentException(
          s"null value in key column ${keyCols(d)}")
      encs(d) = KeyCodec.encodeAt(row, keyIdx(d), keyTypes(d))
      d += 1
    }
    val bucket = splits match {
      case Some(sp) => sp.bucketOf(encs(0))
      case None => -1
    }
    if (current == null || bucket != current.bucket) {
      closeCurrent()
      current = new RegionWriter(dir,
        f"part-$partitionId%05d-$taskId-${UUID.randomUUID()}.parquet",
        schema, keyIdx, pageRowLimit, bloomCols.toSeq, bucket)
      opened ::= current.fileName
    }
    current.write(row, encs)
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    RegionCommits(closed.reverse)
  }

  override def abort(): Unit =
    try closeCurrent()
    finally opened.foreach(f => new File(dir, f).delete())

  override def close(): Unit = ()
}

/** The identity filler as a leaf expression so it composes into the
  * writer's whole-row fill projection. Task-local mutable state, never
  * seen by an optimizer (the projection is hand-built in
  * [[GraftDataWriter]]); `CodegenFallback` routes codegen to eval(). */
private[catalog] final case class IdentityFillExpr(
    filler: GraftIdentity.Filler)
    extends org.apache.spark.sql.catalyst.expressions.LeafExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def eval(input: InternalRow): Any = filler.next()
}
