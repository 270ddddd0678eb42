package graft.catalog

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BindReferences, Expression, InterpretedOrdering, InterpretedUnsafeProjection, NamedExpression, Predicate, SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, LocalRelation, LogicalPlan, OverwriteByExpression, RepartitionByExpression, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.execution.{ExplainUtils, LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation, LeafV2CommandExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Zero-job small statements, planned on the driver.
  *
  * Reads: a batch scan that prunes to at most one small region is
  * planned as [[GraftLocalScanExec]], which reads that region on the
  * driver. The reference answers an all-point key predicate with a
  * batched HBase `Get` inside its reader task (`HBaseSQLReaderRDD`,
  * SURVEY §4.1 "Scan→Get conversion"); here the task goes too, and with
  * it the scheduling floor that dominates a ~40-row read.
  *
  * Writes: an append or whole-table overwrite of a small local relation
  * (`INSERT … VALUES`) is planned as [[GraftLocalWriteExec]], which
  * writes it on the driver through the write's own region writer and
  * batch commit. The reference serves `INSERT … VALUES` the same way: a
  * driver-side command flushing buffered `Put`s, no shuffle
  * (`InsertValueIntoTableCommand`, SURVEY §2).
  *
  * A planner strategy, not an optimizer rule: it must see the scan
  * after V2 pushdown has pruned it, and Spark's optimizer runs the
  * extension batches before that. Extension strategies run before
  * `DataSourceV2Strategy`, so a declined plan plans as usual.
  *
  * A read is served when all of these hold:
  *  - [[GraftAccel.LocalRead]] is on;
  *  - the scan is not a row-level operation's group scan;
  *  - every projection and filter above the scan is deterministic and
  *    free of subqueries (so dynamic pruning declines);
  *  - the planned partitions (after pruning, limit truncation and
  *    packing) hold at most one region, of at most [[MaxRows]] manifest
  *    rows.
  *
  * A write is served when all of these hold; the input alone decides,
  * and any other write runs the job path:
  *  - it is an `AppendData` or `OverwriteByExpression` whose write is a
  *    [[GraftWrite]];
  *  - its query is the key sort and range repartition `V2Writes` added
  *    for the write's required ordering and distribution (either may be
  *    absent) over a batch `LocalRelation` of at most [[MaxRows]] rows.
  */
object GraftLocalRead extends SparkStrategy {

  /** The one "small enough for the driver" bound, in rows: the largest
    * region read on the driver and the largest local relation written
    * there; over it the task-side path runs. The write sets it. One
    * driver thread sorts and writes what the job path spreads over
    * range-split tasks, so the driver's lead shrinks with the row
    * count. On a 4-vCPU VM, appending a local relation to a 16-region
    * table, the driver write is faster up to 24,576 rows, level at
    * 32,768 and slower from 49,152. A one-region driver read was still
    * 20-45 ms faster than its one-task job at 65,536 rows. */
  val MaxRows = 32768

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters,
        DataSourceV2ScanRelation(_, scan: GraftScan, output, _, _))
        if GraftAccel.on(GraftAccel.LocalRead) && !scan.groupMode &&
          (projects ++ filters).forall(foldable) =>
      scan.planInputPartitions().toSeq match {
        case Seq() => Seq(GraftLocalScanExec(projects, filters, output,
          scan, None))
        case Seq(p: RegionPartition)
            if p.files.length == 1 && p.rows <= MaxRows =>
          Seq(GraftLocalScanExec(projects, filters, output, scan, Some(p)))
        case _ => Nil
      }
    case AppendData(r: DataSourceV2Relation, LocalInput(orders, rel), _, _,
        Some(w: GraftWrite), _) =>
      Seq(GraftLocalWriteExec(r, w, orders, rel))
    case OverwriteByExpression(r: DataSourceV2Relation, _,
        LocalInput(orders, rel), _, _, Some(w: GraftWrite), _) =>
      Seq(GraftLocalWriteExec(r, w, orders, rel))
    case _ => Nil
  }

  /** A write query a driver can take: `Sort ← RepartitionByExpression ←
    * LocalRelation`, either wrapper optional, the relation batch and of
    * at most [[MaxRows]] rows. Yields the sort orders (empty if there is
    * no sort) and the relation. */
  private object LocalInput {
    def unapply(q: LogicalPlan): Option[(Seq[SortOrder], LocalRelation)] =
      q match {
        case Sort(orders, false, child, _) => relation(child).map(orders -> _)
        case other => relation(other).map(Nil -> _)
      }

    private def relation(p: LogicalPlan): Option[LocalRelation] = p match {
      case RepartitionByExpression(_, child, _, _) => relation(child)
      case l: LocalRelation
          if !l.isStreaming && l.data.lengthCompare(MaxRows) <= 0 => Some(l)
      case _ => None
    }
  }

  /** Evaluable row by row on the driver, with the same answer every
    * time: no subquery (dynamic pruning included), no nondeterminism. */
  private def foldable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)
}

/** The driver-side read of [[GraftLocalRead]]. Nothing is read at
  * planning time, so EXPLAIN and `executedPlan` stay IO-free. Each
  * execution reads the scan's one partition through the scan's own
  * reader (the same pushed parquet filters, metadata columns and
  * existence defaults a task gets), folds the filters and projection
  * row by row with Spark's interpreted evaluators (a per-query literal
  * compiles no code, as in `ConvertToLocalRelation`), and copies only
  * the surviving rows, as `UnsafeRow`s.
  *
  * `executeCollect`, `executeTake` and `executeTail` return them with
  * no Spark job; under other operators, `doExecute` hands them on as
  * one partition. */
case class GraftLocalScanExec(projects: Seq[NamedExpression],
    filters: Seq[Expression], scanOutput: Seq[Attribute],
    @transient scan: GraftScan, partition: Option[RegionPartition])
    extends LeafExecNode {

  override def output: Seq[Attribute] = projects.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  /** The scan's driver metrics (`regionsTotal`, `regionsScanned`,
    * `readPartitions`) under the scan's names, plus the rows returned. */
  override lazy val metrics: Map[String, SQLMetric] =
    scan.supportedCustomMetrics().map(m =>
      m.name -> SQLMetrics.createV2CustomMetric(sparkContext, m)).toMap +
      ("numOutputRows" ->
        SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def desc: String = s"${scan.description()} local"

  override def simpleString(maxFields: Int): String =
    s"$nodeName${truncatedString(output, "[", ", ", "]", maxFields)} $desc"

  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |${ExplainUtils.generateFieldString("Output", output)}
       |$desc
       |""".stripMargin

  /** Up to `limit` result rows, read now. */
  private def read(limit: Int): Array[InternalRow] = {
    val keep = filters.reduceOption(And).map(f =>
      Predicate.createInterpreted(BindReferences.bindReference(f, scanOutput)))
    val project = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(projects, scanOutput))
    keep.foreach(_.initialize(0))
    project.initialize(0)
    val out = ArrayBuffer.empty[InternalRow]
    partition.foreach { p =>
      val reader = scan.createReaderFactory().createReader(p)
      try while (out.length < limit && reader.next()) {
        val row = reader.get()
        if (keep.forall(_.eval(row))) out += project(row).copy()
      } finally reader.close()
    }
    scan.reportDriverMetrics().foreach(m =>
      metrics.get(m.name()).foreach(_.set(m.value())))
    metrics("numOutputRows").set(out.length.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq)
    out.toArray
  }

  override def executeCollect(): Array[InternalRow] = read(Int.MaxValue)
  override def executeTake(n: Int): Array[InternalRow] = read(n)
  override def executeTail(n: Int): Array[InternalRow] =
    read(Int.MaxValue).takeRight(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(read(Int.MaxValue).toSeq, 1)
}

/** The driver-side write of [[GraftLocalRead]]: the job a small append
  * would run, without the job. It writes the local relation's rows as
  * `AppendDataExec` / `OverwriteByExpressionExec` would:
  *  1. sorts them with Spark's interpreted ordering over the planned
  *     sort's orders, the order that sort would give;
  *  2. cuts them into `requiredNumPartitions` contiguous runs at key
  *     changes when the table fixes its region count (one run
  *     otherwise), as the range repartition would;
  *  3. writes run `i` through the write's own writer factory,
  *     `createWriter(i, i)` (the same region writer, CHECK, GENERATED
  *     and IDENTITY handling, and per-bucket file roll a task gets);
  *  4. commits through the same `BatchWrite.commit` (plain, truncate,
  *     branch or copy commit, then auto-split); on failure it aborts
  *     the open writer and the batch, which delete what was written;
  *  5. re-caches the relation, as the V2 write execs do.
  *
  * A leaf command, so `spark.sql` still runs it eagerly; EXPLAIN plans
  * it without writing. `numOutputRows` is posted as a driver metric. */
case class GraftLocalWriteExec(table: DataSourceV2Relation,
    @transient write: GraftWrite, orders: Seq[SortOrder],
    relation: LocalRelation) extends LeafV2CommandExec {

  override def output: Seq[Attribute] = Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def desc: String =
    s"${table.name} rows=${relation.data.length} local"

  override def simpleString(maxFields: Int): String = s"$nodeName $desc"

  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |$desc
       |""".stripMargin

  /** Cuts sorted `rows` into `n` runs of near-equal length, moving each
    * cut forward past rows whose key equals the one before it, so one
    * key never spans two runs (a run may then be empty). */
  private def runs(rows: IndexedSeq[InternalRow], n: Int,
      ord: Ordering[InternalRow]): Seq[IndexedSeq[InternalRow]] = {
    val cuts = (1 until n).scanLeft(0) { (prev, i) =>
      var c = math.max(prev, (i.toLong * rows.length / n).toInt)
      while (c > 0 && c < rows.length && ord.equiv(rows(c - 1), rows(c)))
        c += 1
      c
    } :+ rows.length
    cuts.sliding(2).map { case Seq(from, until) =>
      rows.slice(from, until) }.toSeq
  }

  /** Runs `cleanup` after `e`, then rethrows `e`; a failure of the
    * cleanup is attached to `e` rather than replacing it. */
  private def suppressing(e: Throwable)(cleanup: => Unit): Nothing = {
    try cleanup catch { case NonFatal(t) => e.addSuppressed(t) }
    throw e
  }

  override protected def run(): Seq[InternalRow] = {
    val keyOrder = new InterpretedOrdering(orders, relation.output)
    val rows = relation.data.toIndexedSeq.sorted(keyOrder)
    val parts = runs(rows, write.requiredNumPartitions().max(1), keyOrder)
    val batch = write.toBatch
    val factory = batch.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = parts.length
    })
    val messages = new Array[WriterCommitMessage](parts.length)
    try {
      parts.zipWithIndex.foreach { case (part, i) =>
        val writer = factory.createWriter(i, i)
        try {
          part.foreach(writer.write)
          messages(i) = writer.commit()
        } catch { case NonFatal(e) => suppressing(e)(writer.abort()) }
        finally writer.close()
        batch.onDataWriterCommit(messages(i))
      }
      batch.commit(messages)
    } catch { case NonFatal(e) => suppressing(e)(batch.abort(messages)) }
    metrics("numOutputRows").set(rows.length.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq)
    session.sharedState.cacheManager.recacheByPlan(session, table)
    Nil
  }
}
