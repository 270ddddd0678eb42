package graft.catalog

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BindReferences, Expression, InterpretedUnsafeProjection, NamedExpression, Predicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{ExplainUtils, LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Zero-job point reads: a batch scan that prunes to at most one small
  * region is planned as [[GraftLocalScanExec]], which reads that region
  * on the driver. The reference answers an all-point key predicate with
  * a batched HBase `Get` inside its reader task (`HBaseSQLReaderRDD`,
  * SURVEY §4.1 "Scan→Get conversion"); here the task goes too, and with
  * it the scheduling floor that dominates a ~40-row read.
  *
  * A planner strategy, not an optimizer rule: it must see the scan
  * after V2 pushdown has pruned it, and Spark's optimizer runs the
  * extension batches before that. Extension strategies run before
  * `DataSourceV2Strategy`, so a declined scan plans as usual.
  *
  * Fires only when all of these hold:
  *  - [[GraftAccel.LocalRead]] is on;
  *  - the scan is not a row-level operation's group scan;
  *  - every projection and filter above the scan is deterministic and
  *    free of subqueries (so dynamic pruning declines);
  *  - the planned partitions (after pruning, limit truncation and
  *    packing) hold at most one region, of at most [[MaxRows]] manifest
  *    rows. */
object GraftLocalRead extends SparkStrategy {

  /** Largest region (manifest rows) read on the driver. */
  val MaxRows = 65536L

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
    case _ => Nil
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
