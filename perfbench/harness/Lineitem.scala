package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

import graft.catalog.TableMeta
import graft.codec.KeyCodec
import graft.prune.KeyRanges

/** `lineitem` keyed (l_orderkey, l_linenumber) in 16 fixed regions, and
  * the columns every read-back returns. */
object Lineitem {
  val Ns = "bench"
  val Orders = 150000L
  val Splits: String = (1 until 16).map(i => i * Orders / 16).mkString(";")
  val Cols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT", "l_suppkey" -> "BIGINT",
    "l_linenumber" -> "INT", "l_quantity" -> "DOUBLE",
    "l_extendedprice" -> "DOUBLE", "l_discount" -> "DOUBLE",
    "l_tax" -> "DOUBLE", "l_returnflag" -> "STRING",
    "l_linestatus" -> "STRING", "l_shipdate" -> "TIMESTAMP")
  val ColList: String = Cols.map(_._1).mkString(", ")
  val KeyTypes: Seq[DataType] = Seq(LongType, IntegerType)

  def create(ctx: Ctx, table: String): Unit = {
    ctx.spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$Ns")
    ctx.spark.sql(
      s"""CREATE TABLE graft.$Ns.$table
         |(${Cols.map { case (n, t) => s"$n $t" }.mkString(", ")})
         |TBLPROPERTIES('keyCols'='l_orderkey;l_linenumber',
         |              'regionSplits'='$Splits')""".stripMargin)
  }

  def source(ctx: Ctx) =
    ctx.spark.read.parquet(s"${ctx.args.data}/lineitem.parquet")
      .selectExpr(Cols.map(_._1): _*)
}

/** Per-layer measurements of traced reads: planning, pruning, the
  * manifest cache, codec compares and the listener's scheduling
  * counters. */
final class ReadLayers(ctx: Ctx, dir: java.io.File) {
  private val meta = TableMeta.load(dir)
  private val dims: Map[String, (Int, DataType)] = meta.keyCols.zipWithIndex.map {
    case (c, i) => c.toLowerCase -> (i, meta.schema(c).dataType)
  }.toMap
  private val plan, analyzeUs, floor, jobs, tasks, deser, regionsTotal,
    regionsScanned, readRatio, warm = mutable.ArrayBuffer[Double]()

  /** One traced read: (rows, statement wall ms). The layer calls run
    * after the statement, outside its wall time. */
  def read(i: Int, kind: String, sql: String): (Array[org.apache.spark.sql.Row], Double) = {
    val t0 = System.nanoTime()
    val (rows, df) = ctx.tracer.op(i, s"read $kind") {
      val df = ctx.spark.sql(sql)
      plan += ctx.tracer.span("plan")(Plans.planMs(df))
      (df.collect(), df)
    }
    val wall = (System.nanoTime() - t0) / 1e6
    val c = ctx.tracer.counters(i)
    floor += wall - plan.last - c.taskRunMs
    jobs += c.jobs; tasks += c.tasks; deser += c.deserMs
    val (rt, rs) = Plans.regions(df)
    regionsTotal += rt; regionsScanned += rs
    if (rows.nonEmpty) readRatio += c.inputRecords.toDouble / rows.length
    // layer calls, each in its own span, outside the op's wall time
    df.queryExecution.analyzed.collectFirst { case f: Filter => f.condition }.foreach { p =>
      val t = System.nanoTime()
      ctx.tracer.span("prune.analyze")(KeyRanges.analyze(p, dims))
      analyzeUs += (System.nanoTime() - t) / 1e3
    }
    warm += ctx.tracer.span("catalog.loadState")(ctx.time(TableMeta.loadState(dir))._2)
    (rows, wall)
  }

  def metrics(gcMs: Double): Seq[(String, Double)] = {
    val bounds = TableMeta.loadState(dir).regions
      .flatMap(r => Seq(r.mins, r.maxs)).map(h => KeyCodec.fromHex(h.mkString)).toArray
    val compareNs = ctx.tracer.span("codec.compare")(Layers.compareNs(bounds))
    TableMeta.evictManifestCache(dir)
    val cold = ctx.tracer.span("catalog.loadState cold")(ctx.time(TableMeta.loadState(dir))._2)
    Seq(
      "codec.compare_ns" -> compareNs,
      "prune.analyze_us" -> Stats.median(analyzeUs.toSeq),
      "prune.regions_total" -> Stats.median(regionsTotal.toSeq),
      "prune.regions_scanned_per_read" -> Stats.mean(regionsScanned.toSeq),
      "prune.rows_read_per_row_returned" -> Stats.mean(readRatio.toSeq),
      "catalog.manifest_warm_ms" -> Stats.median(warm.toSeq),
      "catalog.manifest_cold_ms" -> cold,
      "catalog.plan_ms" -> Stats.median(plan.toSeq),
      "sched.jobs_per_read" -> Stats.mean(jobs.toSeq),
      "sched.tasks_per_read" -> Stats.mean(tasks.toSeq),
      "sched.floor_ms" -> Stats.median(floor.toSeq),
      "sched.task_deser_ms" -> Stats.mean(deser.toSeq),
      "jvm.gc_ms" -> gcMs)
  }
}
