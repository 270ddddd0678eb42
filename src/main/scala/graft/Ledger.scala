package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.Listeners

import graft.catalog.GraftLocalScanExec

/** What one pass cost, layer by layer: driver planning (`planMs`, the
  * parse/analysis/optimization/planning phases of the face's DataFrame
  * and of every query the pass executed), scheduling (jobs, stages,
  * tasks, executor deserialization), executor run and GC time, exchange
  * bytes written, scan input bytes, and region pruning (the graft
  * scans' `regionsTotal`/`regionsScanned` driver metrics). */
final case class LedgerRow(planMs: Long = 0, jobs: Int = 0, stages: Int = 0,
    tasks: Int = 0, taskMs: Long = 0, deserMs: Long = 0, gcMs: Long = 0,
    shuffleMb: Double = 0, inputMb: Double = 0, regionsTotal: Long = 0,
    regionsScanned: Long = 0) {
  def +(o: LedgerRow): LedgerRow = LedgerRow(planMs + o.planMs,
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
    deserMs + o.deserMs, gcMs + o.gcMs, shuffleMb + o.shuffleMb,
    inputMb + o.inputMb, regionsTotal + o.regionsTotal,
    regionsScanned + o.regionsScanned)

  def json: String =
    s"""{"plan_ms":$planMs,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""task_ms":$taskMs,"deser_ms":$deserMs,"gc_ms":$gcMs,""" +
      f""""shuffle_mb":$shuffleMb%.3f,"input_mb":$inputMb%.3f,""" +
      s""""regions_total":$regionsTotal,"regions_scanned":$regionsScanned}"""
}

/** One completed stage of a pass, summed over its tasks. */
final case class StageCost(id: Int, name: String, wallMs: Long, taskMs: Long,
    deserMs: Long, gcMs: Long, shuffleReadMb: Double, shuffleWriteMb: Double,
    inputMb: Double, tasks: Int)

/** One pass: wall seconds (-1 if it failed), the 1-minute load average at
  * its start, its row, planning phases (ms), stages and executed queries
  * (the last two dropped from the passes [[Ledger.measure]] keeps). */
final case class Pass(seconds: Double, load: Double, row: LedgerRow,
    phases: Seq[(String, Long)], stages: Seq[StageCost],
    queries: Seq[QueryExecution])

/** The one measuring harness. A job/stage `SparkListener` attributes to
  * the pass in flight every job, stage and SQL execution started under
  * the ledger's job tag, which the pass sets on the calling thread (Spark
  * hands it on to the broadcast and subquery threads of the queries it
  * runs). [[measure]] is the one timing loop. Not for concurrent passes:
  * one ledger times one thread; it listens for the session's lifetime. */
final class Ledger(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val tag = s"graft-ledger-${Ledger.ids.incrementAndGet()}"

  // the pass in flight, as the listener sees it; guarded by `this`
  private var jobs = 0
  private val stageIds = mutable.HashSet[Int]()
  private val stages = mutable.ArrayBuffer[StageCost]()
  private val executions = mutable.HashSet[Long]()
  private val queries = mutable.ArrayBuffer[QueryExecution]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.JobTags)))
          .exists(_.split(',').contains(tag))) Ledger.this.synchronized {
        jobs += 1
        stageIds ++= e.stageIds
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val (si, m) = (e.stageInfo, e.stageInfo.taskMetrics)
      Ledger.this.synchronized {
        if (stageIds(si.stageId)) stages += StageCost(si.stageId,
          si.name.take(80),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorDeserializeTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6, si.numTasks)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
        Ledger.this.synchronized(executions += s.executionId)
      case s: SparkListenerSQLExecutionEnd => Ledger.this.synchronized {
        if (executions.remove(s.executionId))
          queries += Listeners.queryExecution(s)
      }
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  /** One pass of a face: builds its DataFrame and counts it. The wall
    * time covers both, as a caller of the face would pay. */
  def pass(face: => DataFrame): Pass = {
    var df: DataFrame = null
    record({ df = face; df.count() }, Option(df))
  }

  /** The ledger of any driver code; `face` is a DataFrame it built whose
    * own parse/analysis counts too. Exceptions propagate. */
  def record(body: => Unit, face: => Option[DataFrame] = None): Pass = {
    synchronized {
      jobs = 0; stageIds.clear(); stages.clear()
      executions.clear(); queries.clear()
    }
    val load = Ledger.os.getSystemLoadAverage
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    val seconds = try { body; (System.nanoTime() - t0) / 1e9 }
      finally { sc.removeJobTag(tag); Listeners.drain(sc) }
    val (n, st, executed) =
      synchronized((jobs, stages.toList, queries.toList))
    val planned = face.map(_.queryExecution)
      .filterNot(q => executed.exists(_ eq q)).toList ++ executed
    val phases = Seq("parsing", "analysis", "optimization", "planning")
      .map(k => k -> planned.flatMap(_.tracker.phases.get(k)).map(_.durationMs).sum)
    val (rTotal, rScanned) = Ledger.regions(executed)
    Pass(seconds, load, LedgerRow(phases.map(_._2).sum, n, st.size,
      st.map(_.tasks).sum, st.map(_.taskMs).sum, st.map(_.deserMs).sum,
      st.map(_.gcMs).sum, st.map(_.shuffleWriteMb).sum, st.map(_.inputMb).sum,
      rTotal, rScanned), phases, st, executed)
  }

  /** The one timing loop. One untimed warm pass per face, handed to
    * `warmed` (catalog builds, codegen, JIT and footer caches stay out of
    * the numbers; a failing warm pass is skipped quietly, the timed
    * passes report it), then `timed` sweeps over all faces. Each face
    * keeps its fastest pass that did not fail, -1 s if none succeeded.
    * Sweeps, not back-to-back passes: host contention comes in bursts of
    * minutes that hit a contiguous stretch of faces, so a face's passes
    * are a full sweep apart; the min removes that one-sided noise
    * without hiding real cost. */
  def measure(faces: Seq[(String, (SparkSession, String) => DataFrame)],
      dir: String, timed: Int = 2)(
      warmed: (String, Pass) => Unit = (_, _) => ()): Seq[(String, Pass)] = {
    require(timed >= 1, s"timed passes: $timed")
    faces.foreach { case (name, f) =>
      try warmed(name, pass(f(spark, dir))) catch { case NonFatal(_) => }
    }
    val sweeps = Seq.fill(timed)(faces.map { case (name, f) =>
      try pass(f(spark, dir)).copy(stages = Nil, queries = Nil)
      catch { case NonFatal(e) =>
        System.err.println(s"[ledger] FAILED $name: ${e.getMessage}")
        Pass(-1.0, Ledger.os.getSystemLoadAverage, LedgerRow(), Nil, Nil, Nil)
      }
    })
    faces.indices.map { i =>
      faces(i)._1 -> sweeps.map(_(i)).reduce((a, b) =>
        if (a.seconds < 0 || (b.seconds >= 0 && b.seconds < a.seconds)) b
        else a)
    }
  }
}

object Ledger extends AdaptiveSparkPlanHelper {
  private val ids = new AtomicInteger()
  private[graft] val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
  /** The job-property key `SparkContext.addJobTag` writes (comma-joined). */
  private val JobTags = "spark.job.tags"

  /** `SPARK_GRAFT_ONLY`, a local iteration aid the benchmark driver never
    * sets: faces whose name contains one of the comma-separated
    * substrings, or equals one given with a leading '=' (for a name that
    * is a substring of another's, e.g. `=dedup_minhash_full`). */
  val only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)

  def selected(name: String): Boolean =
    only.forall(_.exists(f =>
      if (f.startsWith("=")) name == f.drop(1) else name.contains(f)))

  /** `{"k":v,…}` of rendered values. */
  def jsonObject(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** (regionsTotal, regionsScanned) over every graft scan the queries
    * executed, task-side (`BatchScanExec`) or driver-side
    * (`GraftLocalScanExec`), subqueries and query stages included; a scan
    * reached twice (a reused exchange) counts once. */
  private def regions(qs: Seq[QueryExecution]): (Long, Long) = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SQLMetric, java.lang.Boolean]())
    // a query whose planning failed has no plan to read
    val plans = qs.flatMap(q => scala.util.Try(q.executedPlan).toOption)
    def sum(k: String): Long = plans.flatMap(p => collectWithSubqueries(p) {
      case s @ (_: BatchScanExec | _: GraftLocalScanExec) => s.metrics.get(k)
    }.flatten).filter(seen.add).map(_.value).sum
    (sum("regionsTotal"), sum("regionsScanned"))
  }
}
