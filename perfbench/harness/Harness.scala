package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Benchmark harness for the graft catalog, driven from outside the
  * program: it issues SQL and DataFrame statements against
  * `graft.catalog.GraftCatalog`, runs `graft.SparkEntry.queries` faces,
  * and calls the codec/prune/catalog layers' public functions only to
  * time them in traced runs.
  *
  * Usage (normally through perfbench/run.py):
  *   perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <cpus>
  *                     <dataDir> <workDir> <resultFile> <spanFile>
  *                     <facesFile>
  */
object Harness {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cpus: Int, data: String, work: String, result: String,
      spans: String, faces: String)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 10, "usage: Harness <workload> <seed> <seconds> " +
      "<trace> <cpus> <dataDir> <workDir> <resultFile> <spanFile> <facesFile>")
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4).toInt, argv(5), argv(6), argv(7), argv(8), argv(9))
    val ctx = new Ctx(a, Session.build(a.work, a.cpus))
    ctx.info("load_avg_start", ctx.loadAvg())
    ctx.phase("session")
    val res = a.workload match {
      case "ingest"       => Ingest.run(ctx)
      case "faces"        => Faces.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    ctx.phase("checks")
    ctx.info("load_avg_end", ctx.loadAvg())
    if (a.trace) ctx.tracer.write(a.spans, a.workload)
    Files.write(Paths.get(a.result), res.json(ctx.infos).getBytes(UTF_8))
    ctx.spark.stop()
  }
}

/** One session profile: the repo's bench settings (graft.Bench) with
  * local[cpus], cpus shuffle partitions and the UI off, and every path
  * the program writes kept under the run's private work dir. */
object Session {
  def build(work: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/warehouse")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** What a workload hands back: the metric set for this run's mode plus
  * the op tally. */
final case class Result(attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)]) {
  def json(infos: Seq[(String, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val info = infos.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $ms, "info": $info}"""
  }
}

object Result {
  /** Per-layer metrics; their units come from BENCHMARK.json. */
  def layers(attempted: Long, failed: Long, ms: Seq[(String, Double)]): Result =
    Result(attempted, failed, ms.map { case (n, v) => (n, v, "") })
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
  /** First-decile / median ratio: > 1 flags a cold start or drift
    * inside the timed window (the first tenth of the ops, in order). */
  def firstDecileRatio(inOrder: Seq[Double]): Double = {
    val n = math.max(1, inOrder.size / 10)
    median(inOrder.take(n)) / median(inOrder)
  }
}

/** Shared run state: session, arguments, tracer and the info line. */
final class Ctx(val args: Harness.Args, val spark: SparkSession) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val tracer = new Tracer(args.trace, spark)
  private val infoBuf = mutable.ArrayBuffer[(String, String)]()
  def infos: Seq[(String, String)] = infoBuf.toSeq
  def info(k: String, v: Double): Unit = infoBuf += k -> Json.num(v)
  private var mark = jvmStartMs
  private var jitMark = 0L
  /** Seconds since the previous phase mark (the first from JVM start),
    * recorded as `phase_<name>_s`, and the JIT compile time spent in
    * it as `phase_<name>_jit_ms`: JIT work left in the timed phase
    * shows there. */
  def phase(name: String): Unit = {
    val now = System.currentTimeMillis()
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    info(s"phase_${name}_s", (now - mark) / 1e3)
    info(s"phase_${name}_jit_ms", (jit - jitMark).toDouble)
    mark = now
    jitMark = jit
  }
  /** Median of each tenth of the timed ops, in order: drift across the
    * timed window shows as a slope. */
  def infoDeciles(k: String, inOrder: Seq[Double]): Unit =
    infoBuf += k -> inOrder.grouped(math.max(1, inOrder.size / 10)).take(10)
      .map(g => f"${Stats.median(g)}%.2f").mkString("[", ", ", "]")

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Seconds from JVM start to now: the set-up time when called at the
    * first timed op. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - jvmStartMs) / 1e3

  def warehouse: File = new File(args.work, "warehouse")
  def tableDir(ns: String, t: String): File =
    new File(new File(warehouse, ns), t)

  /** Heap in use after a forced full collection, in MB. Spark's
    * ContextCleaner frees broadcast and shuffle state only after a GC
    * has enqueued its references, so collect a few times with a pause
    * between and keep the lowest reading. */
  def heapLiveMb(): Double = {
    val used = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    info("heap_gc_readings_range_mb", used.max - used.min)
    used.min
  }

  /** Total GC time of all collectors so far, ms. */
  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Bytes and rows of a graft table's live regions. */
object Storage {
  def bytesAndRows(tableDir: File): (Long, Long) = {
    val st = graft.catalog.TableMeta.loadState(tableDir)
    val bytes = st.regions.map(r => new File(tableDir, r.file).length).sum
    (bytes, st.regions.map(_.rows).sum)
  }
}

/** Order-independent row checksums, so an answer can be checked
  * against counts and sums precomputed from the source parquet. */
object RowHash {
  def field(v: Any): Long = v match {
    case null => 0x9e3779b97f4a7c15L
    case x: java.lang.Long => x
    case x: java.lang.Integer => x.toLong
    case x: java.lang.Double => java.lang.Double.doubleToLongBits(x)
    case x: String => x.hashCode.toLong
    case x: java.sql.Timestamp => x.getTime * 1000L + (x.getNanos / 1000) % 1000
    case x => x.hashCode.toLong
  }
  def row(r: Row): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < r.length) { h = h * 1000003L ^ field(r.get(i)); i += 1 }
    h ^ (h >>> 29)
  }
}

/** Spans recorded in memory (statement → plan → job → stage, plus one
  * span around each timed layer call) and per-op counters from a
  * SparkListener, written out once the run ends. Inert when tracing
  * is off: no listener is registered. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long, op: Int)
  /** Listener totals for one traced op. */
  final class OpCounters {
    var jobs = 0; var tasks = 0
    var taskRunMs = 0.0; var deserMs = 0.0
    var jobMs = 0.0; var lastJobEndMs = 0L; var endMs = 0L
    var shuffleWriteBytes = 0L; var inputRecords = 0L
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private var stack = List(0)
  // listener-side state, guarded by `this`
  private val ops = mutable.HashMap[Int, OpCounters]()
  /** job → (op, start ns, its span id, the statement span it runs under) */
  private val jobOp = mutable.HashMap[Int, (Int, Long, Int, Int)]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageStart = mutable.HashMap[Int, Long]()
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val OpKey = "perfbench.op"

  if (on) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach {
        v =>
          val Array(op, parent) = v.split(":").map(_.toInt)
          Tracer.this.synchronized {
            jobOp(e.jobId) = (op, toNs(e.time), newId(), parent)
            e.stageIds.foreach(stageJob(_) = e.jobId)
          }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobOp.remove(e.jobId).foreach { case (op, s, id, parent) =>
          val c = ops.getOrElseUpdate(op, new OpCounters)
          c.jobs += 1
          c.jobMs += (toNs(e.time) - s) / 1e6
          c.lastJobEndMs = math.max(c.lastJobEndMs, e.time)
          spans += Span(id, parent, s"job ${e.jobId}", s, toNs(e.time), op)
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageStart(e.stageInfo.stageId) = System.nanoTime()
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        for (job <- stageJob.get(si.stageId); (op, _, jobSpan, _) <- jobOp.get(job)) {
          spans += Span(newId(), jobSpan, s"stage ${si.stageId}",
            stageStart.getOrElse(si.stageId, System.nanoTime()), System.nanoTime(), op)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        for (job <- stageJob.get(e.stageId); (op, _, _, _) <- jobOp.get(job);
             m <- Option(e.taskMetrics)) {
          val c = ops.getOrElseUpdate(op, new OpCounters)
          c.tasks += 1
          c.taskRunMs += m.executorRunTime
          c.deserMs += m.executorDeserializeTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.inputRecords += m.inputMetrics.recordsRead
        }
      }
  })

  private def toNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  private def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  /** Run `f` as the traced op `op` (jobs it launches are attributed to
    * it) inside a span; with tracing off, just run `f`. */
  def op[T](op: Int, name: String)(f: => T): T =
    if (!on) f else {
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      val id = newId()
      sc.setLocalProperty(OpKey, s"$op:$id")
      stack = id :: stack
      try f finally {
        val (end, endMs) = (System.nanoTime(), System.currentTimeMillis())
        stack = stack.tail
        sc.setLocalProperty(OpKey, null)
        drain()
        synchronized {
          spans += Span(id, stack.head, name, t0, end, op)
          ops.getOrElseUpdate(op, new OpCounters).endMs = endMs
        }
      }
    }

  /** A span around a layer call made from outside the program. */
  def span[T](name: String)(f: => T): T =
    if (!on) f else {
      val t0 = System.nanoTime()
      val id = newId()
      stack = id :: stack
      try f finally {
        stack = stack.tail
        synchronized(spans += Span(id, stack.head, name, t0, System.nanoTime(), -1))
      }
    }

  def counters(op: Int): OpCounters =
    synchronized(ops.getOrElse(op, new OpCounters))

  /** Wait until the listener bus has delivered every queued event
    * (listenerBus is private[spark]; reached reflectively). */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def write(path: String, workload: String): Unit = {
    val t0 = synchronized(spans.map(_.startNs).minOption.getOrElse(0L))
    val lines = synchronized(spans.sortBy(s => (s.startNs, s.id)).toSeq).map { s =>
      f"""{"workload": "$workload", "id": ${s.id}, "parent": ${s.parent}, """ +
        f""""op": ${s.op}, "name": ${Json.str(s.name)}, """ +
        f""""start_ms": ${(s.startNs - t0) / 1e6}%.3f, "dur_ms": ${(s.endNs - s.startNs) / 1e6}%.3f}"""
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Plan inspection for traced ops: planning time and the graft scan's
  * pruning metrics on the executed plan. */
object Plans extends AdaptiveSparkPlanHelper {
  /** Time to the executed physical plan (parse/analyze/optimize/plan). */
  def planMs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.queryExecution.executedPlan
    (System.nanoTime() - t0) / 1e6
  }

  private def scans(p: SparkPlan): Seq[BatchScanExec] =
    collect(p) { case b: BatchScanExec => b }

  /** (regionsTotal, regionsScanned) summed over every graft scan of an
    * executed query. */
  def regions(df: DataFrame): (Long, Long) = {
    val ss = scans(df.queryExecution.executedPlan)
    def m(b: BatchScanExec, k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
    (ss.map(m(_, "regionsTotal")).sum, ss.map(m(_, "regionsScanned")).sum)
  }
}

/** Layer calls timed from outside: the key codec's public functions. */
object Layers {
  private val MinCalls = 200000L

  /** ns per KeyCodec.compare over every ordered pair of the keys. */
  def compareNs(keys: Array[Array[Byte]]): Double = {
    var sink = 0L
    var n = 0L
    val t0 = System.nanoTime()
    while (n < MinCalls) {
      for (a <- keys; b <- keys) { sink += graft.codec.KeyCodec.compare(a, b); n += 1 }
    }
    val ns = (System.nanoTime() - t0).toDouble / n
    if (sink == Long.MinValue) println(sink)
    ns
  }

  /** ns per KeyCodec.encodeComposite over the given key tuples. */
  def encodeNs(types: Seq[org.apache.spark.sql.types.DataType],
      keys: Seq[Seq[Any]]): Double = {
    var sink = 0L
    var n = 0L
    val t0 = System.nanoTime()
    while (n < MinCalls) {
      keys.foreach { k => sink += graft.codec.KeyCodec.encodeComposite(types, k).length; n += 1 }
    }
    val ns = (System.nanoTime() - t0).toDouble / n
    if (sink == Long.MinValue) println(sink)
    ns
  }
}

/** Prints `{"<face>": "<oracle SQL>", ...}` for the named faces: the
  * input of perfbench/oracle.py. */
object DumpOracles {
  def main(names: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    println(names.map(n => s"${Json.str(n)}: ${sql.get(n).map(Json.str).getOrElse("null")}")
      .mkString("{", ", ", "}"))
  }
}
