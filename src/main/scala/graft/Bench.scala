package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.execution.ExplainMode

/** The board: every declared query timed through [[Ledger]] on the sf dir
  * `SPARK_GRAFT_SF_DIR`; the final stdout line is the benchmark JSON. With
  * `SPARK_GRAFT_ONLY` set ([[Ledger.only]]), an iteration aid: each
  * selected face also prints its warm pass in full. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.builder("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The warm passes build the region store and all catalog tables (bulk
    // load is ingest, not query time), JIT-compile the generated code and
    // cache parquet footers — so the timed passes measure steady-state
    // query latency, the same regime the DuckDB oracle timings are taken in.
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => }
    val faces = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(t => Ledger.selected(t._1))
    val ledger = new Ledger(spark)
    val results = ledger.measure(faces, sfDir) { (name, warm) =>
      if (Ledger.only.nonEmpty) report(name, warm)
    }
    val total = results.map(_._2.seconds).sum
    // Machine-contention witness: a loaded host inflates every timing
    // uniformly (a past round's driver run read 4.4x slower than a
    // quiet rerun of the same binary). Recording the 1-minute load
    // average beside the numbers — globally AND at each query's start —
    // makes a contended capture (or a contended stretch inside one)
    // self-evident rather than forensic: this process alone keeps
    // load_avg ≈ its own concurrency, so sustained readings well above
    // `cpus`-worth of bench work indicate a contended window whose
    // timings overstate steady-state latency uniformly.
    val loadAvg = Ledger.os.getSystemLoadAverage
    val json = fullJson(results, total, sfDir, loadAvg, cpus)
    // The full line (two 223-entry maps and the ledger) is larger than
    // the driver's stdout-tail capture window, which truncated it
    // mid-JSON two rounds running (BENCH_r09/r10 parsed=null). Persist the
    // full map beside the repo — but only for FULL boards at the driver's
    // bench SF (sf0.1): a SPARK_GRAFT_ONLY iteration run or a local
    // sf0.001 smoke must not clobber the committed sf0.1 anchor — and make
    // the FINAL stdout line a compact summary (total + the slowest
    // queries) that always fits the tail window. When the full map is NOT
    // persisted, it still prints (first), so no run ever loses its
    // per-query timings.
    val persisted = Ledger.only.isEmpty && sfDir.contains("sf0.1") && {
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_LOCAL.json"), json + "\n")
        true
      } catch { case NonFatal(_) => false }
    }
    if (!persisted) println(json)
    // stop Spark BEFORE the final line: if the driver captures stdout
    // and stderr merged, shutdown-time WARN logs must not land after
    // the JSON the driver parses from the tail
    spark.stop()
    println(finalLine(results.map { case (k, p) => k -> p.seconds }, total,
      sfDir, loadAvg, cpus, persisted))
  }

  /** The full map: seconds per query (-1 if it failed in every timed
    * pass), the load average at each query's start, each query's ledger
    * row and the board's sum of them per layer. */
  def fullJson(results: Seq[(String, Pass)], total: Double, sfDir: String,
      loadAvg: Double, cpus: Int): String = {
    def obj(f: Pass => String) =
      Ledger.jsonObject(results.map { case (k, p) => k -> f(p) })
    val sum = results.map(_._2.row).foldLeft(LedgerRow())(_ + _)
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${obj(p => f"${p.seconds}%.4f")},""" +
      s""""sf":"$sfDir","load_avg":$loadAvg,""" +
      s""""load_at_query":${obj(p => f"${p.load}%.2f")},""" +
      s""""cpus":"$cpus","ledger":${obj(_.row.json)},""" +
      s""""ledger_sum":${sum.json}}"""
  }

  /** The last stdout line, which the benchmark driver parses: the total,
    * the 25 slowest queries, and where the full map went. Its keys and
    * their order are a contract. */
  def finalLine(seconds: Seq[(String, Double)], total: Double, sfDir: String,
      loadAvg: Double, cpus: Int, persisted: Boolean): String = {
    val top = Ledger.jsonObject(
      seconds.sortBy(-_._2).take(25).map { case (k, v) => k -> f"$v%.3f" })
    val fullMap = if (persisted) "\"BENCH_LOCAL.json\"" else "\"stdout\""
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$top,""" +
      s""""sf":"$sfDir","load_avg":$loadAvg,"cpus":"$cpus",""" +
      s""""n_queries":${seconds.size},"full_map":$fullMap}"""
  }

  /** One face's warm pass, in full: the iteration-mode print. */
  private def report(name: String, p: Pass): Unit = {
    println(f"[ledger] $name warm ${p.seconds}%.3f s ${p.row.json}")
    println("[ledger]    id  wall_ms  task_ms deser_ms  gc_ms   shR_MB   shW_MB" +
      "    in_MB  tasks  name")
    p.stages.sortBy(-_.wallMs).foreach(s => println(f"[ledger] ${s.id}%5d " +
      f"${s.wallMs}%8d ${s.taskMs}%8d ${s.deserMs}%8d ${s.gcMs}%6d " +
      f"${s.shuffleReadMb}%8.2f ${s.shuffleWriteMb}%8.2f ${s.inputMb}%8.2f " +
      f"${s.tasks}%6d  ${s.name}"))
    println(s"[ledger] $name planning phases (ms): " +
      p.phases.map { case (k, v) => s"$k=$v" }.mkString(" "))
    // the count's query ends last: its plan is the face's final plan
    p.queries.lastOption.foreach { qe =>
      // Approximate task-binary weight: java-serialize the final plan's
      // RDD graph (what every task deserializes via the stage's
      // taskBinary broadcast). Big numbers here mean heavy expression
      // trees / captured state riding to every task.
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(qe.toRdd)
        oos.close()
        println(s"[ledger] $name serialized final-plan RDD graph: " +
          s"${bos.size()} bytes")
      } catch { case NonFatal(e) =>
        println(s"[ledger] $name rdd serialize probe failed: ${e.getMessage}")
      }
      println(qe.explainString(ExplainMode.fromString("formatted")))
    }
  }
}
