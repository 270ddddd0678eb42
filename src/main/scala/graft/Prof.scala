package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.util.control.NonFatal

/** Single-query profiling aid: times one registered query on the bench
  * session config (warm pass first, so catalog builds and JIT are out
  * of the number), prints a per-stage cost table from a stage listener
  * (wall duration, summed task time, shuffle bytes — the guide §1/§7
  * loop without a UI), and prints the formatted physical plan.
  *
  * With `reps = 0` it prints the plan only, after the warm pass (or,
  * with `SPARK_GRAFT_PROF_COLD=1`, without one). That plan is AQE's
  * initial plan (`isFinalPlan=false`): `count()` runs a wrapping query,
  * and the RDD probe that finalizes the plan is skipped because it
  * would execute it. `reps >= 1` prints the final plan.
  *
  * Usage: `runMain graft.Prof <queryName>[,<queryName>…] [sfDir] [reps]`
  */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: runMain graft.Prof <queryName> [sfDir] [reps]")
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.builder("graft-prof").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional: per-task serialized-size lines ("Starting task ... bytes)")
    // from TaskSetManager — the §7 probe for task-binary bloat
    if (sys.env.get("SPARK_GRAFT_PROF_TASKSIZE").contains("1")) {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.TaskSetManager",
        org.apache.logging.log4j.Level.INFO)
    }
    val names = args(0).split(',').toSeq
    names.foreach { n =>
      require(SparkEntry.queries.contains(n), s"unknown query '$n'")
    }
    for (name <- names) {
      val q = SparkEntry.queries(name)
      var df = q(spark, d)
      // SPARK_GRAFT_PROF_COLD=1 skips the warm pass so pass0 shows the
      // cold cost (in-query persists, catalog builds, codegen) that the
      // bench's untimed warmup otherwise hides
      if (!sys.env.get("SPARK_GRAFT_PROF_COLD").contains("1"))
        df.count() // warm: builds catalog tables, JITs codegen
      if (reps > 0) {
        // stage listener: collect (stageId, name, wall ms, task ms, shuffle
        // read/write MB, input MB, tasks) for the timed passes only
        case class St(id: Int, name: String, wallMs: Long, taskMs: Long,
          deserMs: Long, gcMs: Long,
          shReadMb: Double, shWriteMb: Double, inMb: Double, tasks: Int)
        val stages = scala.collection.mutable.ArrayBuffer[St]()
        val listener = new SparkListener {
          override def onStageCompleted(
              e: SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            val m = si.taskMetrics
            stages.synchronized {
              stages += St(si.stageId,
                si.name.take(80),
                si.completionTime.getOrElse(0L) -
                  si.submissionTime.getOrElse(0L),
                m.executorRunTime,
                m.executorDeserializeTime,
                m.jvmGCTime,
                m.shuffleReadMetrics.totalBytesRead / 1e6,
                m.shuffleWriteMetrics.bytesWritten / 1e6,
                m.inputMetrics.bytesRead / 1e6,
                si.numTasks)
            }
          }
        }
        spark.sparkContext.addSparkListener(listener)
        var best = Double.MaxValue
        for (i <- 0 until reps) {
          stages.synchronized(stages.clear())
          val t0 = System.nanoTime()
          df = q(spark, d)
          df.count()
          val dt = (System.nanoTime() - t0) / 1e9
          best = math.min(best, dt)
          // drain the async listener bus so late StageCompleted events from
          // this pass are in the table before it prints (listenerBus is
          // private[spark]; reflection keeps this tool dependency-free)
          try {
            val sc = spark.sparkContext
            val m = sc.getClass.getMethod("listenerBus")
            val bus = m.invoke(sc)
            bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
          } catch { case NonFatal(_) => Thread.sleep(50) }
          println(f"[prof] $name pass$i $dt%.3f s, ${stages.size} stages")
          val tab = stages.synchronized(stages.toSeq).sortBy(-_.wallMs)
          println(f"[prof] ${"id"}%5s ${"wall_ms"}%8s ${"task_ms"}%8s " +
            f"${"deser_ms"}%8s ${"gc_ms"}%6s " +
            f"${"shR_MB"}%8s ${"shW_MB"}%8s ${"in_MB"}%8s ${"tasks"}%6s  name")
          tab.foreach { s =>
            println(f"[prof] ${s.id}%5d ${s.wallMs}%8d ${s.taskMs}%8d " +
              f"${s.deserMs}%8d ${s.gcMs}%6d " +
              f"${s.shReadMb}%8.2f ${s.shWriteMb}%8.2f ${s.inMb}%8.2f " +
              f"${s.tasks}%6d  ${s.name}")
          }
        }
        // one listener per query in the comma list: remove it before the
        // next query registers its own, so dead buffers stop accumulating
        spark.sparkContext.removeSparkListener(listener)
        println(f"[prof] $name best $best%.3f s over $reps reps")
        // Approximate task-binary weight: java-serialize the executed
        // plan's RDD graph (what every task deserializes via the stage's
        // taskBinary broadcast). Big numbers here mean heavy expression
        // trees / captured state riding to every task.
        try {
          val bos = new java.io.ByteArrayOutputStream()
          val oos = new java.io.ObjectOutputStream(bos)
          oos.writeObject(df.queryExecution.toRdd)
          oos.close()
          println(s"[prof] $name serialized final-plan RDD graph: " +
            s"${bos.size()} bytes")
        } catch { case NonFatal(e) =>
          println(
            s"[prof] $name rdd serialize probe failed: ${e.getMessage}")
        }
        println(s"[prof] $name planning phases (ms): " +
          df.queryExecution.tracker.phases.map { case (k, v) =>
            s"$k=${v.durationMs}" }.mkString(" "))
      }
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
