package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** One shared local session for all suites (Test/fork := true → one JVM). */
object TestSpark {
  /** The catalog warehouse of this test JVM, deleted when it exits. */
  val warehouse = s"/tmp/graft_test_warehouse_${ProcessHandle.current().pid()}"

  lazy val spark: SparkSession = {
    sys.addShutdownHook(deleteRecursively(new File(warehouse)))
    // 8 cores whatever the machine, so plans and task counts are stable
    val s = GraftSession.builder("graft-test", cpus = 8,
      warehouse = Some(warehouse)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Spark's default split size. Region packing merges regions only under
    * a split target above Spark's 4 MB per-file open cost, and the
    * session profile's 4m split is exactly that cost, so the packing
    * tests run under this. */
  val SparkDefaultSplit = "spark.sql.files.maxPartitionBytes" -> "128m"

  /** Runs `body` with the given session confs set; afterwards each key
    * gets its previous value back, or is unset again if it was not set
    * (`conf.getOption` would return a registered key's default). */
  def withConf[A](confs: (String, String)*)(body: => A): A = {
    val c = spark.sessionState.conf
    val saved = confs.map { case (k, _) =>
      k -> Option.when(c.contains(k))(c.getConfString(k)) }
    confs.foreach { case (k, v) => c.setConfString(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => c.setConfString(k, v)
      case (k, None) => c.unsetConf(k)
    }
  }

  /** Regions the plan's `GraftScan` node reads after pruning (the
    * `regions=N` of its explain line). */
  def regionsScanned(df: DataFrame): Int = {
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    "GraftScan \\S+ regions=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt)
      .getOrElse(throw new AssertionError(s"no GraftScan node in:\n$p"))
  }

  /** Counts the jobs of test code: one ledger for the whole JVM. */
  lazy val ledger = new Ledger(spark)

  /** Spark jobs submitted by `body` on this thread (and the threads its
    * queries hand their local properties to). */
  def jobsIn(body: => Unit): Int = ledger.record(body).row.jobs

  /** Every `GraftScan` of a physical plan, in plan order, whether a
    * task reads it (`BatchScanExec`) or the driver does
    * (`GraftLocalScanExec`); adaptive plans are searched through their
    * current plan and query stages. */
  def graftScans(p: SparkPlan): Seq[graft.catalog.GraftScan] = p match {
    case b: BatchScanExec => b.scan match {
      case g: graft.catalog.GraftScan => Seq(g)
      case _ => Nil
    }
    case l: graft.catalog.GraftLocalScanExec => Seq(l.scan)
    case a: AdaptiveSparkPlanExec => graftScans(a.executedPlan)
    case q: QueryStageExec => graftScans(q.plan)
    case other => other.children.flatMap(graftScans)
  }

  /** Deletes `f` and everything under it; a symlink is removed, never
    * followed, and a missing path is a no-op. */
  def deleteRecursively(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** Temp dirs that live for one test: every dir made by [[tempDir]] is
  * deleted when the test that made it ends, pass or fail. */
trait TempDirs extends TestSuiteMixin { this: TestSuite =>
  private val dirs = scala.collection.mutable.Buffer[File]()

  protected def tempDir(prefix: String): File = dirs.synchronized {
    val d = Files.createTempDirectory(prefix).toFile
    dirs += d
    d
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally dirs.synchronized {
      dirs.foreach(TestSpark.deleteRecursively)
      dirs.clear()
    }
}
