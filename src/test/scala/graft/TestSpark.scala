package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** One shared local session for all suites (Test/fork := true → one JVM). */
object TestSpark {
  /** The catalog warehouse of this test JVM, deleted when it exits. */
  val warehouse = s"/tmp/graft_test_warehouse_${ProcessHandle.current().pid()}"

  lazy val spark: SparkSession = {
    sys.addShutdownHook(deleteRecursively(new File(warehouse)))
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // storage-partitioned joins / key-grouped scans over fixed-split
      // graft tables (KeyGroupedPartitioning is only honored with these)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Regions the plan's `GraftScan` node reads after pruning (the
    * `regions=N` of its explain line). */
  def regionsScanned(df: DataFrame): Int = {
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    "GraftScan \\S+ regions=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt)
      .getOrElse(throw new AssertionError(s"no GraftScan node in:\n$p"))
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
