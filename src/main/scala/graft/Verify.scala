package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated name substrings — run only
    // matching queries (local iteration; the driver always passes 2)
    val only = args.drop(2).headOption.map(_.split(',').toSeq)
    def selected(name: String) =
      only.forall(_.exists(name.contains))
    val spark = GraftSession.builder("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must NEVER read as green-by-absence: record it
    // in failures.json AND drop a <name>/_FAILED marker where its output
    // parquet would have been, so any grader that lists outDir sees a
    // directory for every registered query and a loud marker for reds.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Canonical-hash sidecar: recomputed from the parquet the
        // driver will read, so any later hash-red can be diffed
        // against what was provably on disk at dump time (check.py
        // re-derives the same SHA-256 from the same file).
        try Files.writeString(
          Paths.get(outDir, name, "_canon.json"),
          CanonHash.sidecarJson(spark.read.parquet(s"$outDir/$name")))
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name canon sidecar failed: " +
            e.getMessage)
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        val qd = Paths.get(outDir, name)
        try {
          Files.createDirectories(qd)
          Files.writeString(qd.resolve("_FAILED"),
            failures(name).take(4000))
        } catch { case NonFatal(_) => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val fjson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), fjson)
    // Registry of every query THIS run was asked to produce, so a
    // grader can detect one that vanished entirely (crashed before
    // writing its directory, or silently dropped from grading).
    val reg = SparkEntry.queries.keys.toSeq.filter(selected).sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/registry.json"), reg)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
