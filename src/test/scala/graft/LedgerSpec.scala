package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftAccel

/** What [[Ledger]] attributes to a pass, by count (never by wall time),
  * and the benchmark line's contract. */
class LedgerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ledger = TestSpark.ledger

  /** The kept row of one face through the timing loop (one timed pass). */
  private def timed(face: String): LedgerRow = {
    val Seq((_, p)) = ledger.measure(
      Seq(face -> SparkEntry.queries(face)), TestSpark.sfDir, timed = 1)()
    assert(p.seconds >= 0, s"$face failed")
    p.row
  }

  /** The row of collecting a face, once it is warm. */
  private def collected(face: String): LedgerRow = {
    val q = SparkEntry.queries(face)
    q(spark, TestSpark.sfDir).collect()
    ledger.record(q(spark, TestSpark.sfDir).collect()).row
  }

  test("a local point read records no job and one region scanned") {
    val r = collected("catalog_point_lookup")
    assert(r.jobs == 0 && r.stages == 0 && r.tasks == 0, r)
    assert(r.regionsScanned == 1 && r.regionsTotal >= 1, r)
    assert(r.planMs >= 0, r)
    // a count aggregates the driver-read rows in at most one task
    val c = timed("catalog_point_lookup")
    assert(c.jobs <= 1 && c.tasks <= 1 && c.inputMb == 0.0, c)
    assert(c.regionsScanned == 1, c)
  }

  test("the same read task-side records its job, tasks and region") {
    TestSpark.withConf(GraftAccel.LocalRead -> "false") {
      val r = collected("catalog_point_lookup")
      assert(r.jobs >= 1 && r.tasks >= 1, r)
      assert(r.regionsScanned == 1, r)
      val c = timed("catalog_point_lookup")
      assert(c.jobs >= 1 && c.tasks >= 1 && c.inputMb > 0.0, c)
      assert(c.regionsScanned == 1, c)
    }
  }

  test("a shuffle face records its stages and planning time") {
    val r = timed("join_inner")
    assert(r.stages >= 2 && r.tasks >= r.stages, r)
    assert(r.planMs >= 0, r)
  }

  test("the ledger JSON carries every layer") {
    val keys = new ObjectMapper().readTree(LedgerRow().json).fieldNames()
    assert(Iterator.continually(keys).takeWhile(_.hasNext).map(_.next())
      .toSeq == Seq("plan_ms", "jobs", "stages", "tasks", "task_ms",
        "deser_ms", "gc_ms", "shuffle_mb", "input_mb", "regions_total",
        "regions_scanned"))
  }

  test("Bench's final line keeps the keys, in order, the driver parses") {
    val line = Bench.finalLine(Seq("a" -> 0.5, "b" -> -1.0), -0.5,
      "/data/sf0.1", 1.25, 4, persisted = true)
    val node = new ObjectMapper().readTree(line)
    val keys = node.fieldNames()
    assert(Iterator.continually(keys).takeWhile(_.hasNext).map(_.next())
      .toSeq == Seq("metric", "value", "unit", "queries", "sf", "load_avg",
        "cpus", "n_queries", "full_map"), line)
    assert(node.get("queries").fieldNames().next() == "a")
    assert(node.get("full_map").asText == "BENCH_LOCAL.json")
    assert(node.get("n_queries").asInt == 2)
  }
}
