package graft.catalog

import java.io.File
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

import graft.codec.KeyCodec

/** The lock-free optimistic commit protocol ([[CommitStore.Cas]]):
  * `exclusively` takes NO lock — the conditional put of each commit's
  * log-segment seq is the only serialization point, and a loser
  * re-runs its whole read-modify-write body against the fresh state
  * (the log-store protocol object stores need, where advisory locks
  * silently do not lock). Proves the three commit shapes compose
  * without locks:
  *
  *  - O(1) APPEND deltas (insert / streaming-epoch commits),
  *  - O(touched) REMOVE deltas (DELETE / row-level rewrites),
  *  - O(regions) SWAP segments + versioned checkpoint folds
  *    (compaction / full rewrites),
  *
  * under many-way races, with nothing lost, nothing resurrected, ids
  * unique, and the race counter proving the races actually happened
  * (a race test that never raced proves nothing).
  */
class CasCommitSpec extends AnyFunSuite with graft.TempDirs {

  private def tmpDir(): File = tempDir("graft-cas-commit")

  private def hexKey(v: Long): String =
    KeyCodec.toHex(KeyCodec.encode(LongType, v))

  private def region(i: Long): RegionMeta =
    RegionMeta(s"part-$i.parquet", 1000L,
      Seq(hexKey(i * 1000L)), Seq(hexKey((i + 1) * 1000L - 1)))

  /** Run `body` with the global commit store set to [[CommitStore.Cas]]
    * and return the number of commit races Cas retried during it. */
  private def underCas[T](body: => T): Long = {
    val prev = TableMeta.commitStore
    TableMeta.commitStore = CommitStore.Cas
    val races0 = CommitStore.Cas.racesRetried.get()
    try { body; CommitStore.Cas.racesRetried.get() - races0 }
    finally TableMeta.commitStore = prev
  }

  private def race(n: Int)(task: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(n)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
    (0 until n).foreach { i =>
      pool.execute { () =>
        start.await()
        try task(i)
        catch { case t: Throwable => failed.compareAndSet(null, t) }
        finally done.countDown()
      }
    }
    start.countDown()
    assert(done.await(120, TimeUnit.SECONDS), "racers timed out")
    pool.shutdown()
    if (failed.get() != null) throw failed.get()
  }

  test("cas: 32 lock-free appenders — all commits land, ids unique, " +
      "and the races actually happened") {
    val dir = tmpDir()
    val n = 32
    val races = underCas {
      race(n)(i => TableMeta.appendRegions(dir, Seq(region(i.toLong))))
    }
    val s = TableMeta.loadState(dir)
    assert(s.regions.map(_.file).toSet ==
      (0 until n).map(i => s"part-$i.parquet").toSet,
      "a lock-free committer's regions were dropped")
    val ids = s.regions.map(_.id)
    assert(ids.distinct.size == ids.size, s"duplicate ids: $ids")
    // 32 simultaneous committers with no lock MUST have collided; if
    // this ever reads 0 the test raced nothing and proves nothing
    assert(races > 0, "no commit race occurred — the test is vacuous")
    info(s"races retried: $races")
  }

  test("cas: appends race folds — no region lost, no count regression") {
    val dir = tmpDir()
    val savedEvery = TableMeta.logCheckpointEvery
    try {
      TableMeta.logCheckpointEvery = 3 // fold often to stress cp races
      val races = underCas {
        race(8) { i =>
          if (i < 6)
            (0 until 10).foreach(j =>
              TableMeta.appendRegions(dir, Seq(region(i * 10L + j))))
          else
            // dedicated folders racing the appenders' own fold trigger
            (0 until 10).foreach { _ => TableMeta.foldLog(dir) }
        }
      }
      val s = TableMeta.loadState(dir)
      assert(s.regions.size == 60,
        s"expected 60 committed regions, found ${s.regions.size}")
      assert(s.regions.map(_.id).distinct.size == 60)
      info(s"races retried: $races")
    } finally TableMeta.logCheckpointEvery = savedEvery
  }

  test("cas: remove deltas race appends — removed stay removed, " +
      "appends all survive") {
    val dir = tmpDir()
    // seed 16 regions to delete, ids 1-16
    TableMeta.saveRegions(dir, (0L until 16L).map(region), 1L)
    val seeded = TableMeta.loadState(dir).regions
    assert(seeded.size == 16)
    val races = underCas {
      race(16) { i =>
        if (i % 2 == 0)
          TableMeta.appendRegions(dir, Seq(region(100L + i)))
        else TableMeta.withManifestLock(dir) {
          // a DELETE-shaped commit: retire one seeded region by id,
          // exactly like GraftDelete's metadata fast path
          val (state, viewSeq) = TableMeta.commitView(dir)
          val victim = seeded(i)
          if (state.regions.exists(_.id == victim.id))
            TableMeta.writeDelta(dir, viewSeq,
              removeIds = Set(victim.id),
              retiredAdd = Seq(victim),
              gen = state.gen + 1)
        }
      }
    }
    val s = TableMeta.loadState(dir)
    val files = s.regions.map(_.file).toSet
    (0 until 16 by 2).foreach(i => assert(
      files.contains(s"part-${100 + i}.parquet"),
      s"append of part-${100 + i} was lost to a racing delete"))
    (1 until 16 by 2).foreach(i => assert(
      !files.contains(s"part-$i.parquet"),
      s"deleted region part-$i was resurrected by a racing commit"))
    assert(s.retired.map(_.file).toSet ==
      (1 until 16 by 2).map(i => s"part-$i.parquet").toSet)
    info(s"races retried: $races")
  }

  test("cas: a full-state swap racing appends loses and retries — " +
      "the late append survives the swap") {
    val dir = tmpDir()
    TableMeta.saveRegions(dir, (0L until 8L).map(region), 1L)
    val races = underCas {
      race(9) { i =>
        if (i < 8)
          TableMeta.appendRegions(dir, Seq(region(100L + i)))
        else TableMeta.withManifestLock(dir) {
          // a compaction-shaped commit: swap every region present in
          // THIS view for one merged region, carrying nothing forward
          // — appends that land after the view force a CAS retry, so
          // the swap can never clobber them
          val (state, viewSeq) = TableMeta.commitView(dir)
          val merged = region(999L).copy(id = state.nextId)
          TableMeta.saveStateAt(dir, viewSeq, TableMeta.ManifestState(
            state.gen + 1, Seq(merged), state.epochs, state.regions,
            state.nextId + 1))
        }
      }
    }
    val s = TableMeta.loadState(dir)
    val files = s.regions.map(_.file).toSet
    assert(files.contains("part-999.parquet"), "the swap itself landed")
    // every append either happened before the swap's final view (then
    // it was swapped into part-999's retired set) or after (then it
    // must still be live); nothing may be silently gone
    val retiredFiles = s.retired.map(_.file).toSet
    (0 until 8).foreach { i =>
      val f = s"part-${100 + i}.parquet"
      assert(files.contains(f) || retiredFiles.contains(f),
        s"append $f vanished across the racing swap")
    }
    val ids = (s.regions ++ s.retired).map(_.id)
    assert(ids.distinct.size == ids.size, s"duplicate ids: $ids")
    info(s"races retried: $races")
  }

  test("cas: checkpoint content at a seq is deterministic, so a fold " +
      "race is benign — concurrent folders agree") {
    val dir = tmpDir()
    TableMeta.saveRegions(dir, (0L until 4L).map(region), 1L)
    (4L until 12L).foreach(i => TableMeta.appendRegions(dir, Seq(region(i))))
    val folded = new AtomicInteger
    underCas {
      race(8) { _ =>
        TableMeta.foldLog(dir)
        folded.incrementAndGet()
      }
    }
    assert(folded.get() == 8)
    val s = TableMeta.loadState(dir)
    assert(s.regions.size == 12)
    assert(s.regions.map(_.id).distinct.size == 12)
    // the 8 racing folds all fold the same log prefix, so they
    // publish exactly ONE new checkpoint name (if-absent put; losers
    // observe the identical fold already there). The initial save's
    // checkpoint is retained beneath it for the time-travel horizon.
    val log = new File(dir, TableMeta.LogDirName)
    val cps = log.list().filter(_.startsWith("cp-"))
    assert(cps.length == 2,
      s"expected the initial checkpoint plus ONE from 8 racing folds, " +
        s"got: ${cps.toSeq.sorted}")
  }

  test("cas: a writer whose view predates a fold cannot re-win a " +
      "cleaned seq — the stale-view guard rejects it loudly") {
    val dir = tmpDir()
    TableMeta.saveRegions(dir, Seq(region(0L)), 1L)
    underCas {
      val (_, staleSeq) = TableMeta.commitView(dir)
      // another committer appends, a fold consumes the seq, and the
      // retention horizon passes (simulated by deleting the consumed
      // segment name — exactly what cleanup does after the horizon)
      TableMeta.appendRegions(dir, Seq(region(1L)))
      TableMeta.foldLog(dir)
      val consumed = new File(new File(dir, TableMeta.LogDirName),
        f"${staleSeq + 1}%012d.json")
      consumed.delete()
      // without the guard this putIfAbsent would WIN the recycled name
      // and the commit would be invisible below the checkpoint
      intercept[java.util.ConcurrentModificationException] {
        TableMeta.writeDelta(dir, staleSeq, regions = Seq(region(2L)))
      }
      assert(!consumed.exists(),
        "the stale writer must not have recreated the consumed seq")
      // a fresh view commits normally
      TableMeta.appendRegions(dir, Seq(region(2L)))
    }
    val s = TableMeta.loadState(dir)
    assert(s.regions.map(_.file).toSet ==
      Set("part-0.parquet", "part-1.parquet", "part-2.parquet"))
  }

  test("cas is selectable by name; posix stays the default") {
    assert(CommitStore.select("cas") eq CommitStore.Cas)
    assert(CommitStore.select(" CAS ") eq CommitStore.Cas)
    assert(CommitStore.select("posix") eq CommitStore.LockedPosix)
  }

  test("cas end-to-end: the full SQL lifecycle runs lock-free " +
      "(insert / UPDATE / DELETE / compact / vacuum)") {
    val spark = graft.TestSpark.spark
    val prev = TableMeta.commitStore
    TableMeta.commitStore = CommitStore.Cas
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.casdb")
      spark.sql("DROP TABLE IF EXISTS graft.casdb.life")
      spark.sql(
        """CREATE TABLE graft.casdb.life (k BIGINT, v STRING)
          |USING graft TBLPROPERTIES ('keyCols'='k')""".stripMargin)
      (0 until 4).foreach(b => spark.sql(
        s"INSERT INTO graft.casdb.life SELECT id, concat('v', id) " +
          s"FROM range(${b * 100}, ${b * 100 + 100})"))
      spark.sql("UPDATE graft.casdb.life SET v = 'patched' WHERE k = 150")
      spark.sql("DELETE FROM graft.casdb.life WHERE k >= 300")
      spark.sql("CALL graft.sys.compact(table => 'casdb.life', " +
        "target_regions => 2)")
      spark.sql("CALL graft.sys.vacuum(table => 'casdb.life')")
      val rows = spark.sql(
        "SELECT count(*), sum(k) FROM graft.casdb.life").head()
      assert(rows.getLong(0) == 300L)
      assert(rows.getLong(1) == (0L until 300L).sum)
      assert(spark.sql("SELECT v FROM graft.casdb.life WHERE k = 150")
        .head().getString(0) == "patched")
    } finally {
      TableMeta.commitStore = prev
      spark.sql("DROP TABLE IF EXISTS graft.casdb.life")
    }
  }
}
