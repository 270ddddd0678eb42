package graft.catalog

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

import graft.codec.KeyCodec

/** Commit-log behavior: appends are O(1) segment writes (never an
  * O(regions) manifest rewrite), reads merge checkpoint + log
  * incrementally, the log folds into a checkpoint at the threshold,
  * and seq/id counters stay monotone across folds. This is the
  * file-manifest analogue of Delta's log-segment + checkpoint layout;
  * the reference never needs it only because HBase serves region
  * metadata from its own meta table (`HBaseRelation.scala:203-235`
  * caches what the server owns).
  */
class ManifestLogSpec extends AnyFunSuite with graft.TempDirs {

  private def tmpDir(): File = tempDir("graft-manifest-log")

  private def hexKey(v: Long): String =
    KeyCodec.toHex(KeyCodec.encode(LongType, v))

  private def region(i: Long): RegionMeta =
    RegionMeta(s"part-$i.parquet", 1000L,
      Seq(hexKey(i * 1000L)), Seq(hexKey((i + 1) * 1000L - 1)))

  // the NEWEST versioned checkpoint (cp-<seq>.json in the log dir)
  private def newestCpFile(dir: File): File = {
    val log = new File(dir, TableMeta.LogDirName)
    val names = Option(log.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("cp-") && n.endsWith(".json")).sorted
    assert(names.nonEmpty, s"no checkpoint under $log")
    new File(log, names.last)
  }

  private def checkpointBytes(dir: File): Seq[Byte] =
    Files.readAllBytes(newestCpFile(dir).toPath).toSeq

  // LIVE bare-seq segments: above the newest checkpoint (consumed
  // segments beneath it are retained for the time-travel horizon and
  // are invisible to readers, so they do not count as log state)
  private def segCount(dir: File): Int = {
    val names = Option(new File(dir, TableMeta.LogDirName).list())
      .getOrElse(Array.empty[String])
    val cpMax = names.filter(n => n.startsWith("cp-") && n.endsWith(".json"))
      .flatMap(_.stripPrefix("cp-").stripSuffix(".json").toLongOption)
      .maxOption.getOrElse(0L)
    names.filter(n => n.endsWith(".json") && !n.startsWith("cp-"))
      .flatMap(_.stripSuffix(".json").toLongOption)
      .count(_ > cpMax)
  }

  test("an append writes a log segment; the checkpoint is untouched") {
    val dir = tmpDir()
    TableMeta.saveState(dir, TableMeta.ManifestState(
      1L, (0L until 50L).map(i => region(i).copy(id = i + 1)), Map.empty))
    val cp = checkpointBytes(dir)
    TableMeta.appendRegions(dir, Seq(region(50L)))
    assert(checkpointBytes(dir) == cp,
      "append must not rewrite the checkpoint file")
    assert(segCount(dir) == 1)
    val s = TableMeta.loadState(dir)
    assert(s.regions.size == 51)
    assert(s.regions.last.file == "part-50.parquet")
    assert(s.regions.last.id == 51L, "segment region gets a stamped id")
    assert(s.nextId == 52L)
  }

  test("loads after an append apply only the new segment (incremental)") {
    val dir = tmpDir()
    TableMeta.saveState(dir, TableMeta.ManifestState(
      1L, (0L until 20L).map(i => region(i).copy(id = i + 1)), Map.empty))
    val s0 = TableMeta.loadState(dir) // warm the cache
    assert(s0.regions.size == 20)
    val cpBefore = TableMeta.manifestParses.get()
    val segBefore = TableMeta.segmentParses.get()
    TableMeta.appendRegions(dir, Seq(region(20L)))
    val s1 = TableMeta.loadState(dir)
    assert(s1.regions.size == 21)
    assert(TableMeta.manifestParses.get() == cpBefore,
      "appending + reading must not re-parse the checkpoint")
    assert(TableMeta.segmentParses.get() == segBefore + 1)
    (1 to 10).foreach(_ => assert(TableMeta.loadState(dir) eq s1,
      "repeated loads with no new commits return the cached instance"))
    assert(TableMeta.manifestParses.get() == cpBefore)
    assert(TableMeta.segmentParses.get() == segBefore + 1)
  }

  test("a fresh reader (cold cache) merges checkpoint + log") {
    val dir = tmpDir()
    TableMeta.saveState(dir, TableMeta.ManifestState(
      3L, Seq(region(0L).copy(id = 1L)), Map.empty))
    TableMeta.appendRegions(dir, Seq(region(1L)))
    TableMeta.appendRegions(dir, Seq(region(2L)))
    TableMeta.evictManifestCache(dir) // simulate another process
    val s = TableMeta.loadState(dir)
    assert(s.gen == 3L)
    assert(s.regions.map(_.file) ==
      Seq("part-0.parquet", "part-1.parquet", "part-2.parquet"))
    assert(s.regions.map(_.id) == Seq(1L, 2L, 3L))
  }

  test("the log folds into a checkpoint at the threshold; seq stays " +
      "monotone across the fold") {
    val dir = tmpDir()
    val saved = TableMeta.logCheckpointEvery
    try {
      TableMeta.logCheckpointEvery = 4
      TableMeta.saveState(dir,
        TableMeta.ManifestState(1L, Nil, Map.empty))
      (0L until 4L).foreach(i => TableMeta.appendRegions(dir, Seq(region(i))))
      assert(segCount(dir) == 0, "threshold reached: log folded away")
      val s = TableMeta.loadState(dir)
      assert(s.regions.size == 4)
      // the next append must NOT reuse a consumed seq: lastSeq persists
      // in the checkpoint
      TableMeta.appendRegions(dir, Seq(region(4L)))
      // the initial full-state write consumed seq 1, the four appends
      // seqs 2-5; the fold checkpointed at 5, so this append is seq 6
      assert(new File(new File(dir, TableMeta.LogDirName),
        "000000000006.json").isFile,
        "segment seq continues after the fold")
      val s2 = TableMeta.loadState(dir)
      assert(s2.regions.size == 5)
      assert(s2.regions.map(_.id) == (1L to 5L))
    } finally TableMeta.logCheckpointEvery = saved
  }

  test("commitEpoch logs through segments: replay dedup and the ledger " +
      "survive a fold") {
    val dir = tmpDir()
    TableMeta.saveState(dir, TableMeta.ManifestState(1L, Nil, Map.empty))
    assert(TableMeta.commitEpoch(dir, Seq(region(0L)), "q1", 0L))
    assert(!TableMeta.commitEpoch(dir, Seq(region(0L)), "q1", 0L),
      "duplicate epoch replay must be rejected from the log view")
    assert(TableMeta.commitEpoch(dir, Seq(region(1L)), "q1", 1L))
    val before = TableMeta.loadState(dir)
    assert(before.regions.size == 2)
    assert(before.epochs("q1").epoch == 1L)
    // fold and re-check: semantics identical from the checkpoint
    TableMeta.saveState(dir, before)
    assert(segCount(dir) == 0)
    val after = TableMeta.loadState(dir)
    assert(after.regions.map(r => (r.file, r.id)) ==
      before.regions.map(r => (r.file, r.id)))
    assert(after.epochs == before.epochs)
    assert(!TableMeta.commitEpoch(dir, Seq(region(1L)), "q1", 1L))
  }

  test("ids stay distinct across segments, folds, and full rewrites") {
    val dir = tmpDir()
    TableMeta.saveState(dir, TableMeta.ManifestState(1L, Nil, Map.empty))
    TableMeta.appendRegions(dir, Seq(region(0L), region(1L)))
    val s1 = TableMeta.loadState(dir)
    // a DELETE-style rewrite derived from the merged view
    TableMeta.saveState(dir, s1.copy(gen = 2L,
      regions = s1.regions.tail, retired = s1.regions.take(1)))
    TableMeta.appendRegions(dir, Seq(region(2L)))
    TableMeta.appendRegions(dir, Seq(region(3L)))
    val s2 = TableMeta.loadState(dir)
    val ids = (s2.regions ++ s2.retired).map(_.id)
    assert(ids.distinct.size == ids.size, s"duplicate ids in $ids")
    assert(s2.nextId > ids.max)
  }

  test("an orphan segment left by a crash mid-checkpoint is ignored " +
      "and cleaned by the next fold") {
    val dir = tmpDir()
    TableMeta.saveState(dir, TableMeta.ManifestState(1L, Nil, Map.empty))
    TableMeta.appendRegions(dir, Seq(region(0L)))
    TableMeta.appendRegions(dir, Seq(region(1L)))
    // the initial full-state write was seq 1 (folded away on write);
    // the two appends are seqs 2 and 3
    val seg1 = new File(new File(dir, TableMeta.LogDirName),
      "000000000002.json")
    val keep = Files.readAllBytes(seg1.toPath)
    val folded = TableMeta.loadState(dir)
    TableMeta.saveState(dir, folded) // checkpoint consumes both segments
    // crash simulation: the checkpoint landed but a consumed segment's
    // delete did not — resurrect segment 1 as the crash artifact
    Files.write(seg1.toPath, keep)
    TableMeta.evictManifestCache(dir)
    val s = TableMeta.loadState(dir)
    assert(s.regions.size == 2,
      "a segment with seq <= the checkpoint's lastSeq must be ignored")
    assert(s.regions.map(_.id) == Seq(1L, 2L), "no double-applied region")
    TableMeta.saveState(dir, s) // the next checkpoint covers the orphan
    assert(segCount(dir) == 0)
  }

  test("100k regions: appends cost O(1), not an O(regions) rewrite") {
    val dir = tmpDir()
    val n = 100000L
    TableMeta.saveState(dir, TableMeta.ManifestState(
      1L, (0L until n).map(i => region(i).copy(id = i + 1)), Map.empty))
    TableMeta.loadState(dir) // parse the checkpoint once
    val cp = checkpointBytes(dir)
    val t0 = System.nanoTime()
    (0 until 10).foreach(i =>
      TableMeta.appendRegions(dir, Seq(region(n + i))))
    val appendMs = (System.nanoTime() - t0) / 1e6
    assert(checkpointBytes(dir) == cp,
      "10 appends must leave the 100k-region checkpoint untouched")
    val s = TableMeta.loadState(dir)
    assert(s.regions.size == n + 10)
    info(f"10 appends on a 100k-region table: ${appendMs}%.0fms")
    // a rewrite-per-append would cost ~10 full saves (tens of seconds)
    assert(appendMs < 5000, f"appends took ${appendMs}%.0fms")
  }

  test("lock-free readers stay consistent while a writer appends and " +
      "folds concurrently") {
    val dir = tmpDir()
    val saved = TableMeta.logCheckpointEvery
    try {
      TableMeta.logCheckpointEvery = 3 // fold often to stress the race
      TableMeta.saveState(dir, TableMeta.ManifestState(1L, Nil, Map.empty))
      val failures = new java.util.concurrent.atomic.AtomicReference[String]
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reader = new Thread(() => {
        var last = 0
        while (!done.get()) {
          try {
            val s = TableMeta.loadState(dir)
            val names = s.regions.map(_.file)
            val cnt = s.regions.size
            if (cnt < last) failures.compareAndSet(null,
              s"region count went backwards: $last -> $cnt")
            if (names.distinct.size != names.size)
              failures.compareAndSet(null, s"duplicate regions: $names")
            last = cnt
          } catch {
            case e: Exception =>
              failures.compareAndSet(null, s"reader threw: $e")
          }
        }
      })
      reader.start()
      (0L until 60L).foreach(i => TableMeta.appendRegions(dir, Seq(region(i))))
      done.set(true)
      reader.join(10000)
      assert(failures.get() == null, String.valueOf(failures.get()))
      assert(TableMeta.loadState(dir).regions.size == 60)
    } finally TableMeta.logCheckpointEvery = saved
  }
}
