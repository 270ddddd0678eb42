package graft.catalog

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

import graft.codec.KeyCodec

/** Manifest-cache behavior + the 100k-region scale probe.
  *
  * The reference caches region info with a 600 s TTL
  * (`HBaseRelation.fetchPartitions:203-235`, `HBaseSQLConf.scala:44-45`);
  * graft invalidates by file identity instead, so repeated scans cost a
  * stat, not an O(regions) JSON parse, with no staleness window. The
  * scale probe pins the driver-side costs that only show up at real
  * region counts: one parse, then cached planning must be effectively
  * free, and pruning must stay sub-second over 100k regions.
  */
class ManifestCacheSpec extends AnyFunSuite with graft.TempDirs {

  private def tmpDir(): File = tempDir("graft-manifest-cache")

  private def hexKey(v: Long): String =
    KeyCodec.toHex(KeyCodec.encode(LongType, v))

  private def region(i: Long, span: Long): RegionMeta =
    RegionMeta(s"part-$i.parquet", span,
      Seq(hexKey(i * span)), Seq(hexKey((i + 1) * span - 1)),
      bucket = (i % 32).toInt, id = i + 1,
      stats = Map(
        "price" -> ColStat(Some(hexKey(i)), Some(hexKey(i + 1000)), 3),
        "day" -> ColStat(Some(hexKey(i % 365)), Some(hexKey(i % 365 + 1)), 0)))

  test("repeated loads hit the cache; a commit invalidates it") {
    val dir = tmpDir()
    TableMeta.saveState(dir, TableMeta.ManifestState(
      1L, (0L until 16L).map(region(_, 1000L)), Map.empty))
    val before = TableMeta.manifestParses.get()
    val s1 = TableMeta.loadState(dir)
    (1 to 20).foreach(_ => assert(TableMeta.loadState(dir) eq s1))
    assert(TableMeta.loadGeneration(dir) == 1L)
    assert(TableMeta.manifestParses.get() == before + 1,
      "20 repeated loads + a generation read must parse exactly once")
    // a commit (append/compact/delete all go through saveState)
    // invalidates: the next load re-parses, later loads hit again
    TableMeta.saveState(dir, s1.copy(gen = 2L))
    val s2 = TableMeta.loadState(dir)
    assert(s2.gen == 2L)
    (1 to 5).foreach(_ => assert(TableMeta.loadState(dir) eq s2))
    assert(TableMeta.manifestParses.get() == before + 2)
  }

  test("an out-of-band commit (other process) is picked up by listing") {
    val dir = tmpDir()
    TableMeta.saveState(dir, TableMeta.ManifestState(
      1L, Seq(region(0L, 10L)), Map.empty))
    assert(TableMeta.loadState(dir).gen == 1L)
    val log = new File(dir, TableMeta.LogDirName)
    // simulate another process committing: (a) a NEW log segment —
    // written directly, NOT through this JVM's cache invalidation —
    // must be picked up by the per-load log listing...
    val cpName = log.list().filter(_.startsWith("cp-")).max
    val cpSeq = cpName.stripPrefix("cp-").stripSuffix(".json").toLong
    val seg = new File(log, f"${cpSeq + 1}%012d.json")
    Files.write(seg.toPath,
      s"""{"seq":${cpSeq + 1},"swap":true,"generation":7,"nextId":2,"regions":[]}"""
        .getBytes("UTF-8"))
    assert(TableMeta.loadState(dir).gen == 7L,
      "a foreign log segment must be seen by the next load")
    // ...and (b) a NEWER checkpoint written by a foreign fold must
    // displace the cached one by identity
    val cp2 = new File(log, f"cp-${cpSeq + 1}%012d.json")
    Files.write(cp2.toPath,
      s"""{"generation":9,"nextId":2,"lastSeq":${cpSeq + 1},"regions":[]}"""
        .getBytes("UTF-8"))
    seg.delete()
    assert(TableMeta.loadState(dir).gen == 9L,
      "a foreign checkpoint must be seen by the next load")
  }

  test("100k regions: parse once, cached planning free, pruning fast") {
    val dir = tmpDir()
    val n = 100000L
    val state = TableMeta.ManifestState(
      1L, (0L until n).map(region(_, 1000L)), Map.empty)
    val tSave = System.nanoTime()
    TableMeta.saveState(dir, state)
    val saveMs = (System.nanoTime() - tSave) / 1e6
    val (parses0, segParses0) =
      (TableMeta.manifestParses.get(), TableMeta.segmentParses.get())
    val t0 = System.nanoTime()
    val s1 = TableMeta.loadState(dir)
    val parseMs = (System.nanoTime() - t0) / 1e6
    assert(s1.regions.size == n)
    val t1 = System.nanoTime()
    (1 to 100).foreach(_ => assert(TableMeta.loadState(dir) eq s1))
    val cachedMs = (System.nanoTime() - t1) / 1e6
    // the cache property itself, counted instead of timed: the first
    // load parses the checkpoint once and the 100 cached loads parse
    // nothing (no checkpoint, no log segment)
    assert(TableMeta.manifestParses.get() == parses0 + 1,
      "the first load + 100 cached loads must parse the checkpoint once")
    assert(TableMeta.segmentParses.get() == segParses0,
      "cached loads must not parse log segments")
    // key-range pruning over every region: the per-scan driver cost
    val iv = graft.prune.KeyRanges.Iv(
      Some(KeyCodec.encode(LongType, 42_000_000L)), true,
      Some(KeyCodec.encode(LongType, 42_100_000L)), true)
    val constraints = Map(0 -> List(iv))
    val t2 = System.nanoTime()
    val kept = s1.regions.count(r => graft.prune.KeyRanges.survives(
      constraints, r.mins.map(KeyCodec.fromHex), r.maxs.map(KeyCodec.fromHex)))
    val keyPruneMs = (System.nanoTime() - t2) / 1e6
    assert(kept >= 100 && kept <= 102, s"kept $kept of $n")
    // non-key stats pruning (compiled once, evaluated per region)
    val compiled = ColStats.compile(
      Seq(sources.GreaterThan("price", 99_999_000L)),
      Map("price" -> LongType, "day" -> LongType))
    val t3 = System.nanoTime()
    val statKept = s1.regions.count(r => compiled.survives(r.stats))
    val statPruneMs = (System.nanoTime() - t3) / 1e6
    assert(statKept < 2100, s"stats kept $statKept of $n")
    info(f"save=${saveMs}%.0fms parse=${parseMs}%.0fms " +
      f"cached100=${cachedMs}%.0fms keyPrune=${keyPruneMs}%.0fms " +
      f"statPrune=${statPruneMs}%.0fms")
    // generous bounds (2-3x headroom over observed) — regressions to
    // O(regions) re-parse per scan or per-region re-encoding fail here
    assert(parseMs < 15000, f"manifest parse took ${parseMs}%.0fms")
    assert(saveMs < 20000, f"manifest save took ${saveMs}%.0fms")
    assert(keyPruneMs < 2000, f"key pruning took ${keyPruneMs}%.0fms")
    assert(statPruneMs < 2000, f"stats pruning took ${statPruneMs}%.0fms")
  }
}
