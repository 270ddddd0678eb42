package graft.catalog

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

import graft.codec.KeyCodec

/** The commit-store seam ([[CommitStore]]): the manifest commit
  * protocol built on three storage primitives — `exclusively`,
  * `putReplace`, `putIfAbsent` — so the protocol is portable to
  * filesystems with different consistency contracts (an object-store
  * implementation registers under a name and is selected by config).
  * Proves (1) concurrent committers through the default locked-POSIX
  * store lose no regions, (2) the put-if-absent tripwire turns a
  * commit racing past a broken lock into a loud abort instead of a
  * silent lost update, and (3) unknown store names are refused
  * loudly rather than running a lock that does not lock.
  */
class CommitStoreSpec extends AnyFunSuite with graft.TempDirs {

  private def tmpDir(): File = tempDir("graft-commit-store")

  private def hexKey(v: Long): String =
    KeyCodec.toHex(KeyCodec.encode(LongType, v))

  private def region(i: Long): RegionMeta =
    RegionMeta(s"part-$i.parquet", 1000L,
      Seq(hexKey(i * 1000L)), Seq(hexKey((i + 1) * 1000L - 1)))

  test("32 concurrent committers through the seam: no region lost") {
    val dir = tmpDir()
    val n = 32
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(n)
    (0 until n).foreach { i =>
      pool.execute { () =>
        start.await()
        try TableMeta.appendRegions(dir, Seq(region(i.toLong)))
        finally done.countDown()
      }
    }
    start.countDown()
    assert(done.await(60, TimeUnit.SECONDS), "committers timed out")
    pool.shutdown()
    val files = TableMeta.loadRegions(dir).map(_.file).toSet
    assert(files == (0 until n).map(i => s"part-$i.parquet").toSet,
      "a concurrent committer's regions were dropped")
    // ids stayed unique (seq allocation under the lock is contiguous)
    val ids = TableMeta.loadRegions(dir).map(_.id)
    assert(ids.distinct.size == ids.size)
  }

  test("putIfAbsent: second publish of the same name loses, content intact") {
    val d = tmpDir()
    val f = new File(d, "seg.json")
    assert(CommitStore.LockedPosix.putIfAbsent(f, "first"))
    assert(!CommitStore.LockedPosix.putIfAbsent(f, "second"))
    assert(new String(Files.readAllBytes(f.toPath)) == "first")
    // no tmp leftovers either way
    assert(d.list().toSeq == Seq("seg.json"))
  }

  /** A store whose `exclusively` does not exclude — what an advisory
    * lock silently degrades to on an object store. */
  private object BrokenLockStore extends CommitStore {
    val name = "broken-test"
    def exclusively[T](tableDir: File)(body: => T): T = body
    def putReplace(path: File, content: String): Unit =
      CommitStore.LockedPosix.putReplace(path, content)
    def putIfAbsent(path: File, content: String): Boolean =
      CommitStore.LockedPosix.putIfAbsent(path, content)
  }

  test("tripwire: a committer racing past a broken lock aborts loudly") {
    val dir = tmpDir()
    val prev = TableMeta.commitStore
    val prevEvery = TableMeta.logCheckpointEvery
    TableMeta.commitStore = BrokenLockStore
    // keep checkpoint folds out of the race: a fold under a broken
    // lock can consume a seq a racer is about to reuse, which is a
    // second (uncatchable) corruption mode — the tripwire guards the
    // segment write, and this test isolates exactly that
    TableMeta.logCheckpointEvery = 1000000
    try {
      TableMeta.appendRegions(dir, Seq(region(0L)))
      // both committers read the same lastSeq, then race the segment
      // name: with no lock excluding them, exactly one must win and
      // the other must ABORT (ConcurrentModificationException), never
      // silently overwrite the winner's regions
      val n = 16
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(n)
      val aborted = new java.util.concurrent.atomic.AtomicInteger
      (0 until n).foreach { i =>
        pool.execute { () =>
          start.await()
          try TableMeta.appendRegions(dir, Seq(region(100L + i)))
          catch { case _: java.util.ConcurrentModificationException =>
            aborted.incrementAndGet() }
          finally done.countDown()
        }
      }
      start.countDown()
      assert(done.await(60, TimeUnit.SECONDS))
      pool.shutdown()
      val committed = TableMeta.loadRegions(dir).map(_.file).toSet
      // every region the protocol reported committed IS in the
      // manifest, and every abort kept the manifest untouched:
      // committed + aborted = all attempts, nothing silently vanished
      assert(committed.size == 1 + (n - aborted.get),
        s"committed=${committed.size} aborted=${aborted.get}")
    } finally {
      TableMeta.commitStore = prev
      TableMeta.logCheckpointEvery = prevEvery
    }
  }

  test("unknown commit store names are refused loudly") {
    val e = intercept[IllegalArgumentException](CommitStore.select("s3"))
    assert(e.getMessage.contains("unknown commit store"))
    assert(e.getMessage.contains("posix"))
    assert(CommitStore.select("posix") eq CommitStore.LockedPosix)
    assert(CommitStore.select(" POSIX ") eq CommitStore.LockedPosix)
  }

  test("registered stores become selectable by name") {
    CommitStore.register(BrokenLockStore)
    assert(CommitStore.select("broken-test") eq BrokenLockStore)
  }
}
