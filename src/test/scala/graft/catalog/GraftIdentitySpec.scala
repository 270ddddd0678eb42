package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `GENERATED BY DEFAULT AS IDENTITY`: distributed auto-increment via
  * per-job range reservations over the commit store's conditional put.
  * NULL/omitted values fill with `start + step·n` for globally unique
  * `n`; explicit values pass through (the BY DEFAULT contract); the
  * ALWAYS form, key identity columns, and streaming ingest refuse. */
class GraftIdentitySpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark

  private def ns(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.idn")

  test("omitted and NULL fill start/step-aligned unique values; " +
      "explicit values pass through") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.idn.t1")
    spark.sql("CREATE TABLE graft.idn.t1 (k BIGINT, id BIGINT " +
      "GENERATED BY DEFAULT AS IDENTITY (START WITH 100 INCREMENT BY 2), " +
      "v STRING) TBLPROPERTIES('keyCols'='k')")
    spark.sql("INSERT INTO graft.idn.t1 (k, v) VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.idn.t1 VALUES (3, NULL, 'c'), (4, 7, 'd')")
    val rows = spark.table("graft.idn.t1").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = rows.map(_._2)
    assert(ids.distinct.length == 4 - 1 || ids.distinct.length == 4,
      s"unique except possibly the explicit 7: ${ids.mkString(",")}")
    // explicit value kept verbatim
    assert(rows.find(_._1 == 4L).get._2 == 7L)
    // filled values are start/step-aligned: (id - 100) % 2 == 0 and >= 100
    rows.filter(_._1 != 4L).foreach { case (_, id) =>
      assert(id >= 100 && (id - 100) % 2 == 0, s"aligned: $id")
    }
    // filled ids are unique across the two separate INSERT jobs
    val filled = rows.filter(_._1 != 4L).map(_._2)
    assert(filled.distinct.length == filled.length)
  }

  test("two concurrent-style writes draw from disjoint reservations " +
      "(no duplicate ids across jobs)") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.idn.t2")
    spark.sql("CREATE TABLE graft.idn.t2 (k BIGINT, id BIGINT " +
      "GENERATED BY DEFAULT AS IDENTITY, v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    spark.sql("INSERT INTO graft.idn.t2 (k, v) " +
      "SELECT id, 'x' FROM range(0, 500) t(id)")
    spark.sql("INSERT INTO graft.idn.t2 (k, v) " +
      "SELECT id + 500, 'y' FROM range(0, 500) t(id)")
    val n = spark.sql("SELECT count(DISTINCT id) FROM graft.idn.t2")
      .collect().head.getLong(0)
    assert(n == 1000L, s"all 1000 filled ids distinct, got $n")
  }

  test("DDL refusals: ALWAYS form, key identity column, non-BIGINT") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.idn.bad")
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.idn.bad (k BIGINT, id BIGINT " +
        "GENERATED ALWAYS AS IDENTITY) TBLPROPERTIES('keyCols'='k')") }
    assert(exists(e1, _.contains("BY DEFAULT")), s"got: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.idn.bad (k BIGINT " +
        "GENERATED BY DEFAULT AS IDENTITY, v STRING) " +
        "TBLPROPERTIES('keyCols'='k')") }
    assert(exists(e2, _.contains("key column")), s"got: ${e2.getMessage}")
    val e3 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.idn.bad (k BIGINT, id INT " +
        "GENERATED BY DEFAULT AS IDENTITY) TBLPROPERTIES('keyCols'='k')") }
    assert(exists(e3, m => m.contains("BIGINT") || m.contains("bigint")),
      s"got: ${e3.getMessage}")
  }

  test("streaming ingest into an identity table refuses loudly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.idn.t3")
    spark.sql("CREATE TABLE graft.idn.t3 (k BIGINT, id BIGINT " +
      "GENERATED BY DEFAULT AS IDENTITY, v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    val ckpt = tempDir("graft_idn_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val e = intercept[Exception] {
      val q = in.toDF().toDF("k", "v")
        .selectExpr("k", "CAST(NULL AS BIGINT) AS id", "v")
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append").toTable("graft.idn.t3")
      try { in.addData((1L, "a")); q.processAllAvailable() }
      finally q.stop()
    }
    assert(exists(e, _.contains("identity")), s"got: ${e.getMessage}")
  }

  test("32 racing reservations on one table are pairwise disjoint " +
      "(the conditional-put ladder is the only arbiter)") {
    val dir = tempDir("graft_idseq_race")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val fs = (1 to 32).map(_ => pool.submit(
        new java.util.concurrent.Callable[Long] {
          override def call(): Long = GraftIdentity.reserve(dir)
        }))
      val bases = fs.map(_.get())
      assert(bases.distinct.length == 32,
        s"racing reservations must never collide: ${bases.sorted}")
      assert(bases.forall(_ % GraftIdentity.Reserve == 0))
    } finally pool.shutdown()
  }

  test("vacuum compacts the reservation ladder to its max; later " +
      "reservations stay monotone") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.idn.t5")
    spark.sql("CREATE TABLE graft.idn.t5 (k BIGINT, id BIGINT " +
      "GENERATED BY DEFAULT AS IDENTITY, v STRING) " +
      "TBLPROPERTIES('keyCols'='k')")
    (1 to 4).foreach { i =>
      spark.sql(s"INSERT INTO graft.idn.t5 (k, v) VALUES ($i, 'x')") }
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val dir = cat.loadTable(org.apache.spark.sql.connector.catalog
      .Identifier.of(Array("idn"), "t5"))
      .asInstanceOf[GraftTable].tableDir
    val idseq = new java.io.File(dir, "_graft_idseq")
    val before = idseq.list().length
    assert(before >= 4, s"one marker per write job, got $before")
    spark.sql("CALL graft.sys.vacuum(table => 'idn.t5')")
    assert(idseq.list().length == 1, "ladder compacted to its max")
    val maxBefore = idseq.list().head.stripPrefix("r-").toLong
    spark.sql("INSERT INTO graft.idn.t5 (k, v) VALUES (99, 'y')")
    val ks = idseq.list().map(_.stripPrefix("r-").toLong)
    assert(ks.max > maxBefore, "counter stays monotone after compaction")
    assert(spark.sql("SELECT count(DISTINCT id) FROM graft.idn.t5")
      .collect().head.getLong(0) == 5)
  }

  test("task retries are idempotent by construction: the value is a " +
      "pure function of (reservation, partition, row index)") {
    val f1 = new GraftIdentity.Filler(100L, 2L, 1L << 42, 7)
    val f2 = new GraftIdentity.Filler(100L, 2L, 1L << 42, 7)
    val a = Seq.fill(1000)(f1.next())
    val b = Seq.fill(1000)(f2.next())
    assert(a == b, "a retried task regenerates identical ids")
    // different partitions of the same reservation never collide
    val g = new GraftIdentity.Filler(100L, 2L, 1L << 42, 8)
    val c = Seq.fill(1000)(g.next())
    assert((a.toSet & c.toSet).isEmpty)
  }

  private def exists(e: Throwable, p: String => Boolean): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.getMessage != null && p(t.getMessage)) return true
      t = t.getCause
    }
    false
  }
}
