package graft.catalog

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Global secondary index (`CALL graft.sys.index`): a graft table
  * keyed (indexed col; base key cols), built through the normal
  * range-shuffled sorted load, carrying a freshness watermark.
  *
  * The lookup composition this enables — index probe (key-pruned point
  * scan) broadcast-joined back to the base on its primary key — must
  * (a) answer exactly like a direct filter, and (b) actually prune the
  * base side: the broadcast hands the matching keys to the base scan
  * as a runtime IN filter, which prunes regions by key interval and
  * reaches the parquet readers as parquet's `in` predicate for
  * row-group and page-level skipping. That is the access path the reference's
  * HBase lineage lacks for non-rowkey predicates (a non-rowkey filter
  * scans every region there).
  */
class SecondaryIndexSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark

  private def setup(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.idx")
    spark.sql("DROP TABLE IF EXISTS graft.idx.base")
    spark.sql("DROP TABLE IF EXISTS graft.idx.base_idx_grp")
    spark.sql("DROP TABLE IF EXISTS graft.idx.base_idx_tag")
    spark.sql(
      """CREATE TABLE graft.idx.base (k BIGINT, grp BIGINT, tag STRING,
        |                             v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='8')""".stripMargin)
    // grp clusters with the key (k / 1000); tag scatters (k % 50)
    spark.sql(
      """INSERT INTO graft.idx.base
        |SELECT id, CAST(id / 1000 AS BIGINT),
        |       concat('t', CAST(id % 50 AS STRING)), id * 1.0
        |FROM range(8000)""".stripMargin)
  }

  private def baseScan(df: org.apache.spark.sql.DataFrame)
      : BatchScanExec = {
    def all(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[BatchScanExec] = p match {
      case b: BatchScanExec => Seq(b)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        all(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        all(q.plan)
      case other => other.children.flatMap(all)
    }
    // the base side is the one that outputs the payload column
    all(df.queryExecution.executedPlan)
      .find(_.output.exists(_.name == "v"))
      .getOrElse(fail("no base-table scan in plan"))
  }

  test("index procedure builds a keyed index with freshness watermark") {
    setup()
    val out = spark.sql(
      "CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    assert(out.length == 1)
    assert(out(0).getString(0) == "graft.idx.base_idx_grp")
    assert(out(0).getString(1) == "8000")
    val props = spark.sql("SHOW TBLPROPERTIES graft.idx.base_idx_grp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props(TableMeta.IndexOfProp) == "graft.idx.base")
    assert(props(TableMeta.IndexedVersionProp).toLong >= 1L)
    assert(props(TableMeta.KeyColsProp) == "grp;k")
    assert(spark.table("graft.idx.base_idx_grp").count() == 8000L)
  }

  test("lookup through the index answers exactly like a direct filter") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'tag')")
      .collect()
    val viaIndex = spark.sql(
      """SELECT b.k, b.tag, b.v FROM graft.idx.base b
        |JOIN (SELECT DISTINCT k FROM graft.idx.base_idx_tag
        |      WHERE tag = 't7') i ON b.k = i.k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    val direct = spark.sql(
      "SELECT k, tag, v FROM graft.idx.base WHERE tag = 't7'")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(viaIndex.length == 160)
    assert(viaIndex.toSeq == direct.toSeq)
  }

  test("clustered lookup prunes base regions via the runtime key filter") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    val q = spark.sql(
      """SELECT b.k, b.v FROM graft.idx.base b
        |JOIN (SELECT DISTINCT k FROM graft.idx.base_idx_grp
        |      WHERE grp = 3) i ON b.k = i.k""".stripMargin)
    // collect() so the inspected plan is the executed one (runtime
    // filters only exist post-execution)
    assert(q.collect().length == 1000)
    val scan = baseScan(q)
    assert(scan.runtimeFilters.nonEmpty,
      "expected the index probe to reach the base scan as a runtime filter")
    // keys 3000..3999 sit in 1 of 8 key-range regions (+ a possible
    // boundary straddle); without the runtime filter all 8 would scan
    val parts = scan.inputRDD.getNumPartitions
    assert(parts <= 2, s"expected runtime key pruning to <=2 regions, got $parts")
  }

  test("large IN sets push to the readers as parquet's in predicate") {
    val fileSchema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { optional int64 k; }")
    def push(f: sources.Filter) =
      ParquetRowIO.fileFilter(Seq(f), fileSchema, caseSensitive = false)
    val in = sources.In("k", (100L to 160L).map(Long.box).toArray[Any])
    assert(push(in).isDefined,
      "IN with >10 values should produce parquet's in predicate")
    // nulls never match IN; a null among the values still pushes
    val withNull = sources.In("k",
      ((100L to 160L).map(Long.box) :+ null).toArray[Any])
    assert(push(withNull).isDefined)
    // all-null set: nothing pushed, and no throw (the filter matches
    // nothing anyway)
    val allNull = sources.In("k", Array.fill[Any](25)(null))
    assert(push(allNull).isEmpty)
  }

  test("indexing a key column or unknown column is refused") {
    setup()
    val e1 = intercept[Exception](spark.sql(
      "CALL graft.sys.index(table => 'idx.base', column => 'k')").collect())
    assert(e1.getMessage.contains("key column"))
    val e2 = intercept[Exception](spark.sql(
      "CALL graft.sys.index(table => 'idx.base', column => 'nope')")
      .collect())
    assert(e2.getMessage.contains("not in"))
  }

  test("index_refresh applies the CDC delta only and advances the " +
      "watermark") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    // no changes → no-op refresh
    val idle = spark.sql(
      "CALL graft.sys.index_refresh(table => 'idx.base', column => 'grp')")
      .collect()(0)
    assert(idle.getString(1) == "0")
    spark.sql(
      """INSERT INTO graft.idx.base
        |SELECT id, CAST(id / 1000 AS BIGINT),
        |       concat('t', CAST(id % 50 AS STRING)), id * 1.0
        |FROM range(8000, 9000)""".stripMargin)
    val out = spark.sql(
      "CALL graft.sys.index_refresh(table => 'idx.base', column => 'grp')")
      .collect()(0)
    assert(out.getString(1) == "1000", "delta only, not a rebuild")
    assert(spark.table("graft.idx.base_idx_grp").count() == 9000L)
    val props = spark.sql("SHOW TBLPROPERTIES graft.idx.base_idx_grp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props(TableMeta.IndexedVersionProp).toLong ==
      out.getString(2).toLong)
    // the refreshed index serves the appended keys
    val n = spark.sql(
      """SELECT count(*) AS c FROM graft.idx.base b
        |JOIN (SELECT DISTINCT k FROM graft.idx.base_idx_grp
        |      WHERE grp = 8) i ON b.k = i.k""".stripMargin)
      .collect()(0).getLong(0)
    assert(n == 1000L)
  }

  test("index_refresh refuses after an in-place rewrite") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    spark.sql("UPDATE graft.idx.base SET v = v + 1 WHERE k < 10")
    val e = intercept[Exception](spark.sql(
      "CALL graft.sys.index_refresh(table => 'idx.base', column => 'grp')")
      .collect())
    assert(e.getMessage.contains("rowlevel"))
    assert(e.getMessage.contains("rebuild"))
    // the rebuild path recovers
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    spark.sql(
      "CALL graft.sys.index_refresh(table => 'idx.base', column => 'grp')")
      .collect()
  }

  test("index_refresh refuses dedupKeys bases") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.idx")
    spark.sql("DROP TABLE IF EXISTS graft.idx.ups")
    spark.sql("DROP TABLE IF EXISTS graft.idx.ups_idx_tag")
    spark.sql(
      """CREATE TABLE graft.idx.ups (k BIGINT, tag STRING)
        |TBLPROPERTIES('keyCols'='k', 'graft.dedupKeys'='true')"""
        .stripMargin)
    spark.sql(
      """INSERT INTO graft.idx.ups
        |SELECT id, concat('t', CAST(id % 5 AS STRING)) FROM range(100)"""
        .stripMargin)
    spark.sql("CALL graft.sys.index(table => 'idx.ups', column => 'tag')")
      .collect()
    spark.sql(
      "INSERT INTO graft.idx.ups SELECT id, 'changed' FROM range(10)")
    val e = intercept[Exception](spark.sql(
      "CALL graft.sys.index_refresh(table => 'idx.ups', column => 'tag')")
      .collect())
    assert(e.getMessage.contains("dedupKeys"))
  }

  test("transparent rewrite: a point filter on a freshly-indexed " +
      "column uses the index automatically") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    val q = spark.sql(
      "SELECT k, v FROM graft.idx.base WHERE grp = 3")
    val rows = q.collect()
    assert(rows.length == 1000)
    assert(rows.map(_.getLong(0)).min == 3000L)
    assert(rows.map(_.getLong(0)).max == 3999L)
    // the executed plan must carry the index-probe join: two scans,
    // and the base side runtime-filtered by the probe's key set
    val scan = baseScan(q)
    assert(scan.runtimeFilters.nonEmpty,
      "expected the transparent index probe to runtime-filter the base")
    assert(scan.inputRDD.getNumPartitions <= 2,
      s"expected region pruning, got ${scan.inputRDD.getNumPartitions}")
  }

  test("transparent rewrite stays off for stale indexes, key columns, " +
      "and the kill switch") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    // the rewrite fired iff the optimized plan reads the index table —
    // as a probe (semi join) or as the whole answer (covered path)
    def fires(sql: String): Boolean = {
      val q = spark.sql(sql)
      q.collect()
      q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.relation.table.name
      }.exists(_.contains("_idx_"))
    }
    assert(fires("SELECT k FROM graft.idx.base WHERE grp = 3"))
    // key column: interval pruning already serves it — no rewrite
    assert(!fires("SELECT k FROM graft.idx.base WHERE k = 3000"))
    // kill switch
    spark.conf.set(GraftAccel.IndexRewrite, "false")
    try assert(!fires("SELECT k FROM graft.idx.base WHERE grp = 3"))
    finally spark.conf.unset(GraftAccel.IndexRewrite)
    // stale: an append moves the base past the watermark → no rewrite
    // (a rewrite here would MISS the appended rows)
    spark.sql(
      """INSERT INTO graft.idx.base
        |SELECT id, 3L, 't0', id * 1.0 FROM range(9000, 9010)"""
        .stripMargin)
    assert(!fires("SELECT k FROM graft.idx.base WHERE grp = 3"))
    assert(spark.sql("SELECT k FROM graft.idx.base WHERE grp = 3")
      .collect().length == 1010, "stale-index path answers from the base")
    // refresh restores freshness and the rewrite
    spark.sql(
      "CALL graft.sys.index_refresh(table => 'idx.base', column => 'grp')")
      .collect()
    assert(fires("SELECT k FROM graft.idx.base WHERE grp = 3"))
    assert(spark.sql("SELECT k FROM graft.idx.base WHERE grp = 3")
      .collect().length == 1010)
  }

  test("range predicates on the indexed column use the index too") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    // BETWEEN-shaped conjunction → index range scan (grp leads its key)
    val q = spark.sql(
      "SELECT k, v FROM graft.idx.base WHERE grp >= 3 AND grp < 5")
    val rows = q.collect()
    assert(rows.length == 2000)
    assert(rows.map(_.getLong(0)).min == 3000L)
    assert(rows.map(_.getLong(0)).max == 4999L)
    val scan = baseScan(q)
    assert(scan.runtimeFilters.nonEmpty,
      "expected the range probe to runtime-filter the base")
    assert(scan.inputRDD.getNumPartitions <= 3,
      s"expected region pruning, got ${scan.inputRDD.getNumPartitions}")
  }

  test("covering index answers index-only: no base scan, one point " +
      "probe") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', " +
      "column => 'grp', include => 'v')").collect()
    val q = spark.sql(
      "SELECT k, v FROM graft.idx.base WHERE grp = 3")
    val rows = q.collect()
    assert(rows.length == 1000)
    assert(rows.map(_.getDouble(1)).sum == (3000 until 4000).sum.toDouble)
    val ss = TestSpark.graftScans(q.queryExecution.executedPlan)
    assert(ss.length == 1, s"expected index-only plan, got ${ss.length} scans")
    // grp = 3 is a leading-key point predicate on the index → pruned
    // to its region(s), not the whole 16-region index. The sorted
    // load's range boundaries come from Spark's range-shuffle
    // SAMPLING (seeded by session-wide RDD ids), so regions are only
    // approximately even: the 1000 matching rows usually span 2-3
    // regions, but a sampling-shortened region inside the run can add
    // another. Assert pruning (a small handful, not the 16-region
    // index) rather than a pseudo-exact boundary count.
    val parts = ss.head.planInputPartitions().length
    assert(parts <= 5, s"expected index point scan, got $parts")
    // an uncovered column falls back to the probe + base join (2 scans)
    val q2 = spark.sql(
      "SELECT k, tag FROM graft.idx.base WHERE grp = 3")
    assert(q2.collect().length == 1000)
    assert(TestSpark.graftScans(q2.queryExecution.executedPlan).length == 2)
    // refresh carries covered columns: append then refresh, covered
    // lookup sees the new rows with their payloads
    spark.sql(
      """INSERT INTO graft.idx.base
        |SELECT id, 3L, 't0', id * 1.0 FROM range(8000, 8010)"""
        .stripMargin)
    spark.sql(
      "CALL graft.sys.index_refresh(table => 'idx.base', column => 'grp')")
      .collect()
    val r3 = spark.sql(
      "SELECT k, v FROM graft.idx.base WHERE grp = 3").collect()
    assert(r3.length == 1010)
    assert(r3.map(_.getDouble(1)).max == 8009.0)
  }

  test("row-level UPDATE/DELETE on an indexed column stay correct " +
      "under the rewrite") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'tag')")
      .collect()
    spark.sql("UPDATE graft.idx.base SET v = -1.0 WHERE tag = 't7'")
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft.idx.base WHERE v = -1.0")
      .collect()(0).getLong(0) == 160L)
    assert(spark.table("graft.idx.base").count() == 8000L)
    // the UPDATE bumped the base version → index stale → direct path;
    // rebuild, then DELETE through the indexed column
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'tag')")
      .collect()
    spark.sql("DELETE FROM graft.idx.base WHERE tag = 't7'")
    assert(spark.table("graft.idx.base").count() == 7840L)
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft.idx.base WHERE tag = 't7'")
      .collect()(0).getLong(0) == 0L)
  }

  test("time-travel reads never take the index path") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    val v = spark.sql("CALL graft.sys.history(table => 'idx.base')")
      .collect().map(_.getString(0).toLong).max
    val q = spark.sql(
      s"SELECT k FROM graft.idx.base VERSION AS OF $v WHERE grp = 3")
    assert(q.collect().length == 1000)
    // the snapshot pin must disable the rewrite: an index is only
    // provably complete against the CURRENT version, and a past
    // snapshot may differ from it in either direction
    val idxScans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.relation.table.name
    }.filter(_.contains("_idx_"))
    assert(idxScans.isEmpty, s"time travel used the index: $idxScans")
  }

  test("streaming ingest composes with incremental index maintenance") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.idx")
    spark.sql("DROP TABLE IF EXISTS graft.idx.sbase")
    spark.sql("DROP TABLE IF EXISTS graft.idx.sbase_idx_tag")
    spark.sql(
      """CREATE TABLE graft.idx.sbase (k BIGINT, tag STRING)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='4')""".stripMargin)
    val ckpt = tempDir("graft_idx_stream_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "tag").writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .toTable("graft.idx.sbase")
    try {
      in.addData((0L until 100L).map(k => (k, s"t${k % 5}")): _*)
      q.processAllAvailable()
      spark.sql(
        "CALL graft.sys.index(table => 'idx.sbase', column => 'tag')")
        .collect()
      // next micro-batch lands as an epoch append → CDC delta
      in.addData((100L until 200L).map(k => (k, s"t${k % 5}")): _*)
      q.processAllAvailable()
      val out = spark.sql("CALL graft.sys.index_refresh(" +
        "table => 'idx.sbase', column => 'tag')").collect()(0)
      assert(out.getString(1) == "100", "refresh applies the epoch delta")
      // fresh again → the transparent rewrite serves the lookup
      val rows = spark.sql(
        "SELECT k FROM graft.idx.sbase WHERE tag = 't0'").collect()
      assert(rows.length == 40)
      assert(rows.map(_.getLong(0)).max == 195L)
    } finally q.stop()
    spark.sql("DROP TABLE graft.idx.sbase")
    spark.sql("DROP TABLE IF EXISTS graft.idx.sbase_idx_tag")
  }

  test("rebuild after base appends refreshes rows and the watermark") {
    setup()
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    val v1 = spark.sql("SHOW TBLPROPERTIES graft.idx.base_idx_grp")
      .collect().collectFirst {
        case r if r.getString(0) == TableMeta.IndexedVersionProp =>
          r.getString(1).toLong
      }.get
    spark.sql(
      """INSERT INTO graft.idx.base
        |SELECT id, CAST(id / 1000 AS BIGINT),
        |       concat('t', CAST(id % 50 AS STRING)), id * 1.0
        |FROM range(8000, 9000)""".stripMargin)
    spark.sql("CALL graft.sys.index(table => 'idx.base', column => 'grp')")
      .collect()
    val props2 = spark.sql("SHOW TBLPROPERTIES graft.idx.base_idx_grp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props2(TableMeta.IndexedVersionProp).toLong > v1)
    assert(spark.table("graft.idx.base_idx_grp").count() == 9000L)
    // the rebuilt index serves the new keys
    val n = spark.sql(
      """SELECT count(*) AS c FROM graft.idx.base b
        |JOIN (SELECT DISTINCT k FROM graft.idx.base_idx_grp
        |      WHERE grp = 8) i ON b.k = i.k""".stripMargin)
      .collect()(0).getLong(0)
    assert(n == 1000L)
  }
}
