package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Materialized views (`CALL graft.sys.mview`): a keyed graft table of
  * PARTIAL aggregates plus a transparent pre-CBO rewrite
  * ([[GraftMviewRewrite]]) that answers re-aggregable GROUP BYs from
  * it while the freshness watermark matches the base.
  *
  * The invariants proven here: the rewrite is invisible in answers
  * (exactly the direct plan's results, including types), it actually
  * removes the base scan from the plan, staleness/kill-switch/DISTINCT
  * fall back to the base, and incremental refresh (append-only partial
  * rows from the CDC delta) keeps both the answers and the firing
  * exact — a group spanning several partial rows re-aggregates. */
class MviewSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark

  private def setup(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv")
    spark.sql("DROP TABLE IF EXISTS graft.mv.base")
    spark.sql("DROP TABLE IF EXISTS graft.mv.base_mv_bygrp")
    spark.sql(
      """CREATE TABLE graft.mv.base (k BIGINT, grp BIGINT, s STRING,
        |                            v DOUBLE, d DECIMAL(10,2))
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='8')""".stripMargin)
    // v null every 11th row (count:v vs count:* diverge); sums of
    // integer-valued doubles stay exact under any aggregation order
    spark.sql(
      """INSERT INTO graft.mv.base
        |SELECT id, id % 7, concat('s', CAST(id % 3 AS STRING)),
        |       CASE WHEN id % 11 = 0 THEN CAST(NULL AS DOUBLE)
        |            ELSE CAST(id AS DOUBLE) END,
        |       CAST(CAST(id % 1000 AS DECIMAL(10,0)) * 0.01
        |            AS DECIMAL(10,2))
        |FROM range(8000)""".stripMargin)
  }

  private def buildMv(): Unit =
    spark.sql("CALL graft.sys.mview(table => 'mv.base', " +
      "name => 'bygrp', group_by => 'grp', " +
      "aggs => 'sum:v;count:*;count:v;min:v;max:v;sum:d')").collect()

  /** Graft table names scanned by the optimized plan. */
  private def scannedTables(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2Relation => r.table.name
      case r: DataSourceV2ScanRelation => r.relation.table.name
    }

  /** Run `sql` with the rewrite on and off; assert identical rows AND
    * schemas, return the rewritten frame for plan asserts. */
  private def parity(sql: String): DataFrame = {
    val on = spark.sql(sql)
    val expect =
      try {
        spark.conf.set(GraftAccel.MviewRewrite, "false")
        val e = spark.sql(sql)
        assert(e.schema == on.schema,
          "rewrite changed the result schema")
        e.collect().toSet
      } finally spark.conf.set(GraftAccel.MviewRewrite, "true")
    assert(on.collect().toSet == expect, "rewrite changed the answers")
    on
  }

  test("mview procedure builds a keyed partial-aggregate table") {
    setup()
    val out = spark.sql("CALL graft.sys.mview(table => 'mv.base', " +
      "name => 'bygrp', group_by => 'grp', " +
      "aggs => 'sum:v;count:*;count:v;min:v;max:v;sum:d')").collect()
    assert(out.length == 1 && out(0).getString(0) == "graft.mv.base_mv_bygrp")
    val props = spark.sql("SHOW TBLPROPERTIES graft.mv.base_mv_bygrp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props(TableMeta.MviewOfProp) == "graft.mv.base")
    assert(props(TableMeta.MviewGroupByProp) == "grp")
    assert(props(TableMeta.MviewAggsProp) ==
      "sum:v=sum_v;count:*=cnt_star;count:v=cnt_v;min:v=min_v;" +
        "max:v=max_v;sum:d=sum_d")
    assert(props(TableMeta.KeyColsProp) == "grp")
    // one partial row per group at build time
    assert(spark.table("graft.mv.base_mv_bygrp").count() == 7L)
  }

  test("grouped query rewrites onto the mview and drops the base scan") {
    setup(); buildMv()
    val q = """SELECT grp, sum(v) AS sv, count(*) AS c1, count(v) AS c2,
              |       min(v) AS lo, max(v) AS hi, sum(d) AS sd
              |FROM graft.mv.base GROUP BY grp""".stripMargin
    val df = parity(q)
    val tables = scannedTables(df)
    assert(tables.exists(_.endsWith("base_mv_bygrp")),
      s"mview not scanned: $tables")
    assert(!tables.contains("graft.mv.base") && !tables.contains("base"),
      s"base still scanned: $tables")
  }

  test("self-check face shape: agg-over-base JOIN agg-over-mview still " +
      "drops the base scan") {
    // the catalog_mview driver face joins the rewrite-served aggregate
    // with a direct partial-row count from the mview table — the
    // rewrite must still fire on the base subtree, leaving a plan
    // that scans ONLY the mview
    setup(); buildMv()
    val q =
      """SELECT b.grp, b.sv, b.c1, p.partial_rows
        |FROM (SELECT grp, sum(v) AS sv, count(*) AS c1
        |      FROM graft.mv.base GROUP BY grp) b
        |JOIN (SELECT grp, count(*) AS partial_rows
        |      FROM graft.mv.base_mv_bygrp GROUP BY grp) p
        |  ON b.grp = p.grp""".stripMargin
    val df = parity(q)
    val tables = scannedTables(df)
    assert(tables.nonEmpty &&
      tables.forall(_.endsWith("base_mv_bygrp")),
      s"expected only mview scans in the joined face shape: $tables")
  }

  test("rollup over the group column and filters on it stay exact") {
    setup(); buildMv()
    val df = parity(
      """SELECT grp % 2 AS par, sum(v) AS sv, count(*) AS c
        |FROM graft.mv.base WHERE grp >= 2 GROUP BY grp % 2""".stripMargin)
    assert(scannedTables(df).exists(_.endsWith("base_mv_bygrp")))
  }

  test("global aggregate (no GROUP BY) fires, count of empty stays 0") {
    setup(); buildMv()
    val df = parity(
      "SELECT sum(v) AS sv, count(*) AS c FROM graft.mv.base")
    assert(scannedTables(df).exists(_.endsWith("base_mv_bygrp")))
    // empty-filter global count: the coalesce keeps COUNT semantics
    val empty = parity(
      """SELECT count(*) AS c FROM graft.mv.base WHERE grp > 100""")
    assert(empty.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("append-only staleness repairs at read time: mview UNION delta") {
    setup(); buildMv()
    spark.sql(
      """INSERT INTO graft.mv.base VALUES
        |(9001, 1, 's1', 42.0, CAST(1.00 AS DECIMAL(10,2))),
        |(9002, 1, 's1', CAST(NULL AS DOUBLE), CAST(2.00 AS DECIMAL(10,2)))"""
        .stripMargin)
    // no refresh — the rewrite must still fire, unioning the CDC
    // delta's rows as singleton partials (count:v sees the NULL)
    val df = parity(
      """SELECT grp, sum(v) AS sv, count(*) AS c1, count(v) AS c2,
        |       min(v) AS lo, max(v) AS hi, sum(d) AS sd
        |FROM graft.mv.base GROUP BY grp""".stripMargin)
    val tables = scannedTables(df)
    assert(tables.exists(_.endsWith("base_mv_bygrp")),
      s"stale-by-append mview should still serve via delta union: $tables")
    assert(tables.count(!_.contains("_mv_")) == 1,
      s"exactly one delta-pinned base scan expected: $tables")
    // the repair composes with rollups and filters on group columns
    val roll = parity(
      """SELECT grp % 2 AS par, sum(v) AS sv, count(*) AS c
        |FROM graft.mv.base WHERE grp >= 1 GROUP BY grp % 2""".stripMargin)
    assert(scannedTables(roll).exists(_.endsWith("base_mv_bygrp")))
  }

  test("mview_refresh appends the CDC delta's partials and re-arms") {
    setup(); buildMv()
    spark.sql(
      """INSERT INTO graft.mv.base
        |SELECT id + 9000, id % 7, concat('s', CAST(id % 3 AS STRING)),
        |       CAST(id + 9000 AS DOUBLE),
        |       CAST(2.50 AS DECIMAL(10,2))
        |FROM range(500)""".stripMargin)
    val out = spark.sql("CALL graft.sys.mview_refresh(" +
      "table => 'mv.base', name => 'bygrp')").collect()
    assert(out(0).getString(1).toLong == 7L, "one partial per group")
    // groups now span TWO partial rows each; re-aggregation is exact
    assert(spark.table("graft.mv.base_mv_bygrp").count() == 14L)
    val df = parity(
      """SELECT grp, sum(v) AS sv, count(*) AS c1, count(v) AS c2,
        |       min(v) AS lo, max(v) AS hi, sum(d) AS sd
        |FROM graft.mv.base GROUP BY grp""".stripMargin)
    assert(scannedTables(df).exists(_.endsWith("base_mv_bygrp")))
    // idempotent: nothing new since the refresh
    val again = spark.sql("CALL graft.sys.mview_refresh(" +
      "table => 'mv.base', name => 'bygrp')").collect()
    assert(again(0).getString(1) == "0")
  }

  test("kill switch and DISTINCT aggregates fall back to the base") {
    setup(); buildMv()
    try {
      spark.conf.set(GraftAccel.MviewRewrite, "false")
      val off = spark.sql(
        "SELECT grp, sum(v) AS sv FROM graft.mv.base GROUP BY grp")
      assert(!scannedTables(off).exists(_.endsWith("base_mv_bygrp")))
    } finally spark.conf.set(GraftAccel.MviewRewrite, "true")
    val distinct = spark.sql(
      """SELECT grp, count(DISTINCT s) AS ds
        |FROM graft.mv.base GROUP BY grp""".stripMargin)
    assert(!scannedTables(distinct).exists(_.endsWith("base_mv_bygrp")),
      "DISTINCT is not derivable from partials and must not fire")
    // an aggregate column outside the mview's map must not fire either
    val unknown = spark.sql(
      "SELECT grp, sum(k) AS sk FROM graft.mv.base GROUP BY grp")
    assert(!scannedTables(unknown).exists(_.endsWith("base_mv_bygrp")))
  }

  test("AVG derives from the sum and count partials; decimal AVG " +
      "declines to the base") {
    setup(); buildMv()
    // v is NULL every 11th row: AVG(v) must divide by count:v (the
    // NULL-ignoring count), not count:* — parity() proves the values
    // against the base under exactly that trap
    val df = parity(
      """SELECT grp, avg(v) AS m, count(*) AS n
        |FROM graft.mv.base GROUP BY grp""".stripMargin)
    assert(scannedTables(df).exists(_.endsWith("base_mv_bygrp")),
      "AVG over stored sum+count partials should answer from the mview")
    // decimal AVG carries Spark-internal precision/rounding rules the
    // re-derivation does not reproduce — it must fall back (correct,
    // just unaccelerated)
    val dec = parity(
      "SELECT grp, avg(d) AS m FROM graft.mv.base GROUP BY grp")
    assert(!scannedTables(dec).exists(_.endsWith("base_mv_bygrp")),
      "decimal AVG must decline to the base scan")
  }

  test("AVG of an all-NULL group answers NULL from the mview — ANSI " +
      "mode included (the naive divide would raise DIVIDE_BY_ZERO)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv")
    spark.sql("DROP TABLE IF EXISTS graft.mv.avgnull_mv_g")
    spark.sql("DROP TABLE IF EXISTS graft.mv.avgnull")
    spark.sql(
      """CREATE TABLE graft.mv.avgnull (k BIGINT, g STRING, x BIGINT)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='2')""".stripMargin)
    spark.sql("INSERT INTO graft.mv.avgnull VALUES " +
      "(1,'a',10), (2,'a',NULL), (3,'b',NULL), (4,'b',NULL)")
    spark.sql("CALL graft.sys.mview(table => 'mv.avgnull', " +
      "name => 'g', group_by => 'g', aggs => 'sum:x;count:x')").collect()
    val q = "SELECT g, avg(x) AS m FROM graft.mv.avgnull GROUP BY g"
    def rowsOf(df: DataFrame): Map[String, Any] =
      df.collect().map(r => r.getString(0) -> r.get(1)).toMap
    val df = spark.sql(q)
    assert(scannedTables(df).exists(_.endsWith("avgnull_mv_g")))
    assert(rowsOf(df) === Map("a" -> 10.0, "b" -> null))
    val prior = spark.conf.getOption("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      assert(rowsOf(spark.sql(q)) === Map("a" -> 10.0, "b" -> null),
        "ANSI mode must not turn the all-NULL group into an error")
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("the catalog_mview_avg driver face answers from the mview " +
      "partials, not the base") {
    val df = graft.operators.CatalogQueries.queries("catalog_mview_avg")(
      spark, graft.TestSpark.sfDir)
    assert(scannedTables(df).exists(_.endsWith("orders_sum_t_mv_status")),
      "the face's AVG must ride the stored sum/count partials")
    assert(df.count() > 0)
  }

  test("decimal sum result type is preserved through re-aggregation") {
    setup(); buildMv()
    val q = "SELECT grp, sum(d) AS sd FROM graft.mv.base GROUP BY grp"
    val df = parity(q) // parity() already asserts schema equality
    assert(df.schema("sd").dataType.simpleString == "decimal(20,2)")
    assert(scannedTables(df).exists(_.endsWith("base_mv_bygrp")))
  }

  test("build refusals: NULL group values, non-codec group types") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graft.mv.nullg")
    spark.sql(
      """CREATE TABLE graft.mv.nullg (k BIGINT, g BIGINT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='2')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.mv.nullg
        |SELECT id, CASE WHEN id = 5 THEN NULL ELSE id % 3 END, id * 1.0
        |FROM range(100)""".stripMargin)
    val e = intercept[Exception] {
      spark.sql("CALL graft.sys.mview(table => 'mv.nullg', " +
        "name => 'byg', group_by => 'g', aggs => 'sum:v')").collect()
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("DISTINCT over mview group columns derives from the value set") {
    setup(); buildMv()
    spark.sql("DROP TABLE IF EXISTS graft.mv.base_mv_bygrps")
    spark.sql("CALL graft.sys.mview(table => 'mv.base', " +
      "name => 'bygrps', group_by => 'grp;s', aggs => 'count:*')")
      .collect()
    // bygrp (grp only) cannot serve DISTINCT s and must decline; the
    // finer bygrps (grp, s) carries the exact (grp, s) value set
    val df = parity(
      """SELECT grp, count(DISTINCT s) AS ds, min(s) AS lo,
        |       count(*) AS c
        |FROM graft.mv.base GROUP BY grp""".stripMargin)
    assert(scannedTables(df).exists(_.endsWith("base_mv_bygrps")),
      s"finer mview should serve DISTINCT: ${scannedTables(df)}")
    // the repair path composes: append without refresh, still exact
    spark.sql(
      """INSERT INTO graft.mv.base VALUES
        |(9100, 1, 's9', 1.0, CAST(1.00 AS DECIMAL(10,2)))""".stripMargin)
    val stale = parity(
      """SELECT grp, count(DISTINCT s) AS ds FROM graft.mv.base
        |GROUP BY grp""".stripMargin)
    assert(scannedTables(stale).exists(_.endsWith("base_mv_bygrps")))
    spark.sql("DROP TABLE IF EXISTS graft.mv.base_mv_bygrps")
  }

  test("HLL sketch partials: union re-aggregation tracks the direct " +
      "sketch") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graft.mv.base_mv_hll")
    spark.sql("CALL graft.sys.mview(table => 'mv.base', " +
      "name => 'hll', group_by => 'grp', aggs => 'hll:k;count:*')")
      .collect()
    val q = """SELECT grp, hll_sketch_estimate(hll_sketch_agg(k)) AS apx
              |FROM graft.mv.base GROUP BY grp""".stripMargin
    // k is unique per row → per-group cardinalities (~1143) sit in the
    // estimation regime, where representation transitions make
    // union-of-batch-sketches differ from the one-pass sketch in the
    // last permille (the documented property of every sketch-rollup
    // engine). The contract is approximate-transparency: within 1% of
    // the direct estimate, and both within the sketch's error bound of
    // the exact count.
    def estimates(df: DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    val on = spark.sql(q)
    assert(scannedTables(on).exists(_.endsWith("base_mv_hll")),
      s"hll mview should serve: ${scannedTables(on)}")
    val rewritten = estimates(on)
    val direct =
      try {
        spark.conf.set(GraftAccel.MviewRewrite, "false")
        estimates(spark.sql(q))
      } finally spark.conf.set(GraftAccel.MviewRewrite, "true")
    val exact = spark.sql(
      """SELECT grp, count(DISTINCT k) AS c FROM graft.mv.base
        |GROUP BY grp""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, ex) =>
      assert(math.abs(rewritten(g) - direct(g)) / direct(g) < 0.01,
        s"grp $g: union ${rewritten(g)} vs direct ${direct(g)}")
      assert(math.abs(rewritten(g) - ex) / ex < 0.05,
        s"grp $g: union ${rewritten(g)} vs exact $ex")
    }
    // refresh appends a second sketch partial per group; the union of
    // two per-batch sketches still tracks the one-pass sketch
    spark.sql(
      """INSERT INTO graft.mv.base
        |SELECT id + 9000, id % 7, 's0', CAST(id AS DOUBLE),
        |       CAST(1.00 AS DECIMAL(10,2)) FROM range(500)""".stripMargin)
    spark.sql("CALL graft.sys.mview_refresh(" +
      "table => 'mv.base', name => 'hll')").collect()
    val on2 = spark.sql(q)
    assert(scannedTables(on2).exists(_.endsWith("base_mv_hll")))
    val r2 = estimates(on2)
    val d2 = try {
      spark.conf.set(GraftAccel.MviewRewrite, "false")
      estimates(spark.sql(q))
    } finally spark.conf.set(GraftAccel.MviewRewrite, "true")
    d2.foreach { case (g, d) =>
      assert(math.abs(r2(g) - d) / d < 0.01,
        s"grp $g after refresh: union ${r2(g)} vs direct $d")
    }
    // stale-by-append: a raw row has no singleton-sketch projection,
    // so the repair declines and the query answers from the base
    spark.sql(
      """INSERT INTO graft.mv.base VALUES
        |(99999, 1, 's1', 1.0, CAST(1.00 AS DECIMAL(10,2)))""".stripMargin)
    val stale = spark.sql(q)
    assert(!scannedTables(stale).exists(_.endsWith("base_mv_hll")),
      "hll staleness cannot union raw rows; must fall back to the base")
    spark.sql("DROP TABLE IF EXISTS graft.mv.base_mv_hll")
  }

  test("KLL sketch partials: quantile readout from merged stored " +
      "partials stays rank-accurate; rewrite serves kll_sketch_agg") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graft.mv.base_mv_kll")
    spark.sql("CALL graft.sys.mview(table => 'mv.base', " +
      "name => 'kll', group_by => 'grp', aggs => 'kll:k;count:*')")
      .collect()
    // direct read of the stored partials: union then quantile
    val est = spark.sql(
      """SELECT grp, kll_get_quantile(kll_union_agg(kll_k), 0.5D) AS p50
        |FROM graft.mv.base_mv_kll GROUP BY grp""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // exact rank gate: the estimate's true rank must sit within 5% of
    // 0.5 (k=200 rank error is ~1.65%; KLL is randomized, so gate on
    // rank, never on values)
    val rows = spark.table("graft.mv.base")
      .select("grp", "k").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sorted)
    est.foreach { case (g, e) =>
      val vs = rows(g)
      val rank = vs.count(_ <= e).toDouble / vs.length
      assert(math.abs(rank - 0.5) <= 0.05,
        s"grp $g: estimate $e has rank $rank")
    }
    // the rewrite serves kll_sketch_agg over the base from the mview
    val q = """SELECT grp,
              |       kll_get_quantile(kll_sketch_agg(CAST(k AS DOUBLE)),
              |                        0.5D) AS p50
              |FROM graft.mv.base GROUP BY grp""".stripMargin
    val on = spark.sql(q)
    assert(scannedTables(on).exists(_.endsWith("base_mv_kll")),
      s"kll mview should serve: ${scannedTables(on)}")
    on.collect().foreach { r =>
      val vs = rows(r.getLong(0))
      val rank = vs.count(_ <= r.getDouble(1)).toDouble / vs.length
      assert(math.abs(rank - 0.5) <= 0.05,
        s"rewritten grp ${r.getLong(0)}: rank $rank")
    }
    // refresh appends a second sketch partial per group; union still
    // rank-accurate
    spark.sql(
      """INSERT INTO graft.mv.base
        |SELECT id + 9000, id % 7, 's0', CAST(id AS DOUBLE),
        |       CAST(1.00 AS DECIMAL(10,2)) FROM range(500)""".stripMargin)
    spark.sql("CALL graft.sys.mview_refresh(" +
      "table => 'mv.base', name => 'kll')").collect()
    val rows2 = spark.table("graft.mv.base")
      .select("grp", "k").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sorted)
    val on2 = spark.sql(q)
    assert(scannedTables(on2).exists(_.endsWith("base_mv_kll")))
    on2.collect().foreach { r =>
      val vs = rows2(r.getLong(0))
      val rank = vs.count(_ <= r.getDouble(1)).toDouble / vs.length
      assert(math.abs(rank - 0.5) <= 0.05,
        s"post-refresh grp ${r.getLong(0)}: rank $rank")
    }
    // stale-by-append: no singleton-sketch projection for raw rows —
    // decline to the base, like hll
    spark.sql(
      """INSERT INTO graft.mv.base VALUES
        |(99998, 1, 's1', 1.0, CAST(1.00 AS DECIMAL(10,2)))""".stripMargin)
    val stale = spark.sql(q)
    assert(!scannedTables(stale).exists(_.endsWith("base_mv_kll")),
      "kll staleness cannot union raw rows; must fall back to the base")
    spark.sql("DROP TABLE IF EXISTS graft.mv.base_mv_kll")
  }

  test("streaming ingest composes with incremental mview maintenance") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv")
    spark.sql("DROP TABLE IF EXISTS graft.mv.sbase")
    spark.sql("DROP TABLE IF EXISTS graft.mv.sbase_mv_bytag")
    spark.sql(
      """CREATE TABLE graft.mv.sbase (k BIGINT, tag STRING, v BIGINT)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='4')""".stripMargin)
    val ckpt = tempDir("graft_mv_stream_ckpt").toString
    val in = MemoryStream[(Long, String, Long)]
    val q = in.toDF().toDF("k", "tag", "v").writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .toTable("graft.mv.sbase")
    try {
      in.addData((0L until 100L).map(k => (k, s"t${k % 5}", k)): _*)
      q.processAllAvailable()
      spark.sql("CALL graft.sys.mview(table => 'mv.sbase', " +
        "name => 'bytag', group_by => 'tag', " +
        "aggs => 'sum:v;count:*')").collect()
      // next micro-batch lands as an epoch append → CDC delta
      in.addData((100L until 200L).map(k => (k, s"t${k % 5}", k)): _*)
      q.processAllAvailable()
      val out = spark.sql("CALL graft.sys.mview_refresh(" +
        "table => 'mv.sbase', name => 'bytag')").collect()(0)
      assert(out.getString(1) == "5", "one partial per group in the epoch")
      // fresh again → the transparent rewrite serves the dashboard agg
      val df = spark.sql(
        """SELECT tag, sum(v) AS sv, count(*) AS c
          |FROM graft.mv.sbase GROUP BY tag""".stripMargin)
      assert(scannedTables(df).exists(_.endsWith("sbase_mv_bytag")))
      val rows = df.collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows("t0") == ((0L until 200L).filter(_ % 5 == 0).sum, 40L))
    } finally q.stop()
    spark.sql("DROP TABLE graft.mv.sbase")
    spark.sql("DROP TABLE IF EXISTS graft.mv.sbase_mv_bytag")
  }

  test("refresh refuses after a row-removing op; rebuild re-arms") {
    setup(); buildMv()
    spark.sql("DELETE FROM graft.mv.base WHERE k < 100")
    // a DELETE cannot be repaired by an append-only delta union: the
    // rewrite must fall back to the base entirely
    val noFire = parity(
      "SELECT grp, count(*) AS c FROM graft.mv.base GROUP BY grp")
    assert(!scannedTables(noFire).exists(_.endsWith("base_mv_bygrp")),
      "row-removing staleness must disable the mview")
    val e = intercept[Exception] {
      spark.sql("CALL graft.sys.mview_refresh(" +
        "table => 'mv.base', name => 'bygrp')").collect()
    }
    assert(e.getMessage.contains("rebuild"))
    buildMv() // full rebuild against the post-DELETE base
    val df = parity(
      "SELECT grp, count(*) AS c FROM graft.mv.base GROUP BY grp")
    assert(scannedTables(df).exists(_.endsWith("base_mv_bygrp")))
  }
}
