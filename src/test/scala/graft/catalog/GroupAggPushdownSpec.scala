package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import graft.TestSpark
import graft.operators.CatalogQueries

/** Grouped partial-aggregation pushdown ([[GraftGroupAggScan]]): on an
  * UNBUCKETED table the scan folds key-sorted region rows into
  * per-group partials so only group-sized rows reach the merge shuffle;
  * on a fixed-split table the planner deliberately refuses (the
  * KeyGroupedPartitioning complete-agg plan has ZERO shuffles and
  * wins). Asserts both planner choices, answer parity against the
  * unpushed plan (the config-matrix discipline every acceleration
  * follows), null semantics, duplicate partials from overlapping append
  * regions, and the refusal cases (non-prefix grouping). */
class GroupAggPushdownSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  private def plan(df: DataFrame, mode: String = "simple"): String =
    df.queryExecution.explainString(ExplainMode.fromString(mode))

  private def withPushdownOff[A](body: => A): A = {
    spark.conf.set(GraftAccel.AggPushdown, "false")
    try body finally spark.conf.set(GraftAccel.AggPushdown, "true")
  }

  test("unbucketed table: scan emits grouped partials, raw rows never shuffle") {
    val df = CatalogQueries.keyGroupByPushdown(spark, sf)
    df.collect() // finalize adaptive plan
    val p = plan(df, "formatted")
    assert(p.contains("GraftGroupAggScan"), s"grouped agg not pushed:\n$p")
    // the only exchange carries partial rows (scan output IS partials —
    // a full-row exchange is structurally impossible); merge is one
    // partial+final pair over them
    val finalPlan = p.substring(p.indexOf("== Final Plan =="),
      p.indexOf("== Initial Plan =="))
    assert("Exchange".r.findAllIn(finalPlan).size <= 1, p)
  }

  test("fixed-split table: planner refuses pushdown, keeps zero-shuffle plan") {
    // lineitem_t is bucketed: the complete agg on KeyGroupedPartitioning
    // (no Exchange at all) beats partials + merge shuffle
    CatalogQueries.keyGroupBy(spark, sf).collect()
    val df = CatalogQueries.keyGroupBy(spark, sf)
    df.collect()
    val p = plan(df, "formatted")
    assert(!p.contains("GraftGroupAggScan"),
      s"must not push on a bucketed table:\n$p")
    assert(!p.contains("Exchange"), s"bucketed agg should stay " +
      s"exchange-free:\n$p")
  }

  test("SPJ conf unset reads as Spark's default (on): a key group-by on " +
      "orders_t keeps the exchange-free plan it gets with the conf true") {
    val key = "spark.sql.sources.v2.bucketing.enabled"
    CatalogQueries.queries("catalog_key_agg")(spark, sf).collect()
    val q = "SELECT o_orderkey, count(*) AS n FROM graft.sf_" +
      math.abs(sf.hashCode) + ".orders_t GROUP BY o_orderkey"
    def finalPlan(): String = {
      val df = spark.sql(q)
      df.collect()
      plan(df).replaceAll("#\\d+", "")
    }
    assert(!spark.sessionState.conf.contains(key), "the session sets it")
    val unset = finalPlan()
    TestSpark.withConf(key -> "true") { assert(finalPlan() == unset) }
    assert(!unset.contains("GraftGroupAggScan"), unset)
    assert(!unset.contains("Exchange"), unset)
    // the gate is live: with SPJ off the scan folds the partials
    TestSpark.withConf(key -> "false") {
      assert(finalPlan().contains("GraftGroupAggScan"))
    }
  }

  test("pushed answers equal the unpushed plan (incl. int SUM widening)") {
    val on = CatalogQueries.keyGroupByPushdown(spark, sf).collect().toSet
    withPushdownOff {
      val off = CatalogQueries.keyGroupByPushdown(spark, sf)
      assert(!plan(off).contains("GraftGroupAggScan"))
      assert(off.collect().toSet == on)
    }
    assert(on.nonEmpty)
  }

  test("null inputs: COUNT skips, MIN/MAX skip, all-null group SUM is null") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gap")
    spark.sql("DROP TABLE IF EXISTS graft.gap.nulls")
    spark.sql(
      """CREATE TABLE graft.gap.nulls
        |(k BIGINT, v BIGINT, d DOUBLE, s STRING)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.gap.nulls SELECT
        |  id % 25 AS k,
        |  CASE WHEN id % 3 = 0 THEN NULL ELSE id END AS v,
        |  CASE WHEN id % 25 = 7 THEN NULL ELSE id * 1.5 END AS d,
        |  CASE WHEN id % 5 = 0 THEN NULL ELSE concat('x', id) END AS s
        |FROM range(200)""".stripMargin)
    val q = """SELECT k, count(*) AS n, count(v) AS nv, sum(v) AS sv,
              |       sum(d) AS sd, min(s) AS slo, max(s) AS shi
              |FROM graft.gap.nulls GROUP BY k""".stripMargin
    val pushed = spark.sql(q)
    assert(plan(pushed).contains("GraftGroupAggScan"))
    val got = pushed.collect().toSet
    val exp = withPushdownOff(spark.sql(q).collect().toSet)
    assert(got == exp)
    // group k=7 has every d NULL -> SUM(d) must be NULL, not 0.0
    assert(got.exists(r => r.getLong(0) == 7L && r.isNullAt(4)))
    spark.sql("DROP TABLE graft.gap.nulls")
  }

  test("overlapping append regions emit duplicate partials that merge right") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gap")
    spark.sql("DROP TABLE IF EXISTS graft.gap.overlap")
    spark.sql(
      """CREATE TABLE graft.gap.overlap (k BIGINT, v BIGINT)
        |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    // three separate appends over the SAME key range: every group spans
    // three region files, so the scan emits >=3 partial rows per group
    (1 to 3).foreach { i =>
      spark.sql(s"INSERT INTO graft.gap.overlap " +
        s"SELECT id % 10, id * $i FROM range(100)")
    }
    val q = "SELECT k, count(*) AS n, sum(v) AS sv FROM graft.gap.overlap " +
      "GROUP BY k"
    val pushed = spark.sql(q)
    assert(plan(pushed).contains("GraftGroupAggScan"))
    val got = pushed.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).toSet
    val exp = withPushdownOff(spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    assert(got == exp)
    assert(got.forall(_._2 == 30L)) // 10 rows x 3 appends per group
    spark.sql("DROP TABLE graft.gap.overlap")
  }

  test("non-prefix grouping does not push (trailing key / non-key / expr)") {
    CatalogQueries.keyGroupByPushdown(spark, sf) // ensure table exists
    val li = "graft.sf_" + math.abs(sf.hashCode) + ".lineitem_h_t"
    for (q <- Seq(
      s"SELECT l_linenumber, count(*) c FROM $li GROUP BY l_linenumber",
      s"SELECT l_shipdate, count(*) c FROM $li GROUP BY l_shipdate",
      s"SELECT l_orderkey % 7 AS g, count(*) c FROM $li GROUP BY 1")) {
      assert(!plan(spark.sql(q)).contains("GraftGroupAggScan"),
        s"must not push: $q")
    }
    // distinct aggregates must not push either
    assert(!plan(spark.sql(s"SELECT l_orderkey, " +
      s"count(DISTINCT l_linenumber) c FROM $li GROUP BY l_orderkey"))
      .contains("GraftGroupAggScan"))
  }

  test("randomized parity: pushed == unpushed over types x nulls x appends") {
    // fixed-seed randomized tables: every supported agg-input type
    // class with per-column null rates, multiple overlapping appends,
    // and a 2-col composite key; the pushed plan must agree with the
    // unpushed plan exactly (the same property discipline the pruning
    // soundness suite uses)
    val rnd = new scala.util.Random(20260813L)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gap")
    for (trial <- 1 to 3) {
      val t = s"graft.gap.prop_$trial"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(
        s"""CREATE TABLE $t (k1 BIGINT, k2 INT, vi INT, vl BIGINT,
           |vd DOUBLE, vf FLOAT, vs STRING, vdt DATE, vb BOOLEAN)
           |TBLPROPERTIES('keyCols'='k1;k2')""".stripMargin)
      val nKeys = 5 + rnd.nextInt(20)
      val appends = 1 + rnd.nextInt(3)
      val rows = 100 + rnd.nextInt(300)
      val nullPct = rnd.nextInt(60)
      (1 to appends).foreach { a =>
        spark.sql(
          s"""INSERT INTO $t SELECT
             |  id % $nKeys, CAST(id % 3 AS INT),
             |  CASE WHEN id % 100 < $nullPct THEN NULL
             |       ELSE CAST(id * $a % 1000 AS INT) END,
             |  CASE WHEN (id + 7) % 100 < $nullPct THEN NULL
             |       ELSE id * ${a * 13} END,
             |  CASE WHEN (id + 13) % 100 < $nullPct THEN NULL
             |       ELSE id * 0.37 * $a END,
             |  CAST(id % 17 AS FLOAT),
             |  CASE WHEN (id + 23) % 100 < $nullPct THEN NULL
             |       ELSE concat('s', (id * $a) % 50) END,
             |  date_add(DATE'2024-01-01', CAST(id % 400 AS INT)),
             |  id % 2 = 0
             |FROM range($rows)""".stripMargin)
      }
      for (groupCols <- Seq("k1", "k1, k2")) {
        val q =
          s"""SELECT $groupCols, count(*) n, count(vi) ni, count(vs) ns,
             |  sum(vi) si, sum(vl) sl, round(sum(vd), 6) sd,
             |  min(vi) mni, max(vl) mxl, min(vs) mns, max(vs) mxs,
             |  min(vdt) mnd, max(vdt) mxd, min(vb) mnb, max(vb) mxb,
             |  round(sum(vf), 4) sf
             |FROM $t GROUP BY $groupCols""".stripMargin
        val pushed = spark.sql(q)
        assert(plan(pushed).contains("GraftGroupAggScan"),
          s"trial $trial [$groupCols] did not push:\n${plan(pushed)}")
        val got = pushed.collect().map(_.toSeq).toSet
        val exp = withPushdownOff(spark.sql(q).collect().map(_.toSeq).toSet)
        assert(got == exp, s"trial $trial [$groupCols] mismatch " +
          s"(nKeys=$nKeys appends=$appends rows=$rows nullPct=$nullPct)")
      }
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("AVG pushes as SUM+COUNT partials (Spark's pre-pushdown rewrite)") {
    CatalogQueries.keyGroupByPushdown(spark, sf)
    val li = "graft.sf_" + math.abs(sf.hashCode) + ".lineitem_h_t"
    val q = s"SELECT l_orderkey, avg(l_extendedprice) AS a, " +
      s"avg(l_linenumber) AS ai FROM $li GROUP BY l_orderkey"
    val df = spark.sql(q)
    assert(plan(df).contains("GraftGroupAggScan"), s"avg not pushed:\n${plan(df)}")
    val got = df.collect().map(r => (r.getLong(0),
      math.round(r.getDouble(1) * 100), r.getDouble(2))).toSet
    val exp = withPushdownOff(spark.sql(q).collect().map(r => (r.getLong(0),
      math.round(r.getDouble(1) * 100), r.getDouble(2))).toSet)
    assert(got == exp)
  }

  test("grouping on the full 2-col key prefix pushes, any column order") {
    CatalogQueries.keyGroupByPushdown(spark, sf)
    val li = "graft.sf_" + math.abs(sf.hashCode) + ".lineitem_h_t"
    for (q <- Seq(
      s"SELECT l_orderkey, l_linenumber, sum(l_extendedprice) s FROM $li " +
        "GROUP BY l_orderkey, l_linenumber",
      s"SELECT l_linenumber, l_orderkey, sum(l_extendedprice) s FROM $li " +
        "GROUP BY l_linenumber, l_orderkey")) {
      val df = spark.sql(q)
      assert(plan(df).contains("GraftGroupAggScan"), s"should push: $q")
      val got = df.collect().map(r => r.toSeq).toSet
      val exp = withPushdownOff(spark.sql(q).collect().map(_.toSeq).toSet)
      assert(got == exp)
    }
  }
}
