package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.TestSpark

/** Storage-partitioned plans over fixed-split (`regionSplits`) graft
  * tables: exchange-free GROUP BY on the key prefix and exchange-free
  * fact-fact joins between identically-split tables — the rebuild of
  * the reference's exchange-free intent (`HBaseStrategies.scala:44-175`,
  * asserts disabled at `HBaseAdditionalQuerySuite.scala:299-308`). */
class StoragePartitionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  // sf0.001 orderkeys span 0..1499
  private val Splits = "300;600;900"

  override def beforeAll(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    spark.sql("DROP TABLE IF EXISTS graft.spj.orders_s")
    spark.sql("DROP TABLE IF EXISTS graft.spj.li_s")
    spark.sql(
      s"""CREATE TABLE graft.spj.orders_s (
         |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
         |TBLPROPERTIES('keyCols'='o_orderkey',
         |              'regionSplits'='$Splits')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE graft.spj.li_s (
         |  l_orderkey BIGINT, l_linenumber INT, l_extendedprice DOUBLE)
         |TBLPROPERTIES('keyCols'='l_orderkey;l_linenumber',
         |              'regionSplits'='$Splits')""".stripMargin)
    spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("spj_orders_src")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .createOrReplaceTempView("spj_li_src")
    spark.sql("INSERT INTO graft.spj.orders_s SELECT * FROM spj_orders_src")
    spark.sql("INSERT INTO graft.spj.li_s SELECT * FROM spj_li_src")
  }

  /** Final (post-AQE) plan, one line per operator. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(ExplainMode.fromString("simple"))
  }

  private def shuffles(p: String): Int =
    p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("every region file of a fixed-split table carries its bucket") {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val dir = cat.loadTable(Identifier.of(Array("spj"), "li_s"))
      .asInstanceOf[GraftTable].tableDir
    val regions = TableMeta.loadRegions(dir)
    assert(regions.nonEmpty && regions.forall(_.bucket >= 0))
    assert(regions.map(_.bucket).distinct.sorted == Seq(0, 1, 2, 3))
    // bucket ranges respected: max key of bucket b < split point b
    val splits = TableMeta.load(dir).splits.get
    regions.foreach { r =>
      val lo = graft.codec.KeyCodec.fromHex(r.mins.head)
      val hi = graft.codec.KeyCodec.fromHex(r.maxs.head)
      assert(splits.bucketOf(lo) == r.bucket && splits.bucketOf(hi) == r.bucket)
    }
  }

  test("GROUP BY on the key prefix plans with no Exchange") {
    val df = spark.sql(
      """SELECT l_orderkey, count(*) AS n,
        |       round(sum(l_extendedprice), 2) AS s
        |FROM graft.spj.li_s GROUP BY l_orderkey""".stripMargin)
    val p = finalPlan(df)
    assert(shuffles(p) == 0, s"expected exchange-free group-by:\n$p")
    val want = sortedRows(spark.sql(
      """SELECT l_orderkey, count(*) AS n,
        |       round(sum(l_extendedprice), 2) AS s
        |FROM spj_li_src GROUP BY l_orderkey""".stripMargin))
    assert(sortedRows(df) == want)
  }

  /** Run `body` with broadcast joins disabled — at test scale every
    * dimension fits a broadcast, which is the plan we want in prod for
    * SMALL sides; these tests prove the big-big (both sides too large
    * to broadcast) path needs no Exchange either. */
  private def noBroadcast[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("co-partitioned fact-fact join plans with no Exchange") { noBroadcast {
    // integer aggregates: double sums vary in the last ulp with
    // partition layout, which is noise, not a correctness signal
    val df = spark.sql(
      """SELECT o.o_orderkey, count(*) AS n, sum(l.l_linenumber) AS sl
        |FROM graft.spj.orders_s o
        |JOIN graft.spj.li_s l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderkey""".stripMargin)
    val p = finalPlan(df)
    assert(shuffles(p) == 0,
      s"expected storage-partitioned join, got shuffles:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    val want = sortedRows(spark.sql(
      """SELECT o.o_orderkey, count(*) AS n, sum(l.l_linenumber) AS sl
        |FROM spj_orders_src o
        |JOIN spj_li_src l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderkey""".stripMargin))
    assert(sortedRows(df) == want)
  } }

  test("key-pruned co-partitioned join stays exchange-free and correct") { noBroadcast {
    val df = spark.sql(
      """SELECT o.o_orderkey, count(*) AS n
        |FROM graft.spj.orders_s o
        |JOIN graft.spj.li_s l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey BETWEEN 250 AND 700
        |GROUP BY o.o_orderkey""".stripMargin)
    val p = finalPlan(df)
    assert(shuffles(p) == 0, s"pruned SPJ should stay exchange-free:\n$p")
    val want = sortedRows(spark.sql(
      """SELECT o.o_orderkey, count(*) AS n
        |FROM spj_orders_src o
        |JOIN spj_li_src l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey BETWEEN 250 AND 700
        |GROUP BY o.o_orderkey""".stripMargin))
    assert(sortedRows(df) == want)
  } }

  test("sessionization over a (user_id, ts)-keyed table: no Exchange, no Sort") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    spark.sql("DROP TABLE IF EXISTS graft.spj.events_s")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val src = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => raw
    }).select("user_id", "ts", "value")
    val splits = src.stat
      .approxQuantile("user_id", (1 until 4).map(_ / 4.0).toArray, 0.001)
      .map(_.toLong).distinct.sorted.mkString(";")
    spark.sql(
      s"""CREATE TABLE graft.spj.events_s (
         |  user_id BIGINT, ts TIMESTAMP, value DOUBLE)
         |TBLPROPERTIES('keyCols'='user_id;ts',
         |              'regionSplits'='$splits')""".stripMargin)
    src.createOrReplaceTempView("spj_events_src")
    spark.sql("INSERT INTO graft.spj.events_s SELECT * FROM spj_events_src")

    def sessions(table: String) =
      graft.operators.Extended.sessionize(spark.table(table))
    val df = sessions("graft.spj.events_s")
    val p = finalPlan(df)
    assert(shuffles(p) == 0,
      s"expected exchange-free sessionization:\n$p")
    // the scan's reported (user_id, ts) ordering must also elide the
    // window sort — no Sort operator anywhere in the final plan
    // ("Sort [" is the Sort exec node; SortAggregate/SortMergeJoin
    // would print differently)
    assert(!p.linesIterator.exists(_.contains("Sort [")),
      s"expected sort-free sessionization:\n$p")
    assert(sortedRows(df) == sortedRows(sessions("spj_events_src")))
    spark.sql("DROP TABLE graft.spj.events_s")
  }

  test("as-of join over a (user_id, ts)-keyed table: the single-pass " +
      "window plans with no Exchange") {
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS graft.spj.events_a")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val src = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => raw
    }).select("user_id", "ts", "event_type", "event_id", "value")
    val splits = src.stat
      .approxQuantile("user_id", (1 until 4).map(_ / 4.0).toArray, 0.001)
      .map(_.toLong).distinct.sorted.mkString(";")
    spark.sql(
      s"""CREATE TABLE graft.spj.events_a (
         |  user_id BIGINT, ts TIMESTAMP, event_type STRING,
         |  event_id BIGINT, value DOUBLE)
         |TBLPROPERTIES('keyCols'='user_id;ts',
         |              'regionSplits'='$splits')""".stripMargin)
    src.createOrReplaceTempView("spj_events_asrc")
    spark.sql("INSERT INTO graft.spj.events_a SELECT * FROM spj_events_asrc")
    val df = graft.operators.Extended.asofOf(spark.table("graft.spj.events_a"))
    val p = finalPlan(df)
    assert(shuffles(p) == 0, s"expected exchange-free as-of join:\n$p")
    // answers equal the parquet-faced pipeline on the same rows
    assert(sortedRows(df) ==
      sortedRows(graft.operators.Extended.asofOf(
        spark.table("spj_events_asrc"))))
    spark.sql("DROP TABLE graft.spj.events_a")
  }

  test("funnel over a (user_id, ts)-keyed table: step aggs and chain " +
      "joins plan with no user_id Exchange") {
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS graft.spj.events_fu")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val src = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => raw
    }).select("user_id", "ts", "event_type", "event_id", "value")
    val splits = src.stat
      .approxQuantile("user_id", (1 until 4).map(_ / 4.0).toArray, 0.001)
      .map(_.toLong).distinct.sorted.mkString(";")
    spark.sql(
      s"""CREATE TABLE graft.spj.events_fu (
         |  user_id BIGINT, ts TIMESTAMP, event_type STRING,
         |  event_id BIGINT, value DOUBLE)
         |TBLPROPERTIES('keyCols'='user_id;ts',
         |              'regionSplits'='$splits')""".stripMargin)
    src.createOrReplaceTempView("spj_events_fsrc")
    spark.sql("INSERT INTO graft.spj.events_fu SELECT * FROM spj_events_fsrc")
    val df = graft.operators.Extended.funnelOf(
      spark.table("graft.spj.events_fu"))
    df.collect()
    val p = finalPlan(df)
    // only the three single-row global counts may shuffle
    // (SinglePartition); the per-user steps and joins must not
    val bad = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        l.contains("user_id")).toSeq
    assert(bad.isEmpty,
      s"user_id shuffles present:\n${bad.mkString("\n")}\n\nplan:\n$p")
    assert(sortedRows(df) ==
      sortedRows(graft.operators.Extended.funnelOf(
        spark.table("spj_events_fsrc"))))
    spark.sql("DROP TABLE graft.spj.events_fu")
  }

  test("differently-split tables do not claim co-partitioning") {
    spark.sql("DROP TABLE IF EXISTS graft.spj.other_s")
    spark.sql(
      """CREATE TABLE graft.spj.other_s (
        |  o_orderkey BIGINT, o_custkey BIGINT)
        |TBLPROPERTIES('keyCols'='o_orderkey',
        |              'regionSplits'='500;1000')""".stripMargin)
    spark.sql("INSERT INTO graft.spj.other_s " +
      "SELECT o_orderkey, o_custkey FROM spj_orders_src")
    val df = spark.sql(
      """SELECT count(*) AS n
        |FROM graft.spj.other_s a
        |JOIN graft.spj.li_s l ON a.o_orderkey = l.l_orderkey""".stripMargin)
    // correctness over plan shape: Spark must fall back to shuffling
    val want = spark.sql(
      """SELECT count(*) AS n FROM spj_orders_src a
        |JOIN spj_li_src l ON a.o_orderkey = l.l_orderkey""".stripMargin)
      .collect().head.getLong(0)
    assert(df.collect().head.getLong(0) == want)
    spark.sql("DROP TABLE graft.spj.other_s")
  }

  test("compaction preserves buckets and exchange-free plans") {
    spark.sql("DROP TABLE IF EXISTS graft.spj.compact_s")
    spark.sql(
      s"""CREATE TABLE graft.spj.compact_s (
         |  o_orderkey BIGINT, o_totalprice DOUBLE)
         |TBLPROPERTIES('keyCols'='o_orderkey',
         |              'regionSplits'='$Splits')""".stripMargin)
    // two appends -> overlapping small regions per bucket
    spark.sql("INSERT INTO graft.spj.compact_s " +
      "SELECT o_orderkey, o_totalprice FROM spj_orders_src " +
      "WHERE o_orderkey % 2 = 0")
    spark.sql("INSERT INTO graft.spj.compact_s " +
      "SELECT o_orderkey, o_totalprice FROM spj_orders_src " +
      "WHERE o_orderkey % 2 = 1")
    GraftCompact.compact(spark, "graft", "spj", "compact_s", 4)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val dir = cat.loadTable(Identifier.of(Array("spj"), "compact_s"))
      .asInstanceOf[GraftTable].tableDir
    val regions = TableMeta.loadRegions(dir)
    // compacted regions are written through the same bucket-stamping
    // writer, so key-grouped plans survive compaction
    assert(regions.nonEmpty && regions.forall(_.bucket >= 0), regions)
    val df = spark.sql(
      """SELECT o_orderkey, round(sum(o_totalprice), 2) AS s
        |FROM graft.spj.compact_s GROUP BY o_orderkey""".stripMargin)
    val p = finalPlan(df)
    assert(shuffles(p) == 0,
      s"post-compaction group-by should stay exchange-free:\n$p")
    val want = sortedRows(spark.sql(
      """SELECT o_orderkey, round(sum(o_totalprice), 2) AS s
        |FROM spj_orders_src GROUP BY o_orderkey""".stripMargin))
    assert(sortedRows(df) == want)
    spark.sql("DROP TABLE graft.spj.compact_s")
  }

  test("bucketed tiny regions pack per bucket with the scan-wide target") {
    spark.sql("DROP TABLE IF EXISTS graft.spj.pack_s")
    spark.sql(
      s"""CREATE TABLE graft.spj.pack_s (o_orderkey BIGINT, v INT)
         |TBLPROPERTIES('keyCols'='o_orderkey',
         |              'regionSplits'='$Splits')""".stripMargin)
    (0 until 3).foreach { i =>
      spark.sql("INSERT INTO graft.spj.pack_s " +
        s"SELECT o_orderkey, $i FROM spj_orders_src")
    }
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val table = cat.loadTable(Identifier.of(Array("spj"), "pack_s"))
      .asInstanceOf[GraftTable]
    assert(TableMeta.loadRegions(table.tableDir).size == 12) // 3×4 buckets
    TestSpark.withConf("spark.sql.files.minPartitionNum" -> "2",
        TestSpark.SparkDefaultSplit) {
      val parts = table.newScanBuilder(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())).build()
        .toBatch.planInputPartitions()
      // the scan-wide target lets each bucket's 3 tiny files merge —
      // 4 partitions (one per bucket), never mixing buckets
      assert(parts.length == 4, s"got ${parts.length}")
      val keyed = parts.map(_.asInstanceOf[GraftKeyedInputPartition])
      assert(keyed.map(_.bucket).sorted.toSeq == Seq(0, 1, 2, 3))
      assert(keyed.forall(_.files.length == 3))
      // key-grouped group-by stays exchange-free over packed partitions
      val df = spark.sql(
        """SELECT o_orderkey, count(*) AS n FROM graft.spj.pack_s
          |GROUP BY o_orderkey""".stripMargin)
      assert(shuffles(finalPlan(df)) == 0)
    }
    spark.sql("DROP TABLE graft.spj.pack_s")
  }

  test("regionSplits cannot be altered after creation") {
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.spj.orders_s " +
        "SET TBLPROPERTIES('regionSplits'='1;2')")
    }
    assert(e.getMessage.contains("fixed at CREATE"))
  }
}
