package graft.catalog

import scala.util.Random

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.codec.KeyCodec

/** Non-key column statistics (per-region min/max/null-count in the
  * manifest) and the region skipping they drive.
  *
  * Soundness is the invariant that must never break: a region pruned by
  * [[ColStats.Compiled.survives]] must contain NO row on which the predicate
  * evaluates TRUE — verified property-style against a brute-force
  * 3-valued evaluator over random nullable data (the key-path analogue
  * is PruneSoundnessSpec, whose rows are non-null and classical).
  */
class ColStatsSpec extends AnyFunSuite with graft.TempDirs {

  private val rnd = new Random(20260812)

  private def survives(fs: Seq[sources.Filter], st: Map[String, ColStat],
      types: Map[String, DataType]): Boolean =
    ColStats.compile(fs, types).survives(st)

  // ---- brute force: Kleene 3VL; a filter passes a row iff TRUE -------

  private type Row2 = (Option[Int], Option[String])

  private def eval3(f: sources.Filter, row: Row2): Option[Boolean] = {
    def v(c: String): Option[Any] = if (c == "a") row._1 else row._2
    // raw UTF-8 byte order — the order both the stats and Spark's
    // UTF8String comparison use
    def strCmp(x: String, y: String): Int =
      KeyCodec.compare(x.getBytes("UTF-8"), y.getBytes("UTF-8"))
    def cmp(c: String, lit: Any): Option[Int] = v(c).map {
      case i: Int => Integer.compare(i, lit.asInstanceOf[Int])
      case s: String => strCmp(s, lit.asInstanceOf[String])
    }
    f match {
      case sources.And(l, r) => (eval3(l, row), eval3(r, row)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case sources.Or(l, r) => (eval3(l, row), eval3(r, row)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case sources.Not(g) => eval3(g, row).map(!_)
      case sources.EqualTo(c, x) => cmp(c, x).map(_ == 0)
      case sources.EqualNullSafe(c, null) => Some(v(c).isEmpty)
      case sources.EqualNullSafe(c, x) =>
        Some(cmp(c, x).contains(0))
      case sources.GreaterThan(c, x) => cmp(c, x).map(_ > 0)
      case sources.GreaterThanOrEqual(c, x) => cmp(c, x).map(_ >= 0)
      case sources.LessThan(c, x) => cmp(c, x).map(_ < 0)
      case sources.LessThanOrEqual(c, x) => cmp(c, x).map(_ <= 0)
      // SQL IN: null element → match is TRUE or NULL, never FALSE
      case sources.In(c, xs) => v(c).flatMap { x =>
        if (xs.filter(_ != null).contains(x)) Some(true)
        else if (xs.contains(null)) None
        else Some(false)
      }
      case sources.IsNull(c) => Some(v(c).isEmpty)
      case sources.IsNotNull(c) => Some(v(c).isDefined)
      case sources.StringStartsWith(c, p) =>
        v(c).map(_.asInstanceOf[String].startsWith(p))
      case other => fail(s"unexpected $other")
    }
  }

  // ---- random predicates over one int + one string column ------------

  private def randStr(max: Int): String = {
    val alphabet = "abAB0é￮"
    (0 until rnd.nextInt(max + 1)).map(_ =>
      alphabet(rnd.nextInt(alphabet.length))).mkString
  }

  private def randLeaf(): sources.Filter = {
    val useInt = rnd.nextBoolean()
    val c = if (useInt) "a" else "s"
    def lit: Any = if (useInt) rnd.nextInt(40) - 20 else randStr(3)
    rnd.nextInt(11) match {
      case 0 => sources.EqualTo(c, lit)
      case 1 => sources.GreaterThan(c, lit)
      case 2 => sources.GreaterThanOrEqual(c, lit)
      case 3 => sources.LessThan(c, lit)
      case 4 => sources.LessThanOrEqual(c, lit)
      case 5 => sources.In(c, Array.fill(1 + rnd.nextInt(3))(
        if (rnd.nextInt(6) == 0) null else lit))
      case 6 => sources.EqualNullSafe(c, if (rnd.nextInt(4) == 0) null else lit)
      case 7 => sources.IsNull(c)
      case 8 => sources.IsNotNull(c)
      case 9 => sources.StringStartsWith("s", randStr(2))
      case 10 => sources.Not(randLeaf())
    }
  }

  private def randPred(depth: Int): sources.Filter =
    if (depth == 0 || rnd.nextInt(3) == 0) randLeaf()
    else rnd.nextInt(5) match {
      case 0 | 1 => sources.And(randPred(depth - 1), randPred(depth - 1))
      case 2 | 3 => sources.Or(randPred(depth - 1), randPred(depth - 1))
      case 4 => sources.Not(randPred(depth - 1))
    }

  /** Region stats built through the real writer-side trackers. */
  private def statsOf(rows: Seq[Row2]): Map[String, ColStat] = {
    val fa = StructField("a", IntegerType)
    val fs = StructField("s", StringType)
    val (ta, ts) = (ColStats.tracker(fa), ColStats.tracker(fs))
    rows.foreach { case (a, s) =>
      val ir = new GenericInternalRow(Array[Any](
        a.map(Int.box).orNull, s.map(UTF8String.fromString).orNull))
      if (a.isEmpty) ta.nulls += 1 else ta.observe(ir, 0)
      if (s.isEmpty) ts.nulls += 1 else ts.observe(ir, 1)
    }
    Map("a" -> ta.stat, "s" -> ts.stat)
  }

  private val types: Map[String, DataType] =
    Map("a" -> IntegerType, "s" -> StringType)

  test("pruned regions have no TRUE rows (2000 random 3VL scenarios)") {
    (1 to 2000).foreach { i =>
      val rows: Seq[Row2] = Seq.fill(10 + rnd.nextInt(40))((
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(40) - 20),
        if (rnd.nextInt(5) == 0) None else Some(randStr(4))))
      val regions = rows.grouped(1 + rnd.nextInt(8)).toSeq
      val pred = randPred(3)
      regions.foreach { rg =>
        if (!survives(Seq(pred), statsOf(rg), types)) {
          val matching = rg.filter(eval3(pred, _).contains(true))
          assert(matching.isEmpty,
            s"scenario $i: pruned region $rg has TRUE rows $matching " +
              s"under $pred (stats ${statsOf(rg)})")
        }
      }
    }
  }

  test("long string bounds truncate but stay sound") {
    val base = "x" * (ColStats.MaxStringStatBytes + 30)
    val rows: Seq[Row2] = Seq(
      (Some(1), Some(base + "aaa")), (Some(2), Some(base + "zzz")))
    val st = statsOf(rows)
    val s = st("s")
    assert(s.min.get.length / 2 <= ColStats.MaxStringStatBytes)
    assert(s.max.get.length / 2 <= ColStats.MaxStringStatBytes)
    // equality inside the truncated range must survive
    assert(survives(
      Seq(sources.EqualTo("s", base + "mmm")), st, types))
    // far outside must prune
    assert(!survives(Seq(sources.EqualTo("s", "a")), st, types))
    assert(!survives(Seq(sources.EqualTo("s", "zzz")), st, types))
    // prefix of the shared run must survive
    assert(survives(
      Seq(sources.StringStartsWith("s", "x" * 10)), st, types))
  }

  test("NaN regions follow Spark's NaN-greatest comparison semantics") {
    val f = StructField("d", DoubleType)
    val t = ColStats.tracker(f)
    t.observe(new GenericInternalRow(Array[Any](Double.NaN)), 0)
    val st = Map("d" -> t.stat)
    val ty = Map("d" -> (DoubleType: DataType))
    // Spark: NaN > x is TRUE, NaN < x is FALSE, NaN = NaN is TRUE
    assert(survives(Seq(sources.GreaterThan("d", 5.0)), st, ty))
    assert(!survives(Seq(sources.LessThan("d", 5.0)), st, ty))
    assert(survives(Seq(sources.EqualTo("d", Double.NaN)), st, ty))
    assert(!survives(Seq(sources.EqualTo("d", 5.0)), st, ty))
  }

  test("zero bounds cover both signed zeros") {
    val f = StructField("d", DoubleType)
    val t = ColStats.tracker(f)
    val ir = new GenericInternalRow(Array[Any](-0.0))
    t.observe(ir, 0)
    val st = Map("d" -> t.stat)
    val ty = Map("d" -> (DoubleType: DataType))
    // a region holding only -0.0 must survive "= 0.0" (SQL: -0.0 = 0.0)
    assert(survives(Seq(sources.EqualTo("d", 0.0)), st, ty))
    assert(survives(Seq(sources.EqualTo("d", -0.0)), st, ty))
  }

  // ---- catalog integration -------------------------------------------

  private lazy val spark = TestSpark.spark

  private def findScan(p: org.apache.spark.sql.execution.SparkPlan)
      : Option[BatchScanExec] = p match {
    case b: BatchScanExec => Some(b)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      findScan(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      findScan(q.plan)
    case other => other.children.iterator.flatMap(findScan(_)).nextOption()
  }

  test("non-key predicate skips regions through manifest stats") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.logt")
    // log-style table: the key is an ingest id, the timestamp rides
    // along monotonically — the classic time-correlated-key layout
    spark.sql(
      """CREATE TABLE graft.cstats.logt (
        |  log_id BIGINT, event_day DATE, tag STRING, val DOUBLE)
        |TBLPROPERTIES('keyCols'='log_id', 'numRegions'='8')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.cstats.logt
        |SELECT id AS log_id,
        |       date_add(DATE'2024-01-01', CAST(id / 100 AS INT))
        |         AS event_day,
        |       CASE WHEN id % 97 = 0 THEN NULL
        |            ELSE concat('t', id % 5) END AS tag,
        |       id * 1.5 AS val
        |FROM range(8000)""".stripMargin)

    val q = spark.sql(
      """SELECT count(*) AS cnt, round(sum(val), 2) AS s
        |FROM graft.cstats.logt
        |WHERE event_day BETWEEN DATE'2024-01-21' AND DATE'2024-01-25'"""
        .stripMargin)
    val expect = spark.sql(
      """SELECT count(*) AS cnt,
        |       round(sum(CAST(id AS DOUBLE) * 1.5d), 2) AS s
        |FROM range(8000)
        |WHERE date_add(DATE'2024-01-01', CAST(id / 100 AS INT))
        |      BETWEEN DATE'2024-01-21' AND DATE'2024-01-25'""".stripMargin)
    assert(q.collect().toSeq == expect.collect().toSeq)
    q.collect()
    val parts = TestSpark.graftScans(q.queryExecution.executedPlan).head
      .planInputPartitions().length
    // 5 of 80 days → 1 region (plus at most one boundary straddle)
    assert(parts <= 2, s"expected <=2 surviving regions, got $parts")

    // IS NULL hits every region (nulls every 97th id): no false prune
    val nulls = spark.sql(
      "SELECT count(*) AS c FROM graft.cstats.logt WHERE tag IS NULL")
    assert(nulls.head().getLong(0) ==
      (0 until 8000).count(_ % 97 == 0))

    // a tag outside the stored domain prunes EVERY region
    val none = spark.sql(
      "SELECT count(*) AS c FROM graft.cstats.logt WHERE tag = 'zzz'")
    assert(none.head().getLong(0) == 0L)
    none.collect()
    val noneParts = TestSpark.graftScans(none.queryExecution.executedPlan)
      .head.planInputPartitions().length
    assert(noneParts == 0, s"expected 0 surviving regions, got $noneParts")
    spark.sql("DROP TABLE graft.cstats.logt")
  }

  test("table-level column stats aggregate from the manifest (CBO feed)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.cbo")
    spark.sql(
      """CREATE TABLE graft.cstats.cbo (k BIGINT, d DATE, v DOUBLE, s STRING,
        |  p DECIMAL(10,2))
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='4')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.cstats.cbo
        |SELECT id, date_add(DATE'2024-01-01', CAST(id AS INT)),
        |       CASE WHEN id % 10 = 0 THEN NULL ELSE id * 0.5 END,
        |       concat('s', id), CAST(id - 200 AS DECIMAL(10,2)) / 4
        |FROM range(400)""".stripMargin)
    val df = spark.table("graft.cstats.cbo")
    df.collect()
    val scan = TestSpark.graftScans(df.queryExecution.executedPlan).head
    val stats = scan.estimateStatistics()
    assert(stats.numRows().getAsLong == 400L)
    val cs = stats.columnStats()
    import scala.jdk.CollectionConverters._
    val byName = cs.asScala.map { case (ref, st) =>
      ref.fieldNames().mkString(".") -> st }
    // key column: exact min/max, zero nulls
    assert(byName("k").min.get == 0L && byName("k").max.get == 399L)
    assert(byName("k").nullCount.getAsLong == 0L)
    // date column in internal days-since-epoch form
    val day0 = java.time.LocalDate.parse("2024-01-01").toEpochDay.toInt
    assert(byName("d").min.get == day0 && byName("d").max.get == day0 + 399)
    // nullable double: null count summed across regions
    assert(byName("v").nullCount.getAsLong == 40L)
    assert(byName("v").min.get == 0.5 && byName("v").max.get == 199.5)
    // decimal stats store the unscaled long; CBO gets the Catalyst Decimal
    assert(byName("p").min.get == Decimal(BigDecimal("-50.00"), 10, 2))
    assert(byName("p").max.get == Decimal(BigDecimal("49.75"), 10, 2))
    // strings: no min/max (possibly truncated bounds), nulls only
    assert(!byName("s").min.isPresent && byName("s").nullCount.getAsLong == 0L)
    spark.sql("DROP TABLE graft.cstats.cbo")
  }

  test("filtered streaming tail skips regions via manifest stats") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.tail")
    spark.sql(
      """CREATE TABLE graft.cstats.tail (k BIGINT, day INT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='4')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.cstats.tail
        |SELECT id, CAST(id / 500 AS INT), id * 1.0 FROM range(2000)"""
        .stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("cstats"), "tail")).asInstanceOf[GraftTable]
    val total = TableMeta.loadRegions(t.tableDir).size
    assert(total >= 3, s"need multiple regions, got $total")
    def partsFor(fs: Array[sources.Filter]): Int = {
      val stream = new GraftMicroBatchStream(t.tableDir, t.meta.schema, fs)
      stream.planInputPartitions(stream.initialOffset(),
        stream.latestOffset()).length
    }
    assert(partsFor(Array.empty) == total)
    // day is monotone in the key → one region band matches
    val skipped = partsFor(Array(sources.EqualTo("day", 3)))
    assert(skipped < total, s"expected skipping, got $skipped of $total")
    // key-interval pruning works on the stream too
    assert(partsFor(Array(sources.LessThan("k", 10L))) <= 2)
    spark.sql("DROP TABLE graft.cstats.tail")
  }

  test("broadcast join on a non-key column re-prunes regions at runtime") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.rt")
    spark.sql(
      """CREATE TABLE graft.cstats.rt (k BIGINT, day INT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='8')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.cstats.rt
        |SELECT id, CAST(id / 1000 AS INT), id * 1.0 FROM range(8000)"""
        .stripMargin)
    import spark.implicits._
    // dim must come from a V1/V2 relation with a selective predicate —
    // Spark only plans dynamic pruning against a filtered build side
    val dimDir = tempDir("graft_dim_rt").toString
    (0 to 7).map(d => (d, s"tag$d")).toDF("day", "tag")
      .write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir)
      .createOrReplaceTempView("dim_rt")
    val q = spark.sql(
      """SELECT count(*) AS c FROM graft.cstats.rt t
        |JOIN dim_rt d ON t.day = d.day WHERE d.tag = 'tag3'""".stripMargin)
    // collect() (not head()) so the inspected plan is the one that ran —
    // inputRDD on an unexecuted plan has no dynamic-subquery results
    val res = q.collect()
    assert(res(0).getLong(0) == 1000L)
    val scan = findScan(q.queryExecution.executedPlan).get
    assert(scan.runtimeFilters.nonEmpty,
      "expected a dynamic-pruning runtime filter on the non-key column")
    // day=3 covers one region band (+ at most one boundary straddle);
    // without runtime stats pruning all 8 regions would scan
    val parts = scan.inputRDD.getNumPartitions
    assert(parts <= 3, s"expected runtime skip to <=3 of 8 regions, got $parts")
    spark.sql("DROP TABLE graft.cstats.rt")
  }

  test("compaction rewrites carry column stats") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.cmp")
    spark.sql(
      """CREATE TABLE graft.cstats.cmp (k BIGINT, day INT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='4')""".stripMargin)
    // two appends -> small overlapping regions, then compact
    spark.sql(
      """INSERT INTO graft.cstats.cmp
        |SELECT id, CAST(id / 500 AS INT), id * 1.0 FROM range(2000)"""
        .stripMargin)
    spark.sql(
      """INSERT INTO graft.cstats.cmp
        |SELECT id, CAST(id / 500 AS INT), id * 1.0 FROM range(2000, 4000)"""
        .stripMargin)
    GraftCompact.compact(spark, "graft", "cstats", "cmp", 4)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("cstats"), "cmp")).asInstanceOf[GraftTable]
    val regions = TableMeta.loadRegions(t.tableDir)
    assert(regions.nonEmpty && regions.forall(_.stats.nonEmpty),
      "compacted regions must carry column stats")
    // stats still prune after the rewrite (day monotone in k)
    val q = spark.sql(
      "SELECT count(*) AS c FROM graft.cstats.cmp WHERE day = 7")
    assert(q.head().getLong(0) == 500L)
    q.collect()
    val parts = TestSpark.graftScans(q.queryExecution.executedPlan).head
      .planInputPartitions().length
    assert(parts < regions.size,
      s"expected stat skip after compaction: $parts of ${regions.size}")
    spark.sql("DROP TABLE graft.cstats.cmp")
  }

  test("CALL graft.sys.stats exposes per-region manifest statistics") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.proc")
    spark.sql(
      """CREATE TABLE graft.cstats.proc (k BIGINT, day INT, note STRING,
        |  amt DECIMAL(10,2))
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='2')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.cstats.proc
        |SELECT id, CAST(id AS INT),
        |       CASE WHEN id % 3 = 0 THEN NULL ELSE concat('n', id) END,
        |       CAST(id - 50 AS DECIMAL(10,2)) / 4
        |FROM range(100)""".stripMargin)
    val rows = spark.sql("CALL graft.sys.stats(table => 'cstats.proc')")
      .collect()
    assert(rows.length >= 2) // one row per region
    assert(rows.map(_.getAs[String]("rows").toLong).sum == 100L)
    // decoded key range of the whole table spans 0..99
    assert(rows.map(_.getAs[String]("key_min").toLong).min == 0L)
    assert(rows.map(_.getAs[String]("key_max").toLong).max == 99L)
    // region file sizes exposed (the input to split/merge targets)
    assert(rows.forall(_.getAs[String]("bytes").toLong > 0L))
    // non-key stats rendered with decoded bounds and null counts
    val stats = rows.map(_.getAs[String]("column_stats")).mkString(" | ")
    assert(stats.contains("day:[") && stats.contains("note:["))
    // decimals render at the column's scale, in plain notation
    assert(stats.contains("amt:[-12.50..") && stats.contains("..12.25]"),
      stats)
    val totalNoteNulls = rows.map { r =>
      val s = r.getAs[String]("column_stats")
      val m = "note:\\[[^\\]]*\\] nulls=(\\d+)".r.findFirstMatchIn(s)
      m.map(_.group(1).toLong).getOrElse(0L)
    }.sum
    assert(totalNoteNulls == (0 until 100).count(_ % 3 == 0))
    spark.sql("DROP TABLE graft.cstats.proc")
  }

  test("negative DECIMAL stats order and prune correctly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.negd")
    spark.sql(
      """CREATE TABLE graft.cstats.negd (k BIGINT, bal DECIMAL(10,2))
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='4')""".stripMargin)
    // balances from -1000.00 up to +999.50, monotone in k
    spark.sql(
      """INSERT INTO graft.cstats.negd
        |SELECT id, CAST((id - 2000) AS DECIMAL(10,2)) / 2
        |FROM range(4000)""".stripMargin)
    val q = spark.sql(
      """SELECT count(*) AS c FROM graft.cstats.negd
        |WHERE bal BETWEEN -600.00 AND -500.50""".stripMargin)
    assert(q.head().getLong(0) == 200L)
    q.collect()
    val parts = TestSpark.graftScans(q.queryExecution.executedPlan).head
      .planInputPartitions().length
    assert(parts <= 2, s"negative-decimal skip: got $parts of 4")
    // manifest-answered min/max decode the sign correctly
    val mm = spark.sql(
      "SELECT min(bal), max(bal) FROM graft.cstats.negd").head()
    assert(mm.getDecimal(0).toPlainString == "-1000.00" &&
      mm.getDecimal(1).toPlainString == "999.50")
    spark.sql("DROP TABLE graft.cstats.negd")
  }

  test("DECIMAL column stats skip regions; inexact literals never prune") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.decs")
    spark.sql(
      """CREATE TABLE graft.cstats.decs (k BIGINT, price DECIMAL(12,2))
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='8')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.cstats.decs
        |SELECT id, CAST(id AS DECIMAL(12,2)) / 100 FROM range(8000)"""
        .stripMargin)
    val q = spark.sql(
      """SELECT count(*) AS c FROM graft.cstats.decs
        |WHERE price BETWEEN 30.00 AND 34.99""".stripMargin)
    assert(q.head().getLong(0) == 500L)
    q.collect()
    val parts = TestSpark.graftScans(q.queryExecution.executedPlan).head
      .planInputPartitions().length
    assert(parts <= 2, s"expected decimal stat skip to <=2 regions, got $parts")
    // a literal with more scale than the column cannot round-trip the
    // unscaled compare — it must widen to "unknown", never prune wrong
    val q2 = spark.sql(
      "SELECT count(*) AS c FROM graft.cstats.decs WHERE price > 30.005")
    assert(q2.head().getLong(0) == 4999L)
    spark.sql("DROP TABLE graft.cstats.decs")
  }

  test("e2e: graft.filterHint skips regions in a filtered stream tail") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.ftail")
    spark.sql(
      """CREATE TABLE graft.cstats.ftail (k BIGINT, day INT, v DOUBLE)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='4')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.cstats.ftail
        |SELECT id, CAST(id / 500 AS INT), id * 1.0 FROM range(2000)"""
        .stripMargin)
    // Spark's pushdown rule is batch-only, so .where alone feeds every
    // region into the stream; the hint lets the source skip them
    val q = spark.readStream
      .option("graft.filterHint", "day = 3")
      .table("graft.cstats.ftail")
      .where("day = 3")
      .writeStream.format("memory").queryName("ftail_mem")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ftail_mem").count() == 500L)
      // skipped regions never became input rows (one region band holds
      // day=3, + at most one boundary straddle)
      val progress = q.recentProgress.map(_.numInputRows).sum
      assert(progress <= 1000L,
        s"expected region skip to bound input rows, got $progress")
    } finally q.stop()
    spark.sql("DROP TABLE graft.cstats.ftail")
  }

  test("filter-hint translation: supported nodes convert, others drop") {
    spark // parser needs an active session
    val fs = FilterHint.parse(
      "k >= 10 AND day IN (1, 2) AND upper(tag) = 'X' AND " +
        "name LIKE 'ab%' AND d >= DATE'2024-01-01' AND NOT (v = 5.0)")
    assert(fs.contains(sources.GreaterThanOrEqual("k", 10)))
    assert(fs.exists {
      case sources.In("day", vs) => vs.toSet == Set(1, 2)
      case _ => false
    })
    assert(fs.contains(sources.StringStartsWith("name", "ab")))
    assert(fs.exists {
      case sources.GreaterThanOrEqual("d", dte: java.sql.Date) =>
        dte.toString == "2024-01-01"
      case _ => false
    })
    // SQL literal 5.0 parses as DECIMAL → BigDecimal value
    assert(fs.exists {
      case sources.Not(sources.EqualTo("v", x)) =>
        x.toString.toDouble == 5.0
      case _ => false
    })
    // upper(tag) = 'X' has no translation → dropped, not mis-translated
    assert(fs.length == 5)
    // with the schema, an INT literal on a BIGINT column carries a Long,
    // the column's own value type that parquet pushdown needs (== alone
    // cannot tell: Scala compares boxed 3 and 3L equal)
    val day = StructType(Seq(StructField("day", LongType)))
    val typed = FilterHint.parse("day = 3 AND 4 > day AND day IN (1, 2)",
      Some(day))
    assert(typed.toSeq == Seq(sources.EqualTo("day", 3L),
      sources.LessThan("day", 4L), sources.In("day", Array[Any](1L, 2L))))
    val values = typed.toSeq.flatMap {
      case sources.EqualTo(_, v) => Seq(v)
      case sources.LessThan(_, v) => Seq(v)
      case sources.In(_, vs) => vs.toSeq
      case other => fail(s"unexpected $other")
    }
    assert(values.length == 4 &&
      values.forall(_.isInstanceOf[java.lang.Long]), values)
  }

  test("filter-hint refuses narrowing translations (casts, escaped LIKE)") {
    spark // parser needs an active session
    // CAST(k AS INT) = 5 on a BIGINT k also admits 4294967301 — the
    // bare-column EqualTo would skip regions the hint admits, so the
    // conjunct must DROP, not translate
    val fs = FilterHint.parse(
      "CAST(k AS INT) = 5 AND day = 2 AND CAST(k AS INT) > 3")
    assert(fs.toSeq == Seq(sources.EqualTo("day", 2)))
    // escaped backslash in a LIKE prefix ('a\b%' after SQL unescaping):
    // emitting the raw prefix would skip matching rows; must drop
    val fs2 = FilterHint.parse("name LIKE 'a\\\\b%' AND day = 2")
    assert(fs2.toSeq == Seq(sources.EqualTo("day", 2)))
    // escaped wildcard 'a\%b%' (literal percent inside) must also drop
    val fs3 = FilterHint.parse("name LIKE 'a\\\\%b%' AND day = 2")
    assert(fs3.toSeq == Seq(sources.EqualTo("day", 2)))
    // plain prefix still translates
    val fs4 = FilterHint.parse("name LIKE 'ab%'")
    assert(fs4.toSeq == Seq(sources.StringStartsWith("name", "ab")))
  }

  test("filter-hint: schema-verified WIDENING casts translate exactly") {
    import org.apache.spark.sql.types._
    spark // parser needs an active session
    val schema = StructType(Seq(
      StructField("day", IntegerType), StructField("k", LongType)))
    // INT day widened to BIGINT: safe, literal fits INT → narrows
    val fs = FilterHint.parse(
      "CAST(day AS BIGINT) = 20240101 AND CAST(day AS BIGINT) > 5",
      Some(schema))
    assert(fs.toSet == Set[sources.Filter](
      sources.EqualTo("day", 20240101), sources.GreaterThan("day", 5)))
    // literal outside INT range can never equal an INT column → drop
    val fs2 = FilterHint.parse(
      "CAST(day AS BIGINT) = 4294967301 AND day = 2", Some(schema))
    assert(fs2.toSeq == Seq(sources.EqualTo("day", 2)))
    // NARROWING cast (BIGINT k to INT) stays refused even with schema
    val fs3 = FilterHint.parse(
      "CAST(k AS INT) = 5 AND day = 2", Some(schema))
    assert(fs3.toSeq == Seq(sources.EqualTo("day", 2)))
    // IN list narrows element-wise
    val fs4 = FilterHint.parse(
      "CAST(day AS BIGINT) IN (1, 2, 3)", Some(schema))
    assert(fs4.exists {
      case sources.In("day", vs) => vs.toSet == Set(1, 2, 3)
      case _ => false
    })
  }

  test("scan reports pruning metrics (total/scanned/read tasks)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.met")
    spark.sql(
      """CREATE TABLE graft.cstats.met (k BIGINT, day INT)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='4')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.cstats.met
        |SELECT id, CAST(id / 500 AS INT) FROM range(2000)""".stripMargin)
    val q = spark.sql("SELECT count(*) FROM graft.cstats.met WHERE day = 3")
    q.collect()
    val scan = TestSpark.graftScans(q.queryExecution.executedPlan).head
    val m = scan.reportDriverMetrics().map(t => t.name -> t.value).toMap
    assert(m("regionsTotal") >= 4)
    assert(m("regionsScanned") < m("regionsTotal"))
    assert(m("readPartitions") <= m("regionsScanned"))
    assert(scan.supportedCustomMetrics().map(_.name).toSet ==
      Set("regionsTotal", "regionsScanned", "readPartitions"))
    spark.sql("DROP TABLE graft.cstats.met")
  }

  test("ALTER-added column without stats never prunes old regions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cstats")
    spark.sql("DROP TABLE IF EXISTS graft.cstats.alt")
    spark.sql(
      """CREATE TABLE graft.cstats.alt (k BIGINT, v STRING)
        |TBLPROPERTIES('keyCols'='k', 'numRegions'='2')""".stripMargin)
    spark.sql(
      "INSERT INTO graft.cstats.alt SELECT id, concat('v', id) FROM range(100)")
    spark.sql("ALTER TABLE graft.cstats.alt ADD COLUMN extra INT")
    spark.sql(
      """INSERT INTO graft.cstats.alt
        |SELECT id, concat('w', id), CAST(id AS INT) FROM range(100, 150)"""
        .stripMargin)
    // old regions have no 'extra' stats → must survive both polarities
    assert(spark.sql(
      "SELECT count(*) FROM graft.cstats.alt WHERE extra IS NULL")
      .head().getLong(0) == 100L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.cstats.alt WHERE extra >= 120")
      .head().getLong(0) == 30L)
    spark.sql("DROP TABLE graft.cstats.alt")
  }
}
