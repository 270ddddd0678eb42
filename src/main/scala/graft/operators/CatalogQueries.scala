package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-gate queries that run through the full V2 catalog path
  * ([[graft.catalog.GraftCatalog]]): SQL DDL → range-shuffled sorted
  * bulk INSERT → region-pruned SQL scans, verified against the same
  * DuckDB oracles as the plain-parquet queries (the catalog must hold
  * exactly the source rows). The `store_*` faces are served here too,
  * over the same 16-region `orders_t` fixture.
  */
object CatalogQueries {
  type Q = (SparkSession, String) => DataFrame

  private val built = scala.collection.concurrent.TrieMap[String, String]()
  private val splitsCache = scala.collection.concurrent.TrieMap[String, String]()

  /** Fixed 16-way region splits from the quantiles of one source
    * column. Tables sharing a splits string are co-partitioned: their
    * joins plan as storage-partitioned joins and GROUP BY on the key
    * prefix needs no Exchange. Deterministic for a given sf dir
    * (approxQuantile is). */
  private def quantileSplits(s: SparkSession, d: String,
      file: String, column: String): String =
    splitsCache.getOrElseUpdate(s"$d#$column", {
      val probs = (1 until 16).map(_ / 16.0).toArray
      T(s, d, file)
        .stat.approxQuantile(column, probs, 0.001)
        .map(_.toLong).distinct.sorted.mkString(";")
    })

  /** The orderkey co-partitioning family (orders_t, lineitem_t,
    * lineitem_w_t). */
  private def orderKeySplits(s: SparkSession, d: String): String =
    quantileSplits(s, d, "orders", "o_orderkey")

  /** The partkey co-partitioning family (lineitem_p_t, part_t). */
  private def partKeySplits(s: SparkSession, d: String): String =
    quantileSplits(s, d, "lineitem", "l_partkey")

  /** Build-once keyed catalog table loaded from one source parquet
    * (columns = the DDL's column names, in order). Trusts an existing
    * table only if it still carries regionSplits at the source row
    * count ([[usable]]), else drops and rebuilds. */
  private def buildKeyedTable(s: SparkSession, d: String, table: String,
      ddlCols: String, keyCols: String, splits: => String,
      srcFile: String): String = {
    val ns = s"sf_${math.abs(d.hashCode)}"
    val fqn = s"graft.$ns.$table"
    val srcCount = T(s, d, srcFile).count()
    val exists = s.sql(s"SHOW TABLES IN graft.$ns").collect()
      .exists(_.getString(1) == table) && usable(s, fqn, srcCount)
    if (!exists) {
      // splits is by-name: the approxQuantile scan behind it only runs
      // when the table actually has to be (re)built
      s.sql(
        s"""CREATE TABLE $fqn ($ddlCols)
           |TBLPROPERTIES('keyCols'='$keyCols',
           |              'regionSplits'='$splits')""".stripMargin)
      // split on commas OUTSIDE parens so types like DECIMAL(12,2)
      // don't shear the column list
      val cols = ddlCols.split(",(?![^(]*\\))").map(_.trim.split("\\s+").head)
      val v = s"${table}_src_${math.abs(d.hashCode)}"
      T(s, d, srcFile)
        .select(cols.head, cols.tail: _*)
        .createOrReplaceTempView(v)
      s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
    }
    fqn
  }

  /** Register the graft catalog on the session (idempotent) — the ONE
    * place the warehouse location lives. Also used by [[IvfIndex]].
    * The fixtures live under the session's own `spark.sql.warehouse.dir`
    * (`<cwd>/spark-warehouse` by default), so two checkouts never share,
    * and trust, each other's fixture tables. */
  private[operators] def ensureGraftCatalog(s: SparkSession): Unit =
    if (s.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse",
        new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "graft").toUri.getPath)
    }

  /** Namespace for one sf dir (created if missing). */
  private[operators] def sfNamespace(s: SparkSession, d: String): String = {
    ensureGraftCatalog(s)
    val ns = s"sf_${math.abs(d.hashCode)}"
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    fingerprintGate(s, ns, d)
    ns
  }

  /** Bump to force a rebuild of EVERY catalog fixture in this
    * namespace — when a builder's output changes shape or content
    * without changing its row count, row-count trust can't see it. */
  private val FixtureVersion = 10

  private val fpGate = scala.collection.concurrent.TrieMap[String, Boolean]()

  /** Content fingerprint of one source sf dir: (path, size, mtime) of
    * every file under it, plus [[FixtureVersion]]. Cheap (filesystem
    * metadata only) and catches exactly what row-count trust cannot —
    * regenerated testdata parquet with the same cardinality. */
  private def sourceFingerprint(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"v$FixtureVersion".getBytes("UTF-8"))
    T.fileIdentity(new java.io.File(d)).foreach { case (p, len, mtime) =>
      md.update(s"$p|$len|$mtime\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Fixture-staleness gate, once per (JVM, sf dir): every fixture
    * builder trusts a warehouse table left by a prior JVM only if the
    * SOURCE BYTES (and fixture-code generation) that built it are
    * unchanged — `trusted()`'s row-count check alone served stale
    * mview partials two rounds running when testdata was regenerated
    * at the same cardinality. On mismatch every table in the sf
    * namespace is dropped, so all fixtures lazily rebuild from the
    * current bytes, then the namespace is stamped with the new
    * fingerprint (a marker file beside the table dirs; listTables
    * ignores non-table files). */
  private def fingerprintGate(s: SparkSession, ns: String,
      d: String): Unit =
    fpGate.getOrElseUpdate(s"$d#$ns", {
      val fp = sourceFingerprint(d)
      val wh = FixtureLock.warehouse(s)
      val marker = java.nio.file.Paths.get(wh, ns, "_fixture_fp")
      val cur = if (java.nio.file.Files.exists(marker))
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim
      else ""
      if (cur != fp) {
        s.sql(s"SHOW TABLES IN graft.$ns").collect().foreach { r =>
          s.sql(s"DROP TABLE graft.$ns.`${r.getString(1)}`")
        }
        java.nio.file.Files.createDirectories(marker.getParent)
        java.nio.file.Files.write(marker, fp.getBytes("UTF-8"))
      }
      true
    })

  /** Build-once discipline shared by every catalog-backed fixture:
    * trust an existing table only at the expected row count (a killed
    * prior run leaves a half-loaded table), else drop and rebuild. */
  private[operators] def trusted(s: SparkSession, ns: String,
      table: String, srcCount: Long): Boolean =
    s.sql(s"SHOW TABLES IN graft.$ns").collect()
      .exists(_.getString(1) == table) && {
      val ok = s.table(s"graft.$ns.$table").count() == srcCount
      if (!ok) s.sql(s"DROP TABLE graft.$ns.$table")
      ok
    }

  /** Half-loaded or pre-regionSplits tables from a killed prior run are
    * rebuilt: trust only a table whose row count matches the source AND
    * that already carries the co-partitioning splits. */
  private def usable(s: SparkSession, fqn: String, srcCount: Long): Boolean = {
    val hasSplits = s.sql(s"SHOW TBLPROPERTIES $fqn").collect()
      .exists(_.getString(0) == "regionSplits")
    val ok = hasSplits && s.table(fqn).count() == srcCount
    if (!ok) s.sql(s"DROP TABLE $fqn")
    ok
  }

  /** Ensure the graft catalog is registered and the orders table for
    * this sf dir is created+loaded; returns its fully qualified name. */
  private def ordersTable(s: SparkSession, d: String): String =
    built.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      buildKeyedTable(s, d, "orders_t",
        """o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          |o_orderpriority STRING, o_totalprice DOUBLE,
          |o_orderdate DATE""".stripMargin,
        "o_orderkey", orderKeySplits(s, d), "orders")
    })

  /** Point lookup: prunes to 1 of 16 regions (KeyRanges + manifest). */
  val pointLookup: Q = (s, d) => s.sql(
    s"""SELECT o_orderkey, o_custkey, o_orderstatus,
       |       round(o_totalprice, 2) AS price,
       |       date_format(o_orderdate, 'yyyy-MM-dd') AS odate
       |FROM ${ordersTable(s, d)} WHERE o_orderkey = 100""".stripMargin)

  /** Key-range scan through region pruning + parquet row-group skip. */
  val rangeScan: Q = (s, d) => s.sql(
    s"""SELECT o_orderkey, o_custkey, o_orderstatus
       |FROM ${ordersTable(s, d)}
       |WHERE o_orderkey BETWEEN 100 AND 200""".stripMargin)

  /** Disjunctive key predicate + aggregation above the pruned scan. */
  val keyAgg: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       round(sum(o_totalprice), 2) AS total
       |FROM ${ordersTable(s, d)}
       |WHERE o_orderkey <= 500 OR o_orderkey > 1400
       |GROUP BY o_orderstatus""".stripMargin)

  /** Deterministic region-sampled profiling reads ([[GraftSample]]):
    * the 4 disjoint `k:4` shards of the orders table are read as FOUR
    * region-subset scans (each opens only its residue class of region
    * files — the 1%-of-bytes corpus-profiling move at 100 TB) and
    * unioned back; the group-agg over the union must equal the plain
    * full-table aggregate, which is exactly what the DuckDB oracle
    * computes — a dropped or double-counted region hash-mismatches.
    * Shard disjointness/IO reduction are asserted in
    * CatalogSampleSpec. */
  val regionSampleUnion: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val t = ordersTable(s, d)
    (0 until 4).map { k =>
        s.read.option(graft.catalog.GraftSample.OptionKey, s"$k:4").table(t)
      }
      .reduce(_ unionAll _)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Persistent SQL view over the store ([[graft.catalog.GraftViews]]):
    * CREATE VIEW through the parser seam, query through the injected
    * substitution rule — late-binding, so the aggregate below
    * re-analyzes the stored text against the live table. The view body
    * carries a key predicate, which reaches the scan through the
    * substitution (views don't block pushdown: the expanded plan is
    * ordinary Catalyst). Exact DuckDB oracle over the same predicate. */
  val viewFace: Q = (s, d) => {
    val t = ordersTable(s, d)
    val ns = t.split('.')(1)
    s.sql(s"""CREATE OR REPLACE VIEW graft.$ns.orders_v AS
             |SELECT o_orderstatus, o_totalprice, o_orderkey
             |FROM $t WHERE o_orderkey <= 1000""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, count(*) AS cnt,
             |       round(sum(o_totalprice), 2) AS total
             |FROM graft.$ns.orders_v GROUP BY o_orderstatus""".stripMargin)
  }

  /** Non-key (cell) predicate: regions cannot be pruned, parquet
    * row-group stats + residual filtering take over. */
  val cellFilter: Q = (s, d) => s.sql(
    s"""SELECT o_orderpriority, count(*) AS cnt
       |FROM ${ordersTable(s, d)}
       |WHERE o_totalprice > 200000 AND o_orderstatus = 'F'
       |GROUP BY o_orderpriority""".stripMargin)

  /** Join catalog table against a parquet table (the reference's
    * cross-source test, HBaseAdditionalQuerySuite join w/ parquet). */
  val joinParquet: Q = (s, d) => {
    val v = s"cust_cat_${math.abs(d.hashCode)}"
    T(s, d, "customer").createOrReplaceTempView(v)
    s.sql(
      s"""SELECT c.c_mktsegment AS seg, count(*) AS cnt,
         |       round(sum(o.o_totalprice), 2) AS total
         |FROM ${ordersTable(s, d)} o JOIN $v c ON o.o_custkey = c.c_custkey
         |WHERE o.o_orderkey <= 3000
         |GROUP BY c.c_mktsegment""".stripMargin)
  }

  /** Lineitem in the catalog too (composite key l_orderkey;l_linenumber),
    * for multi-table queries entirely over graft storage. */
  private val builtLi = scala.collection.concurrent.TrieMap[String, String]()
  private def lineitemTable(s: SparkSession, d: String): String =
    builtLi.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d) // ensures catalog + namespace exist
      // same splits as orders_t -> co-partitioned on the orderkey
      buildKeyedTable(s, d, "lineitem_t",
        """l_orderkey BIGINT, l_linenumber INT, l_extendedprice DOUBLE,
          |l_discount DOUBLE, l_shipdate DATE""".stripMargin,
        "l_orderkey;l_linenumber", orderKeySplits(s, d), "lineitem")
    })

  /** TPC-H Q5-shaped flagship over graft-stored fact tables: both big
    * sides scan the key-sorted region store, small dims broadcast from
    * parquet — the reference's cross-source join at its most demanding. */
  val tpchQ5: Q = (s, d) => {
    val li = lineitemTable(s, d)
    val o = ordersTable(s, d)
    Seq("customer", "nation", "region").foreach { t =>
      T(s, d, t)
        .createOrReplaceTempView(s"${t}_cat_dim_${math.abs(d.hashCode)}")
    }
    val h = math.abs(d.hashCode)
    s.sql(
      s"""SELECT n.n_name AS nation,
         |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
         |         AS revenue,
         |       count(*) AS cnt
         |FROM $li l
         |JOIN $o o ON l.l_orderkey = o.o_orderkey
         |JOIN customer_cat_dim_$h c ON o.o_custkey = c.c_custkey
         |JOIN nation_cat_dim_$h n ON c.c_nationkey = n.n_nationkey
         |JOIN region_cat_dim_$h r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = 'ASIA' AND o.o_orderdate >= DATE'1996-01-01'
         |GROUP BY n.n_name""".stripMargin)
  }

  /** TPC-H Q3 (shipping priority) over the SAME co-partitioned
    * orders_t/lineitem_t pair as Q5: the fact-fact join is
    * storage-partitioned (no Exchange on either side), customer
    * broadcasts, and the top-10 plans as TakeOrderedAndProject —
    * the classic interactive-BI plan shape over graft storage. */
  val tpchQ3: Q = (s, d) => {
    val li = lineitemTable(s, d)
    val o = ordersTable(s, d)
    val h = math.abs(d.hashCode)
    T(s, d, "customer")
      .createOrReplaceTempView(s"customer_cat_dim_$h")
    s.sql(
      s"""SELECT l.l_orderkey,
         |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
         |         AS revenue,
         |       date_format(o.o_orderdate, 'yyyy-MM-dd') AS odate
         |FROM $li l
         |JOIN $o o ON l.l_orderkey = o.o_orderkey
         |JOIN customer_cat_dim_$h c ON o.o_custkey = c.c_custkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |  AND o.o_orderdate < DATE'1995-03-15'
         |  AND l.l_shipdate > DATE'1995-03-15'
         |GROUP BY l.l_orderkey, o.o_orderdate
         |ORDER BY revenue DESC, l.l_orderkey ASC LIMIT 10""".stripMargin)
  }

  /** Wide lineitem twin carrying l_suppkey + l_quantity for the heavy
    * TPC-H shapes (Q18/Q21); same orderkey splits as orders_t /
    * lineitem_t so every fact-fact (and fact-self) join over
    * l_orderkey is storage-partitioned. A separate table rather than
    * a wider lineitem_t: the build-once trust check is row-count
    * based, so changing an existing table's schema in place could
    * trust a stale narrow build. */
  private val builtLiW = scala.collection.concurrent.TrieMap[String, String]()
  private def lineitemWideTable(s: SparkSession, d: String): String =
    builtLiW.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      buildKeyedTable(s, d, "lineitem_w_t",
        """l_orderkey BIGINT, l_linenumber INT, l_suppkey BIGINT,
          |l_quantity DOUBLE, l_extendedprice DOUBLE,
          |l_shipdate DATE""".stripMargin,
        "l_orderkey;l_linenumber", orderKeySplits(s, d), "lineitem")
    })

  /** TPC-H Q18 (large-volume customers) over the co-partitioned store:
    * the IN subquery is a big self-semi-join on the fact's leading key
    * — both the semi join and the orders join run storage-partitioned
    * (no fact-side Exchange), customer broadcasts, top-100 plans as
    * TakeOrderedAndProject. */
  val tpchQ18: Q = (s, d) => {
    val li = lineitemWideTable(s, d)
    val o = ordersTable(s, d)
    val h = math.abs(d.hashCode)
    T(s, d, "customer")
      .createOrReplaceTempView(s"customer_cat_dim_$h")
    // one lineitem aggregation serves both the big-order predicate and
    // the reported quantity (the IN-subquery form scans and aggregates
    // the fact twice for the same sums); the agg itself is
    // exchange-free on the key-grouped store, and the orders join
    // stays storage-partitioned
    s.sql(
      s"""WITH big AS (
         |  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
         |  FROM $li GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
         |SELECT c.c_name, c.c_custkey, o.o_orderkey,
         |       date_format(o.o_orderdate, 'yyyy-MM-dd') AS odate,
         |       round(o.o_totalprice, 2) AS total_price,
         |       b.total_qty
         |FROM big b
         |JOIN $o o ON o.o_orderkey = b.l_orderkey
         |JOIN customer_cat_dim_$h c ON o.o_custkey = c.c_custkey
         |ORDER BY total_qty DESC, o.o_orderkey ASC LIMIT 100""".stripMargin)
  }

  /** Partkey-leading lineitem twin for the part-centric shapes: keyed
    * (l_partkey, l_orderkey, l_linenumber) so GROUP BY l_partkey and
    * every partkey join ride the storage partitioning — the second
    * co-partitioning family ([[partKeySplits]]), the layout a 100-TB
    * deployment would choose for part-centric analytics. */
  private val builtLiP = scala.collection.concurrent.TrieMap[String, String]()
  private def lineitemByPartTable(s: SparkSession, d: String): String =
    builtLiP.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      buildKeyedTable(s, d, "lineitem_p_t",
        """l_partkey BIGINT, l_orderkey BIGINT, l_linenumber INT,
          |l_quantity DOUBLE, l_extendedprice DOUBLE""".stripMargin,
        "l_partkey;l_orderkey;l_linenumber", partKeySplits(s, d),
        "lineitem")
    })

  /** Part dimension AS a graft table, co-partitioned with
    * lineitem_p_t — so the dim join needs neither a broadcast nor a
    * shuffle. */
  private val builtPart = scala.collection.concurrent.TrieMap[String, String]()
  private def partTable(s: SparkSession, d: String): String =
    builtPart.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      buildKeyedTable(s, d, "part_t",
        """p_partkey BIGINT, p_name STRING, p_brand STRING,
          |p_type STRING, p_size INT""".stripMargin,
        "p_partkey", partKeySplits(s, d), "part")
    })

  /** Returnflag-carrying lineitem twin for Q10 (same orderkey splits
    * — co-partitioned with orders_t). */
  private val builtLiR = scala.collection.concurrent.TrieMap[String, String]()
  private def lineitemReturnsTable(s: SparkSession, d: String): String =
    builtLiR.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      buildKeyedTable(s, d, "lineitem_r_t",
        """l_orderkey BIGINT, l_linenumber INT, l_extendedprice DOUBLE,
          |l_discount DOUBLE, l_returnflag STRING""".stripMargin,
        "l_orderkey;l_linenumber", orderKeySplits(s, d), "lineitem")
    })

  /** TPC-H Q10 (returned-item reporting): which customers returned the
    * most revenue — fact-fact join storage-partitioned on the
    * orderkey, customer + nation broadcast, top-20 as
    * TakeOrderedAndProject. Completes the heavy-shape family
    * (Q3 interactive-BI, Q5 star join, Q17 correlated avg, Q18
    * semi-join+agg, Q21 double self-correlation). */
  val tpchQ10: Q = (s, d) => {
    val li = lineitemReturnsTable(s, d)
    val o = ordersTable(s, d)
    val h = math.abs(d.hashCode)
    Seq("customer", "nation").foreach { t =>
      T(s, d, t)
        .createOrReplaceTempView(s"${t}_cat_dim_$h")
    }
    s.sql(
      s"""SELECT c.c_custkey, c.c_name, n.n_name AS nation,
         |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
         |         AS revenue,
         |       count(*) AS items
         |FROM $li l
         |JOIN $o o ON l.l_orderkey = o.o_orderkey
         |JOIN customer_cat_dim_$h c ON o.o_custkey = c.c_custkey
         |JOIN nation_cat_dim_$h n ON c.c_nationkey = n.n_nationkey
         |WHERE l.l_returnflag = 'R'
         |  AND o.o_orderdate >= DATE'1995-01-01'
         |GROUP BY c.c_custkey, c.c_name, n.n_name
         |ORDER BY revenue DESC, c.c_custkey ASC LIMIT 20""".stripMargin)
  }

  /** TPC-H Q17-shaped (small-quantity-order revenue): the correlated
    * per-part average, hand-decorrelated the way Catalyst would —
    * aggregate once per part, join the threshold back, filter, and
    * report per brand. Over the partkey-keyed store ALL of it is
    * exchange-free until the final 25-group brand aggregation: the
    * per-part avg needs no shuffle (key-grouped scan), and both joins
    * are storage-partitioned against co-partitioned graft tables.
    * Exact-hash discipline: l_quantity is integer-valued so avg is
    * order-independent IEEE-exact on both engines, and revenue
    * aggregates as DECIMAL (order-independent), not a rounded double
    * sum. */
  val tpchQ17: Q = (s, d) => {
    val li = lineitemByPartTable(s, d)
    val p = partTable(s, d)
    // Single-pass form of the aggregate-then-self-join decorrelation:
    // the per-part average threshold comes from a WINDOW over the same
    // scan instead of a second lineitem pass + join-back. The store is
    // key-grouped on l_partkey, so the window needs no Exchange (only a
    // partition-local sort), halving the fact reads. Value-identical to
    // the CTE form: l_quantity is integer-valued, so sum/count (and
    // thus avg) are IEEE-exact in any accumulation order.
    s.sql(
      s"""SELECT p.p_brand, count(*) AS cnt,
         |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)))
         |            AS DECIMAL(22,2)) AS below_avg_revenue
         |FROM (
         |  SELECT l_partkey, l_quantity, l_extendedprice,
         |         avg(l_quantity) OVER (PARTITION BY l_partkey) / 5
         |           AS small
         |  FROM $li) l
         |JOIN $p p ON p.p_partkey = l.l_partkey
         |WHERE l.l_quantity < l.small
         |GROUP BY p.p_brand""".stripMargin)
  }

  /** TPC-H Q21-shaped (suppliers who kept waiting orders): the classic
    * EXISTS + NOT EXISTS double correlation — a semi join AND an anti
    * join of the fact against itself on its leading key, both
    * storage-partitioned. The synthetic lineitem has no receipt/commit
    * dates, so "late" is a fixed ship-date horizon; the join/anti-join
    * shape is exactly Q21's. */
  val tpchQ21: Q = (s, d) => {
    val li = lineitemWideTable(s, d)
    val o = ordersTable(s, d)
    val h = math.abs(d.hashCode)
    T(s, d, "supplier")
      .createOrReplaceTempView(s"supplier_cat_dim_$h")
    // Both correlations folded into a SINGLE lineitem pass (the EXISTS
    // form reads the fact three times; this reads it once). Two stacked
    // exchange-free aggregations on the key-grouped store — per
    // (order, supplier) late-line counts, then per-order supplier
    // tallies — reduce each order to one row carrying exactly the Q21
    // decision state:
    //   EXISTS another supplier in the order      ⇔ n_supp >= 2
    //   NOT EXISTS another LATE supplier          ⇔ n_late = 1
    // and when n_late = 1, the waiting supplier is late_supp and its
    // qualifying line count is late_cnt (= numwait contribution, what
    // COUNT(*) over the joined-back fact would count). All counts are
    // integer-exact, so the rewrite is value-identical to the EXISTS
    // form the oracle runs. NOT a count(DISTINCT) pair: that plans as
    // Expand + re-shuffles, losing the storage clustering.
    s.sql(
      s"""WITH supp AS (
         |  SELECT l_orderkey, l_suppkey,
         |         count(CASE WHEN l_shipdate > DATE'1995-06-30'
         |                    THEN 1 END) AS late_lines
         |  FROM $li GROUP BY l_orderkey, l_suppkey),
         |per_order AS (
         |  SELECT l_orderkey, count(*) AS n_supp,
         |         count(CASE WHEN late_lines > 0 THEN 1 END) AS n_late,
         |         max(CASE WHEN late_lines > 0 THEN l_suppkey END)
         |           AS late_supp,
         |         max(late_lines) AS late_cnt
         |  FROM supp GROUP BY l_orderkey)
         |SELECT s.s_name, sum(po.late_cnt) AS numwait
         |FROM per_order po
         |JOIN $o o ON o.o_orderkey = po.l_orderkey
         |JOIN supplier_cat_dim_$h s ON s.s_suppkey = po.late_supp
         |WHERE o.o_orderstatus = 'F'
         |  AND po.n_supp >= 2 AND po.n_late = 1
         |GROUP BY s.s_name
         |ORDER BY numwait DESC, s.s_name ASC LIMIT 25""".stripMargin)
  }

  /** TPC-H Q19 (discounted revenue, the OR-of-triples shape) over the
    * partkey-co-partitioned family: the lineitem_p ⋈ part join is
    * storage-partitioned (both keyed by partkey — zero Exchange on the
    * fact side), and the disjunction of (brand, size-band,
    * quantity-band) triples evaluates post-join — the classic
    * OR-pushdown/CNF stress. (volume = l_extendedprice; the partkey
    * twin carries no discount column — same plan shape.) */
  val tpchQ19: Q = (s, d) => {
    val li = lineitemByPartTable(s, d)
    val p = partTable(s, d)
    s.sql(
      s"""SELECT count(*) AS cnt,
         |       round(sum(l.l_extendedprice), 2) AS revenue
         |FROM $li l
         |JOIN $p p ON p.p_partkey = l.l_partkey
         |WHERE (p.p_brand = 'Brand#16' AND p.p_size BETWEEN 1 AND 15
         |       AND l.l_quantity BETWEEN 1 AND 21)
         |   OR (p.p_brand = 'Brand#18' AND p.p_size BETWEEN 1 AND 25
         |       AND l.l_quantity BETWEEN 10 AND 30)
         |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
         |       AND l.l_quantity BETWEEN 20 AND 40)""".stripMargin)
  }

  /** TPC-H Q4 (order priority checking) over the co-partitioned store:
    * the correlated EXISTS carries a NON-EQUI residual
    * (l_shipdate > o_orderdate) on top of the orderkey correlation —
    * Spark rewrites it to a left-semi join whose equi key rides the
    * storage partitioning, so neither fact side shuffles and the
    * residual evaluates inside the join. The priority agg that
    * follows is orders-side only. (Classic Q4 keys the late-line
    * test on commit/receipt dates the test tables don't carry; the
    * correlated ship-after-order predicate keeps the identical plan
    * shape.) */
  val tpchQ4: Q = (s, d) => {
    val li = lineitemTable(s, d)
    val o = ordersTable(s, d)
    s.sql(
      s"""SELECT o.o_orderpriority, count(*) AS order_count
         |FROM $o o
         |WHERE o.o_orderdate >= DATE'1996-01-01'
         |  AND o.o_orderdate < DATE'1996-07-01'
         |  AND EXISTS (SELECT 1 FROM $li l
         |              WHERE l.l_orderkey = o.o_orderkey
         |                AND l.l_shipdate > o.o_orderdate)
         |GROUP BY o.o_orderpriority""".stripMargin)
  }

  /** TPC-H Q7 (volume shipping between two nations) over the store:
    * the fact-fact join (lineitem_w ⋈ orders on orderkey) is
    * storage-partitioned; supplier, customer and both nation aliases
    * broadcast; the OR-of-nation-pairs predicate evaluates post-join —
    * the classic join-order stress shape. (volume = l_extendedprice:
    * the wide twin carries no discount column; same plan shape.) */
  val tpchQ7: Q = (s, d) => {
    val li = lineitemWideTable(s, d)
    val o = ordersTable(s, d)
    val h = math.abs(d.hashCode)
    Seq("supplier", "customer", "nation").foreach { t =>
      T(s, d, t)
        .createOrReplaceTempView(s"${t}_cat_dim_$h")
    }
    s.sql(
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |       year(l.l_shipdate) AS l_year,
         |       round(sum(l.l_extendedprice), 2) AS volume,
         |       count(*) AS n_lines
         |FROM $li l
         |JOIN $o o ON l.l_orderkey = o.o_orderkey
         |JOIN supplier_cat_dim_$h s ON s.s_suppkey = l.l_suppkey
         |JOIN customer_cat_dim_$h c ON c.c_custkey = o.o_custkey
         |JOIN nation_cat_dim_$h n1 ON n1.n_nationkey = s.s_nationkey
         |JOIN nation_cat_dim_$h n2 ON n2.n_nationkey = c.c_nationkey
         |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
         |  AND l.l_shipdate >= DATE'1995-01-01'
         |GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)""".stripMargin)
  }

  /** FULL-width lineitem twin (every source column, keyed
    * l_orderkey;l_linenumber on the shared orderkey splits) for the
    * rest of the TPC-H family. The narrow twins above demonstrate
    * schema-minimal stores; this one demonstrates the design a real
    * 100-TB deployment picks instead — ONE wide table, with the
    * columnar scan's column pruning (ReadSchema) doing per-query
    * narrowing, so adding a query never means adding a table. */
  private val builtLiF = scala.collection.concurrent.TrieMap[String, String]()
  private def lineitemFullTable(s: SparkSession, d: String): String =
    builtLiF.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      buildKeyedTable(s, d, "lineitem_f_t",
        """l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT,
          |l_suppkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE,
          |l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING,
          |l_linestatus STRING, l_shipdate DATE""".stripMargin,
        "l_orderkey;l_linenumber", orderKeySplits(s, d), "lineitem")
    })

  private def dimViews(s: SparkSession, d: String,
      tables: String*): Int = {
    val h = math.abs(d.hashCode)
    tables.foreach { t =>
      T(s, d, t)
        .createOrReplaceTempView(s"${t}_cat_dim_$h")
    }
    h
  }

  /** TPC-H Q6 (forecast revenue change): the pure scan+aggregate shape
    * — no join at all, the l_shipdate range reaches the parquet
    * predicate and the whole query is one exchange of one partial
    * row per task. The simplest possible 100-TB query; it had better
    * be scan-bound. */
  val tpchQ6: Q = (s, d) => s.sql(
    s"""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       |       count(*) AS cnt
       |FROM ${lineitemFullTable(s, d)}
       |WHERE l_shipdate >= DATE'1996-01-01'
       |  AND l_shipdate < DATE'1997-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin)

  /** TPC-H Q8 (national market share): the 8-table star — both fact
    * sides storage-partitioned on the orderkey, five dims broadcast.
    * Filters adapted to the corpus domains (p_type 'ECONOMY', region
    * 'ASIA', share of 'NATION_3'); the testdata carries no partsupp
    * table, which keeps Q2/Q11/Q16/Q20 (and Q9's supplycost term)
    * out of reach of an exact oracle — see tpchQ9's adaptation. */
  val tpchQ8: Q = (s, d) => {
    val li = lineitemFullTable(s, d)
    val o = ordersTable(s, d)
    val h = dimViews(s, d, "part", "supplier", "customer", "nation",
      "region")
    s.sql(
      s"""SELECT yr,
         |       round(sum(CASE WHEN nation = 'NATION_3' THEN volume
         |                      ELSE 0 END) / sum(volume), 4)
         |         AS mkt_share
         |FROM (
         |  SELECT CAST(year(o.o_orderdate) AS INT) AS yr,
         |         l.l_extendedprice * (1 - l.l_discount) AS volume,
         |         n2.n_name AS nation
         |  FROM $li l
         |  JOIN $o o ON l.l_orderkey = o.o_orderkey
         |  JOIN part_cat_dim_$h p ON p.p_partkey = l.l_partkey
         |  JOIN supplier_cat_dim_$h sup ON sup.s_suppkey = l.l_suppkey
         |  JOIN customer_cat_dim_$h c ON c.c_custkey = o.o_custkey
         |  JOIN nation_cat_dim_$h n1 ON n1.n_nationkey = c.c_nationkey
         |  JOIN region_cat_dim_$h r ON r.r_regionkey = n1.n_regionkey
         |  JOIN nation_cat_dim_$h n2 ON n2.n_nationkey = sup.s_nationkey
         |  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
         |    AND o.o_orderdate BETWEEN DATE'1995-01-01'
         |                          AND DATE'1996-12-31')
         |GROUP BY yr""".stripMargin)
  }

  /** TPC-H Q9 (product-type profit), adapted: the testdata has no
    * partsupp table, so "profit" drops the ps_supplycost·l_quantity
    * term and becomes discounted revenue — the JOIN SHAPE (part and
    * supplier both hanging off the fact, supplier's nation as the
    * group key, year from the order date) is the thing being proven,
    * and it is the standard Q9 plan. */
  val tpchQ9: Q = (s, d) => {
    val li = lineitemFullTable(s, d)
    val o = ordersTable(s, d)
    val h = dimViews(s, d, "part", "supplier", "nation")
    s.sql(
      s"""SELECT n.n_name AS nation,
         |       CAST(year(o.o_orderdate) AS INT) AS yr,
         |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
         |         AS revenue
         |FROM $li l
         |JOIN $o o ON l.l_orderkey = o.o_orderkey
         |JOIN part_cat_dim_$h p ON p.p_partkey = l.l_partkey
         |JOIN supplier_cat_dim_$h sup ON sup.s_suppkey = l.l_suppkey
         |JOIN nation_cat_dim_$h n ON n.n_nationkey = sup.s_nationkey
         |WHERE p.p_name LIKE 'red%'
         |GROUP BY n.n_name, year(o.o_orderdate)""".stripMargin)
  }

  /** TPC-H Q13 (customer order-count distribution), adapted only by
    * dropping the o_comment NOT-LIKE filter (no comment column in the
    * testdata): the LEFT join keeps order-less customers, the
    * two-level aggregation is the histogram-of-group-sizes shape. The
    * store side is the probe side — customers broadcast. */
  val tpchQ13: Q = (s, d) => {
    val o = ordersTable(s, d)
    val h = dimViews(s, d, "customer")
    s.sql(
      s"""SELECT c_count, count(*) AS custdist
         |FROM (
         |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
         |  FROM customer_cat_dim_$h c
         |  LEFT JOIN $o o ON c.c_custkey = o.o_custkey
         |  GROUP BY c.c_custkey)
         |GROUP BY c_count""".stripMargin)
  }

  /** TPC-H Q14 (promotion effect): one month of the fact against the
    * part dim, a conditional-share aggregate — the classic
    * numerator/denominator single-pass. */
  val tpchQ14: Q = (s, d) => {
    val li = lineitemFullTable(s, d)
    val h = dimViews(s, d, "part")
    s.sql(
      s"""SELECT round(100.0 *
         |  sum(CASE WHEN p.p_type = 'PROMO'
         |           THEN l.l_extendedprice * (1 - l.l_discount)
         |           ELSE 0 END) /
         |  sum(l.l_extendedprice * (1 - l.l_discount)), 4)
         |    AS promo_revenue
         |FROM ${li} l
         |JOIN part_cat_dim_$h p ON l.l_partkey = p.p_partkey
         |WHERE l.l_shipdate >= DATE'1996-09-01'
         |  AND l.l_shipdate < DATE'1996-10-01'""".stripMargin)
  }

  /** TPC-H Q15 (top supplier): quarter revenue per supplier (rounded
    * BEFORE the max, so the tie set is engine-exact), then the
    * max-revenue supplier(s) via a scalar subquery. */
  val tpchQ15: Q = (s, d) => {
    val li = lineitemFullTable(s, d)
    val h = dimViews(s, d, "supplier")
    // max attached as an unpartitioned window over the ALREADY
    // per-supplier-aggregated rev (supplier-cardinality rows), not a
    // scalar subquery: the subquery form re-scanned and re-aggregated
    // the lineitem fact a second time (two BatchScans + two Exchange
    // pairs in the r12 plan dump). Same rows (ties included) — the
    // max-of-rev comparison is unchanged.
    s.sql(
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |         round(sum(l_extendedprice * (1 - l_discount)), 2)
         |           AS total_rev
         |  FROM $li
         |  WHERE l_shipdate >= DATE'1996-01-01'
         |    AND l_shipdate < DATE'1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s.s_suppkey, s.s_name, r.total_rev
         |FROM (SELECT l_suppkey, total_rev,
         |             max(total_rev) OVER () AS mx FROM rev) r
         |JOIN supplier_cat_dim_$h s ON s.s_suppkey = r.l_suppkey
         |WHERE r.total_rev = r.mx""".stripMargin)
  }

  /** TPC-H Q22 (global sales opportunity), adapted: the country code
    * comes from c_nationkey % 5 instead of the phone prefix (no phone
    * column), and the positive-balance average is rounded to cents
    * before the comparison so the threshold is bit-identical across
    * engines. The anti join asks for customers with no RECENT orders
    * (every customer in this corpus has some order, so the standard
    * no-orders-at-all form returns an empty, trivially-green result)
    * and runs against the orders store with the date inside it. */
  val tpchQ22: Q = (s, d) => {
    val o = ordersTable(s, d)
    val h = dimViews(s, d, "customer")
    s.sql(
      s"""WITH pot AS (
         |  SELECT c_custkey, c_acctbal,
         |         CAST(c_nationkey % 5 AS INT) AS cntrycode
         |  FROM customer_cat_dim_$h
         |  WHERE c_nationkey % 5 IN (1, 2, 3)),
         |thr AS (SELECT round(avg(c_acctbal), 2) AS ab
         |        FROM pot WHERE c_acctbal > 0)
         |SELECT cntrycode, count(*) AS numcust,
         |       round(sum(c_acctbal), 2) AS totacctbal
         |FROM pot, thr
         |WHERE c_acctbal > ab
         |  AND NOT EXISTS (SELECT 1 FROM $o o
         |                  WHERE o.o_custkey = pot.c_custkey
         |                    AND o.o_orderdate > DATE'1999-01-01')
         |GROUP BY cntrycode""".stripMargin)
  }

  /** ADD COLUMN … DEFAULT fixture: batch 1 (even orderkeys) lands
    * BEFORE the columns exist, so its region files do not contain
    * them — reads must materialize the EXISTENCE default (Spark's
    * EXISTS_DEFAULT contract, honored by the region reader); batch 2
    * (odd) lands after the ALTER with
    * explicit values. The aggregate below exercises exactly those two
    * mechanisms and the DuckDB oracle recomputes both from the raw
    * parquet — a NULL-instead-of-default read hash-mismatches. */
  private val builtDef = scala.collection.concurrent.TrieMap[String, String]()
  private def addDefaultTable(s: SparkSession, d: String): String =
    builtDef.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.orders_def_t"
      val srcCount = T(s, d, "orders").count()
      val exists = trusted(s, ns, "orders_def_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (o_orderkey BIGINT, o_totalprice DOUBLE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        val v = s"def_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT o_orderkey, o_totalprice " +
          s"FROM $v WHERE o_orderkey % 2 = 0")
        s.sql(s"ALTER TABLE $fqn ADD COLUMN channel STRING DEFAULT 'web'")
        s.sql(s"ALTER TABLE $fqn ADD COLUMN fee BIGINT DEFAULT 3")
        s.sql(s"INSERT INTO $fqn SELECT o_orderkey, o_totalprice, " +
          s"'store', 7 FROM $v WHERE o_orderkey % 2 = 1")
      }
      fqn
    })

  /** Aggregate over an ADD COLUMN DEFAULT evolution: the 'web'/3 group
    * exists only as existence defaults (its files predate the
    * columns), the 'store'/7 group only as stored values. */
  val addDefaultAgg: Q = (s, d) => s.sql(
    s"""SELECT channel, count(*) AS cnt, sum(fee) AS total_fee,
       |       round(sum(o_totalprice), 2) AS total_price
       |FROM ${addDefaultTable(s, d)}
       |GROUP BY channel""".stripMargin)

  /** Ranking window straight off the key-sorted store: top-2 line
    * items by price within each order. partitionBy(l_orderkey) rides
    * the scan's KeyGroupedPartitioning — no Exchange before the window
    * (the shuffle every parquet-faced window_* query pays), and the
    * leading-key range predicate prunes regions before scheduling. */
  val windowOnStore: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
    s.table(lineitemTable(s, d))
      .filter(col("l_orderkey") < 3000)
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= 2)
      .select(col("l_orderkey"), col("rk"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price"))
  }

  /** Documents in the catalog too — LLM-pipeline ops composed over the
    * key-sorted store rather than raw parquet. */
  private val builtDocs = scala.collection.concurrent.TrieMap[String, String]()
  private def documentsTable(s: SparkSession, d: String): String =
    builtDocs.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.documents_t"
      val srcCount = T(s, d, "documents").count()
      val exists = trusted(s, ns, "documents_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  doc_id BIGINT, text STRING, lang STRING, source STRING,
             |  n_chars BIGINT)
             |TBLPROPERTIES('keyCols'='doc_id', 'numRegions'='8')"""
            .stripMargin)
        val v = s"docs_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "documents").createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
      }
      fqn
    })

  /** Perplexity scoring over catalog-stored documents — the CCNet
    * quality gate running on the storage engine instead of raw files
    * (same shared pipeline as text_perplexity, same exact oracle: the
    * store must hold exactly the source rows). */
  val perplexityOnStore: Q = (s, d) =>
    TextOps.perplexityOf(s.table(documentsTable(s, d)))

  /** DSIR importance resampling over catalog-stored documents — the
    * data-selection pass running on the storage engine (same shared
    * core and exact oracle as pipeline_dsir, so a hash match proves
    * the store holds exactly the source rows AND the two-model
    * importance weights survive the storage round-trip). */
  val dsirOnStore: Q = (s, d) => {
    import org.apache.spark.sql.functions.col
    TextOps.dsirOf(s.table(documentsTable(s, d)), col("lang") === "en", 100)
  }

  /** Exact dedup accounting over catalog-stored documents (the LLM
    * pipeline running on the storage engine, not raw files). */
  val dedupOnStore: Q = (s, d) => s.sql(
    s"""SELECT source, count(*) AS n_docs,
       |       count(DISTINCT md5(text)) AS n_unique
       |FROM ${documentsTable(s, d)} GROUP BY source""".stripMargin)

  /** GROUP BY on the key prefix of a fixed-split table: the scan's
    * KeyGroupedPartitioning already clusters equal orderkeys, so this
    * aggregates with NO Exchange (the reference's exchange-free
    * aggregation intent, `HBaseStrategies.scala:44-175`, realized;
    * asserted in PlanShapeSpec). */
  val keyGroupBy: Q = (s, d) => s.sql(
    s"""SELECT l_orderkey, count(*) AS n_items, max(l_linenumber) AS max_ln,
       |       round(sum(l_extendedprice), 2) AS revenue
       |FROM ${lineitemTable(s, d)}
       |GROUP BY l_orderkey""".stripMargin)

  /** Lineitem WITHOUT fixed splits — the streaming-ingest/append table
    * shape, where no KeyGroupedPartitioning exists and a GROUP BY would
    * otherwise shuffle every raw row. This is the table the grouped
    * partial-agg pushdown is for. */
  private val builtLiH = scala.collection.concurrent.TrieMap[String, String]()
  private def lineitemHeapTable(s: SparkSession, d: String): String =
    builtLiH.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d) // ensures catalog + namespace exist
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.lineitem_h_t"
      val srcCount = T(s, d, "lineitem").count()
      val exists = s.sql(s"SHOW TABLES IN graft.$ns").collect()
        .exists(_.getString(1) == "lineitem_h_t") &&
        (s.table(fqn).count() == srcCount || {
          s.sql(s"DROP TABLE $fqn"); false })
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |l_orderkey BIGINT, l_linenumber INT, l_extendedprice DOUBLE,
             |l_discount DOUBLE, l_shipdate DATE)
             |TBLPROPERTIES('keyCols'='l_orderkey;l_linenumber')"""
            .stripMargin)
        val v = s"lineitem_h_src_${math.abs(d.hashCode)}"
        T(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice",
            "l_discount", "l_shipdate")
          .createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
      }
      fqn
    })

  /** Grouped partial-aggregation PUSHDOWN on the key prefix of an
    * UNBUCKETED table: the scan itself folds each region's key-sorted
    * rows into per-group partial rows ([[graft.catalog
    * .GraftGroupAggScan]] — COUNT/SUM/MIN/MAX over every major type
    * class, O(1) fold state), so only group-sized partials reach the
    * merge shuffle instead of every raw row. On fixed-split tables the
    * planner deliberately does NOT push: the KeyGroupedPartitioning
    * complete-agg plan has zero shuffles and wins (both choices
    * asserted in GroupAggPushdownSpec). The full analogue of the
    * reference's coprocessor grouped aggregation
    * (SparkSqlRegionObserver.scala:42-196): rows never leave storage
    * un-aggregated. */
  val keyGroupByPushdown: Q = (s, d) => s.sql(
    s"""SELECT l_orderkey, count(*) AS n_items,
       |       sum(l_linenumber) AS sum_ln,
       |       round(sum(l_extendedprice), 2) AS revenue,
       |       date_format(min(l_shipdate), 'yyyy-MM-dd') AS first_ship,
       |       round(max(l_discount), 2) AS max_disc
       |FROM ${lineitemHeapTable(s, d)}
       |GROUP BY l_orderkey""".stripMargin)

  /** Wide-region table for the in-region skip-scan: leading key
    * o_orderstatus has 3 values (runs of tens of thousands of rows),
    * `graft.pageRowLimit`=1000 bounds pages, so a point predicate on
    * the trailing key (o_orderkey) skips all pages whose orderkey band
    * misses — the parquet column index doing the reference
    * `HBaseCustomFilter.findNextHint` seek (SkipScanSpec asserts the
    * row-count effect; this query gates the answers). */
  private val builtWide = scala.collection.concurrent.TrieMap[String, String]()
  private def wideTable(s: SparkSession, d: String): String =
    builtWide.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.orders_wide_t"
      val srcCount = T(s, d, "orders").count()
      val exists = trusted(s, ns, "orders_wide_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderstatus STRING, o_orderkey BIGINT, o_custkey BIGINT,
             |  o_totalprice DOUBLE)
             |TBLPROPERTIES('keyCols'='o_orderstatus;o_orderkey',
             |              'numRegions'='2', 'graft.pageRowLimit'='1000')"""
            .stripMargin)
        val v = s"wide_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "orders")
          .select("o_orderstatus", "o_orderkey", "o_custkey", "o_totalprice")
          .createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
      }
      fqn
    })

  /** Trailing-dimension point predicate over wide leading-key runs. */
  val skipScan: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, o_orderkey, o_custkey,
       |       round(o_totalprice, 2) AS price
       |FROM ${wideTable(s, d)} WHERE o_orderkey = 1000""".stripMargin)

  /** Embeddings stored IN the catalog (ARRAY<FLOAT> non-key column,
    * SURVEY §1.5): the ANN pipeline runs over the key-sorted store,
    * not raw parquet. */
  private val builtEmb = scala.collection.concurrent.TrieMap[String, String]()
  def embeddingsTable(s: SparkSession, d: String): String =
    builtEmb.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.embeddings_t"
      val srcCount = T(s, d, "embeddings").count()
      val exists = trusted(s, ns, "embeddings_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)
             |TBLPROPERTIES('keyCols'='vec_id', 'numRegions'='4')"""
            .stripMargin)
        val v = s"emb_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "embeddings").createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT vec_id, embedding, label FROM $v")
      }
      fqn
    })

  /** Brute-force cosine top-k over CATALOG-stored embeddings — the
    * exact DuckDB oracle proves the float arrays round-trip the store
    * byte-exactly (same query shape as ann_cosine_topk). */
  val annTopkOnStore: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val e = s.table(embeddingsTable(s, d))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("sim",
        round(graft.functions.VectorOps.cosine(col("embedding"), col("qv")), 4))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(20)
      .select(col("vec_id"), col("sim"))
  }

  /** LSH bucket histogram over catalog-stored embeddings (scale path of
    * the ANN stack composed with the store; rows-only — xxhash buckets
    * have no DuckDB equivalent; CatalogVectorSpec gates it ≡ the
    * parquet-backed ann_lsh). */
  val annLshOnStore: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    s.table(embeddingsTable(s, d))
      .withColumn("bucket",
        graft.functions.VectorOps.lshBucket(col("embedding"), 16))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"),
        countDistinct(col("label")).as("n_labels"))
  }

  /** Media payloads stored IN the catalog (BINARY non-key column):
    * metadata queries prune the payload out of IO entirely
    * (ReadSchema asserted in CatalogVectorSpec). */
  private val builtMedia = scala.collection.concurrent.TrieMap[String, String]()
  def mediaTable(s: SparkSession, d: String): String =
    builtMedia.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.media_t"
      val srcCount = T(s, d, "documents").count()
      val exists = trusted(s, ns, "media_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  media_id BIGINT, kind STRING, payload BINARY,
             |  width INT, height INT)
             |TBLPROPERTIES('keyCols'='media_id', 'numRegions'='4')"""
            .stripMargin)
        val v = s"media_cat_src_${math.abs(d.hashCode)}"
        Multimodal.mediaTable(s, d).createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
      }
      fqn
    })

  /** The MinHash band index MATERIALIZED as a graft table — the
    * "near-dup index" artifact a production pipeline persists once
    * (the same store-the-expensive-stage move [[IvfIndex]] makes for
    * its inverted lists). Signatures (the linear-in-corpus stage) and
    * their banding are computed from the stored documents ONCE at
    * build; the table is KEYED BY band hash with fixed even splits
    * over the hash space, so per-query candidate generation is a
    * co-located storage-partitioned self-join — zero Exchange, the
    * layout that holds at any corpus size. */
  private val builtBand = scala.collection.concurrent.TrieMap[String, String]()
  private def minhashBandTable(s: SparkSession, d: String): String =
    builtBand.getOrElseUpdate(d, FixtureLock.build(d) {
      val docsFqn = documentsTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.minhash_band_t"
      import org.apache.spark.sql.functions.col
      val bounded = s.table(docsFqn).filter(col("doc_id") < 1000L)
      val srcCount = bounded.count() * 32L // 32 bands per doc
      val exists = trusted(s, ns, "minhash_band_t", srcCount)
      if (!exists) {
        // xxhash64 band hashes are uniform over the full Long range:
        // fixed even splits, no quantile scan needed
        val splits = (1 until 8).map(i =>
          (BigInt(Long.MinValue) + (BigInt(2).pow(64) / 8) * i).toLong)
          .mkString(";")
        s.sql(
          s"""CREATE TABLE $fqn (bh BIGINT, doc_id BIGINT)
             |TBLPROPERTIES('keyCols'='bh;doc_id',
             |              'regionSplits'='$splits')""".stripMargin)
        val v = s"minhash_band_src_${math.abs(d.hashCode)}"
        TextOps.minhashBands(TextOps.minhashWordSigs(bounded))
          .select(col("bh"), col("doc_id"))
          .createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
      }
      fqn
    })

  /** ScaleBench entry: [[dedupMinhashOnStore]]'s pipeline WITHOUT the
    * face's doc_id<1000 oracle-tractability bound — a full-corpus band
    * table (same keyed-by-band-hash layout, fixed even splits) built
    * once from the stored documents, then the co-located candidate
    * join + exact verify over the WHOLE corpus. This is the
    * measurement face for the band family's scaling claim; the driver
    * face keeps its bound so its DuckDB brute-force oracle stays
    * tractable. */
  private val builtBandFull = scala.collection.concurrent.TrieMap[String, String]()
  private[graft] def dedupMinhashOnStoreFull(s: SparkSession, d: String)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val docsFqn = documentsTable(s, d)
    val bandFqn = builtBandFull.getOrElseUpdate(d, FixtureLock.build(d) {
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.minhash_band_full_t"
      val srcCount = s.table(docsFqn).count() * 32L
      if (!trusted(s, ns, "minhash_band_full_t", srcCount)) {
        val splits = (1 until 8).map(i =>
          (BigInt(Long.MinValue) + (BigInt(2).pow(64) / 8) * i).toLong)
          .mkString(";")
        s.sql(
          s"""CREATE TABLE $fqn (bh BIGINT, doc_id BIGINT)
             |TBLPROPERTIES('keyCols'='bh;doc_id',
             |              'regionSplits'='$splits')""".stripMargin)
        val v = s"minhash_band_full_src_${math.abs(d.hashCode)}"
        TextOps.minhashBands(TextOps.minhashWordSigs(s.table(docsFqn)))
          .select(col("bh"), col("doc_id"))
          .createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
        s.catalog.dropTempView(v)
      }
      fqn
    })
    TextOps.minhashVerifiedPairsFromBands(
      s.table(docsFqn), s.table(bandFqn))
  }

  /** The inverted postings index MATERIALIZED as a graft table — the
    * full-text-search artifact: one (term, doc_id, tf, dl) row per
    * distinct word per document, KEYED BY (term, doc_id). dl is
    * denormalized into the posting (standard IR practice) so scoring
    * never joins back to the corpus. Query-time cost is then
    * independent of corpus size: a term IN-list is a point predicate
    * on the leading string key → region pruning + page skipping reach
    * only the queried terms' postings, the way a 100-TB search tier
    * serves queries without scanning documents. Built ONCE from the
    * stored documents by the same map-side word_tf_pairs kernel the
    * parquet face uses per query. */
  private val builtPost = scala.collection.concurrent.TrieMap[String, String]()
  private def postingsTable(s: SparkSession, d: String): String =
    builtPost.getOrElseUpdate(d, FixtureLock.build(d) {
      val docsFqn = documentsTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.documents_t_fts"
      import org.apache.spark.sql.functions._
      val src = s.table(docsFqn)
      val srcCount = src.agg(
        sum(size(graft.functions.VectorOps.wordTfPairs(col("text")))))
        .collect()(0).getLong(0)
      // build through the REAL procedure (`CALL graft.sys.text_index`)
      // rather than a private twin of it: every catalog_bm25 /
      // catalog_phrase / catalog_hybrid_rrf driver row then re-proves
      // the procedure's output against the full-scan oracle
      val exists = trusted(s, ns, "documents_t_fts", srcCount) &&
        trusted(s, ns, "documents_t_fts_stats", 2L)
      if (!exists)
        s.sql(s"CALL graft.sys.text_index(table => '$ns.documents_t', " +
          "column => 'text', id => 'doc_id')").collect()
      fqn
    })

  /** PHRASE search from the index: both terms' postings are point
    * reads on the leading string key (region-pruned, page-skipped),
    * the doc_id join touches only docs containing both words, and
    * adjacency resolves inside the positional arrays — "fast join" as
    * a phrase, never a corpus scan, never a LIKE. The n_hits count is
    * the number of adjacent occurrences. */
  val phraseOnStore: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val posts = s.table(postingsTable(s, d))
    val p1 = posts.filter(col("term") === "fast")
      .select(col("doc_id"), col("pos").as("p1"))
    val p2 = posts.filter(col("term") === "join")
      .select(col("doc_id"), col("pos").as("p2"))
    p1.join(p2, "doc_id")
      .withColumn("n_hits",
        size(array_intersect(transform(col("p1"), x => x + 1), col("p2")))
          .cast("long"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("n_hits"))
  }

  /** Corpus-level BM25 statistics persisted beside the postings index
    * — two rows, point-read at query time; recomputing them would
    * re-scan the corpus the index exists to avoid. Stored as EXACT
    * integer counters (doc count, total word count) rather than the
    * derived average: counters ADD, so an incremental refresh updates
    * them from the delta's own aggregates with no drift and no corpus
    * re-scan; avgdl is one division at query time. */
  private def textStatsTable(s: SparkSession, d: String): String = {
    postingsTable(s, d) // the text_index CALL builds both tables
    s"graft.sf_${math.abs(d.hashCode)}.documents_t_fts_stats"
  }

  /** BM25 retrieval FROM THE INDEX: the query terms hit the postings
    * table as a leading-key IN-list (region-pruned, page-skipped), the
    * two corpus stats are point reads, and the shared scoring core
    * ([[TextOps.bm25ScoreOf]]) runs over postings whose volume is the
    * query's, not the corpus's. Same top-10, same oracle as text_bm25
    * — a hash match proves the persisted index + stats reproduce the
    * full-scan recompute exactly. */
  val bm25OnStore: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    bm25ScoresFromIndex(s, d)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  /** Per-doc BM25 scores served from the persisted postings index +
    * stats counters — shared by the retrieval face and the hybrid
    * fusion arm. */
  private def bm25ScoresFromIndex(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val posts = s.table(postingsTable(s, d))
      .filter(col("term").isin(TextOps.bm25Terms: _*))
      .select(col("doc_id"), col("dl"), col("term").as("w"), col("tf"))
    val stats = s.table(textStatsTable(s, d))
      .groupBy()
      .agg(max(when(col("stat") === "n_docs", col("v"))).as("n_docs"),
        (max(when(col("stat") === "total_dl", col("v"))).cast("double") /
          max(when(col("stat") === "n_docs", col("v")))).as("avgdl"))
    TextOps.bm25ScoreOf(posts, stats)
  }

  /** Hybrid retrieval ENTIRELY on the store: the lexical arm reads the
    * region-pruned postings index, the vector arm the stored
    * embeddings, fused by the shared RRF core — one oracle with the
    * parquet face, so a hash match proves both persisted indexes
    * reproduce the full recompute. */
  val hybridOnStore: Q = (s, d) =>
    TextOps.hybridRrfOf(bm25ScoresFromIndex(s, d),
      s.table(embeddingsTable(s, d)))

  /** The HISTORICAL corpus's band index persisted for the ingest
    * screen: bands of every already-admitted document (the %5≠4
    * split), keyed by band hash. Unlike [[minhashBandTable]] (bounded
    * for its oracle), this one covers the whole historical corpus —
    * the screen's cost must not depend on corpus size, and it doesn't:
    * the incoming batch's bands broadcast into a join against this
    * table's scan. */
  private val builtHistBand =
    scala.collection.concurrent.TrieMap[String, String]()
  private def histBandTable(s: SparkSession, d: String): String =
    builtHistBand.getOrElseUpdate(d, FixtureLock.build(d) {
      val docsFqn = documentsTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.hist_band_t"
      import org.apache.spark.sql.functions._
      val hist = s.table(docsFqn)
        .filter(pmod(col("doc_id"), lit(5)) =!= 4)
      val srcCount = hist.count() * 32L // 32 bands per doc
      val exists = trusted(s, ns, "hist_band_t", srcCount)
      if (!exists) {
        val splits = (1 until 8).map(i =>
          (BigInt(Long.MinValue) + (BigInt(2).pow(64) / 8) * i).toLong)
          .mkString(";")
        s.sql(
          s"""CREATE TABLE $fqn (bh BIGINT, doc_id BIGINT)
             |TBLPROPERTIES('keyCols'='bh;doc_id',
             |              'regionSplits'='$splits')""".stripMargin)
        val v = s"hist_band_src_${math.abs(d.hashCode)}"
        TextOps.minhashBands(TextOps.minhashWordSigs(hist))
          .select(col("bh"), col("doc_id"))
          .createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
      }
      fqn
    })

  /** Dedup-at-ingest against the PERSISTED index: incoming documents
    * (still outside the lake — read from parquet) are banded map-side
    * and screened against [[histBandTable]] + the stored corpus. Only
    * the incoming batch is ever signature-hashed at query time; the
    * historical side contributes a band-table scan and the verify
    * join-back — the shape whose cost follows the batch, not the
    * corpus. Same oracle as dedup_incoming: a hash match proves the
    * persisted index and store reproduce the from-scratch screen. */
  val dedupIncomingOnStore: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val hist = s.table(documentsTable(s, d))
      .filter(pmod(col("doc_id"), lit(5)) =!= 4)
    val inc = T(s, d, "documents")
      .filter(pmod(col("doc_id"), lit(5)) === 4)
    // Re-cluster the bh-keyed band index by document BEFORE the screen
    // (TextOps.spread — gated to sub-64 MB inputs): the stored index is
    // region-partitioned by band hash, so one document's 32 band rows
    // land in ~32 different regions and the candidate distinct's
    // map-side partial aggregation cannot collapse the ~21× band
    // multiplicity of a true pair — the exchange carried 115 MB of
    // collision instances (vs 15.7 MB on the parquet face, whose band
    // rows are doc-clustered). The re-cluster shuffle moves only the
    // 2 MB (bh, doc_id) index slice; above the spread gate the screen
    // falls back to the O(collisions) exchange, which is still
    // batch-bound (collisions ∝ incoming batch × band multiplicity).
    val bands = TextOps.spread(s.table(histBandTable(s, d)))
      .select(col("bh"), col("doc_id").as("dh"))
    TextOps.incomingNearDupsAgainstBands(inc, bands, hist)
  }

  /** MinHash-LSH verified near-dup pairs over CATALOG-stored documents:
    * the near-dup scale path (signatures → banded join → exact-Jaccard
    * verify) composed with the key-sorted store the way
    * catalog_dedup_exact composes the exact path. Candidate generation
    * reads the materialized [[minhashBandTable]] (built once from the
    * stored documents, keyed by band hash → co-located self-join); the
    * exact verify re-reads word sets from the documents store per
    * query. A hash match therefore proves the store holds exactly the
    * source documents, the persisted band index is exactly the
    * recompute, AND the LSH pipeline emits exactly the true ≥0.9 pair
    * set; CatalogVectorSpec gates it ≡ the parquet-backed
    * dedup_minhash_pairs. */
  val dedupMinhashOnStore: Q = (s, d) => {
    import org.apache.spark.sql.functions.col
    TextOps.minhashVerifiedPairsFromBands(
      s.table(documentsTable(s, d)).filter(col("doc_id") < 1000L),
      s.table(minhashBandTable(s, d)))
  }

  /** The hashed-TF document vectors MATERIALIZED as a graft table —
    * the vector stage of the embedding near-dup pipeline is the
    * linear-in-corpus pass worth persisting (same store-the-expensive-
    * stage move as [[minhashBandTable]]); the verify join reruns
    * cheaply from the stored vectors. ARRAY<BIGINT> + BIGINT non-key
    * columns round-trip the store exactly, so the integer threshold
    * decision is unchanged by storage. */
  private val builtDocVec = scala.collection.concurrent.TrieMap[String, String]()
  private def docVecTable(s: SparkSession, d: String): String =
    builtDocVec.getOrElseUpdate(d, FixtureLock.build(d) {
      val docsFqn = documentsTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.doc_vec_t"
      import org.apache.spark.sql.functions.col
      val bounded = s.table(docsFqn).filter(col("doc_id") < 1000L)
      val src = TextOps.docTfVectors(bounded)
      val srcCount = src.count()
      val exists = trusted(s, ns, "doc_vec_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  doc_id BIGINT, vec ARRAY<BIGINT>, n2 BIGINT)
             |TBLPROPERTIES('keyCols'='doc_id', 'numRegions'='4')"""
            .stripMargin)
        val v = s"doc_vec_src_${math.abs(d.hashCode)}"
        src.createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
      }
      fqn
    })

  /** Embedding-cosine near-dup pairs over the MATERIALIZED vector
    * table: a hash match proves the store holds exactly the source
    * documents, the persisted vectors equal the recompute, and the
    * integer-exact threshold decision emits the true pair set (the
    * oracle recomputes everything from the raw documents);
    * CatalogVectorSpec gates it ≡ the parquet-backed dedup_embedding. */
  val dedupEmbeddingOnStore: Q = (s, d) =>
    TextOps.embeddingPairsFromVecs(s.table(docVecTable(s, d)))

  /** Events keyed (user_id, ts) with fixed user_id splits: the scan
    * reports KeyGroupedPartitioning(bucket(user_id)) AND ascending
    * (user_id, ts) ordering, so sessionization needs neither an
    * Exchange nor a Sort — the reference's exchange-free intent
    * (`HBaseStrategies.scala:44-175`) applied to a window workload. */
  private val builtEv = scala.collection.concurrent.TrieMap[String, String]()
  private def eventsTable(s: SparkSession, d: String): String =
    builtEv.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.events_t"
      val src = Relational.events(s, d)
        .select("user_id", "ts", "value")
      val srcCount = src.count()
      val exists = s.sql(s"SHOW TABLES IN graft.$ns").collect()
        .exists(_.getString(1) == "events_t") && usable(s, fqn, srcCount)
      if (!exists) {
        val splits = src.stat
          .approxQuantile("user_id", (1 until 8).map(_ / 8.0).toArray, 0.001)
          .map(_.toLong).distinct.sorted.mkString(";")
        s.sql(
          s"""CREATE TABLE $fqn (
             |  user_id BIGINT, ts TIMESTAMP, value DOUBLE)
             |TBLPROPERTIES('keyCols'='user_id;ts',
             |              'regionSplits'='$splits')""".stripMargin)
        val v = s"events_cat_src_${math.abs(d.hashCode)}"
        src.createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
      }
      fqn
    })

  /** Sessionization (30-min gap) straight off the key-sorted store:
    * same pipeline (and therefore same answers) as events_session —
    * [[Extended.sessionize]] is shared — but the scan's reported
    * partitioning + ordering replace the hash Exchange and the sort
    * (zero-Exchange/zero-Sort asserted in StoragePartitionSpec). */
  val sessionOnStore: Q = (s, d) =>
    Extended.sessionize(s.table(eventsTable(s, d)))

  /** Events with the FULL column set (event_type/event_id carried as
    * non-key payload) keyed (user_id, ts) — the layout for the as-of
    * family, where the per-user time order is the storage order. */
  private val builtEvF = scala.collection.concurrent.TrieMap[String, String]()
  private def eventsFullTable(s: SparkSession, d: String): String =
    builtEvF.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.events_full_t"
      val src = Relational.events(s, d)
        .select("user_id", "ts", "event_type", "event_id", "value")
      val srcCount = src.count()
      val exists = s.sql(s"SHOW TABLES IN graft.$ns").collect()
        .exists(_.getString(1) == "events_full_t") && usable(s, fqn, srcCount)
      if (!exists) {
        val splits = src.stat
          .approxQuantile("user_id", (1 until 8).map(_ / 8.0).toArray, 0.001)
          .map(_.toLong).distinct.sorted.mkString(";")
        s.sql(
          s"""CREATE TABLE $fqn (
             |  user_id BIGINT, ts TIMESTAMP, event_type STRING,
             |  event_id BIGINT, value DOUBLE)
             |TBLPROPERTIES('keyCols'='user_id;ts',
             |              'regionSplits'='$splits')""".stripMargin)
        val v = s"events_full_src_${math.abs(d.hashCode)}"
        src.createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT * FROM $v")
      }
      fqn
    })

  /** As-of join (every click ↔ the same user's most recent view)
    * straight off the key-sorted store: the shared
    * [[Extended.asofOf]] pipeline, with the union's window riding the
    * scan's (user_id, ts) partitioning — the per-user Exchange the
    * parquet face pays disappears (asserted in StoragePartitionSpec).
    * Same oracle as join_asof. */
  val asofOnStore: Q = (s, d) =>
    Extended.asofOf(s.table(eventsFullTable(s, d)))

  /** Ordered funnel straight off the key-sorted store: the three step
    * aggregations AND both chaining joins all key on user_id, so the
    * whole funnel rides the scan's (user_id, ts) partitioning — zero
    * user_id Exchange (asserted in StoragePartitionSpec; only the
    * final three single-row counts shuffle, one row each). Same
    * pipeline and oracle as events_funnel. */
  val funnelOnStore: Q = (s, d) =>
    Extended.funnelOf(s.table(eventsFullTable(s, d)))

  /** Transition counts off the store — the lag window's
    * partitionBy(user_id) rides the (user_id, ts) key layout with no
    * Exchange; same pipeline and oracle as events_transitions. */
  val transitionsOnStore: Q = (s, d) =>
    Extended.transitionsOf(s.table(eventsFullTable(s, d)))

  /** Orders with a DECIMAL(12,2) price stored IN the catalog: exact
    * decimal aggregation over the store. The price is derived from
    * integer cents (`(o_orderkey * 7919 + 421) % 10^8`, then an exact
    * decimal `* 0.01`) so NO double→decimal cast exists in either
    * face — Spark and DuckDB disagree on tie-rounding the binary
    * expansion of a double, which kept the old
    * `CAST(o_totalprice AS DECIMAL)` variant hash-red at the driver
    * even with rows and schema matching. Every step here (BIGINT
    * modular arithmetic, DECIMAL(12,0)*DECIMAL(3,2), scale-2 cast of
    * an exactly-scale-2 value) is exact in both engines. */
  private val builtDec = scala.collection.concurrent.TrieMap[String, String]()
  private def decimalTable(s: SparkSession, d: String): String =
    builtDec.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.orders_cents_t"
      val srcCount = T(s, d, "orders").count()
      val exists = trusted(s, ns, "orders_cents_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DECIMAL(12,2))
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        val v = s"dec_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        s.sql(s"""INSERT INTO $fqn
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST((o_orderkey * 7919 + 421) % 100000000
                           AS DECIMAL(12,0)) * 0.01 AS DECIMAL(12,2))
          FROM $v""")
      }
      fqn
    })

  /** ANSI column-DDL fixture: a documents store table whose extra
    * columns the INSERT never provides — `n_chars_g` is GENERATED
    * ALWAYS AS (computed by the write task), `lang` fills from its
    * DEFAULT (analyzer-side), and a CHECK constraint rides along to
    * prove enforcement does not perturb stored values. The oracle
    * recomputes both derived columns from the raw parquet, so a hash
    * match proves the fill paths produce exactly the declared
    * expressions — end to end through the store. */
  private val builtGen = scala.collection.concurrent.TrieMap[String, String]()
  private def generatedTable(s: SparkSession, d: String): String =
    builtGen.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.docs_gen_t"
      val srcCount = T(s, d, "documents").count()
      val exists = trusted(s, ns, "docs_gen_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  doc_id BIGINT, text STRING,
             |  n_chars_g INT GENERATED ALWAYS AS (CAST(length(text) AS INT)),
             |  lang STRING DEFAULT 'unk',
             |  CONSTRAINT has_text CHECK (length(text) >= 0))
             |TBLPROPERTIES('keyCols'='doc_id', 'numRegions'='4')"""
            .stripMargin)
        val v = s"gen_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "documents").createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn (doc_id, text) " +
          s"SELECT doc_id, text FROM $v")
      }
      fqn
    })

  val generatedOnStore: Q = (s, d) => s.sql(
    s"""SELECT doc_id, n_chars_g, lang
       |FROM ${generatedTable(s, d)}""".stripMargin)

  /** Materialized-view fixture: a dedicated orders store table loaded
    * in TWO batches, with `CALL graft.sys.mview` after the first and
    * `CALL graft.sys.mview_refresh` after the second — so the mview
    * holds two PARTIAL rows per (status, priority) group and the
    * driver's hash gate covers build, incremental refresh, AND the
    * transparent rewrite ([[graft.catalog.GraftMviewRewrite]]) in one
    * go. Prices derive from integer cents (the catalog_decimal trick)
    * so every aggregate is exact decimal arithmetic — hash-stable
    * under any aggregation order. The oracle recomputes from the raw
    * parquet: the mview must be invisible in the answers. */
  private val builtMvB = scala.collection.concurrent.TrieMap[String, String]()

  /** Fixture-grade consistency gate for mview faces: the canonical
    * aggregate answered WITH the transparent rewrite must equal the
    * same SQL answered with the rewrite disabled (the base scan is
    * correct by construction — the driver-green non-mview faces prove
    * the base content). Collected separately because a single plan
    * would optimize both subtrees under one conf value. */
  private def mviewOnOffAgree(s: SparkSession, sql: String): Boolean = {
    def rows(): Seq[String] =
      s.sql(sql).collect().map(_.toString).sorted.toSeq
    val key = "spark.graft.accel.mviewRewrite"
    val prior = s.conf.getOption(key) // restore, don't force "true":
    val on = rows()                   // the session may have the kill
    val off = try {                   // switch deliberately off
      s.conf.set(key, "false")
      rows()
    } finally prior match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
    on == off
  }

  /** Forensic breadcrumb for the driver-red investigation: append one
    * line per fixture decision to a `_fixture_diag` file beside the
    * warehouse tables (listTables ignores non-table files). If a
    * driver round ever reds an mview face again, the breadcrumb shows
    * which path ran (build vs reuse-heal), what the heal refresh
    * appended, and the gate outcomes — in the driver's own window,
    * not a later reproduction. */
  private def mviewDiag(s: SparkSession, ns: String, line: String): Unit =
    try {
      val p = java.nio.file.Paths.get(
        FixtureLock.warehouse(s), ns, "_fixture_diag")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p,
        s"${java.time.Instant.now()} $line\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch {
      // diagnostics must never fail the query — but don't swallow an
      // interrupt: re-set the flag so cancellation still propagates
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }

  private def mviewBase(s: SparkSession, d: String): String =
    builtMvB.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.orders_sum_t"
      val mvFqn = s"${fqn}_mv_status"
      val srcCount = T(s, d, "orders").count()
      val expectAggs = "sum:o_price=sum_o_price;count:*=cnt_star;" +
        "min:o_price=min_o_price;max:o_price=max_o_price;" +
        "hll:o_orderpriority=hll_o_orderpriority;" +
        "sum:o_cents=sum_o_cents;count:o_cents=cnt_o_cents;" +
        "kll:o_cents=kll_o_cents"
      val mvFresh = trusted(s, ns, "orders_sum_t", srcCount) &&
        s.sql(s"SHOW TABLES IN graft.$ns").collect()
          .exists(_.getString(1) == "orders_sum_t_mv_status") &&
        s.sql(s"SHOW TBLPROPERTIES $mvFqn").collect()
          .exists(_.getString(0) == graft.catalog.TableMeta.MviewVersionProp) &&
        // an mview from an older fixture generation (different agg
        // set) would silently degrade queries to the base path
        s.sql(s"SHOW TBLPROPERTIES $mvFqn").collect()
          .exists(r => r.getString(0) == graft.catalog.TableMeta.MviewAggsProp &&
            r.getString(1) == expectAggs)
      def build(): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $mvFqn")
        s.sql(s"DROP TABLE IF EXISTS $fqn")
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_orderpriority STRING, o_price DECIMAL(12,2),
             |  o_cents BIGINT)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        val v = s"mv_base_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        // o_cents: the same integer-cents value as a BIGINT — AVG over
        // it divides an exact long sum (< 2^53) by an exact count, so
        // the double result is correctly-rounded and bit-identical in
        // Spark (direct AND via the rewrite's sum/count re-derivation)
        // and DuckDB
        def batch(cond: String): Unit = s.sql(
          s"""INSERT INTO $fqn
             |SELECT o_orderkey, o_orderstatus, o_orderpriority,
             |       CAST(CAST((o_orderkey * 7919 + 421) % 100000000
             |                 AS DECIMAL(12,0)) * 0.01 AS DECIMAL(12,2)),
             |       (o_orderkey * 7919 + 421) % 100000000
             |FROM $v WHERE $cond""".stripMargin)
        batch("o_orderkey % 2 = 0")
        s.sql(s"CALL graft.sys.mview(table => '$ns.orders_sum_t', " +
          "name => 'status', group_by => 'o_orderstatus;o_orderpriority', " +
          "aggs => 'sum:o_price;count:*;min:o_price;max:o_price;" +
          "hll:o_orderpriority;sum:o_cents;count:o_cents;kll:o_cents')")
          .collect()
        batch("o_orderkey % 2 = 1")
        val r = s.sql(s"CALL graft.sys.mview_refresh(" +
          s"table => '$ns.orders_sum_t', name => 'status')").collect()(0)
        // the build's refresh MUST see batch 2 — a zero delta here
        // means the CDC window was computed wrong and the face would
        // serve half the corpus
        require(r.getString(1).toLong > 0,
          s"mview fixture refresh applied an empty delta on $fqn")
      }
      if (mvFresh) {
        // a prior run killed between the second batch and its refresh
        // (or mid-refresh) passes every structural check above; the
        // refresh heals both states (recoverPending + delta apply) and
        // is a no-op when the view is already fresh
        val h = s.sql(s"CALL graft.sys.mview_refresh(" +
          s"table => '$ns.orders_sum_t', name => 'status')").collect()(0)
        mviewDiag(s, ns, s"orders_sum_t reuse-heal appended=" +
          s"${h.getString(1)} base_version=${h.getString(2)}")
      } else { build(); mviewDiag(s, ns, "orders_sum_t fresh build") }
      // content gate: never hand the faces a summary that disagrees
      // with its own base — one rebuild self-heals any poisoned
      // warehouse state; a second disagreement is a live bug and must
      // fail LOUDLY, not hash-red
      val canonical =
        s"""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           |       sum(o_price) AS total, min(o_price) AS lo,
           |       max(o_price) AS hi, avg(o_cents) AS av
           |FROM $fqn GROUP BY o_orderstatus, o_orderpriority""".stripMargin
      if (!mviewOnOffAgree(s, canonical)) {
        mviewDiag(s, ns, "orders_sum_t GATE DISAGREED — rebuilding")
        build()
        require(mviewOnOffAgree(s, canonical),
          s"mview $mvFqn disagrees with its base after a clean rebuild")
      }
      mviewDiag(s, ns, "orders_sum_t gate ok; partial_rows=" +
        s.table(mvFqn).count())
      fqn
    })

  /** Stale-repair fixture: mview built after batch 1, batch 2 lands
    * WITHOUT a refresh — the transparent rewrite must repair at read
    * time by unioning the CDC delta as singleton partials (the
    * "lambda" read). The oracle is still the full-corpus recompute:
    * the un-refreshed mview must be invisible in the answers. */
  private val builtMvD = scala.collection.concurrent.TrieMap[String, String]()
  private def mviewDeltaBase(s: SparkSession, d: String): String =
    builtMvD.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.orders_sum_d_t"
      val mvFqn = s"${fqn}_mv_status"
      val srcCount = T(s, d, "orders").count()
      val ok = trusted(s, ns, "orders_sum_d_t", srcCount) &&
        s.sql(s"SHOW TABLES IN graft.$ns").collect()
          .exists(_.getString(1) == "orders_sum_d_t_mv_status") &&
        s.sql(s"SHOW TBLPROPERTIES $mvFqn").collect()
          .exists(_.getString(0) == graft.catalog.TableMeta.MviewVersionProp)
      def build(): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $mvFqn")
        s.sql(s"DROP TABLE IF EXISTS $fqn")
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_orderpriority STRING, o_price DECIMAL(12,2))
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        val v = s"mv_based_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        def batch(cond: String): Unit = s.sql(
          s"""INSERT INTO $fqn
             |SELECT o_orderkey, o_orderstatus, o_orderpriority,
             |       CAST(CAST((o_orderkey * 7919 + 421) % 100000000
             |                 AS DECIMAL(12,0)) * 0.01 AS DECIMAL(12,2))
             |FROM $v WHERE $cond""".stripMargin)
        batch("o_orderkey % 2 = 0")
        s.sql(s"CALL graft.sys.mview(table => '$ns.orders_sum_d_t', " +
          "name => 'status', group_by => 'o_orderstatus', " +
          "aggs => 'sum:o_price;count:*;min:o_price;max:o_price')")
          .collect()
        batch("o_orderkey % 2 = 1") // no refresh: the read must repair
      }
      if (!ok) build()
      // lambda-read content gate (same contract as mviewBase's)
      val canonical =
        s"""SELECT o_orderstatus, count(*) AS cnt, sum(o_price) AS total,
           |       min(o_price) AS lo, max(o_price) AS hi
           |FROM $fqn GROUP BY o_orderstatus""".stripMargin
      if (!mviewOnOffAgree(s, canonical)) {
        build()
        require(mviewOnOffAgree(s, canonical),
          s"mview $mvFqn disagrees with its base after a clean rebuild")
      }
      fqn
    })

  /** Materialized JOIN view fixture: dedicated orders and customer
    * store tables each loaded in TWO batches (split by key parity),
    * `CALL graft.sys.mview_join` after the first pair and
    * `CALL graft.sys.mview_join_refresh` after the second — so the
    * persisted view's content is built half by the initial join and
    * half by the two CDC delta terms (ΔL ⋈ R_new ∪ L_old ⋈ ΔR). The
    * oracle recomputes the join from the raw parquet: a hash match
    * proves the incremental maintenance IS the full join. Prices
    * derive from integer cents (the catalog_decimal trick) so the
    * row payload is hash-stable. */
  private val builtMvJ = scala.collection.concurrent.TrieMap[String, String]()
  private def mviewJoinView(s: SparkSession, d: String): String =
    builtMvJ.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val oFqn = s"graft.$ns.orders_j_t"
      val cFqn = s"graft.$ns.customer_j_t"
      val mvFqn = s"graft.$ns.orders_j_t_mvj_cust"
      val srcO = T(s, d, "orders").count()
      val srcC = T(s, d, "customer").count()
      val ok = trusted(s, ns, "orders_j_t", srcO) &&
        trusted(s, ns, "customer_j_t", srcC) &&
        s.sql(s"SHOW TABLES IN graft.$ns").collect()
          .exists(_.getString(1) == "orders_j_t_mvj_cust") &&
        s.sql(s"SHOW TBLPROPERTIES $mvFqn").collect().exists(
          _.getString(0) == graft.catalog.TableMeta.MviewJoinLeftVerProp)
      def build(): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $mvFqn")
        s.sql(s"DROP TABLE IF EXISTS $oFqn")
        s.sql(s"DROP TABLE IF EXISTS $cFqn")
        s.sql(
          s"""CREATE TABLE $oFqn (
             |  o_orderkey BIGINT, o_custkey BIGINT,
             |  o_orderstatus STRING, o_price DECIMAL(12,2))
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        s.sql(
          s"""CREATE TABLE $cFqn (
             |  c_custkey BIGINT, c_name STRING, c_mktsegment STRING)
             |TBLPROPERTIES('keyCols'='c_custkey', 'numRegions'='4')"""
            .stripMargin)
        val ov = s"mvj_o_src_${math.abs(d.hashCode)}"
        val cv = s"mvj_c_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(ov)
        T(s, d, "customer").createOrReplaceTempView(cv)
        def batchO(cond: String): Unit = s.sql(
          s"""INSERT INTO $oFqn
             |SELECT o_orderkey, o_custkey, o_orderstatus,
             |       CAST(CAST((o_orderkey * 7919 + 421) % 100000000
             |                 AS DECIMAL(12,0)) * 0.01 AS DECIMAL(12,2))
             |FROM $ov WHERE $cond""".stripMargin)
        def batchC(cond: String): Unit = s.sql(
          s"""INSERT INTO $cFqn
             |SELECT c_custkey, c_name, c_mktsegment
             |FROM $cv WHERE $cond""".stripMargin)
        batchO("o_orderkey % 2 = 0")
        batchC("c_custkey % 2 = 0")
        s.sql(s"CALL graft.sys.mview_join(left => '$ns.orders_j_t', " +
          s"right => '$ns.customer_j_t', name => 'cust', " +
          "on => 'o_custkey=c_custkey')").collect()
        batchO("o_orderkey % 2 = 1")
        batchC("c_custkey % 2 = 1")
        val r = s.sql(s"CALL graft.sys.mview_join_refresh(" +
          s"view => '$ns.orders_j_t_mvj_cust')").collect()(0)
        // both second batches land before this refresh: a zero delta
        // means the two-sided CDC decomposition missed them
        require(r.getString(1).toLong > 0,
          s"join-view fixture refresh applied an empty delta on $mvFqn")
      }
      if (ok) {
        // a prior run killed after the second-batch inserts but before
        // (or during) its refresh passes every structural check above —
        // the refresh heals both states (recoverPending + delta apply)
        // and is a no-op when the watermarks already match
        val h = s.sql(s"CALL graft.sys.mview_join_refresh(" +
          s"view => '$ns.orders_j_t_mvj_cust')").collect()(0)
        mviewDiag(s, ns, s"orders_j_t_mvj_cust reuse-heal appended=" +
          s"${h.getString(1)} lv=${h.getString(2)} rv=${h.getString(3)}")
      } else { build(); mviewDiag(s, ns, "orders_j_t_mvj_cust fresh build") }
      // content gate: the persisted view must equal the join of its own
      // bases exactly (multiset compare, distributed) — one rebuild
      // self-heals a poisoned warehouse; a second disagreement throws
      def consistent(): Boolean = {
        val direct = s.sql(
          s"""SELECT l.o_orderkey, l.o_custkey, l.o_orderstatus,
             |       l.o_price, r.c_name, r.c_mktsegment
             |FROM $oFqn l JOIN $cFqn r
             |  ON l.o_custkey = r.c_custkey""".stripMargin)
        val view = s.table(mvFqn)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_price",
            "c_name", "c_mktsegment")
        view.exceptAll(direct).isEmpty && direct.exceptAll(view).isEmpty
      }
      if (!consistent()) {
        mviewDiag(s, ns, "orders_j_t_mvj_cust GATE DISAGREED — rebuilding")
        build()
        require(consistent(),
          s"join view $mvFqn disagrees with its bases after a clean " +
            "rebuild")
      }
      mviewDiag(s, ns, "orders_j_t_mvj_cust gate ok; view_rows=" +
        s.table(mvFqn).count())
      mvFqn
    })

  /** Read the materialized join view — the driver's hash gate covers
    * the build join, BOTH incremental delta terms, and the store
    * round-trip in one row set (oracle: the same join recomputed from
    * raw parquet). `okey_n` is a SELF-CHECKING column (the
    * annSketchGateFace pattern): each order joins exactly one
    * customer, so the per-orderkey row count inside the view must be
    * 1 — a double-applied or partially-applied refresh delta flips it
    * to 2/0 on the affected rows even when total cardinality happens
    * to net out, turning a silent hash-red into a pinpointable value. */
  val mviewJoinRead: Q = (s, d) => s.sql(
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_price,
       |       c_mktsegment,
       |       count(*) OVER (PARTITION BY o_orderkey) AS okey_n
       |FROM ${mviewJoinView(s, d)}""".stripMargin)

  /** The "lambda" read: stored partials UNION the manifest-resolved
    * CDC delta, re-aggregated — half the corpus never rescanned, the
    * other half read only from its appended regions. */
  val mviewDeltaAgg: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt, sum(o_price) AS total,
       |       min(o_price) AS lo, max(o_price) AS hi
       |FROM ${mviewDeltaBase(s, d)}
       |GROUP BY o_orderstatus""".stripMargin)

  /** Transparent mview answer: the GROUP BY matches the mview's group
    * set exactly, so the plan re-aggregates 30 partial rows instead of
    * scanning the base — at 100 TB, the dashboard query reads the
    * summary table, never the fact table. `partial_rows` is a
    * SELF-CHECKING column: it counts the stored partial rows per
    * group DIRECTLY from the mview table, and the oracle computes the
    * expected batch count per group from raw parquet
    * (count(DISTINCT o_orderkey % 2) — the fixture loads by key
    * parity). A refresh that never applied reads 1; a double-applied
    * refresh reads 3 — either way the red names its own mechanism in
    * the saved parquet instead of just flipping a hash.
    *
    * `total` stays at the DECIMAL(22,2) Spark's sum widens to: a
    * narrower pin did not change the standing hash-red and would
    * overflow above 1e16 (plans/r13/mview_hash_forensics.md). */
  val mviewAgg: Q = (s, d) => {
    val fqn = mviewBase(s, d)
    s.sql(
      s"""SELECT b.o_orderstatus, b.o_orderpriority, b.cnt, b.total,
         |       b.lo, b.hi, p.partial_rows
         |FROM (
         |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         |         CAST(sum(o_price) AS DECIMAL(22,2)) AS total,
         |         min(o_price) AS lo,
         |         max(o_price) AS hi
         |  FROM $fqn
         |  GROUP BY o_orderstatus, o_orderpriority) b
         |JOIN (
         |  SELECT o_orderstatus, o_orderpriority,
         |         count(*) AS partial_rows
         |  FROM ${fqn}_mv_status
         |  GROUP BY o_orderstatus, o_orderpriority) p
         |  ON b.o_orderstatus = p.o_orderstatus
         | AND b.o_orderpriority = p.o_orderpriority""".stripMargin)
  }

  /** AVG from the stored sum+count partials — the dashboard
    * aggregate: the rewrite derives AVG(x) as SUM(sum_x)/SUM(cnt_x)
    * over ~30 partial rows, never rescanning the fact table. The
    * cents column is a BIGINT, so the long sums are exact and the one
    * double division is correctly-rounded identically in Spark
    * (either path) and DuckDB — hash-stable without rounding. */
  val mviewAvg: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, avg(o_cents) AS avg_cents,
       |       count(*) AS cnt
       |FROM ${mviewBase(s, d)}
       |GROUP BY o_orderstatus""".stripMargin)

  /** DISTINCT over an mview group column: the (status, priority)
    * partials carry the exact value set of their group tuple, so
    * COUNT(DISTINCT priority) GROUP BY status is derivable —
    * multiplicities are what DISTINCT discards. Mixed in one
    * aggregate with a re-summed partial to pin both paths at once. */
  val mviewDistinct: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(DISTINCT o_orderpriority) AS dp,
       |       min(o_orderpriority) AS lop, sum(o_price) AS total
       |FROM ${mviewBase(s, d)}
       |GROUP BY o_orderstatus""".stripMargin)

  /** HLL sketch partial face: `hll:o_orderpriority` stores a
    * DataSketches HLL sketch per partial; the rewrite re-aggregates
    * with hll_union_agg. At 5 distinct priorities the sketches stay
    * in the exact coupon regime, so the estimate equals the true
    * distinct count and the DuckDB oracle (count DISTINCT) hash-
    * matches; MviewSpec pins the estimation-regime behavior
    * (1%-of-direct approximate transparency) where exactness cannot
    * hold. */
  val mviewHll: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus,
       |       hll_sketch_estimate(hll_sketch_agg(o_orderpriority))
       |         AS apx_priorities,
       |       count(*) AS cnt
       |FROM ${mviewBase(s, d)}
       |GROUP BY o_orderstatus""".stripMargin)

  /** Median from STORED KLL sketch partials — the percentile
    * counterpart of [[mviewHll]]: `kll_union_agg` merges the per-batch
    * sketches (build partial + refresh-appended partial per group) and
    * `kll_get_quantile` reads p50 without touching the fact table. KLL
    * compaction is randomized, so the face is sketch-GATED (the
    * annSketchGateFace pattern): the hash-checked columns are the
    * EXACT discrete median (the ceil(n/2)-th smallest cents value,
    * engine-portable integer arithmetic the DuckDB oracle recomputes
    * from raw parquet) plus `within_kll` — 1 iff the sketch estimate's
    * TRUE rank sits within 0.5±0.06 (k=200 rank error is ~1.65%; 6% is
    * a never-flakes-on-honest-sketches envelope). The sketches run for
    * real on every grading run; an estimator regression flips the
    * column and the board row goes red. */
  val mviewKll: Q = (s, d) => {
    val fqn = mviewBase(s, d)
    s.sql(
      s"""WITH k AS (
         |  SELECT o_orderstatus,
         |         kll_get_quantile(kll_union_agg(kll_o_cents), 0.5D)
         |           AS est
         |  FROM ${fqn}_mv_status GROUP BY o_orderstatus),
         |r AS (
         |  SELECT b.o_orderstatus, count(*) AS cnt,
         |         sum(CASE WHEN b.o_cents <= k.est THEN 1 ELSE 0 END)
         |           AS le
         |  FROM $fqn b JOIN k ON b.o_orderstatus = k.o_orderstatus
         |  GROUP BY b.o_orderstatus),
         |m AS (
         |  SELECT o_orderstatus,
         |         min(CASE WHEN rk = CAST(ceil(n * 0.5) AS BIGINT)
         |                  THEN o_cents END) AS med_cents
         |  FROM (SELECT o_orderstatus, o_cents,
         |               row_number() OVER (PARTITION BY o_orderstatus
         |                                  ORDER BY o_cents) AS rk,
         |               count(*) OVER (PARTITION BY o_orderstatus) AS n
         |        FROM $fqn)
         |  GROUP BY o_orderstatus)
         |SELECT m.o_orderstatus, m.med_cents, r.cnt,
         |       CASE WHEN abs(r.le / r.cnt - 0.5) <= 0.06
         |            THEN 1 ELSE 0 END AS within_kll
         |FROM m JOIN r ON m.o_orderstatus = r.o_orderstatus""".stripMargin)
  }

  /** Coarser rollup + filter on an mview dimension: still derivable
    * from the stored partials (SUM of sums over the surviving rows). */
  val mviewRollup: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt, sum(o_price) AS total
       |FROM ${mviewBase(s, d)}
       |WHERE o_orderpriority <> '1-URGENT'
       |GROUP BY o_orderstatus""".stripMargin)

  /** Log-style orders table: the key is an ingest id assigned in
    * o_orderdate order (the classic time-correlated auto-increment),
    * so each region covers a contiguous date span and the manifest's
    * NON-KEY column stats (ColStats: per-region min/max/null-count)
    * let the driver skip regions on a date predicate before any task
    * is scheduled — Iceberg/Delta-style data skipping one level above
    * parquet row-group stats. */
  private val builtLog = scala.collection.concurrent.TrieMap[String, String]()
  private def ordersLogTable(s: SparkSession, d: String): String =
    builtLog.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.orders_log_t"
      val srcCount = T(s, d, "orders").count()
      val exists = trusted(s, ns, "orders_log_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  log_id BIGINT, o_orderdate DATE, o_orderstatus STRING,
             |  o_totalprice DOUBLE)
             |TBLPROPERTIES('keyCols'='log_id', 'numRegions'='8')"""
            .stripMargin)
        val v = s"log_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        // monotone-in-(date, orderkey) ingest id WITHOUT a global
        // window sort: epoch-day * 10^10 + orderkey builds fully
        // parallel and still gives every region a contiguous date span
        s.sql(
          s"""INSERT INTO $fqn
             |SELECT datediff(o_orderdate, DATE'1970-01-01')
             |         * 10000000000L + o_orderkey AS log_id,
             |       o_orderdate, o_orderstatus, o_totalprice
             |FROM $v""".stripMargin)
      }
      fqn
    })

  /** Date-window aggregation over the log table: regions outside the
    * window are skipped from the manifest stats (ColStatsSpec asserts
    * the partition-count effect; this query gates the answers). */
  val statsSkip: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       round(sum(o_totalprice), 2) AS total
       |FROM ${ordersLogTable(s, d)}
       |WHERE o_orderdate BETWEEN DATE'1996-03-01' AND DATE'1996-04-30'
       |GROUP BY o_orderstatus""".stripMargin)

  /** Documents keyed by doc_id with a BLOOM-FILTERED fingerprint
    * column (graft.bloomCols): point lookups on the scattered md5
    * skip row groups that min/max stats cannot (BloomSkipSpec proves
    * the skip; this query gates the answers). */
  private val builtFp = scala.collection.concurrent.TrieMap[String, String]()
  private def docsFpTable(s: SparkSession, d: String): String =
    builtFp.getOrElseUpdate(d, FixtureLock.build(d) {
      ordersTable(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.docs_fp_t"
      val srcCount = T(s, d, "documents").count()
      val exists = trusted(s, ns, "docs_fp_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  doc_id BIGINT, fp STRING, source STRING, n_chars BIGINT)
             |TBLPROPERTIES('keyCols'='doc_id', 'numRegions'='4',
             |              'graft.bloomCols'='fp')""".stripMargin)
        val v = s"fp_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "documents").createOrReplaceTempView(v)
        s.sql(
          s"""INSERT INTO $fqn
             |SELECT doc_id, md5(text), source, n_chars FROM $v""".stripMargin)
      }
      fqn
    })

  /** Customer adopted via `CALL graft.sys.convert` — the migration
    * path: the provided parquet file becomes a region WITHOUT a
    * rewrite when key-sorted (hard link + scanned-exact bounds/stats),
    * or takes the sorted bulk load when not. Either way the answers
    * are layout-independent, which is what the driver oracle checks
    * (GraftConvertSpec proves the link/rewrite/pruning mechanics). */
  private val builtConv = scala.collection.concurrent.TrieMap[String, String]()
  private def customerConvTable(s: SparkSession, d: String): String =
    builtConv.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.customer_conv_t"
      val srcCount = T(s, d, "customer").count()
      if (!trusted(s, ns, "customer_conv_t", srcCount)) {
        s.sql(s"DROP TABLE IF EXISTS $fqn")
        s.sql(s"CALL graft.sys.convert(table => '$ns.customer_conv_t', " +
          s"source => '$d/customer.parquet', keys => 'c_custkey')")
      }
      fqn
    })

  /** Range + aggregation over the converted table — exercises the
    * scanned-in bounds (range pruning) and stats of adopted regions. */
  val convertAgg: Q = (s, d) => s.sql(
    s"""SELECT c_nationkey, count(*) AS n_cust,
       |       round(sum(c_acctbal), 2) AS bal
       |FROM ${customerConvTable(s, d)}
       |WHERE c_custkey BETWEEN 100 AND 900
       |GROUP BY c_nationkey""".stripMargin)

  /** Orders built by INSERTing a deliberately wrong slice (even keys
    * only) and then `INSERT OVERWRITE`-ing the true one — the driver
    * oracle over the raw parquet proves the overwrite REPLACED the
    * stale contents atomically rather than appending to them. */
  private val builtOw = scala.collection.concurrent.TrieMap[String, String]()
  private def ordersOwTable(s: SparkSession, d: String): String =
    builtOw.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.orders_ow_t"
      val srcCount = T(s, d, "orders").count()
      if (!trusted(s, ns, "orders_ow_t", srcCount)) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE, o_orderdate DATE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        val v = s"ow_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        s.sql(
          s"""INSERT INTO $fqn
             |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
             |FROM $v WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql(
          s"""INSERT OVERWRITE $fqn
             |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
             |FROM $v""".stripMargin)
      }
      fqn
    })

  /** Aggregation over the overwritten store — stale-slice rows
    * surviving the swap would flip every group. */
  val overwriteAgg: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       round(sum(o_totalprice), 2) AS total
       |FROM ${ordersOwTable(s, d)}
       |WHERE o_orderdate >= DATE'1995-06-01'
       |GROUP BY o_orderstatus""".stripMargin)

  /** Orders clustered Z-ORDER by (o_orderdate, o_totalprice) via
    * `CALL graft.sys.cluster`: region stats bound BOTH non-key
    * dimensions at once, so a date+price band prunes regions the
    * key-sorted layout cannot (GraftClusterSpec proves the pruning and
    * layout-independence; this query gates the ANSWERS through the
    * driver oracle). A half-built table (rows loaded, cluster not yet
    * run) is detected by the absence of the `graft.clusteredBy`
    * property the rewrite records, and rebuilt. */
  private val builtZ = scala.collection.concurrent.TrieMap[String, String]()
  private def ordersZTable(s: SparkSession, d: String): String =
    builtZ.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.orders_z_t"
      val srcCount = T(s, d, "orders").count()
      val clustered = trusted(s, ns, "orders_z_t", srcCount) &&
        s.sql(s"SHOW TBLPROPERTIES $fqn").collect()
          .exists(_.getString(0) == "graft.clusteredBy") || {
          s.sql(s"DROP TABLE IF EXISTS $fqn"); false
        }
      if (!clustered) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE, o_orderdate DATE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='8')"""
            .stripMargin)
        val v = s"z_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        s.sql(
          s"""INSERT INTO $fqn
             |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
             |FROM $v""".stripMargin)
        s.sql(s"CALL graft.sys.cluster(table => '$ns.orders_z_t', " +
          "cols => 'o_orderdate;o_totalprice', target_regions => 8)")
      }
      fqn
    })

  /** Date+price band over the z-clustered store — at 100 TB this is
    * the query shape clustering exists for: both predicates prune
    * regions from the manifest before any task is scheduled. */
  val zorderAgg: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       round(sum(o_totalprice), 2) AS total
       |FROM ${ordersZTable(s, d)}
       |WHERE o_orderdate BETWEEN DATE'1996-03-01' AND DATE'1996-06-30'
       |  AND o_totalprice BETWEEN 50000 AND 150000
       |GROUP BY o_orderstatus""".stripMargin)

  /** Orders loaded as ONE region then re-cut by `CALL graft.sys.split`
    * — the targeted O(touched-region) split an append-heavy 100 TB
    * table needs when a region goes hot (GraftSplitSpec proves the
    * lineage/pruning/stream invariants; this query gates the ANSWERS
    * through the driver oracle). A half-built table (rows loaded,
    * split not yet run) still has one region and is rebuilt. */
  private val builtSp = scala.collection.concurrent.TrieMap[String, String]()
  private def ordersSplitTable(s: SparkSession, d: String): String =
    builtSp.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.orders_sp_t"
      def dir = {
        val cat = s.sessionState.catalogManager.catalog("graft")
          .asInstanceOf[graft.catalog.GraftCatalog]
        cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array(ns), "orders_sp_t"))
          .asInstanceOf[graft.catalog.GraftTable].tableDir
      }
      val srcCount = T(s, d, "orders").count()
      val ready = trusted(s, ns, "orders_sp_t", srcCount) &&
        (graft.catalog.TableMeta.loadRegions(dir).size > 1 || {
          s.sql(s"DROP TABLE IF EXISTS $fqn"); false
        })
      if (!ready) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE, o_orderdate DATE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='1')"""
            .stripMargin)
        val v = s"sp_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        s.sql(
          s"""INSERT INTO $fqn
             |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
             |FROM $v""".stripMargin)
        val d0 = dir
        val maxLen = graft.catalog.TableMeta.loadRegions(d0)
          .map(r => new java.io.File(d0, r.file).length()).max
        s.sql(s"CALL graft.sys.split(table => '$ns.orders_sp_t', " +
          s"target_bytes => ${math.max(1L, maxLen / 6)}L)")
      }
      fqn
    })

  /** Key-range aggregate over the re-cut store: the range predicate
    * now prunes at part granularity (the point of splitting a hot
    * region), and the answers must match the raw parquet exactly. */
  val splitAgg: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       round(sum(o_totalprice), 2) AS total
       |FROM ${ordersSplitTable(s, d)}
       |WHERE o_orderkey BETWEEN 1000 AND 20000
       |GROUP BY o_orderstatus""".stripMargin)

  /** Orders loaded as SIX fragmented appends (the streaming-sink
    * litter shape) then defragmented by `CALL graft.sys.merge` —
    * GraftMergeSpec proves the k-way-merge/fold/stream invariants;
    * this query gates the ANSWERS through the driver oracle. A
    * half-built table (six appends, merge not yet run) still has six
    * regions and is rebuilt. */
  private val builtMg = scala.collection.concurrent.TrieMap[String, String]()
  private def ordersMergedTable(s: SparkSession, d: String): String =
    builtMg.getOrElseUpdate(d, FixtureLock.build(d) {
      sfNamespace(s, d)
      val ns = s"sf_${math.abs(d.hashCode)}"
      val fqn = s"graft.$ns.orders_mg_t"
      def dir = {
        val cat = s.sessionState.catalogManager.catalog("graft")
          .asInstanceOf[graft.catalog.GraftCatalog]
        cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array(ns), "orders_mg_t"))
          .asInstanceOf[graft.catalog.GraftTable].tableDir
      }
      val srcCount = T(s, d, "orders").count()
      val ready = trusted(s, ns, "orders_mg_t", srcCount) &&
        (graft.catalog.TableMeta.loadRegions(dir).size < 6 || {
          s.sql(s"DROP TABLE IF EXISTS $fqn"); false
        })
      if (!ready) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE, o_orderdate DATE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='1')"""
            .stripMargin)
        val v = s"mg_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        (0 until 6).foreach { i =>
          s.sql(
            s"""INSERT INTO $fqn
               |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
               |FROM $v WHERE o_orderkey % 6 = $i""".stripMargin)
        }
        val d0 = dir
        val total = graft.catalog.TableMeta.loadRegions(d0)
          .map(r => new java.io.File(d0, r.file).length()).sum
        s.sql(s"CALL graft.sys.merge(table => '$ns.orders_mg_t', " +
          s"target_bytes => ${math.max(1L, total / 2)}L)")
      }
      fqn
    })

  /** Status rollup over the defragmented store: six fully-overlapping
    * appends k-way-merged back into sorted regions must answer
    * exactly like the raw parquet. */
  val mergeRegionsAgg: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       round(sum(o_totalprice), 2) AS total
       |FROM ${ordersMergedTable(s, d)}
       |WHERE o_orderdate >= DATE'1997-01-01'
       |GROUP BY o_orderstatus""".stripMargin)

  /** Fingerprint point lookup through the bloom-filtered store: every
    * doc sharing doc 42's content hash (exact-dup cluster membership,
    * the reverse-lookup a dedup pipeline runs). */
  val bloomLookup: Q = (s, d) => s.sql(
    s"""SELECT doc_id, source, n_chars FROM ${docsFpTable(s, d)}
       |WHERE fp = (SELECT fp FROM ${docsFpTable(s, d)} WHERE doc_id = 42)
       |ORDER BY doc_id""".stripMargin)

  /** Global secondary-index lookup (`CALL graft.sys.index`): all
    * orders of one customer through the `orders_t_idx_o_custkey`
    * index table instead of a base scan. The probe is a key-pruned
    * point scan on the index (o_custkey leads its key), and the
    * broadcast join hands the matching o_orderkeys to the base scan
    * as a runtime IN filter — region pruning by key interval plus
    * page skipping inside surviving regions (SecondaryIndexSpec
    * asserts both). At 100 TB: index-probe + point-gets, never a
    * base scan — the access path the reference's HBase lineage lacks
    * for non-rowkey predicates. Oracle: the plain filter. */
  private val builtIdx = scala.collection.concurrent.TrieMap[String, String]()
  val indexLookup: Q = (s, d) => {
    val o = ordersTable(s, d)
    val ns = s"sf_${math.abs(d.hashCode)}"
    val idx = builtIdx.getOrElseUpdate(d, FixtureLock.build(d) {
      val expect = s.table(o).where("o_custkey IS NOT NULL").count()
      val name = "orders_t_idx_o_custkey"
      // trust needs the covering schema too: a pre-include index from
      // an older run has the right row count but would silently
      // degrade the covered face to the join path
      val ok = trusted(s, ns, name, expect) &&
        s.table(s"graft.$ns.$name").schema.fields.length == 4
      if (!ok) {
        s.sql(s"DROP TABLE IF EXISTS graft.$ns.$name")
        s.sql(s"CALL graft.sys.index(table => '$ns.orders_t', " +
          "column => 'o_custkey', " +
          "include => 'o_orderstatus;o_totalprice')").collect()
      }
      s"graft.$ns.$name"
    })
    s.sql(
      s"""SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
         |       round(o.o_totalprice, 2) AS price
         |FROM $o o
         |JOIN (SELECT DISTINCT o_orderkey FROM $idx
         |      WHERE o_custkey = 37) i
         |  ON o.o_orderkey = i.o_orderkey""".stripMargin)
  }

  /** The TRANSPARENT face of the same lookup: a plain point filter on
    * the indexed column — `GraftIndexRewrite` turns it into the
    * index-probe semi join automatically (the fresh index's existence
    * is the opt-in, Phoenix-style). Same oracle as the explicit face:
    * the rewrite must be invisible in the answers. */
  val indexLookupAuto: Q = (s, d) => {
    indexLookup(s, d) // ensures the index exists and is fresh
    // o_orderpriority is NOT covered by the index → the rewrite takes
    // the probe + base semi-join path (runtime key filter on the base)
    s.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
         |       round(o_totalprice, 2) AS price
         |FROM ${ordersTable(s, d)} WHERE o_custkey = 37""".stripMargin)
  }

  /** The COVERED face: every selected column is carried by the index
    * (`include => 'o_orderstatus;o_totalprice'`), so the rewrite drops
    * the base entirely — the answer is one key-pruned point scan of
    * the index (index-only plan asserted in SecondaryIndexSpec). */
  val indexLookupCovered: Q = (s, d) => {
    indexLookup(s, d)
    s.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderstatus,
         |       round(o_totalprice, 2) AS price
         |FROM ${ordersTable(s, d)} WHERE o_custkey = 37""".stripMargin)
  }

  /** Sequence packing composed with the store: same per-shard
    * prefix-sum bin assignment as pipeline_pack, but reading the
    * key-sorted documents_t — the scan's reported doc_id ordering
    * means the window sort inside each source partition starts from
    * ordered runs. Same oracle as the parquet twin. */
  val packOnStore: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    s.table(documentsTable(s, d))
      .withColumn("tok", (col("n_chars") / 4).cast("long") + 1)
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("tok")) / 256))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Put-upsert parity ([[TableMeta.DedupKeysProp]]; the reference's
    * `HBaseRelation` upserts on key collision, latest Put wins): base
    * orders are inserted, then every key ≡ 0 (mod 10) is inserted
    * AGAIN with status 'U' and price+1000 — the insert-twice pattern
    * of the reference's insert suite — and compaction folds to the
    * latest row per key. A hash match proves the update batch won,
    * row count did not inflate, and untouched rows are intact. */
  private val builtUps = scala.collection.concurrent.TrieMap[String, String]()
  private def upsertTable(s: SparkSession, d: String): String =
    builtUps.getOrElseUpdate(d, FixtureLock.build(d) {
      val ns = sfNamespace(s, d)
      val fqn = s"graft.$ns.orders_ups_t"
      val srcCount = T(s, d, "orders").count()
      // row count alone cannot tell a finished build from one killed
      // between the base INSERT and the update INSERT (both hold
      // exactly srcCount rows after the fold) — require the update
      // batch's 'U' rows to be present too
      val exists = trusted(s, ns, "orders_ups_t", srcCount) &&
        (s.sql(s"SELECT count(*) FROM graft.$ns.orders_ups_t " +
          "WHERE o_orderstatus = 'U'").head().getLong(0) > 0L || {
          s.sql(s"DROP TABLE graft.$ns.orders_ups_t"); false
        })
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4',
             |              'graft.dedupKeys'='true')""".stripMargin)
        val v = s"ups_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        s.sql(s"""INSERT INTO $fqn
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM $v""")
        s.sql(s"""INSERT INTO $fqn
          SELECT o_orderkey, 'U', o_totalprice + 1000
          FROM $v WHERE o_orderkey % 10 = 0""")
        s.sql(s"CALL graft.sys.compact(table => '$ns.orders_ups_t', " +
          "target_regions => 4)")
      }
      fqn
    })

  val upsertAgg: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       round(sum(o_totalprice), 2) AS total
       |FROM ${upsertTable(s, d)} GROUP BY o_orderstatus""".stripMargin)

  /** UNCOMPACTED dedupKeys twin of [[upsertTable]]: both versions of
    * every updated key are still stored ([[upsertLatest]] reads
    * latest-wins through the `_graft_region_id` metadata column
    * without waiting for the fold). Trust = exact post-both-batches
    * row count (base + update), so a build killed between the two
    * INSERTs rebuilds. */
  private val builtUpsL = scala.collection.concurrent.TrieMap[String, String]()
  private def upsertLatestTable(s: SparkSession, d: String): String =
    builtUpsL.getOrElseUpdate(d, FixtureLock.build(d) {
      val ns = sfNamespace(s, d)
      val fqn = s"graft.$ns.orders_upsl_t"
      val src = T(s, d, "orders")
      val expected = src.count() +
        src.filter("o_orderkey % 10 = 0").count()
      val exists = s.sql(s"SHOW TABLES IN graft.$ns").collect()
        .exists(_.getString(1) == "orders_upsl_t") &&
        usable(s, fqn, expected)
      if (!exists) {
        // fixed key splits, not numRegions: BOTH appends then bucket
        // identically, every version of a key shares one partition,
        // and the latest-wins window plans with ZERO Exchange off the
        // KeyGroupedPartitioning the scan reports (the catalog_session
        // layout applied to the upsert read)
        val splits = src.stat
          .approxQuantile("o_orderkey", (1 until 8).map(_ / 8.0).toArray,
            0.001).map(_.toLong).distinct.sorted.mkString(";")
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE)
             |TBLPROPERTIES('keyCols'='o_orderkey',
             |              'regionSplits'='$splits',
             |              'graft.dedupKeys'='true')""".stripMargin)
        val v = s"upsl_cat_src_${math.abs(d.hashCode)}"
        src.createOrReplaceTempView(v)
        s.sql(s"""INSERT INTO $fqn
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM $v""")
        s.sql(s"""INSERT INTO $fqn
          SELECT o_orderkey, 'U', o_totalprice + 1000
          FROM $v WHERE o_orderkey % 10 = 0""")
        // deliberately NOT compacted
      }
      fqn
    })

  /** MERGE INTO fixture: plain (non-dedupKeys) orders table, the same
    * update batch applied through SQL MERGE — the group-based
    * copy-on-write rewrite ([[graft.catalog.GraftRowLevelOperation]])
    * rather than the compaction fold. The merge is idempotent (matched
    * rows are set to the same values), so replays are safe; trust
    * requires the 'U' rows to be present, since the row count alone
    * cannot tell a merged table from a freshly loaded one. */
  private val builtMrg = scala.collection.concurrent.TrieMap[String, String]()
  private def mergeTable(s: SparkSession, d: String): String =
    builtMrg.getOrElseUpdate(d, FixtureLock.build(d) {
      val ns = sfNamespace(s, d)
      val fqn = s"graft.$ns.orders_mrg_t"
      val srcCount = T(s, d, "orders").count()
      val exists = trusted(s, ns, "orders_mrg_t", srcCount) &&
        (s.sql(s"SELECT count(*) FROM graft.$ns.orders_mrg_t " +
          "WHERE o_orderstatus = 'U'").head().getLong(0) > 0L || {
          s.sql(s"DROP TABLE graft.$ns.orders_mrg_t"); false
        })
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        val v = s"mrg_cat_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        s.sql(s"""INSERT INTO $fqn
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM $v""")
        s.sql(
          s"""MERGE INTO $fqn t
             |USING (SELECT o_orderkey, o_totalprice FROM $v
             |       WHERE o_orderkey % 10 = 0) s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET
             |  o_orderstatus = 'U',
             |  o_totalprice = s.o_totalprice + 1000""".stripMargin)
      }
      fqn
    })

  /** Same aggregate face as [[upsertAgg]], same oracle: MERGE must
    * land the identical end state by the rewrite path. */
  val mergeAgg: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       round(sum(o_totalprice), 2) AS total
       |FROM ${mergeTable(s, d)} GROUP BY o_orderstatus""".stripMargin)

  /** Read-time latest-wins over the uncompacted upsert table: the
    * region id is monotone in commit order, so the newest version of a
    * key is its row from the highest `_graft_region_id` — the same
    * answer [[upsertAgg]] gets AFTER its compaction fold, served
    * before any fold runs (the reference's read path over HBase cell
    * versions, `HBaseRelation.scala:659-723`). */
  val upsertLatest: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       round(sum(o_totalprice), 2) AS total
       |FROM (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice,
       |         row_number() OVER (PARTITION BY o_orderkey
       |           ORDER BY _graft_region_id DESC) AS rn
       |  FROM ${upsertLatestTable(s, d)})
       |WHERE rn = 1 GROUP BY o_orderstatus""".stripMargin)

  /** Filter-free COUNT(*) + key MIN/MAX answered ENTIRELY from the
    * region manifest (GraftAggScan, V2 complete agg pushdown — zero
    * data file reads; the reference's coprocessor
    * partial-aggregation-in-storage, SURVEY §2.7). */
  val manifestAgg: Q = (s, d) => s.sql(
    s"""SELECT count(*) AS cnt, min(o_orderkey) AS lo,
       |       max(o_orderkey) AS hi
       |FROM ${ordersTable(s, d)}""".stripMargin)

  val decimalAgg: Q = (s, d) => s.sql(
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |       sum(o_totalprice) AS total,
       |       min(o_totalprice) AS lo, max(o_totalprice) AS hi
       |FROM ${decimalTable(s, d)} GROUP BY o_orderstatus""".stripMargin)

  /** Metadata-only stats over the catalog media table: binary payload
    * never read (column pruning reaches the region scan). */
  val multimodalMetaOnStore: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    s.table(mediaTable(s, d))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("width")), 4).as("avg_w"),
        round(avg(col("height")), 4).as("avg_h"))
  }

  /** Two-batch orders table for the batch-CDC face: batch 1 = odd
    * orderkeys, batch 2 = even. `catalog_changes` reads the delta
    * since the batch-1 append via the `changesFromVersion` reader
    * option ([[graft.catalog.GraftChanges]]) and must see EXACTLY
    * batch 2 — the oracle is the even-key slice of the raw parquet,
    * so the manifest-diff resolution (not just the scan) is what the
    * hash check proves. The batch-1 version is re-derived from
    * `CALL graft.sys.history` (first append commit) so a trusted
    * pre-built table from an earlier session still gates; if its
    * history has aged past the retention horizon the build validates,
    * drops, and rebuilds once. */
  private val builtCdc =
    scala.collection.concurrent.TrieMap[String, (String, Long)]()
  private def changesTable(s: SparkSession, d: String): (String, Long) = {
    def build(retry: Boolean): (String, Long) = {
      val ns = sfNamespace(s, d)
      val fqn = s"graft.$ns.orders_cdc_t"
      val srcCount = T(s, d, "orders").count()
      val exists = trusted(s, ns, "orders_cdc_t", srcCount)
      if (!exists) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        val v = s"cdc_src_${math.abs(d.hashCode)}"
        T(s, d, "orders").createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT o_orderkey, o_orderstatus, " +
          s"o_totalprice FROM $v WHERE o_orderkey % 2 = 1")
        s.sql(s"INSERT INTO $fqn SELECT o_orderkey, o_orderstatus, " +
          s"o_totalprice FROM $v WHERE o_orderkey % 2 = 0")
      }
      val v1 = s.sql(s"CALL graft.sys.history(table => '$ns.orders_cdc_t')")
        .where("operation = 'append'")
        .selectExpr("min(CAST(version AS BIGINT))")
        .collect().head.getLong(0)
      val readable =
        try s.read.option(graft.catalog.GraftChanges.FromKey, v1.toString)
          .table(fqn).count() > 0
        catch { case _: Exception => false }
      if (!readable && !retry) { s.sql(s"DROP TABLE $fqn"); build(true) }
      else (fqn, v1)
    }
    builtCdc.getOrElseUpdate(d, FixtureLock.build(d)(build(retry = false)))
  }

  /** Aggregate over the version delta — hash-checked against the raw
    * even-key slice (layout- and protocol-independent oracle). */
  val changesAgg: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val (fqn, v1) = changesTable(s, d)
    s.read.option(graft.catalog.GraftChanges.FromKey, v1.toString)
      .table(fqn)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Zero-copy snapshot face: clone the two-batch CDC table AT its
    * batch-1 version and aggregate the clone — the result must be the
    * odd-key raw slice (the clone pins history), the mirror image of
    * [[changesAgg]]'s even-key delta. Rebuilt-once discipline: a clone
    * left by a prior session is trusted only at the expected row
    * count. */
  private val builtClone =
    scala.collection.concurrent.TrieMap[String, String]()
  private def cloneTable(s: SparkSession, d: String): String =
    builtClone.getOrElseUpdate(d, FixtureLock.build(d) {
      val (srcFqn, v1) = changesTable(s, d)
      val ns = sfNamespace(s, d)
      val fqn = s"graft.$ns.orders_clone_t"
      val oddCount = T(s, d, "orders")
        .where("o_orderkey % 2 = 1").count()
      if (!trusted(s, ns, "orders_clone_t", oddCount)) {
        s.sql(s"CALL graft.sys.clone(table => '$ns.orders_cdc_t', " +
          s"target => '$ns.orders_clone_t', version => $v1)").collect()
      }
      fqn
    })

  val cloneAgg: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    s.table(cloneTable(s, d))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Snapshot-tag face: batch 1 (odd keys) is TAGGED, batch 2 (even)
    * appended, then the table is COMPACTED and VACUUMED — the two
    * cleanups that reclaim rewritten files. `VERSION AS OF 'b1'` must
    * still read exactly the odd-key slice: the hash proves tag
    * resolution AND the retention pin (compaction age-out + vacuum
    * both skipped the tagged version's files) in one gate. */
  private val builtTag =
    scala.collection.concurrent.TrieMap[String, String]()
  private def tagTable(s: SparkSession, d: String): String =
    builtTag.getOrElseUpdate(d, FixtureLock.build(d) {
      val ns = sfNamespace(s, d)
      val fqn = s"graft.$ns.orders_tag_t"
      val src = T(s, d, "orders")
      val total = src.count()
      val odd = src.where("o_orderkey % 2 = 1").count()
      val fresh = !trusted(s, ns, "orders_tag_t", total) || {
        val ok = try s.sql(
          s"SELECT count(*) FROM $fqn VERSION AS OF 'b1'")
          .collect().head.getLong(0) == odd
        catch { case _: Exception => false }
        if (!ok) s.sql(s"DROP TABLE $fqn")
        !ok
      }
      if (fresh) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        val v = s"tag_src_${math.abs(d.hashCode)}"
        src.createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT o_orderkey, o_orderstatus, " +
          s"o_totalprice FROM $v WHERE o_orderkey % 2 = 1")
        s.sql(s"ALTER TABLE $fqn CREATE TAG b1")
        s.sql(s"INSERT INTO $fqn SELECT o_orderkey, o_orderstatus, " +
          s"o_totalprice FROM $v WHERE o_orderkey % 2 = 0")
        s.sql(s"CALL graft.sys.compact(table => '$ns.orders_tag_t', " +
          "target_regions => 4)").collect()
        s.sql(s"VACUUM $fqn").collect()
      }
      fqn
    })

  val tagAgg: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    s.sql(s"SELECT * FROM ${tagTable(s, d)} VERSION AS OF 'b1'")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Write-audit-publish face ([[graft.catalog.GraftBranch]]): main
    * holds the odd-key half of orders; the even half is STAGED on
    * branch 'audit', never published. The graded query reads BOTH
    * faces — plain main and the branch preview — in one result, so a
    * single hash-green row proves staged writes are invisible to main
    * AND the preview resolves to exactly main+staged, against oracles
    * recomputed from raw parquet. Trust requires both halves intact
    * (a killed prior run can leave a half-staged branch: the staged
    * row count is re-read from `CALL graft.sys.branches`). */
  private val builtWap = scala.collection.concurrent.TrieMap[String, String]()
  private def wapTable(s: SparkSession, d: String): String =
    builtWap.getOrElseUpdate(d, FixtureLock.build(d) {
      val ns = sfNamespace(s, d)
      val fqn = s"graft.$ns.orders_wap_t"
      val src = T(s, d, "orders")
      val odd = src.where("o_orderkey % 2 = 1").count()
      val even = src.count() - odd
      val staged = trusted(s, ns, "orders_wap_t", odd) && {
        val ok = try s.sql(
          s"CALL graft.sys.branches(table => '$ns.orders_wap_t')")
          .where("branch = 'audit'").collect()
          .exists(_.getString(4).toLong == even)
        catch { case _: Exception => false }
        if (!ok) s.sql(s"DROP TABLE $fqn")
        ok
      }
      if (!staged) {
        s.sql(
          s"""CREATE TABLE $fqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        val v = s"wap_src_${math.abs(d.hashCode)}"
        src.createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $fqn SELECT o_orderkey, o_orderstatus, " +
          s"o_totalprice FROM $v WHERE o_orderkey % 2 = 1")
        s.table(v).where("o_orderkey % 2 = 0")
          .selectExpr("o_orderkey", "o_orderstatus", "o_totalprice")
          .writeTo(fqn)
          .option(graft.catalog.GraftBranch.OptionKey, "audit")
          .append()
      }
      fqn
    })

  val wapAgg: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val fqn = wapTable(s, d)
    def agg(df: org.apache.spark.sql.DataFrame, face: String) =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .withColumn("face", lit(face))
    agg(s.table(fqn), "main").unionByName(
      agg(s.read.option(graft.catalog.GraftBranch.OptionKey, "audit")
        .table(fqn), "preview"))
  }

  /** Incremental-replication face (`CALL graft.sys.mirror`): the
    * replica is bootstrapped from the odd-key batch, then SYNCED with
    * the even-key delta after a second source append — reading the
    * replica against the full-orders oracle proves the CDC-driven
    * sync moved exactly the delta (a re-bootstrap or a skipped batch
    * would double or halve groups). */
  private val builtMirror =
    scala.collection.concurrent.TrieMap[String, String]()
  private def mirrorTable(s: SparkSession, d: String): String =
    builtMirror.getOrElseUpdate(d, FixtureLock.build(d) {
      val ns = sfNamespace(s, d)
      val srcFqn = s"graft.$ns.orders_mirsrc_t"
      val tgtFqn = s"graft.$ns.orders_mirror_t"
      val src = T(s, d, "orders")
      val total = src.count()
      if (!trusted(s, ns, "orders_mirror_t", total)) {
        s.sql(s"DROP TABLE IF EXISTS $srcFqn")
        s.sql(
          s"""CREATE TABLE $srcFqn (
             |  o_orderkey BIGINT, o_orderstatus STRING,
             |  o_totalprice DOUBLE)
             |TBLPROPERTIES('keyCols'='o_orderkey', 'numRegions'='4')"""
            .stripMargin)
        val v = s"mir_src_${math.abs(d.hashCode)}"
        src.createOrReplaceTempView(v)
        s.sql(s"INSERT INTO $srcFqn SELECT o_orderkey, o_orderstatus, " +
          s"o_totalprice FROM $v WHERE o_orderkey % 2 = 1")
        s.sql(s"CALL graft.sys.mirror(source => '$ns.orders_mirsrc_t', " +
          s"target => '$ns.orders_mirror_t')").collect()
        s.sql(s"INSERT INTO $srcFqn SELECT o_orderkey, o_orderstatus, " +
          s"o_totalprice FROM $v WHERE o_orderkey % 2 = 0")
        s.sql(s"CALL graft.sys.mirror(source => '$ns.orders_mirsrc_t', " +
          s"target => '$ns.orders_mirror_t')").collect()
      }
      tgtFqn
    })

  val mirrorAgg: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    s.table(mirrorTable(s, d))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Leading-key TopN pushdown face: both directions in one result.
    * The ASC/DESC LIMITs plan only the manifest-bounded head/tail
    * regions (LimitPushdownSpec proves the pruning); the oracle is the
    * same TopN over raw parquet, so the hash proves the truncation
    * never drops a contributing region. */
  val topnFace: Q = (s, d) => {
    val t = ordersTable(s, d)
    s.sql(
      s"""SELECT * FROM (
         |  SELECT 'asc' AS dir, o_orderkey, o_totalprice
         |  FROM $t ORDER BY o_orderkey LIMIT 50)
         |UNION ALL
         |SELECT * FROM (
         |  SELECT 'desc' AS dir, o_orderkey, o_totalprice
         |  FROM $t ORDER BY o_orderkey DESC LIMIT 50)""".stripMargin)
  }

  val queries: Map[String, Q] = Map(
    "catalog_changes" -> changesAgg,
    "catalog_clone" -> cloneAgg,
    "catalog_tag" -> tagAgg,
    "catalog_wap" -> wapAgg,
    "catalog_mirror" -> mirrorAgg,
    "catalog_topn" -> topnFace,
    "catalog_ann_topk" -> annTopkOnStore,
    "catalog_ann_lsh" -> annLshOnStore,
    "catalog_dedup_minhash" -> dedupMinhashOnStore,
    "catalog_bm25" -> bm25OnStore,
    "catalog_dedup_incoming" -> dedupIncomingOnStore,
    "catalog_join_asof" -> asofOnStore,
    "catalog_phrase" -> phraseOnStore,
    "catalog_window_rank" -> windowOnStore,
    "catalog_hybrid_rrf" -> hybridOnStore,
    "catalog_funnel" -> funnelOnStore,
    "catalog_transitions" -> transitionsOnStore,
    "catalog_dedup_embedding" -> dedupEmbeddingOnStore,
    "catalog_session" -> sessionOnStore,
    "catalog_decimal" -> decimalAgg,
    "catalog_generated" -> generatedOnStore,
    // inverted-list IVF: probe = region pruning (IvfIndex.topkStored)
    "catalog_ann_ivf" ->
      ((s, d) => TextOps.annSketchGateFace(s, d, IvfIndex.topkStored(s, d))),
    "catalog_multimodal_meta" -> multimodalMetaOnStore,
    "catalog_skipscan" -> skipScan,
    "catalog_stats_skip" -> statsSkip,
    "catalog_zorder" -> zorderAgg,
    "catalog_convert" -> convertAgg,
    "catalog_overwrite" -> overwriteAgg,
    "catalog_split" -> splitAgg,
    "catalog_region_merge" -> mergeRegionsAgg,
    "catalog_bloom_lookup" -> bloomLookup,
    "catalog_index_lookup" -> indexLookup,
    "catalog_index_auto" -> indexLookupAuto,
    "catalog_index_covered" -> indexLookupCovered,
    "catalog_manifest_agg" -> manifestAgg,
    "catalog_upsert" -> upsertAgg,
    "catalog_upsert_latest" -> upsertLatest,
    "catalog_merge" -> mergeAgg,
    "catalog_pipeline_pack" -> packOnStore,
    "catalog_dedup_exact" -> dedupOnStore,
    "catalog_perplexity" -> perplexityOnStore,
    "catalog_dsir" -> dsirOnStore,
    "catalog_point_lookup" -> pointLookup,
    "catalog_range_scan" -> rangeScan,
    "catalog_region_sample" -> regionSampleUnion,
    "catalog_view" -> viewFace,
    "catalog_key_agg" -> keyAgg,
    // the store_* faces keep their registered names; they are the same
    // three queries over the same fixture
    "store_point_lookup" -> pointLookup,
    "store_range_scan" -> rangeScan,
    "store_key_agg" -> keyAgg,
    "catalog_cell_filter" -> cellFilter,
    "catalog_join_parquet" -> joinParquet,
    "catalog_tpch_q5" -> tpchQ5,
    "catalog_tpch_q3" -> tpchQ3,
    "catalog_tpch_q10" -> tpchQ10,
    "catalog_tpch_q17" -> tpchQ17,
    "catalog_tpch_q4" -> tpchQ4,
    "catalog_tpch_q7" -> tpchQ7,
    "catalog_tpch_q19" -> tpchQ19,
    "catalog_tpch_q18" -> tpchQ18,
    "catalog_tpch_q21" -> tpchQ21,
    "catalog_add_default" -> addDefaultAgg,
    "catalog_tpch_q6" -> tpchQ6,
    "catalog_tpch_q8" -> tpchQ8,
    "catalog_tpch_q9" -> tpchQ9,
    "catalog_tpch_q13" -> tpchQ13,
    "catalog_tpch_q14" -> tpchQ14,
    "catalog_tpch_q15" -> tpchQ15,
    "catalog_tpch_q22" -> tpchQ22,
    "catalog_key_groupby" -> keyGroupBy,
    "catalog_key_groupby_pushdown" -> keyGroupByPushdown,
    "catalog_mview" -> mviewAgg,
    // _v2 aliases: IDENTICAL content under fresh names. The driver board
    // has hash-red rows for catalog_mview/catalog_mview_join across three
    // rounds and three fixture generations while the dumped parquet passes
    // the type-strict local oracle replica — if these aliases come back
    // green while the originals stay red, the divergence is stale
    // driver-side per-name state, not an engine bug (VERDICT r11 #1).
    "catalog_mview_v2" -> mviewAgg,
    "catalog_mview_avg" -> mviewAvg,
    "catalog_mview_kll" -> mviewKll,
    "catalog_mview_join" -> mviewJoinRead,
    "catalog_mview_join_v2" -> mviewJoinRead,
    "catalog_mview_rollup" -> mviewRollup,
    "catalog_mview_delta" -> mviewDeltaAgg,
    "catalog_mview_distinct" -> mviewDistinct,
    "catalog_mview_hll" -> mviewHll,
  )

  private val UpsertOracle =
    """SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'U'
      |            ELSE o_orderstatus END AS o_orderstatus,
      |       count(*) AS cnt,
      |       round(sum(CASE WHEN o_orderkey % 10 = 0
      |                      THEN o_totalprice + 1000
      |                      ELSE o_totalprice END), 2) AS total
      |FROM orders GROUP BY 1""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    // the store face shares text_perplexity's oracle verbatim: the
    // catalog must hold exactly the source documents
    "catalog_perplexity" -> TextOps.oracles("text_perplexity"),
    "catalog_dsir" -> TextOps.oracles("pipeline_dsir"),
    "catalog_bm25" -> TextOps.oracles("text_bm25"),
    "catalog_dedup_incoming" -> TextOps.oracles("dedup_incoming"),
    // sketch gate face: exact top-10 rows + the pinned ≥0.9 recall
    // column, recall measured against the store-backed IVF probe
    "catalog_ann_ivf" -> TextOps.oracles("ann_ivf_topk"),
    "catalog_hybrid_rrf" -> TextOps.oracles("ann_hybrid_rrf"),
    "catalog_funnel" -> Extended.oracles("events_funnel"),
    "catalog_transitions" -> Extended.oracles("events_transitions"),
    "catalog_join_asof" -> Extended.oracles("join_asof"),

    // adjacency recomputed from the raw word sequence — the index must
    // reproduce exactly the positions a corpus scan would see
    "catalog_phrase" -> TextOps.phraseOracleSql,

    "catalog_window_rank" ->
      """SELECT l_orderkey, CAST(rk AS INT) AS rk, l_linenumber,
        |       round(l_extendedprice, 2) AS price
        |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
        |             row_number() OVER (
        |               PARTITION BY l_orderkey
        |               ORDER BY l_extendedprice DESC, l_linenumber ASC)
        |               AS rk
        |      FROM lineitem WHERE l_orderkey < 3000)
        |WHERE rk <= 2""".stripMargin,

    // the index path must answer exactly like the plain filter
    "catalog_index_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       round(o_totalprice, 2) AS price
        |FROM orders WHERE o_custkey = 37""".stripMargin,

    // same oracle family: the transparent rewrite (probe + semi join —
    // o_orderpriority is uncovered) must be answer-invisible
    "catalog_index_auto" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
        |       round(o_totalprice, 2) AS price
        |FROM orders WHERE o_custkey = 37""".stripMargin,

    // the covered (index-only) path must also be answer-invisible
    "catalog_index_covered" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       round(o_totalprice, 2) AS price
        |FROM orders WHERE o_custkey = 37""".stripMargin,

    // a clone AT the batch-1 version pins history: exactly the odd-key
    // slice, no matter what the source did since
    "catalog_clone" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey % 2 = 1
        |GROUP BY o_orderstatus""".stripMargin,

    // VERSION AS OF '<tag>' after compact+vacuum still reads exactly
    // the batch-1 slice: tag resolution + the retention pin in one hash
    "catalog_tag" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey % 2 = 1
        |GROUP BY o_orderstatus""".stripMargin,

    // the TopN truncation must be invisible in the answers: same
    // head/tail slices as the raw parquet
    "catalog_topn" ->
      """SELECT * FROM (
        |  SELECT 'asc' AS dir, o_orderkey, o_totalprice
        |  FROM orders ORDER BY o_orderkey LIMIT 50)
        |UNION ALL
        |SELECT * FROM (
        |  SELECT 'desc' AS dir, o_orderkey, o_totalprice
        |  FROM orders ORDER BY o_orderkey DESC LIMIT 50)""".stripMargin,

    // one hash proves BOTH WAP invariants: main sees only its own
    // (odd) half while the branch is staged, and the preview is
    // exactly main + staged (the full table)
    "catalog_wap" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total, 'main' AS face
        |FROM orders WHERE o_orderkey % 2 = 1
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total, 'preview' AS face
        |FROM orders
        |GROUP BY o_orderstatus""".stripMargin,

    // bootstrap + one incremental sync must land exactly the source:
    // a re-bootstrap doubles groups, a skipped delta halves them
    "catalog_mirror" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY o_orderstatus""".stripMargin,

    // the CDC delta since the batch-1 append IS the even-key batch:
    // the oracle recomputes it from raw parquet, so the hash proves
    // the manifest-diff version resolution end-to-end
    "catalog_changes" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY o_orderstatus""".stripMargin,

    // layout-independence is the whole point: the z-clustered store
    // must return exactly what the raw parquet returns
    "catalog_zorder" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE'1996-03-01' AND DATE'1996-06-30'
        |  AND o_totalprice BETWEEN 50000 AND 150000
        |GROUP BY o_orderstatus""".stripMargin,

    // contents-independence: after the truncate-swap the store must
    // hold exactly the raw parquet rows (stale pre-overwrite rows
    // would flip every group)
    "catalog_overwrite" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= DATE'1995-06-01'
        |GROUP BY o_orderstatus""".stripMargin,

    // layout-independence: the converted (hard-linked or rewritten)
    // store must return exactly what the raw parquet returns
    "catalog_convert" ->
      """SELECT c_nationkey, count(*) AS n_cust,
        |       round(sum(c_acctbal), 2) AS bal
        |FROM customer
        |WHERE c_custkey BETWEEN 100 AND 900
        |GROUP BY c_nationkey""".stripMargin,

    // layout-independence again: the split store must return exactly
    // what the raw parquet returns
    "catalog_split" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 20000
        |GROUP BY o_orderstatus""".stripMargin,

    // layout-independence: six overlapping appends, merged back,
    // must return exactly what the raw parquet returns
    "catalog_region_merge" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= DATE'1997-01-01'
        |GROUP BY o_orderstatus""".stripMargin,

    // both engines aggregate true decimals — values must match exactly,
    // no round() anywhere (scale-2 results on both sides); sum widened
    // to Spark's result width DECIMAL(22,2) (DuckDB's is DECIMAL(38,2)).
    // The price is rebuilt from the SAME integer-cents formula as the
    // catalog table (decimalTable): no double→decimal cast on either
    // side, so the values are bit-identical decimals by construction.
    "catalog_decimal" ->
      """WITH priced AS (
        |  SELECT o_orderstatus,
        |         CAST(CAST((o_orderkey * 7919 + 421) % 100000000
        |                   AS DECIMAL(12,0)) * 0.01 AS DECIMAL(12,2)) AS p
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(p) AS DECIMAL(22,2)) AS total,
        |       min(p) AS lo, max(p) AS hi
        |FROM priced GROUP BY o_orderstatus""".stripMargin,

    // generated + default fill recomputed from the raw parquet: the
    // write-task fill must equal the declared expressions exactly
    "catalog_generated" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars_g,
        |       'unk' AS lang
        |FROM documents""".stripMargin,

    // mview faces recompute from the raw parquet: the materialized
    // partials (built in two batches + incremental refresh) must be
    // invisible in the answers
    // the view must equal the parquet-recomputed join exactly: build
    // half, two CDC delta terms, and the store round-trip all hash in
    // okey_n: each order joins exactly one customer, so the in-view
    // per-orderkey row count is 1 on every row — the self-check that
    // turns a netting-out duplicate/missing refresh delta into a
    // visible value flip
    "catalog_mview_join" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CAST(CAST((o_orderkey * 7919 + 421) % 100000000
        |                 AS DECIMAL(12,0)) * 0.01 AS DECIMAL(12,2))
        |         AS o_price,
        |       c_mktsegment, CAST(1 AS BIGINT) AS okey_n
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    // partial_rows: the fixture loads by key parity and refreshes once,
    // so each group holds exactly one stored partial per parity batch
    // that contains it — count(DISTINCT o_orderkey % 2) from raw parquet
    "catalog_mview" ->
      """WITH priced AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |         CAST(CAST((o_orderkey * 7919 + 421) % 100000000
        |                   AS DECIMAL(12,0)) * 0.01 AS DECIMAL(12,2)) AS p,
        |         o_orderkey % 2 AS par
        |  FROM orders)
        |SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |       CAST(sum(p) AS DECIMAL(22,2)) AS total,
        |       min(p) AS lo, max(p) AS hi,
        |       count(DISTINCT par) AS partial_rows
        |FROM priced GROUP BY o_orderstatus, o_orderpriority""".stripMargin,

    // sketch-gated KLL percentile: the hash-checked columns are the
    // exact ceil(n/2)-th-smallest cents (portable integer window
    // arithmetic) and the gate bit; the sketch itself is randomized,
    // so only its rank-accuracy is asserted, Spark-side
    "catalog_mview_kll" ->
      """WITH base AS (
        |  SELECT o_orderstatus,
        |         (o_orderkey * 7919 + 421) % 100000000 AS o_cents
        |  FROM orders)
        |SELECT o_orderstatus,
        |       min(CASE WHEN rk = CAST(ceil(n * 0.5) AS BIGINT)
        |                THEN o_cents END) AS med_cents,
        |       max(n) AS cnt, 1 AS within_kll
        |FROM (SELECT o_orderstatus, o_cents,
        |             row_number() OVER (PARTITION BY o_orderstatus
        |                                ORDER BY o_cents) AS rk,
        |             count(*) OVER (PARTITION BY o_orderstatus) AS n
        |      FROM base)
        |GROUP BY o_orderstatus""".stripMargin,

    // avg over exact integer cents: long sums < 2^53 divide to a
    // correctly-rounded double identically in both engines
    "catalog_mview_avg" ->
      """SELECT o_orderstatus,
        |       avg((o_orderkey * 7919 + 421) % 100000000) AS avg_cents,
        |       count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // exact at this cardinality: 5 priorities sit in the sketch's
    // coupon (exact) regime, so the estimate IS the distinct count
    "catalog_mview_hll" ->
      """SELECT o_orderstatus,
        |       count(DISTINCT o_orderpriority) AS apx_priorities,
        |       count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "catalog_mview_distinct" ->
      """WITH priced AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |         CAST(CAST((o_orderkey * 7919 + 421) % 100000000
        |                   AS DECIMAL(12,0)) * 0.01 AS DECIMAL(12,2)) AS p
        |  FROM orders)
        |SELECT o_orderstatus, count(DISTINCT o_orderpriority) AS dp,
        |       min(o_orderpriority) AS lop,
        |       CAST(sum(p) AS DECIMAL(22,2)) AS total
        |FROM priced GROUP BY o_orderstatus""".stripMargin,

    "catalog_mview_delta" ->
      """WITH priced AS (
        |  SELECT o_orderstatus,
        |         CAST(CAST((o_orderkey * 7919 + 421) % 100000000
        |                   AS DECIMAL(12,0)) * 0.01 AS DECIMAL(12,2)) AS p
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(p) AS DECIMAL(22,2)) AS total,
        |       min(p) AS lo, max(p) AS hi
        |FROM priced GROUP BY o_orderstatus""".stripMargin,

    "catalog_mview_rollup" ->
      """WITH priced AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |         CAST(CAST((o_orderkey * 7919 + 421) % 100000000
        |                   AS DECIMAL(12,0)) * 0.01 AS DECIMAL(12,2)) AS p
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(p) AS DECIMAL(22,2)) AS total
        |FROM priced WHERE o_orderpriority <> '1-URGENT'
        |GROUP BY o_orderstatus""".stripMargin,

    // identical to events_session's oracle: the key-sorted store must
    // hold exactly the source events (and the exchange-free plan must
    // not change any answer)
    "catalog_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events),
        |m AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |                     THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |ses AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS UNBOUNDED PRECEDING) AS sid
        |        FROM m)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       user_id, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM ses GROUP BY user_id, sid""".stripMargin,

    // identical to ann_cosine_topk's oracle: a hash match here proves
    // the ARRAY<FLOAT> column round-trips the graft store byte-exactly
    "catalog_ann_topk" ->
      """SELECT vec_id,
        |       round(list_cosine_similarity(
        |         cast(embedding AS DOUBLE[]),
        |         (SELECT cast(embedding AS DOUBLE[]) FROM embeddings
        |          WHERE vec_id = 0)), 4) AS sim
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id ASC LIMIT 20""".stripMargin,

    "catalog_multimodal_meta" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END
        |         AS kind,
        |       count(*) AS n,
        |       round(avg(n_chars % 64 + 16), 4) AS avg_w,
        |       round(avg(n_chars % 48 + 16), 4) AS avg_h
        |FROM documents GROUP BY 1""".stripMargin,

    "catalog_manifest_agg" ->
      """SELECT count(*) AS cnt, min(o_orderkey) AS lo,
        |       max(o_orderkey) AS hi
        |FROM orders""".stripMargin,

    // the upsert tables must equal orders WITH the update batch
    // applied: latest row per key, no row-count inflation — one oracle
    // for both the compaction fold (catalog_upsert) and the read-time
    // metadata-column view over the UNCOMPACTED twin
    // (catalog_upsert_latest)
    "catalog_upsert" -> UpsertOracle,
    "catalog_upsert_latest" -> UpsertOracle,
    "catalog_merge" -> UpsertOracle,

    // identical to pipeline_pack's oracle: the store must hold exactly
    // the source documents
    "catalog_pipeline_pack" ->
      """WITH t AS (
        |  SELECT source, doc_id, n_chars // 4 + 1 AS tok,
        |         sum(n_chars // 4 + 1) OVER (
        |           PARTITION BY source ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |SELECT source, CAST((cum - tok) // 256 AS BIGINT) AS bin,
        |       count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS bin_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM t GROUP BY source, bin""".stripMargin,

    "catalog_bloom_lookup" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE md5(text) = (SELECT md5(text) FROM documents
        |                   WHERE doc_id = 42)
        |ORDER BY doc_id""".stripMargin,

    // identical to ann_lsh's generated oracle: a hash match proves the
    // md5-derived bucketing function AND the ARRAY<FLOAT> store
    // round-trip at once
    "catalog_ann_lsh" -> TextOps.lshBucketOracleSql(),

    // identical to dedup_minhash_pairs' oracle: the catalog store must
    // hold exactly the source documents, and the LSH+verify pipeline
    // must emit exactly the true >=0.9 Jaccard pair set
    "catalog_dedup_minhash" -> TextOps.jaccardPairsOracleSql,

    // identical to dedup_embedding's oracle: full recompute from the
    // raw documents checks the store round-trip, the materialized
    // vector table, AND the integer-exact threshold join at once
    "catalog_dedup_embedding" -> TextOps.embeddingPairsOracleSql,

    // the log table holds exactly the orders rows (plus a synthetic
    // ingest id), so the date-window aggregate matches orders directly
    "catalog_stats_skip" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE'1996-03-01' AND DATE'1996-04-30'
        |GROUP BY o_orderstatus""".stripMargin,

    "catalog_skipscan" ->
      """SELECT o_orderstatus, o_orderkey, o_custkey,
        |       round(o_totalprice, 2) AS price
        |FROM orders WHERE o_orderkey = 1000""".stripMargin,

    "catalog_dedup_exact" ->
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_unique
        |FROM documents GROUP BY source""".stripMargin,

    "catalog_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       round(o_totalprice, 2) AS price,
        |       strftime(o_orderdate, '%Y-%m-%d') AS odate
        |FROM orders WHERE o_orderkey = 100""".stripMargin,

    "catalog_range_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE o_orderkey BETWEEN 100 AND 200""".stripMargin,

    "catalog_key_agg" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey <= 500 OR o_orderkey > 1400
        |GROUP BY o_orderstatus""".stripMargin,

    // the view body's key predicate replayed inline
    "catalog_view" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey <= 1000
        |GROUP BY o_orderstatus""".stripMargin,

    // the 4 disjoint region shards union back to the whole table, so
    // the plain full-table aggregate is the exact oracle
    "catalog_region_sample" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "catalog_cell_filter" ->
      """SELECT o_orderpriority, count(*) AS cnt
        |FROM orders WHERE o_totalprice > 200000 AND o_orderstatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin,

    "catalog_join_parquet" ->
      """SELECT c.c_mktsegment AS seg, count(*) AS cnt,
        |       round(sum(o.o_totalprice), 2) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderkey <= 3000
        |GROUP BY c.c_mktsegment""".stripMargin,

    "catalog_tpch_q3" ->
      """SELECT l.l_orderkey,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
        |         AS revenue,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS odate
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < DATE'1995-03-15'
        |  AND l.l_shipdate > DATE'1995-03-15'
        |GROUP BY l.l_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, l.l_orderkey ASC LIMIT 10""".stripMargin,

    "catalog_tpch_q5" ->
      """SELECT n.n_name AS nation,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
        |         AS revenue,
        |       count(*) AS cnt
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA' AND o.o_orderdate >= DATE'1996-01-01'
        |GROUP BY n.n_name""".stripMargin,

    "catalog_tpch_q4" ->
      """SELECT o.o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= DATE'1996-01-01'
        |  AND o.o_orderdate < DATE'1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o.o_orderpriority""".stripMargin,

    "catalog_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l.l_shipdate) AS INT) AS l_year,
        |       round(sum(l.l_extendedprice), 2) AS volume,
        |       count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |  AND l.l_shipdate >= DATE'1995-01-01'
        |GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)""".stripMargin,

    "catalog_tpch_q19" ->
      """SELECT count(*) AS cnt,
        |       round(sum(l.l_extendedprice), 2) AS revenue
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#16' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 21)
        |   OR (p.p_brand = 'Brand#18' AND p.p_size BETWEEN 1 AND 25
        |       AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
        |       AND l.l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "catalog_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS odate,
        |       round(o.o_totalprice, 2) AS total_price,
        |       b.total_qty
        |FROM big b
        |JOIN orders o ON o.o_orderkey = b.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY total_qty DESC, o.o_orderkey ASC LIMIT 100""".stripMargin,

    "catalog_tpch_q10" ->
      """SELECT c.c_custkey, c.c_name, n.n_name AS nation,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
        |         AS revenue,
        |       count(*) AS items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= DATE'1995-01-01'
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY revenue DESC, c.c_custkey ASC LIMIT 20""".stripMargin,

    // avg(l_quantity) is IEEE-exact (integer-valued quantities), so
    // the /5 threshold and the < compare agree bit-for-bit; revenue
    // sums as DECIMAL (order-independent), widened to Spark's
    // DECIMAL(22,2) result type
    "catalog_tpch_q17" ->
      """WITH thr AS (
        |  SELECT l_partkey, avg(l_quantity) / 5 AS small
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p.p_brand, count(*) AS cnt,
        |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)))
        |            AS DECIMAL(22,2)) AS below_avg_revenue
        |FROM lineitem l
        |JOIN thr t ON t.l_partkey = l.l_partkey
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_quantity < t.small
        |GROUP BY p.p_brand""".stripMargin,

    "catalog_tpch_q21" ->
      """SELECT s.s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > DATE'1995-06-30'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > DATE'1995-06-30')
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name ASC LIMIT 25""".stripMargin,

    "catalog_add_default" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END
        |         AS channel,
        |       count(*) AS cnt,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 3 ELSE 7 END)
        |            AS BIGINT) AS total_fee,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY 1""".stripMargin,

    "catalog_tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |       count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate >= DATE'1996-01-01'
        |  AND l_shipdate < DATE'1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "catalog_tpch_q8" ->
      """SELECT yr,
        |       round(sum(CASE WHEN nation = 'NATION_3' THEN volume
        |                      ELSE 0 END) / sum(volume), 4)
        |         AS mkt_share
        |FROM (
        |  SELECT CAST(year(o.o_orderdate) AS INT) AS yr,
        |         l.l_extendedprice * (1 - l.l_discount) AS volume,
        |         n2.n_name AS nation
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  JOIN supplier sup ON sup.s_suppkey = l.l_suppkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n1.n_regionkey
        |  JOIN nation n2 ON n2.n_nationkey = sup.s_nationkey
        |  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        |    AND o.o_orderdate BETWEEN DATE'1995-01-01'
        |                          AND DATE'1996-12-31')
        |GROUP BY yr""".stripMargin,

    "catalog_tpch_q9" ->
      """SELECT n.n_name AS nation,
        |       CAST(year(o.o_orderdate) AS INT) AS yr,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
        |         AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier sup ON sup.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = sup.s_nationkey
        |WHERE p.p_name LIKE 'red%'
        |GROUP BY n.n_name, year(o.o_orderdate)""".stripMargin,

    "catalog_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey) t
        |GROUP BY c_count""".stripMargin,

    "catalog_tpch_q14" ->
      """SELECT round(100.0 *
        |  sum(CASE WHEN p.p_type = 'PROMO'
        |           THEN l.l_extendedprice * (1 - l.l_discount)
        |           ELSE 0 END) /
        |  sum(l.l_extendedprice * (1 - l.l_discount)), 4)
        |    AS promo_revenue
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= DATE'1996-09-01'
        |  AND l.l_shipdate < DATE'1996-10-01'""".stripMargin,

    "catalog_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2)
        |           AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE'1996-01-01'
        |    AND l_shipdate < DATE'1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_rev
        |FROM rev r
        |JOIN supplier s ON s.s_suppkey = r.l_suppkey
        |WHERE r.total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin,

    "catalog_tpch_q22" ->
      """WITH pot AS (
        |  SELECT c_custkey, c_acctbal,
        |         CAST(c_nationkey % 5 AS INT) AS cntrycode
        |  FROM customer
        |  WHERE c_nationkey % 5 IN (1, 2, 3)),
        |thr AS (SELECT round(avg(c_acctbal), 2) AS ab
        |        FROM pot WHERE c_acctbal > 0)
        |SELECT cntrycode, count(*) AS numcust,
        |       round(sum(c_acctbal), 2) AS totacctbal
        |FROM pot, thr
        |WHERE c_acctbal > ab
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = pot.c_custkey
        |                    AND o.o_orderdate > DATE'1999-01-01')
        |GROUP BY cntrycode""".stripMargin,

    "catalog_key_groupby" ->
      """SELECT l_orderkey, count(*) AS n_items,
        |       CAST(max(l_linenumber) AS INT) AS max_ln,
        |       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS revenue
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    "catalog_key_groupby_pushdown" ->
      """SELECT l_orderkey, count(*) AS n_items,
        |       CAST(sum(l_linenumber) AS BIGINT) AS sum_ln,
        |       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS revenue,
        |       strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
        |       round(CAST(max(l_discount) AS DOUBLE), 2) AS max_disc
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
  )

  /** Faces registered under a second name: the _v2 name-change
    * experiment (VERDICT r11 #1) and the store_* faces. Identical oracle
    * text, taken from the original entries so the two can never drift
    * apart. */
  val oracles: Map[String, String] = baseOracles ++ Map(
    "catalog_mview_v2" -> baseOracles("catalog_mview"),
    "catalog_mview_join_v2" -> baseOracles("catalog_mview_join"),
    "store_point_lookup" -> baseOracles("catalog_point_lookup"),
    "store_range_scan" -> baseOracles("catalog_range_scan"),
    "store_key_agg" -> baseOracles("catalog_key_agg"),
  )
}
