package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.TestSpark.regionsScanned
import graft.catalog.{GraftTable, TableMeta}
import graft.codec.KeyCodec
import graft.operators.CatalogQueries

/** The region store is the graft catalog: a bulk insert produces
  * key-ordered regions under one manifest; pruning is sound (never
  * loses rows) and effective (point/range predicates touch few regions).
  * Pruning runs on the 16-region `orders_t` fixture, keyed by
  * `o_orderkey`, and is read off the scan's `GraftScan … regions=N`
  * explain node; answers are checked against the plain parquet filter. */
class RegionStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir
  private lazy val orders = spark.read.parquet(s"$sf/orders.parquet")

  private lazy val ordersT: String = {
    CatalogQueries.pointLookup(spark, sf) // builds the fixture on demand
    s"graft.sf_${math.abs(sf.hashCode)}.orders_t"
  }
  private def scan(where: String) = spark.sql(s"SELECT * FROM $ordersT $where")

  private lazy val ns = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.regions")
    "graft.regions"
  }

  /** A fresh 8-region catalog table over the orders source. */
  private def load(table: String, keyCols: String, cols: String*): String = {
    val fqn = s"$ns.$table"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    orders.select(cols.map(col): _*).writeTo(fqn)
      .tableProperty("keyCols", keyCols).tableProperty("numRegions", "8")
      .create()
    fqn
  }
  private lazy val orders8 =
    load("orders8", "o_orderkey", "o_orderkey", "o_custkey", "o_totalprice")
  private lazy val composite =
    load("orders_ck", "o_custkey;o_orderkey", "o_custkey", "o_orderkey")

  private def tableDir(fqn: String) =
    spark.table(fqn).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.asInstanceOf[GraftTable].tableDir
    }.get

  test("bulk load writes 8 regions with a manifest") {
    val dir = tableDir(orders8)
    val regions = TableMeta.loadRegions(dir)
    assert(regions.size == 8)
    assert(regions.map(_.rows).sum == orders.count())
    assert(TableMeta.load(dir).keyCols == Seq("o_orderkey"))
  }

  test("regions are disjoint and ordered on the key") {
    def key(h: String) = KeyCodec.fromHex(h)
    val sorted = TableMeta.loadRegions(tableDir(orders8)).sortWith((a, b) =>
      KeyCodec.compare(key(a.mins.head), key(b.mins.head)) < 0)
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        assert(KeyCodec.compare(key(a.maxs.head), key(b.mins.head)) < 0)
      case _ =>
    }
  }

  test("point lookup prunes to one region and matches direct scan") {
    assert(regionsScanned(scan("")) == 16)
    val df = scan("WHERE o_orderkey = 100")
    assert(regionsScanned(df) == 1)
    val expected = orders.filter(col("o_orderkey") === 100)
      .select(df.columns.map(col): _*).collect()
    assert(expected.nonEmpty && df.collect().toSet == expected.toSet)
  }

  test("range scan prunes and matches direct scan") {
    val df = scan("WHERE o_orderkey BETWEEN 100 AND 200")
    assert(regionsScanned(df) <= 2)
    val expected = orders.filter(col("o_orderkey").between(100, 200))
    assert(df.count() == expected.count())
  }

  test("IN-list prunes to the regions containing the points") {
    val df = scan("WHERE o_orderkey IN (1, 2, 1499)")
    assert(regionsScanned(df) <= 2)
    assert(df.count() ==
      orders.filter(col("o_orderkey").isin(1, 2, 1499)).count())
  }

  test("empty range prunes everything") {
    val df = scan("WHERE o_orderkey = -5")
    assert(regionsScanned(df) == 0)
    assert(df.count() == 0)
  }

  test("composite key: second-dimension predicate still prunes by stats") {
    def regions(where: String) =
      regionsScanned(spark.sql(s"SELECT * FROM $composite $where"))
    // leading-dim predicate prunes by range
    assert(regions("WHERE o_custkey = 7") < regions(""))
    // full-key point lookup
    val one = orders.filter(col("o_custkey") === 7).limit(1)
      .select("o_custkey", "o_orderkey").collect()
    if (one.nonEmpty) {
      val Array(ck, ok) = Array(one(0).getLong(0), one(0).getLong(1))
      assert(spark.sql(s"SELECT * FROM $composite " +
        s"WHERE o_custkey = $ck AND o_orderkey = $ok").count() == 1)
    }
  }

  test("pruning soundness: pruned scan == full filter for many predicates") {
    val preds = Seq(
      col("o_orderkey") < 50,
      col("o_orderkey") >= 1450,
      col("o_orderkey").between(700, 710) || col("o_orderkey") === 3,
      col("o_orderkey") > 100 && col("o_orderkey") <= 105,
      col("o_totalprice") > 100000, // non-key: no pruning, still correct
      col("o_orderkey") === 1 || col("o_totalprice") < 0,
      !(col("o_orderkey") < 1400),
      col("o_orderkey").isNotNull && col("o_orderkey") < 10)
    preds.foreach { p =>
      val got = spark.table(ordersT).filter(p).count()
      val exp = orders.filter(p).count()
      assert(got == exp, s"mismatch for $p")
    }
  }

  test("scan without predicate returns everything") {
    assert(scan("").count() == orders.count())
  }

  test("rejects unsupported key types") {
    val e = intercept[IllegalArgumentException] {
      spark.read.parquet(s"$sf/embeddings.parquet")
        .writeTo(s"$ns.bad").tableProperty("keyCols", "embedding")
        .create()
    }
    assert(e.getMessage.contains("unsupported type"))
  }
}
