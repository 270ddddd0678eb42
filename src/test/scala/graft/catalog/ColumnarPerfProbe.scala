package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.CatalogQueries

/** Decode-throughput probe: a full-scan aggregate over a graft catalog
  * table must be in the same ballpark as stock Spark parquet over the
  * SAME region files — the columnar reader's whole purpose. Asserts a
  * generous 3× bound (medians over repeated runs) so the test stays
  * robust on loaded CI boxes while still catching a regression to
  * row-at-a-time decode (which measures ~5-10× slower). */
class ColumnarPerfProbe extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  private def timeMedian(n: Int)(body: => Unit): Double = {
    val ts = (1 to n).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    ts.sorted.apply(n / 2)
  }

  test("catalog full-scan agg within 3x of stock parquet on same files") {
    // force the lineitem_t catalog table to exist, then aggregate every
    // numeric column so the scan decodes real data volume
    CatalogQueries.tpchQ5(spark, sf).collect()
    val ns = s"sf_${math.abs(sf.hashCode)}"
    val catalogSql =
      s"""SELECT count(*) AS n, sum(l_linenumber) AS q, sum(l_extendedprice) AS e,
         |       sum(l_discount) AS d, max(l_shipdate) AS t
         |FROM graft.$ns.lineitem_t WHERE l_linenumber >= 0""".stripMargin
    val tableDir = {
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[GraftCatalog]
      cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array(ns), "lineitem_t")).asInstanceOf[GraftTable].tableDir
    }
    val stockDf = spark.read.parquet(tableDir.getPath)
    spark.sql(catalogSql).collect() // warm
    val graftSec = timeMedian(5)(spark.sql(catalogSql).collect())
    val stockSec = timeMedian(5)(
      stockDf.filter("l_linenumber >= 0").selectExpr("count(*)",
        "sum(l_linenumber)", "sum(l_extendedprice)", "sum(l_discount)",
        "max(l_shipdate)").collect())
    info(f"graft=$graftSec%.3fs stock=$stockSec%.3fs ratio=${graftSec / stockSec}%.2f")
    assert(graftSec <= stockSec * 3 + 0.3,
      f"catalog scan $graftSec%.3fs vs stock parquet $stockSec%.3fs — " +
        "columnar reader regressed to row-at-a-time decode?")
  }
}
