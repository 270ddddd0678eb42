package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Physical-plan shape assertions: the plans behind the headline
  * operators must stay the plans we designed for 100 TB — filters and
  * projections reaching the parquet scan, small dimensions broadcast,
  * top-k as TakeOrderedAndProject (no global sort), partial (map-side)
  * aggregation, native kernels inside whole-stage codegen, and
  * catalog scans pruned to the regions a key predicate selects. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("scan_project pushes filter and prunes columns at the parquet scan") {
    val p = plan(Relational.scanProject(spark, sf))
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThan(l_quantity"))
    // ReadSchema carries only the three projected columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_shipdate"))
  }

  test("join_multi broadcasts the three small dimensions") {
    val p = plan(Relational.joinMulti(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected >=3 broadcast joins:\n$p")
  }

  test("topk plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.topK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("agg_q1 performs partial (map-side) aggregation") {
    val p = plan(Relational.aggQ1(spark, sf))
    assert(p.contains("partial_"), s"no partial aggregation in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("bitmap exact-distinct plans without Expand; counts stay exact") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val df = Relational.exactDistinctViaBitmap(li, "l_orderkey", "n")
    val p = plan(df)
    assert(!p.contains("Expand"),
      s"bitmap distinct must not multiply the scan stream:\n$p")
    assert(p.contains("bitmap_construct_agg"), p)
    val exact = li.select("l_orderkey").distinct().count()
    assert(df.collect()(0).getLong(0) == exact)
  }

  test("cosine kernel runs inside whole-stage codegen") {
    val df = TextOps.annCosinePairs(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(p.contains("vec_cosine"), p)
    assert(p.contains("codegen id"), p) // inside a WholeStageCodegen stage
  }

  test("window_rank shuffles once on the partition key") {
    val p = plan(Relational.windowRank(spark, sf))
    assert("(?m)^\\s*(?:[+:]-)?\\s*\\+?- Exchange".r.findAllIn(p).size <= 1 &&
      p.contains("hashpartitioning"), p)
  }

  test("window_ntile carries no single-task global sort") {
    val p = plan(Relational.windowNtile(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("Window"), p) // rank comes from zipWithIndex,
    // not an unpartitioned Window.orderBy
  }

  // ---- the catalog's 16-region orders_t fixture (keyed by o_orderkey):
  // pruning counts read off the `GraftScan … regions=N` node, answers
  // checked against the plain parquet filter

  private lazy val orders = spark.read.parquet(s"$sf/orders.parquet")
  private lazy val ordersT: String = {
    CatalogQueries.pointLookup(spark, sf) // builds the table on demand
    s"graft.sf_${math.abs(sf.hashCode)}.orders_t"
  }
  import TestSpark.regionsScanned
  private def face(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, sf)

  test("catalog point query scans exactly one pruned region") {
    val df = spark.sql(s"SELECT * FROM $ordersT WHERE o_orderkey = 100")
    assert(regionsScanned(df) == 1, s"expected 1-region scan:\n${plan(df)}")
  }

  test("catalog Q5: no fact-side shuffle, dims broadcast, stats flow") {
    val df = CatalogQueries.tpchQ5(spark, sf)
    df.collect()
    val p = plan(df)
    // both fact sides come from graft scans
    assert("GraftScan".r.findAllIn(p).size >= 2, p)
    // the three small dimensions broadcast (manifest row statistics make
    // the planner see the graft sides as large)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    // the lineitem⋈orders fact join never shuffles on the orderkey:
    // either the smaller fact broadcasts, or the co-partitioned
    // (regionSplits) scans join storage-partitioned
    assert(!p.contains("hashpartitioning(l_orderkey") &&
      !p.contains("hashpartitioning(o_orderkey"),
      s"fact join shuffled on the orderkey:\n$p")
  }

  test("catalog key-prefix GROUP BY plans with zero Exchange") {
    val df = CatalogQueries.keyGroupBy(spark, sf)
    df.collect()
    val pf = plan(df)
    assert(!pf.contains("Exchange"),
      s"key-prefix aggregation should be exchange-free:\n$pf")
  }

  test("catalog scans are columnar: batches feed codegen via ColumnarToRow") {
    val df = spark.sql(
      s"SELECT o_orderstatus, sum(o_totalprice) AS s FROM $ordersT GROUP BY 1")
    df.collect()
    val p = plan(df)
    assert(p.contains("ColumnarToRow"),
      s"catalog scan should be vectorized (ColumnarBatch):\n$p")
    assert(p.contains("codegen id"),
      s"scan output should feed whole-stage codegen:\n$p")
  }

  test("catalog full scan reads all regions; key IS NULL reads none") {
    val full = spark.sql(s"SELECT * FROM $ordersT")
    assert(regionsScanned(full) == 16, plan(full))
    val none = spark.sql(s"SELECT * FROM $ordersT WHERE o_orderkey IS NULL")
    assert(regionsScanned(none) == 0, plan(none))
  }

  // ---- the store_* faces: the catalog point/range/key-agg queries
  // under their store names, over the same fixture

  test("store_range_scan prunes regions; residual pushed to parquet") {
    val df = face("store_range_scan")
    val p = plan(df)
    assert(regionsScanned(df) <= 2,
      s"a 100-key range must touch at most 2 of 16 regions:\n$p")
    // the pushed filters still reach parquet row-group/page pruning
    assert(p.contains("GreaterThanOrEqual(o_orderkey,100)"), p)
    assert(df.count() == orders.filter("o_orderkey BETWEEN 100 AND 200").count())
  }

  test("store_key_agg: OR-of-ranges pruning + partial aggregation") {
    val df = face("store_key_agg")
    val p = plan(df)
    // both ranges prune: the middle of the keyspace is never read
    assert(regionsScanned(df) < 16,
      s"OR-of-ranges should skip interior regions:\n$p")
    assert(p.contains("partial_"), s"no partial aggregation in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("store point lookup is recognized and touches one region") {
    val df = face("store_point_lookup")
    assert(regionsScanned(df) == 1, plan(df))
    assert(df.count() == 1)
  }

  test("store fixture regions are key-ordered and disjoint") {
    val dir = spark.table(ordersT).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.asInstanceOf[graft.catalog.GraftTable].tableDir
    }.get
    assert(graft.catalog.TableMeta.load(dir).keyCols == Seq("o_orderkey"))
    val regions = graft.catalog.TableMeta.loadRegions(dir)
    assert(regions.size == 16 && regions.map(_.rows).sum == orders.count())
    def key(h: String) = graft.codec.KeyCodec.fromHex(h)
    val sorted = regions.sortWith((a, b) =>
      graft.codec.KeyCodec.compare(key(a.mins.head), key(b.mins.head)) < 0)
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        assert(graft.codec.KeyCodec.compare(key(a.maxs.head), key(b.mins.head)) < 0,
          "fixture regions overlap — ordering contract broken")
      case _ =>
    }
  }
}
