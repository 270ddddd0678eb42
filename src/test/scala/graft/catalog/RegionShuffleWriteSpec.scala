package graft.catalog

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}
import graft.codec.KeyCodec

/** Bulk loads into a fixed-split (`regionSplits`) table shuffle by the
  * table's region function ([[GraftWriteOrdering.distribution]]), the
  * analogue of the reference's `HBasePartitioner`: no range-sampling
  * job runs, each bucket reaches exactly one write task, and a load
  * commits one region per bucket it touches. Each case loads the same
  * input into a split table and into an otherwise identical table
  * without splits, which keeps the range-sampled write. Jobs are
  * counted by [[TestSpark.jobsIn]]. */
class RegionShuffleWriteSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  import TestSpark.jobsIn

  /** Keys 0 until 2,000 over split points 250, 500, …, 1750: 8 buckets. */
  private val Rows = 2000
  private val Step = 250
  private val Splits = (1 until 8).map(_ * Step).mkString(";")

  private def fresh(name: String, cols: String, props: String): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rshuf")
    val fqn = s"graft.rshuf.$name"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn ($cols) TBLPROPERTIES($props)")
    fqn
  }

  /** A `(k BIGINT, s STRING, v DOUBLE)` table keyed on `k`, with the
    * split points when `split`. */
  private def table(name: String, split: Boolean): String =
    fresh(name, "k BIGINT, s STRING, v DOUBLE",
      "'keyCols'='k'" + (if (split) s", 'regionSplits'='$Splits'" else ""))

  private def graftTable(name: String): GraftTable =
    spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
      .loadTable(Identifier.of(Array("rshuf"), name))
      .asInstanceOf[GraftTable]

  private def regions(name: String): Seq[RegionMeta] =
    TableMeta.loadRegions(graftTable(name).tableDir)

  private def rows(fqn: String): Seq[String] =
    spark.table(fqn).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Keys `keys`, in a scrambled order, as CSV lines `k,s<k>,<k/2>`. */
  private def csvLines(keys: Seq[Int]): Seq[String] =
    keys.sortBy(k => (k * 7919) % keys.size).map(k => s"$k,s$k,${k / 2.0}")

  /** Writes `lines` as one CSV file and returns its path. */
  private def csv(lines: Seq[String]): String = {
    val f = new File(tempDir("graft_rshuf_csv"), "in.csv")
    Files.write(f.toPath, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    f.getPath
  }

  /** Writes the CSV at `path` as parquet and returns a temp view over
    * it: an input that is not a local relation, so the INSERT takes the
    * job path. */
  private def parquetView(path: String, view: String): String = {
    val out = new File(tempDir("graft_rshuf_pq"), "t").getPath
    spark.read.schema("k BIGINT, s STRING, v DOUBLE").csv(path)
      .write.parquet(out)
    spark.read.parquet(out).createOrReplaceTempView(view)
    view
  }

  /** Each region of the split table `name` covers keys of one bucket,
    * and each bucket in `touched` has exactly one region. */
  private def assertOneRegionPerBucket(name: String, touched: Set[Int])
      : Unit = {
    val rs = regions(name)
    val sp = graftTable(name).meta.splits.get
    assert(rs.forall(_.bucket >= 0), rs)
    assert(rs.map(_.bucket).sorted == touched.toSeq.sorted, rs)
    rs.foreach { r =>
      assert(sp.bucketOf(KeyCodec.fromHex(r.mins.head)) == r.bucket &&
        sp.bucketOf(KeyCodec.fromHex(r.maxs.head)) == r.bucket, r)
    }
  }

  private def bucketsOf(keys: Seq[Int]): Set[Int] = keys.map(_ / Step).toSet

  test("LOAD DATA into a split table runs one job fewer and writes one " +
      "region per touched bucket") {
    // 6 of the 8 buckets: keys in [0, 1500)
    val keys = 0 until 1500
    val path = csv(csvLines(keys))
    val split = table("load_split", split = true)
    val plain = table("load_plain", split = false)
    val load = (t: String) =>
      jobsIn(spark.sql(s"LOAD DATA LOCAL INPATH '$path' INTO TABLE $t"))
    val plainJobs = load(plain)
    val splitJobs = load(split)
    // the range write samples its input in a job of its own; the
    // region write needs no bounds
    assert(plainJobs == 3)
    assert(splitJobs == 2)
    assertOneRegionPerBucket("load_split", bucketsOf(keys))
    assert(regions("load_plain").forall(_.bucket == -1))
    assert(rows(split).size == keys.size)
    assert(rows(split) == rows(plain))
  }

  test("INSERT … SELECT into a split table runs one job fewer and " +
      "writes one region per touched bucket") {
    val keys = 0 until Rows
    val view = parquetView(csv(csvLines(keys)), "rshuf_src")
    val split = table("ins_split", split = true)
    val plain = table("ins_plain", split = false)
    val plainJobs = jobsIn(spark.sql(s"INSERT INTO $plain SELECT * FROM $view"))
    val splitJobs = jobsIn(spark.sql(s"INSERT INTO $split SELECT * FROM $view"))
    assert(splitJobs <= plainJobs - 1, (splitJobs, plainJobs))
    assertOneRegionPerBucket("ins_split", bucketsOf(keys))
    assert(rows(split).size == Rows)
    assert(rows(split) == rows(plain))
    // a second load adds one more region to each bucket it touches
    val more = 1000 until 1300
    val view2 = parquetView(csv(csvLines(more)), "rshuf_src2")
    spark.sql(s"INSERT INTO $split SELECT * FROM $view2")
    spark.sql(s"INSERT INTO $plain SELECT * FROM $view2")
    val perBucket = regions("ins_split").groupBy(_.bucket)
      .map { case (b, rs) => b -> rs.size }
    val added = bucketsOf(more)
    assert(perBucket == bucketsOf(keys).map(b =>
      b -> (if (added(b)) 2 else 1)).toMap)
    assert(rows(split) == rows(plain))
    spark.catalog.dropTempView(view)
    spark.catalog.dropTempView(view2)
  }

  test("UPDATE on a split table rewrites each touched bucket into one " +
      "bucket-pure region") {
    // 1,800 keys: the range shuffle's 8 quantiles fall inside buckets
    val keys = 0 until 1800
    val view = parquetView(csv(csvLines(keys)), "rshuf_upd_src")
    val split = table("upd_split", split = true)
    spark.sql(s"INSERT INTO $split SELECT * FROM $view")
    spark.catalog.dropTempView(view)
    // every bucket holds keys divisible by 7. With partition coalescing
    // off, a range-shuffled rewrite would cut some buckets across two
    // tasks; the region shuffle never does
    TestSpark.withConf(
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      spark.sql(s"UPDATE $split SET v = -1 WHERE k % 7 = 0")
    }
    assertOneRegionPerBucket("upd_split", bucketsOf(keys))
    val updated = spark.sql(s"SELECT count(*) FROM $split WHERE v = -1")
      .collect().head.getLong(0)
    assert(updated == keys.count(_ % 7 == 0))
    assert(spark.table(split).count() == keys.size)
  }

  test("compaction of a split table yields one region per bucket, even " +
      "when target_regions is above the bucket count") {
    val split = table("cmp_split", split = true)
    (0 until 3).foreach { c =>
      val view = parquetView(
        csv(csvLines(c * 600 until c * 600 + 600)), s"rshuf_cmp$c")
      spark.sql(s"INSERT INTO $split SELECT * FROM $view")
      spark.catalog.dropTempView(view)
    }
    assert(regions("cmp_split").size > 8)
    spark.sql(s"CALL graft.sys.compact(table => 'rshuf.cmp_split', " +
      "target_regions => 32)")
    assertOneRegionPerBucket("cmp_split", bucketsOf(0 until 1800))
    assert(spark.table(split).count() == 1800L)
  }

  test("a null key is refused by the writer, not by the region " +
      "function, and nothing is committed") {
    Seq("INT" -> "100", "STRING" -> "15").foreach { case (kt, split) =>
      val name = s"null_${kt.toLowerCase}"
      val fqn = fresh(name, s"k $kt, v BIGINT",
        s"'keyCols'='k', 'regionSplits'='$split'")
      val out = new File(tempDir("graft_rshuf_null"), "t").getPath
      spark.sql(s"SELECT CAST(id * 10 AS $kt) AS k, id AS v FROM range(30) " +
        s"UNION ALL SELECT CAST(NULL AS $kt), 99L").write.parquet(out)
      spark.read.parquet(out).createOrReplaceTempView("rshuf_null_src")
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $fqn SELECT * FROM rshuf_null_src")
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("null value in key column k")),
        s"$kt key: ${msgs.mkString(" / ")}")
      assert(regions(name).isEmpty, kt)
      assert(spark.table(fqn).count() == 0L, kt)
      spark.catalog.dropTempView("rshuf_null_src")
    }
  }
}
