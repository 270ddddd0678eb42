package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.{TempDirs, TestSpark}

/** Embedding (ARRAY<FLOAT>) and media-payload (BINARY) columns stored
  * IN graft tables — the SURVEY §1.5 extension goal: the LLM pipeline's
  * own storage holds its vectors and payloads, not just raw parquet
  * sidecars. Key columns stay atomic (KeyCodec orders atomic encodings
  * only); the new types are non-key cells.
  */
class CatalogVectorSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def ns(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.vec")

  test("ARRAY<FLOAT> + BINARY columns round-trip the store exactly") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.vec.t")
    spark.sql(
      """CREATE TABLE graft.vec.t (
        |  id BIGINT, emb ARRAY<FLOAT>, payload BINARY, note STRING)
        |TBLPROPERTIES('keyCols'='id', 'numRegions'='2')""".stripMargin)
    // nulls at every level: null array, empty array, null element,
    // null binary, empty binary
    spark.sql(
      """INSERT INTO graft.vec.t VALUES
        |  (1, array(CAST(1.5 AS FLOAT), CAST(-2.25 AS FLOAT)),
        |      CAST('ab' AS BINARY), 'plain'),
        |  (2, array(), CAST('' AS BINARY), 'empty'),
        |  (3, NULL, NULL, 'nulls'),
        |  (4, array(CAST(NULL AS FLOAT), CAST(7.0 AS FLOAT)),
        |      CAST('xyz' AS BINARY), 'null-elem')""".stripMargin)

    val got = spark.table("graft.vec.t").collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[scala.collection.Seq[Any]].toList),
        Option(r.get(2)).map(_.asInstanceOf[Array[Byte]].toList),
        r.getString(3))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, Some(List(1.5f, -2.25f)), Some("ab".getBytes.toList), "plain"),
      (2L, Some(Nil), Some(Nil), "empty"),
      (3L, None, None, "nulls"),
      (4L, Some(List(null, 7.0f)), Some("xyz".getBytes.toList), "null-elem")))
    // null element really is null (not 0.0): check via SQL
    val nullElem = spark.sql(
      "SELECT emb[0] IS NULL, emb[1] FROM graft.vec.t WHERE id = 4").head()
    assert(nullElem.getBoolean(0) && nullElem.getFloat(1) == 7.0f)
    spark.sql("DROP TABLE graft.vec.t")
  }

  test("DECIMAL columns round-trip the store in all three layouts") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.vec.dec")
    // precision 9 → int32, 18 → int64, 38 → fixed-len binary
    spark.sql(
      """CREATE TABLE graft.vec.dec (
        |  id BIGINT, d9 DECIMAL(9,2), d18 DECIMAL(18,6), d38 DECIMAL(38,10))
        |TBLPROPERTIES('keyCols'='id', 'numRegions'='2')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.vec.dec VALUES
        |  (1, 1234567.89, 123456789012.345678,
        |      CAST('1234567890123456789012345678.0123456789' AS
        |        DECIMAL(38,10))),
        |  (2, -0.01, -0.000001,
        |      CAST('-1234567890123456789012345678.0123456789' AS
        |        DECIMAL(38,10))),
        |  (3, NULL, NULL, NULL),
        |  (4, 0.00, 0.000000, 0.0)""".stripMargin)
    val got = spark.sql(
      """SELECT id, CAST(d9 AS STRING), CAST(d18 AS STRING),
        |       CAST(d38 AS STRING)
        |FROM graft.vec.dec ORDER BY id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, "1234567.89", "123456789012.345678",
        "1234567890123456789012345678.0123456789"),
      (2L, "-0.01", "-0.000001",
        "-1234567890123456789012345678.0123456789"),
      (3L, null, null, null),
      (4L, "0.00", "0.000000", "0.0000000000")))
    // decimal aggregates behave (exact arithmetic, no double rounding)
    val s9 = spark.sql(
      "SELECT CAST(sum(d9) AS STRING) FROM graft.vec.dec").head.getString(0)
    assert(s9 == "1234567.88")
    // decimal predicates (pushed as unscaled compares for p<=18; the
    // out-of-range and FLBA forms fall back to residual evaluation)
    assert(spark.sql("SELECT id FROM graft.vec.dec WHERE d9 > 0.5")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.sql(
      "SELECT id FROM graft.vec.dec WHERE d18 <= -0.000001 " +
        "ORDER BY id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.sql(
      "SELECT count(*) FROM graft.vec.dec WHERE d9 < 99999999999.0")
      .head.getLong(0) == 3L) // literal wider than int32: residual only
    assert(spark.sql(
      "SELECT id FROM graft.vec.dec WHERE d38 = 0.0").collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
    // compaction rewrites decimal cells losslessly through the writer
    GraftCompact.compact(spark, "graft", "vec", "dec", 1)
    val afterCompact = spark.sql(
      """SELECT CAST(sum(d9) AS STRING), CAST(sum(d18) AS STRING),
        |       CAST(sum(d38) AS STRING) FROM graft.vec.dec"""
        .stripMargin).head
    assert(afterCompact.getString(0) == "1234567.88")
    assert(afterCompact.getString(1) == "123456789012.345677")
    assert(afterCompact.getString(2) == "0.0000000000")
    // decimal keys stay rejected: KeyCodec orders atomic encodings only
    val e = intercept[Exception] {
      spark.sql(
        """CREATE TABLE graft.vec.deckey (k DECIMAL(10,2), v INT)
          |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    }
    assert(e.getMessage.contains("unsupported type"), e.getMessage)
    spark.sql("DROP TABLE graft.vec.dec")
  }

  test("array/binary key columns are rejected; atomic-only keys hold") {
    ns()
    val e1 = intercept[Exception] {
      spark.sql(
        """CREATE TABLE graft.vec.badkey (k ARRAY<FLOAT>, v INT)
          |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    }
    assert(e1.getMessage.contains("unsupported type"))
    val e2 = intercept[Exception] {
      spark.sql(
        """CREATE TABLE graft.vec.badkey2 (k BINARY, v INT)
          |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    }
    assert(e2.getMessage.contains("unsupported type"))
    // nested arrays stay unsupported even as non-key columns
    val e3 = intercept[Exception] {
      spark.sql(
        """CREATE TABLE graft.vec.badcol (k INT, v ARRAY<ARRAY<FLOAT>>)
          |TBLPROPERTIES('keyCols'='k')""".stripMargin)
    }
    assert(e3.getMessage.contains("not storable"))
  }

  test("metadata query prunes the payload/embedding columns from the scan") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.vec.media")
    spark.sql(
      """CREATE TABLE graft.vec.media (
        |  id BIGINT, kind STRING, payload BINARY, width INT)
        |TBLPROPERTIES('keyCols'='id', 'numRegions'='2')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.vec.media
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'image' ELSE 'audio' END,
        |       CAST(repeat('x', 100) AS BINARY), CAST(id % 64 AS INT)
        |FROM range(0, 1000)""".stripMargin)
    val df = spark.sql(
      "SELECT kind, count(*) AS n, avg(width) AS w FROM graft.vec.media " +
        "GROUP BY kind")
    df.collect()
    // the scan hides under AQE query-stage leaves — recurse through them
    def findScan(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[org.apache.spark.sql.connector.read.Scan] = p match {
      case b: BatchScanExec => Some(b.scan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findScan(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findScan(q.plan)
      case other => other.children.iterator.flatMap(findScan(_)).nextOption()
    }
    val scan = findScan(df.queryExecution.executedPlan).get
    val read = scan.readSchema().fieldNames.map(_.toLowerCase).toSet
    assert(!read.contains("payload"),
      s"metadata query read the binary payload column: $read")
    assert(read == Set("kind", "width"))
    spark.sql("DROP TABLE graft.vec.media")
  }

  test("store-backed ANN queries match their parquet-backed twins") {
    val d = TestSpark.sfDir
    val fromStore = graft.operators.CatalogQueries
      .annLshOnStore(spark, d).collect().map(r => r.toSeq).toSet
    val fromParquet = graft.operators.TextOps
      .queries("ann_lsh")(spark, d).collect().map(r => r.toSeq).toSet
    assert(fromStore == fromParquet)

    val topkStore = graft.operators.CatalogQueries
      .annTopkOnStore(spark, d).collect().map(_.toSeq)
    val topkParquet = graft.operators.TextOps
      .queries("ann_cosine_topk")(spark, d).collect().map(_.toSeq)
    assert(topkStore.toSeq == topkParquet.toSeq)
  }

  test("inverted-list IVF: probe prunes regions; answers match compute path") {
    val d = TestSpark.sfDir
    val stored = graft.operators.IvfIndex.topkStored(spark, d)
    val fromCompute = graft.operators.IvfIndex.topk(spark, d)
      .collect().map(_.toSeq).toSeq
    // same probed cells, same exact-cosine ranking
    assert(stored.collect().map(_.toSeq).toSeq == fromCompute)
    // probing IS region pruning: the scan of the (cid, vec_id)-keyed
    // table opens at most NProbe of the K one-region cells
    stored.collect()
    def findScan(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[BatchScanExec] = p match {
      case b: BatchScanExec => Some(b)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findScan(q.plan)
      case other => other.children.iterator.flatMap(findScan(_)).nextOption()
    }
    val scan = findScan(stored.queryExecution.executedPlan).get
    val nParts = scan.inputRDD.getNumPartitions
    assert(nParts <= graft.operators.IvfIndex.NProbe,
      s"expected <= ${graft.operators.IvfIndex.NProbe} probed regions, " +
        s"scan has $nParts partitions")
  }

  test("IVFPQ: probe prunes regions of the code table; recall@10 >= 0.9") {
    val d = TestSpark.sfDir
    val ivfpq = graft.operators.PqIndex.ivfpqTopk(spark, d)
    val got = ivfpq.collect().map(_.getLong(0)).toSet
    assert(got.size == 10)
    val exact = graft.operators.TextOps.annCosineTopk(spark, d)
      .collect().take(10).map(_.getLong(0)).toSet
    val recall = got.intersect(exact).size / 10.0
    info(f"IVFPQ recall@10 = $recall%.2f")
    assert(recall >= 0.9,
      s"IVFPQ recall@10 $recall < 0.9 (got=$got exact=$exact)")
    // the composed layout prunes at the storage layer: the ADC scan
    // opens at most NProbe of the K one-region cells (asserted on the
    // probed slice itself — the final plan hides it in the re-rank
    // join's broadcast subtree)
    val probed = graft.operators.PqIndex.probedCodes(spark, d)
    probed.collect()
    def findScan(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[BatchScanExec] = p match {
      case b: BatchScanExec => Some(b)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findScan(q.plan)
      case other => other.children.iterator.flatMap(findScan(_)).nextOption()
    }
    val scan = findScan(probed.queryExecution.executedPlan).get
    val nParts = scan.inputRDD.getNumPartitions
    assert(nParts <= graft.operators.IvfIndex.NProbe,
      s"expected <= ${graft.operators.IvfIndex.NProbe} probed regions, " +
        s"scan has $nParts partitions")
    // and every probed row is the 8-B-logical code, not the raw vector
    assert(probed.schema.fieldNames.toSet == Set("cid", "vec_id", "code"))
  }

  test("store-backed MinHash candidate pairs match the parquet twin") {
    val d = TestSpark.sfDir
    val fromStore = graft.operators.CatalogQueries
      .dedupMinhashOnStore(spark, d).collect().map(_.toSeq).toSet
    val fromParquet = graft.operators.TextOps
      .queries("dedup_minhash_pairs")(spark, d).collect().map(_.toSeq).toSet
    assert(fromStore == fromParquet)
    assert(fromStore.nonEmpty, "no candidate pairs at test scale")
  }

  test("store-backed embedding near-dup pairs match the parquet twin") {
    val d = TestSpark.sfDir
    val fromStore = graft.operators.CatalogQueries
      .dedupEmbeddingOnStore(spark, d).collect().map(_.toSeq).toSet
    val fromParquet = graft.operators.TextOps
      .queries("dedup_embedding")(spark, d).collect().map(_.toSeq).toSet
    assert(fromStore == fromParquet)
    assert(fromStore.nonEmpty, "no near-dup pairs at test scale")
  }

  test("catalog media metadata matches the parquet-derived stats") {
    val d = TestSpark.sfDir
    val fromStore = graft.operators.CatalogQueries
      .multimodalMetaOnStore(spark, d).collect()
      .map((r: Row) => r.toSeq).toSet
    val fromParquet = graft.operators.Multimodal
      .queries("multimodal_meta")(spark, d).collect()
      .map((r: Row) => r.toSeq).toSet
    assert(fromStore == fromParquet)
  }

  test("compaction preserves array/binary cells") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.vec.c")
    spark.sql(
      """CREATE TABLE graft.vec.c (id BIGINT, emb ARRAY<FLOAT>, p BINARY)
        |TBLPROPERTIES('keyCols'='id', 'numRegions'='2')""".stripMargin)
    (0 until 3).foreach { i =>
      spark.sql(
        s"""INSERT INTO graft.vec.c
           |SELECT id, array(CAST(id AS FLOAT), CAST($i AS FLOAT)),
           |       CAST(concat('p', id) AS BINARY)
           |FROM range(${i * 100}, ${i * 100 + 100})""".stripMargin)
    }
    val before = spark.table("graft.vec.c").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList,
        new String(r.get(2).asInstanceOf[Array[Byte]]))).sortBy(_._1)
    spark.sql("CALL graft.sys.compact('vec.c', 1)")
    val after = spark.table("graft.vec.c").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList,
        new String(r.get(2).asInstanceOf[Array[Byte]]))).sortBy(_._1)
    assert(after.toSeq == before.toSeq)
    spark.sql("DROP TABLE graft.vec.c")
  }

  test("region files ignore the session's parquet write settings") {
    ns()
    spark.sql("DROP TABLE IF EXISTS graft.vec.cal")
    spark.sql(
      """CREATE TABLE graft.vec.cal (
        |  id BIGINT, d DATE, ts TIMESTAMP, dec DECIMAL(30,5), arr ARRAY<INT>)
        |TBLPROPERTIES('keyCols'='id')""".stripMargin)
    val row = (id: Int, arr: String) =>
      s"""($id, DATE'1500-01-01', TIMESTAMP'1500-01-01 00:00:00',
         |  CAST(-1234567890123456789012.34567 AS DECIMAL(30,5)), $arr)"""
        .stripMargin
    // the shuffled write job's input: a parquet file, written before the
    // legacy settings are on
    val src = s"${tempDir("graft-vec-cal").getPath}/src"
    spark.sql(s"SELECT * FROM VALUES ${row(3, "array(1, NULL)")}, " +
        s"${row(4, "array()")} AS v(id, d, ts, dec, arr)")
      .write.parquet(src)
    TestSpark.withConf(
        "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY",
        "spark.sql.parquet.int96RebaseModeInWrite" -> "LEGACY",
        "spark.sql.parquet.outputTimestampType" -> "INT96") {
      // driver-side local write, then the task-side write job
      spark.sql(s"INSERT INTO graft.vec.cal VALUES ${row(1, "array(1, NULL)")}, " +
        row(2, "array()"))
      spark.sql(s"INSERT INTO graft.vec.cal SELECT * FROM parquet.`$src`")
    }
    val got = spark.sql(
      """SELECT id, CAST(d AS STRING), CAST(ts AS STRING),
        |  CAST(dec AS STRING), arr FROM graft.vec.cal""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getSeq[Any](4).toList)).sortBy(_._1)
    val day = ("1500-01-01", "1500-01-01 00:00:00",
      "-1234567890123456789012.34567")
    assert(got.toSeq == Seq(
      (1L, day._1, day._2, day._3, List(1, null)),
      (2L, day._1, day._2, day._3, Nil),
      (3L, day._1, day._2, day._3, List(1, null)),
      (4L, day._1, day._2, day._3, Nil)))

    val dir = new java.io.File(s"${TestSpark.warehouse}/vec/cal")
    val files = TableMeta.loadRegions(dir).map(r => new java.io.File(dir, r.file))
    assert(files.nonEmpty)
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(f.getPath), new Configuration()))
      val meta = try reader.getFooter.getFileMetaData finally reader.close()
      assert(!meta.getKeyValueMetaData.containsKey(
        "org.apache.spark.legacyDateTime"), f)
      val ts = meta.getSchema.getColumnDescription(Array("ts")).getPrimitiveType
      assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64, f)
      assert(ts.getLogicalTypeAnnotation == LogicalTypeAnnotation
        .timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS), f)
    }
    spark.sql("DROP TABLE graft.vec.cal")
  }
}
