package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Opening a region file: every reader and writer takes a private copy
  * of one parsed Hadoop conf ([[ParquetColumnarIO.baseConf]]), so
  * per-reader settings (session zone, requested schema, pushed filter)
  * never leak into another reader or into the shared base. */
class RegionOpenSpec extends AnyFunSuite with TempDirs {

  test("two readers in different zones each read their own settings; " +
      "the base conf is left unmodified") {
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("ts", TimestampType)))
    val file = s"${tempDir("graft-region-open").getPath}/r.parquet"
    // 2024-01-02T03:04:05Z + k seconds, stored as UTC micros
    val base = 1704164645000000L
    val w = new ParquetRowIO.RowWriter(file, schema)
    try (0L until 10L).foreach(k =>
      w.write(InternalRow(k, base + k * 1000000L)))
    finally w.close()

    def snapshot(): Map[String, String] =
      ParquetColumnarIO.baseConf.iterator().asScala
        .map(e => e.getKey -> e.getValue).toMap
    val before = snapshot()
    assert(!before.contains("spark.sql.session.timeZone"))

    val la = new ParquetColumnarIO.ColumnarReader(file, schema,
      Seq(sources.LessThan("k", 3L)), "America/Los_Angeles")
    val tokyo = new ParquetColumnarIO.ColumnarReader(file,
      StructType(Seq(schema("ts"))), Nil, "Asia/Tokyo")
    def read(r: ParquetColumnarIO.ColumnarReader, col: Int): Seq[Long] =
      try r.rows().map(_.getLong(col)).toSeq finally r.close()

    assert(la.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
    assert(tokyo.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo")
    // the second open took nothing from the first: its own schema, no
    // filter (a filter only skips row groups, so every row comes back)
    assert(la.conf.get(ParquetInputFormat.FILTER_PREDICATE) != null)
    assert(tokyo.conf.get(ParquetInputFormat.FILTER_PREDICATE) == null)
    assert(read(tokyo, 0) == (0L until 10L).map(k => base + k * 1000000L))
    assert(read(la, 1) == (0L until 10L).map(k => base + k * 1000000L))
    assert(snapshot() == before)
  }
}
