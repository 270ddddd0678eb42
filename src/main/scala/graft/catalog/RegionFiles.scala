package graft.catalog

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, StructType}
import graft.codec.KeyCodec

/** How a region's manifest entry is derived from its rows: the row
  * count, the per-dimension min/max encoded key and the [[ColStats]]
  * of every non-key trackable column. Every path that turns rows into
  * a region (the bulk-load writer, split, merge, the DELETE boundary
  * rewrite, CONVERT's scan of an adopted file) accounts through this
  * one class, so their manifests agree.
  *
  * `keyIdx` are the ordinals of the key columns in `schema`, in key
  * order. `add` takes the row's encoded key dimensions alongside the
  * row (the caller needs them anyway: to bucket, to merge, to cut). */
final class RegionStats(schema: StructType, keyIdx: Array[Int]) {
  private val statCols: Array[Int] = schema.fields.indices
    .filterNot(keyIdx.contains(_))
    .filter(i => ColStats.trackable(schema.fields(i).dataType)).toArray
  private val trackers: Array[ColStats.Tracker] =
    statCols.map(i => ColStats.tracker(schema.fields(i)))
  private val mins = new Array[Array[Byte]](keyIdx.length)
  private val maxs = new Array[Array[Byte]](keyIdx.length)
  private var n = 0L

  def rows: Long = n

  def add(row: InternalRow, encs: Array[Array[Byte]]): Unit = {
    var d = 0
    while (d < encs.length) {
      if (mins(d) == null || KeyCodec.compare(encs(d), mins(d)) < 0)
        mins(d) = encs(d)
      if (maxs(d) == null || KeyCodec.compare(encs(d), maxs(d)) > 0)
        maxs(d) = encs(d)
      d += 1
    }
    var c = 0
    while (c < statCols.length) {
      val i = statCols(c)
      if (row.isNullAt(i)) trackers(c).nulls += 1
      else trackers(c).observe(row, i)
      c += 1
    }
    n += 1
  }

  def toMeta(file: String, bucket: Int): RegionMeta = RegionMeta(file, n,
    mins.map(hex).toSeq, maxs.map(hex).toSeq, bucket,
    stats = trackers.map(t => t.name -> t.stat).toMap)

  /** An empty region has no bound; it records "". */
  private def hex(b: Array[Byte]): String =
    if (b == null) "" else KeyCodec.toHex(b)
}

/** Writes one region file and accounts its manifest entry: a
  * [[ParquetRowIO.RowWriter]] (Spark's `ParquetWriteSupport`, the one
  * region codec) plus [[RegionStats]]. Rows must arrive in key order;
  * `write` takes the row's encoded key dimensions. */
final class RegionWriter(dir: String, val fileName: String,
    schema: StructType, keyIdx: Array[Int], pageRowLimit: Int,
    bloomCols: Seq[String], val bucket: Int) {
  private val stats = new RegionStats(schema, keyIdx)
  private val writer = new ParquetRowIO.RowWriter(
    new File(dir, fileName).getPath, schema, pageRowLimit, bloomCols)

  def rows: Long = stats.rows

  def write(row: InternalRow, encs: Array[Array[Byte]]): Unit = {
    stats.add(row, encs)
    writer.write(row)
  }

  /** Closes the file; an empty one is deleted and yields None. */
  def close(): Option[RegionMeta] = {
    writer.close()
    if (stats.rows == 0) { new File(dir, fileName).delete(); None }
    else Some(stats.toMeta(fileName, bucket))
  }
}

object RegionWriter {
  /** A region of `meta`'s table, with the page-row limit and bloom
    * columns its properties declare. */
  def apply(tableDir: File, fileName: String, meta: TableMeta,
      bucket: Int): RegionWriter =
    new RegionWriter(tableDir.getPath, fileName, meta.schema, keyIdx(meta),
      pageRowLimit(meta), TableMeta.bloomCols(meta.properties), bucket)

  def pageRowLimit(meta: TableMeta): Int =
    meta.properties.get(TableMeta.PageRowLimitProp).map(_.toInt).getOrElse(0)

  def keyIdx(meta: TableMeta): Array[Int] =
    meta.keyCols.map(meta.schema.fieldIndex).toArray

  /** Every key dimension of `row`, encoded. */
  def encodeKeys(row: InternalRow, keyIdx: Array[Int],
      keyTypes: Array[DataType]): Array[Array[Byte]] = {
    val encs = new Array[Array[Byte]](keyIdx.length)
    var d = 0
    while (d < keyIdx.length) {
      encs(d) = KeyCodec.encodeAt(row, keyIdx(d), keyTypes(d))
      d += 1
    }
    encs
  }
}
