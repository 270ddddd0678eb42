package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetWriteSupport}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** The region-file codec, which is Spark's own parquet codec: every
  * region is written by Spark's `ParquetWriteSupport` (the writer of
  * the files CONVERT adopts), and pushed filters become parquet
  * `FilterPredicate`s through Spark's `ParquetFilters` — the
  * storage-side face of the reference's FilterList pushdown, evaluated
  * against row-group and page statistics. Region files are read by
  * [[ParquetColumnarIO.ColumnarReader]]. */
object ParquetRowIO {

  /** Storable column types: the reference's ten atomic types (SURVEY
    * §1.2), plus the LLM-extension columns (SURVEY §1.5) — opaque media
    * payloads (`BINARY`), embeddings (`ARRAY` of an atomic type), and
    * `DECIMAL(p,s)` (the reference stored doubles only; a Spark-4 TPC-H
    * schema expects decimals). Key columns stay atomic:
    * [[graft.codec.KeyCodec]] defines ordered encodings for atomic
    * values only. */
  def isStorable(dt: DataType): Boolean = dt match {
    case BinaryType => true
    case _: DecimalType => true
    case ArrayType(e, _) => graft.codec.KeyCodec.supportedTypes.contains(e)
    case other => graft.codec.KeyCodec.supportedTypes.contains(other)
  }

  /** What `ParquetWriteSupport` takes from `SQLConf.get` when it is
    * built: the calendar rebase modes. A region is always written in the
    * proleptic calendar its reader assumes (CORRECTED), whatever the
    * writing session's `*RebaseModeInWrite`. */
  private lazy val writeConf: SQLConf = {
    val c = new SQLConf
    Seq(SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE)
      .foreach(e => c.setConfString(e.key, "CORRECTED"))
    c
  }

  private final class Builder(path: Path)
      extends ParquetWriter.Builder[InternalRow, Builder](path) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport()
  }

  /** Every column and array element optional: NOT NULL is the table's
    * constraint, not part of the region file layout. */
  private def optional(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(nullable = true,
      dataType = f.dataType match {
        case a: ArrayType => a.copy(containsNull = true); case dt => dt })))

  final class RowWriter(file: String, schema: StructType,
      pageRowLimit: Int = 0, bloomCols: Seq[String] = Nil) {
    private val writer: ParquetWriter[InternalRow] = {
      // the file format is the table's, not the writing session's:
      // modern (non-legacy) layout, int64 MICROS timestamps, no field ids
      val conf = ParquetColumnarIO.hadoopConf()
      conf.setBoolean(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, false)
      conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
        SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
      conf.setBoolean(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, false)
      conf.setBoolean(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, false)
      ParquetWriteSupport.setSchema(optional(schema), conf)
      val b = new Builder(new Path(file)).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
      // bounded pages give the column index seek points inside the
      // region (see TableMeta.PageRowLimitProp)
      if (pageRowLimit > 0) b.withPageRowCountLimit(pageRowLimit)
      // per-column bloom filters (TableMeta.BloomColsProp) for point
      // predicates; adaptive sizing, bounded so many regions stay cheap
      if (bloomCols.nonEmpty) {
        b.withAdaptiveBloomFilterEnabled(true)
        b.withMaxBloomFilterBytes(128 * 1024)
        bloomCols.foreach(c => b.withBloomFilterEnabled(c, true))
      }
      SQLConf.withExistingConf(writeConf)(b.build())
    }

    /** Write one Catalyst internal row (dates = days, timestamps = µs). */
    def write(row: InternalRow): Unit = writer.write(row)

    def close(): Unit = writer.close()
  }

  /** Spark's default `spark.sql.parquet.pushdown.inFilterThreshold`: a
    * larger IN pushes as parquet's native `in` predicate, not an OR. */
  private val InThreshold = 10

  /** `ParquetFilters.createFilter` throws on an IN of more than
    * [[InThreshold]] values that are all null (its `in` predicate gets
    * an empty set). Such an IN matches nothing, so a filter holding
    * one is left to Spark, which re-applies every filter anyway. */
  private def hasAllNullIn(f: sources.Filter): Boolean = f match {
    case sources.In(_, vs) => vs.length > InThreshold && vs.forall(_ == null)
    case sources.And(l, r) => hasAllNullIn(l) || hasAllNullIn(r)
    case sources.Or(l, r) => hasAllNullIn(l) || hasAllNullIn(r)
    case sources.Not(c) => hasAllNullIn(c)
    case _ => false
  }

  /** The parquet predicate one region file can evaluate for `filters`:
    * Spark's `ParquetFilters` on the file's footer schema, with Spark's
    * default pushdown settings (session `spark.sql.parquet.*` pushdown
    * keys do not apply; `spark.graft.accel.parquetFilters` is the
    * switch). A conjunct it cannot convert, e.g. on a column absent from
    * an older file (ALTER TABLE ADD COLUMN), is dropped: Spark re-applies
    * every pushed filter above the scan. */
  def fileFilter(filters: Seq[sources.Filter], fileSchema: MessageType,
      caseSensitive: Boolean): Option[FilterPredicate] =
    filters.filterNot(hasAllNullIn).reduceOption(sources.And(_, _))
      .flatMap(new ParquetFilters(fileSchema, true, true, true, true,
        InThreshold, caseSensitive,
        RebaseSpec(LegacyBehaviorPolicy.CORRECTED)).createFilter)

  /** Normalize an external filter value to the column's internal type. */
  private[catalog] def toInternal(dt: DataType, v: Any): Option[Any] =
    (dt, v) match {
      case (_, null) => None
      case (DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay.toInt)
      case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay.toInt)
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
      case (TimestampType, t: java.time.Instant) =>
        Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
      case (StringType, s: String) => Some(s)
      case (BooleanType, b: Boolean) => Some(b)
      case (ByteType, x: Byte) => Some(x)
      case (ShortType, x: Short) => Some(x)
      case (ShortType, x: Byte) => Some(x.toShort)
      case (IntegerType, x: Int) => Some(x)
      case (IntegerType, x: Short) => Some(x.toInt)
      case (IntegerType, x: Byte) => Some(x.toInt)
      case (IntegerType, x: Long) if x.isValidInt => Some(x.toInt)
      case (LongType, x: Long) => Some(x)
      case (LongType, x: Int) => Some(x.toLong)
      case (LongType, x: Short) => Some(x.toLong)
      case (LongType, x: Byte) => Some(x.toLong)
      case (FloatType, x: Float) => Some(x)
      case (DoubleType, x: Double) => Some(x)
      case (DoubleType, x: Float) => Some(x.toDouble)
      case (DoubleType, x: java.math.BigDecimal) => Some(x.doubleValue)
      case _ => None
    }
}
