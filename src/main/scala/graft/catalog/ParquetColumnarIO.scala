package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The one reader of graft region files: every scan, and every
  * maintenance rewrite (split, merge, the DELETE boundary rewrite,
  * ANALYZE, CONVERT's scan), decodes through it, so a file a scan can
  * read, a rewrite can read.
  *
  * The reference's scan decodes HBase `Result`s row-at-a-time
  * (/root/reference `HBaseSQLReaderRDD.createIterator:178-210`); the
  * Spark-native bar is higher — Spark's own parquet source decodes
  * whole column pages into `ColumnarBatch`es that feed whole-stage
  * codegen through a single `ColumnarToRow` boundary. Region files are
  * plain parquet (written by Spark's own `ParquetWriteSupport` through
  * [[ParquetRowIO.RowWriter]], always modern-calendar MICROS
  * timestamps), so we reuse Spark's
  * `VectorizedParquetRecordReader` directly: dictionary-aware decoding,
  * lazy materialization, and Spark's contract for columns absent from
  * an older file (ALTER TABLE ADD COLUMN): null, or the column's
  * EXISTS_DEFAULT. Row-at-a-time consumers iterate `rows()`.
  *
  * Pushed filters become parquet `FilterPredicate`s (Spark's
  * `ParquetFilters`, [[ParquetRowIO.fileFilter]]) for row-group and
  * page (column-index) skipping only — the vectorized reader never
  * filters record-at-a-time, and Spark re-applies every pushed filter
  * above the scan, so skipping stays best-effort and exactness never
  * depends on it.
  *
  * Opening a region costs one open and one footer read: the footer
  * read once builds the file's filter and is handed, with the open
  * stream, to the vectorized reader (the path Spark's own parquet
  * source takes). Every reader and writer takes a copy of one parsed
  * Hadoop `Configuration` ([[hadoopConf]]) instead of re-parsing
  * Hadoop's XML defaults.
  */
object ParquetColumnarIO {

  /** Hadoop's defaults, parsed once per JVM. `new Configuration()`
    * re-parses every registered `*-default.xml` (8–31 ms measured per
    * region open); a copy of a parsed one costs about 0.1 ms. Holds
    * exactly what `new Configuration()` holds, and is never modified:
    * every user mutates its own copy. */
  private[catalog] lazy val baseConf: Configuration = new Configuration()

  /** A private, mutable copy of [[baseConf]]. */
  private[catalog] def hadoopConf(): Configuration =
    new Configuration(baseConf)

  /** Spark's conf key carrying the Catalyst read schema into
    * `ParquetReadSupport` (string literal to avoid compile-time access
    * to the `private[parquet]` constant). */
  private val RowRequestedSchemaKey =
    "org.apache.spark.sql.parquet.row.requested_schema"
  private val ReadSupportClass =
    "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport"

  /** Batch size matching Spark's `spark.sql.parquet.columnarReaderBatchSize`
    * default. */
  private val Capacity = 4096

  final class ColumnarReader(file: String, required: StructType,
      filters: Seq[sources.Filter], sessionZone: String = "UTC",
      caseSensitive: Boolean = false) {

    private[catalog] val conf = hadoopConf()
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, ReadSupportClass)
    conf.set(RowRequestedSchemaKey, required.json)
    // read-time semantics captured from the live session conf on the
    // driver (GraftReaderFactory) so region scans resolve names and
    // zones exactly like plain parquet scans
    conf.set("spark.sql.session.timeZone", sessionZone)
    conf.setBoolean("spark.sql.caseSensitive", caseSensitive)
    // ParquetToSparkSchemaConverter(conf) reads these with no default —
    // every one must be present
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)

    private val path = new Path(file)
    // one open, one footer read; the stream and the footer go on to the
    // vectorized reader, which owns (and closes) the stream from then on
    private val in = HadoopInputFile.fromPath(path, conf)
    private val stream = in.newStream()
    // graft region files are written whole by modern writers: no legacy
    // calendar rebase (CORRECTED = read stored values as-is), no INT96
    private val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, Capacity)
    private var initialized = false
    try {
      val footer = ParquetFileReader.readFooter(in,
        HadoopReadOptions.builder(conf, path).build(), stream)
      // pushed predicate built per file against the columns the file
      // actually has (ALTER-added columns are absent from older
      // regions); set before the reader takes its read options from
      // the conf
      ParquetRowIO.fileFilter(filters, footer.getFileMetaData.getSchema,
        caseSensitive)
        .foreach(p => ParquetInputFormat.setFilterPredicate(conf, p))
      reader.initialize(
        new FileSplit(path, 0, in.getLength, Array.empty[String]),
        new TaskAttemptContextImpl(conf, new TaskAttemptID()),
        Option(in), Option(stream), Option(footer))
      reader.initBatch(new StructType(), InternalRow.empty)
      reader.enableReturningBatches()
      initialized = true
    } finally if (!initialized) {
      reader.close()
      stream.close()
    }

    def nextBatch(): Boolean = reader.nextKeyValue()
    def batch(): ColumnarBatch =
      reader.getCurrentValue.asInstanceOf[ColumnarBatch]
    def close(): Unit = reader.close()

    /** The file's rows in file order, batch by batch. A row is a view
      * into the current batch: it is valid only until the next
      * `hasNext` or `next` call on the iterator; `copy()` keeps it. */
    def rows(): Iterator[InternalRow] = new Iterator[InternalRow] {
      private var it: java.util.Iterator[InternalRow] =
        java.util.Collections.emptyIterator()
      override def hasNext: Boolean = {
        while (!it.hasNext && nextBatch()) it = batch().rowIterator()
        it.hasNext
      }
      override def next(): InternalRow =
        if (hasNext) it.next() else throw new NoSuchElementException
    }
  }
}
