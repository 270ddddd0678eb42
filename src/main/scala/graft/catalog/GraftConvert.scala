package graft.catalog

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.{DataType, StructType}
import graft.codec.KeyCodec
import scala.util.control.NonFatal

/** `CONVERT TO GRAFT` — onboard an existing directory of parquet files
  * as a graft table WITHOUT rewriting the sorted ones (the Delta
  * `CONVERT TO DELTA` capability, re-expressed for the region
  * manifest). This is the day-one migration face a 100-TB lake needs:
  * the dominant cost is one column-pruned distributed pass that reads
  * only the key columns (for bounds + order) and the stat-tracked
  * columns of each file, then key-sorted files HARD-LINK into the
  * table as regions (one syscall, zero bytes) with exact per-dimension
  * encoded bounds and ColStats — the same manifest metadata the native
  * writer collects inline, so every downstream consumer (range
  * pruning, stats skipping, manifest-answered aggregates, split/merge)
  * works on converted regions identically. Files that are NOT sorted
  * on the key tuple are loaded through the normal shuffled, sorted
  * bulk write instead (correctness first: an unsorted region
  * would silently break parquet page skipping and the k-way merge
  * invariants).
  *
  * Null key values refuse the whole convert (graft keys are
  * structurally non-null, like the reference's row keys); a failed
  * convert drops the half-made table, like clone.
  */
object GraftConvert {

  import org.apache.spark.sql.types._

  private def keyTypeOk(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
        LongType | TimestampType | FloatType | DoubleType | StringType =>
      true
    case _ => false
  }

  /** One source file's scan result, computed executor-side: its
    * manifest entry as [[RegionStats]] derives it, under the source
    * path. */
  private final case class FileScan(path: String, sorted: Boolean,
      nullKeys: Boolean, region: RegionMeta) {
    def rows: Long = region.rows
  }

  /** Returns (file, status "linked"|"rewritten", rows) per source
    * file, in file order. */
  def convert(spark: SparkSession, catalogName: String, target: String,
      source: String, keys: Seq[String]): Seq[(String, String, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val base = new org.apache.hadoop.fs.Path(source)
    val fs = base.getFileSystem(conf)
    val files = (if (fs.getFileStatus(base).isDirectory)
        fs.listStatus(base).toSeq else Seq(fs.getFileStatus(base)))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName)
    require(files.nonEmpty, s"no parquet files under $source")

    val schema = spark.read.parquet(source).schema
    keys.foreach { k =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"key column '$k' not found in $source (schema: " +
            s"${schema.fieldNames.mkString(", ")})"))
      require(keyTypeOk(f.dataType),
        s"key column '$k' has unsupported key type ${f.dataType}")
    }

    // requested row layout for the scan: keys first, then the stat-
    // tracked non-key columns — a column-pruned read of each file, whose
    // RegionStats tracks exactly those non-key columns
    val keyFields = keys.map(k =>
      schema.fields.find(_.name.equalsIgnoreCase(k)).get)
    val statFields = ColStats.statFields(schema, keys)
    val requested = StructType(keyFields ++ statFields)
    val reqJson = requested.json
    val nKeys = keys.size

    val parallelism = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    val scans: Seq[FileScan] = spark.sparkContext
      .parallelize(files.map(_.toString), parallelism)
      .map { path =>
        val req = DataType.fromJson(reqJson).asInstanceOf[StructType]
        val keyIdx = (0 until nKeys).toArray
        val keyTypes = keyIdx.map(req.fields(_).dataType)
        val stats = new RegionStats(req, keyIdx)
        var prev: Array[Array[Byte]] = null
        var sorted = true
        val rd = new ParquetColumnarIO.ColumnarReader(path, req, Nil)
        val nullKeys = try {
          val rows = rd.rows()
          var nullKey = false
          while (rows.hasNext && !nullKey) {
            val row = rows.next()
            if (keyIdx.exists(row.isNullAt)) nullKey = true
            else {
              val encs = RegionWriter.encodeKeys(row, keyIdx, keyTypes)
              if (prev != null && sorted) {
                var c = 0
                var cmp = 0
                while (c < nKeys && cmp == 0) {
                  cmp = KeyCodec.compare(prev(c), encs(c)); c += 1
                }
                if (cmp > 0) sorted = false
              }
              prev = encs
              stats.add(row, encs)
            }
          }
          nullKey
        } finally rd.close()
        FileScan(path, sorted, nullKeys, stats.toMeta(path, -1))
      }.collect().toSeq

    val badKeys = scans.filter(_.nullKeys)
    if (badKeys.nonEmpty) throw new IllegalArgumentException(
      s"CONVERT refused: null value in a key column in " +
        s"${badKeys.head.path} (graft keys are non-null)")

    val cat = spark.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[GraftCatalog]
    val i = target.lastIndexOf('.')
    require(i > 0, s"expected '<namespace>.<table>', got '$target'")
    val ident = Identifier.of(Array(target.substring(0, i)),
      target.substring(i + 1))
    val props = new java.util.HashMap[String, String]()
    props.put("keyCols", keys.mkString(";"))
    val tgt = cat.createTable(ident, schema, Array.empty, props)
      .asInstanceOf[GraftTable]
    try {
      val (sortedFiles, unsorted) =
        scans.filter(_.rows > 0).partition(_.sorted)
      // zero-copy adoption of the sorted files, one manifest commit
      val regions = sortedFiles.zipWithIndex.map { case (s, idx) =>
        val srcPath = new org.apache.hadoop.fs.Path(s.path)
        val name = f"convert-$idx%05d-${srcPath.getName}"
        val to = new File(tgt.tableDir, name).toPath
        try java.nio.file.Files.createLink(to,
          new File(srcPath.toUri.getPath).toPath)
        catch { case _: Exception => // cross-device / non-local source
          val in = fs.open(srcPath)
          try java.nio.file.Files.copy(in, to) finally in.close()
        }
        s.region.copy(file = name)
      }
      if (regions.nonEmpty) TableMeta.appendRegions(tgt.tableDir, regions)
      // the stragglers take the normal shuffled, sorted write
      if (unsorted.nonEmpty)
        spark.read.schema(schema).parquet(unsorted.map(_.path): _*)
          .writeTo(s"$catalogName.$target").append()
      scans.map(s => (s.path,
        if (s.rows == 0) "empty"
        else if (s.sorted) "linked" else "rewritten", s.rows))
    } catch { case NonFatal(e) =>
      try cat.dropTable(ident) catch { case _: Exception => () }
      throw e
    }
  }
}
