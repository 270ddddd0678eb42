package graft.catalog

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._
import graft.codec.KeyCodec

/** Fixed region split points on a graft table's first key column.
  *
  * This is the rebuild of the reference's pre-split region model: an
  * HBase table's regions are fixed boundaries and `HBasePartitioner`
  * routes every written row to one of them (/root/reference
  * `HBasePartitioner.scala`, `HBaseRelation.getAllRegionLocations`).
  * Declaring `TBLPROPERTIES('regionSplits'='v1;v2;…')` freezes the
  * boundaries at table-creation time; split N covers keys in
  * `[v(N-1), vN)` (bucket 0 = everything below v1), so the bucket id is
  * a pure function of the first key column.
  *
  * That function is what unlocks exchange-free plans (the reference's
  * dead-code intent in `HBaseStrategies.scala:44-175`): the scan
  * reports `KeyGroupedPartitioning(region_<id>(k1))`, so
  *  - a GROUP BY on the key prefix plans with no Exchange, and
  *  - two tables created with the *same* split list co-join on the key
  *    without shuffling either side (storage-partitioned join); the
  *    split-set hash is part of the function's canonical name, so only
  *    identically-split tables are considered co-partitioned.
  */
final case class RegionSplits(keyType: DataType, points: Array[Array[Byte]])
    extends Serializable {

  /** Deterministic identity of (key type, split values) — part of the
    * V2 function canonical name, so co-partitioning is claimed only
    * between tables with byte-identical boundaries. */
  val id: String = {
    val md = MessageDigest.getInstance("MD5")
    md.update(keyType.catalogString.getBytes("UTF-8"))
    points.foreach { p => md.update(0: Byte); md.update(p) }
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  def functionName: String = s"region_$id"
  def numBuckets: Int = points.length + 1

  /** Bucket of an encoded first-key value: count of split points <= key. */
  def bucketOf(encKey: Array[Byte]): Int = {
    var lo = 0
    var hi = points.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (KeyCodec.compare(points(mid), encKey) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }
}

object RegionSplits {

  /** Parse the `regionSplits` property ("v1;v2;…", literals of the
    * first key column's type) into encoded, strictly ascending split
    * points. */
  def parse(dt: DataType, spec: String): RegionSplits = {
    val parts = spec.split(";", -1).map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty, "regionSplits must list at least one value")
    val encoded = parts.map(s => KeyCodec.encode(dt, literal(dt, s)))
    encoded.sliding(2).foreach {
      case Array(a, b) => require(KeyCodec.compare(a, b) < 0,
        s"regionSplits values must be strictly ascending, got $spec")
      case _ =>
    }
    RegionSplits(dt, encoded)
  }

  /** One split literal → the codec-space value for `dt`. */
  private def literal(dt: DataType, s: String): Any = dt match {
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType => s.toLong
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case StringType => s
    case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
    case TimestampType =>
      // Timezone-independent parse: split boundaries must hash identically
      // on every JVM regardless of its default zone (the codec stores UTC
      // epoch micros), so never go through java.sql.Timestamp.valueOf.
      val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      val inst = ldt.toInstant(java.time.ZoneOffset.UTC)
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
    case other => throw new IllegalArgumentException(
      s"regionSplits unsupported for first-key type ${other.simpleString}")
  }
}

/** V2 catalog function face of [[RegionSplits]] — resolvable through
  * [[GraftCatalog]] (a `FunctionCatalog`) so Spark's
  * `V2ScanPartitioningAndOrdering` can translate the scan-reported
  * transform into a Catalyst `TransformExpression`, and the write's
  * clustered distribution ([[GraftWriteOrdering]]) into the expression
  * its shuffle routes rows by. */
final class GraftRegionFunction(splits: RegionSplits) extends UnboundFunction {
  override def name(): String = splits.functionName
  override def description(): String =
    s"graft region bucket over ${splits.numBuckets} fixed key ranges"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 &&
      inputType.fields.head.dataType == splits.keyType,
      s"region function expects one ${splits.keyType.simpleString} argument")
    new GraftRegionBound(splits)
  }
}

final class GraftRegionBound(splits: RegionSplits)
    extends ScalarFunction[Integer] with Serializable {
  override def inputTypes(): Array[DataType] = Array(splits.keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = splits.functionName
  override def canonicalName(): String = s"graft.${splits.functionName}"
  override def isResultNullable: Boolean = false
  /** Runs in the write's shuffle map, before the region writer sees the
    * row: a null key goes to bucket 0 so that the writer, not this
    * function, refuses it (`null value in key column`) and nothing is
    * committed. The key is encoded exactly as the writer encodes it. */
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(0)) 0
    else splits.bucketOf(KeyCodec.encodeAt(input, 0, splits.keyType))
}
