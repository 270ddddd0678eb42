package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** Parquet IO for the graft catalog's region files, over the
  * reference's ten storable types (SURVEY §1.2): the Catalyst-to-parquet
  * schema mapping, the row writer every region file goes through (the
  * public parquet-mr Group API), and the conversion of pushed filters
  * to parquet `FilterPredicate`s — the storage-side face of the
  * reference's FilterList pushdown, evaluated against row-group and
  * page statistics. Region files are read by
  * [[ParquetColumnarIO.ColumnarReader]].
  */
object ParquetRowIO {

  // -------------------------------------------------- schema conversion

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

  /** Bytes of the FIXED_LEN_BYTE_ARRAY that holds an unscaled decimal
    * of the given precision (same table Spark's writer uses). */
  def decimalFixedLen(precision: Int): Int =
    (math.ceil((math.log(math.pow(10, precision) - 1) /
      math.log(2) + 1) / 8)).toInt max 1

  private def atomicType(dt: DataType, name: String)
      : org.apache.parquet.schema.Type = dt match {
    case BooleanType => Types.optional(BOOLEAN).named(name)
    case ByteType => Types.optional(INT32)
      .as(LogicalTypeAnnotation.intType(8, true)).named(name)
    case ShortType => Types.optional(INT32)
      .as(LogicalTypeAnnotation.intType(16, true)).named(name)
    case IntegerType => Types.optional(INT32).named(name)
    case LongType => Types.optional(INT64).named(name)
    case FloatType => Types.optional(FLOAT).named(name)
    case DoubleType => Types.optional(DOUBLE).named(name)
    case StringType => Types.optional(BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(name)
    case DateType => Types.optional(INT32)
      .as(LogicalTypeAnnotation.dateType()).named(name)
    case TimestampType => Types.optional(INT64)
      .as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
    // same physical layout split as Spark's parquet writer: int32 /
    // int64 for precisions they can hold, fixed-len binary above —
    // all three decoded natively by the vectorized reader
    case dt: DecimalType if dt.precision <= 9 => Types.optional(INT32)
      .as(LogicalTypeAnnotation.decimalType(dt.scale, dt.precision))
      .named(name)
    case dt: DecimalType if dt.precision <= 18 => Types.optional(INT64)
      .as(LogicalTypeAnnotation.decimalType(dt.scale, dt.precision))
      .named(name)
    case dt: DecimalType => Types
      .optional(org.apache.parquet.schema.PrimitiveType
        .PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
      .length(decimalFixedLen(dt.precision))
      .as(LogicalTypeAnnotation.decimalType(dt.scale, dt.precision))
      .named(name)
    case other => throw new IllegalArgumentException(
      s"graft tables cannot store type $other in column $name")
  }

  def toParquetSchema(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case BinaryType => Types.optional(BINARY).named(f.name)
        // standard 3-level LIST layout — what Spark's own parquet
        // writer emits, so the vectorized reader decodes it natively
        case ArrayType(et, _) => Types.optionalList()
          .setElementType(atomicType(et, "element")).named(f.name)
        case other => atomicType(other, f.name)
      }
      b.addField(t)
    }
    b.named("graft_schema")
  }

  // ------------------------------------------------------------- writer

  final class RowWriter(file: String, schema: StructType,
      pageRowLimit: Int = 0, bloomCols: Seq[String] = Nil) {
    private val conf = ParquetColumnarIO.hadoopConf()
    private val messageType = toParquetSchema(schema)
    GroupWriteSupport.setSchema(messageType, conf)
    private val factory = new SimpleGroupFactory(messageType)
    private val writer: ParquetWriter[Group] = {
      val b = ExampleParquetWriter.builder(new Path(file))
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
      // bounded pages give the column index seek points inside the
      // region (see TableMeta.PageRowLimitProp)
      if (pageRowLimit > 0) b.withPageRowCountLimit(pageRowLimit)
      // per-column bloom filters (TableMeta.BloomColsProp): row-group
      // point-predicate skipping for scattered high-cardinality
      // columns; adaptive sizing, bounded so manifest-scale region
      // counts stay cheap
      if (bloomCols.nonEmpty) {
        b.withAdaptiveBloomFilterEnabled(true)
        b.withMaxBloomFilterBytes(128 * 1024)
        bloomCols.foreach(c => b.withBloomFilterEnabled(c, true))
      }
      b.build()
    }
    private val types = schema.fields.map(_.dataType)
    // per-column fixed-len-binary width for precision>18 decimals,
    // hoisted out of the per-row loop (0 = not a wide decimal column)
    private val decLens: Array[Int] = types.map {
      case dt: DecimalType if dt.precision > 18 =>
        decimalFixedLen(dt.precision)
      case _ => 0
    }

    /** A fresh copy of the string's bytes. Parquet keeps written values
      * (dictionary, statistics), and a row may be a view into a
      * reader's reused buffer, whose `getBytes` can return that buffer
      * itself. For an `UnsafeRow` this is the copy `getBytes` makes. */
    private def ownBytes(s: org.apache.spark.unsafe.types.UTF8String)
        : Array[Byte] = {
      val out = new Array[Byte](s.numBytes)
      s.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
      out
    }

    /** Write one Catalyst internal row (dates = days, timestamps = µs). */
    def write(row: InternalRow): Unit = {
      val g = factory.newGroup()
      var i = 0
      while (i < types.length) {
        if (!row.isNullAt(i)) types(i) match {
          case BooleanType => g.add(i, row.getBoolean(i))
          case ByteType => g.add(i, row.getByte(i).toInt)
          case ShortType => g.add(i, row.getShort(i).toInt)
          case IntegerType | DateType => g.add(i, row.getInt(i))
          case LongType | TimestampType => g.add(i, row.getLong(i))
          case FloatType => g.add(i, row.getFloat(i))
          case DoubleType => g.add(i, row.getDouble(i))
          case StringType =>
            g.add(i, Binary.fromConstantByteArray(ownBytes(row.getUTF8String(i))))
          case BinaryType =>
            g.add(i, Binary.fromConstantByteArray(row.getBinary(i)))
          case dt: DecimalType =>
            val dec = row.getDecimal(i, dt.precision, dt.scale)
            if (dt.precision <= 9) g.add(i, dec.toUnscaledLong.toInt)
            else if (dt.precision <= 18) g.add(i, dec.toUnscaledLong)
            else {
              // two's-complement unscaled value, sign-extended to the
              // fixed length the schema declares
              val unscaled = dec.toJavaBigDecimal.unscaledValue.toByteArray
              val len = decLens(i)
              val out = new Array[Byte](len)
              if (unscaled(0) < 0) java.util.Arrays.fill(out, 0xFF.toByte)
              System.arraycopy(unscaled, 0, out, len - unscaled.length,
                unscaled.length)
              g.add(i, Binary.fromConstantByteArray(out))
            }
          case ArrayType(et, _) =>
            val arr = row.getArray(i)
            val lg = g.addGroup(i) // empty group = empty (non-null) list
            var j = 0
            while (j < arr.numElements()) {
              val eg = lg.addGroup(0) // repeated "list" entry
              if (!arr.isNullAt(j)) et match {
                case BooleanType => eg.add(0, arr.getBoolean(j))
                case ByteType => eg.add(0, arr.getByte(j).toInt)
                case ShortType => eg.add(0, arr.getShort(j).toInt)
                case IntegerType | DateType => eg.add(0, arr.getInt(j))
                case LongType | TimestampType => eg.add(0, arr.getLong(j))
                case FloatType => eg.add(0, arr.getFloat(j))
                case DoubleType => eg.add(0, arr.getDouble(j))
                case StringType => eg.add(0,
                  Binary.fromConstantByteArray(ownBytes(arr.getUTF8String(j))))
                case other => throw new IllegalStateException(other.toString)
              }
              j += 1
            }
          case other => throw new IllegalStateException(other.toString)
        }
        i += 1
      }
      writer.write(g)
    }

    def close(): Unit = writer.close()
  }

  // ----------------------------------- V1 Filter -> parquet FilterPredicate

  /** Best-effort conversion of Spark source filters to parquet
    * predicates for row-group/page skipping (the storage-side face of
    * the reference's FilterList pushdown). Unconvertible subtrees are
    * dropped where sound (under AND) or abandon the branch (under OR);
    * Spark re-applies every filter above the scan, so this only has to
    * be conservative, never exact. */
  def toParquetFilter(filters: Seq[sources.Filter], schema: StructType)
      : Option[FilterPredicate] = {
    val converted = filters.flatMap(f => convert(f, schema))
    converted.reduceOption(FilterApi.and)
  }

  /** Per-file variant: build the pushed predicate only over the columns
    * the file actually has. parquet-mr REJECTS predicates naming columns
    * missing from the file schema (SchemaCompatibilityValidator), and a
    * column added by ALTER TABLE is absent from pre-ALTER region files —
    * dropping those atoms is sound because Spark re-applies every pushed
    * filter above the scan. */
  def toFileFilter(filters: Seq[sources.Filter], requested: StructType,
      fileSchema: MessageType): Option[FilterPredicate] =
    toParquetFilter(filters,
      StructType(requested.fields.filter(f =>
        fileSchema.containsField(f.name))))

  private def convert(f: sources.Filter, schema: StructType)
      : Option[FilterPredicate] = f match {
    case sources.And(l, r) =>
      (convert(l, schema), convert(r, schema)) match {
        case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
        case (a, b) => a.orElse(b) // AND: either side alone is sound
      }
    case sources.Or(l, r) =>
      for (a <- convert(l, schema); b <- convert(r, schema))
        yield FilterApi.or(a, b)
    case sources.EqualTo(a, v) => cmp(a, v, schema, Cmp.Eq)
    case sources.GreaterThan(a, v) => cmp(a, v, schema, Cmp.Gt)
    case sources.GreaterThanOrEqual(a, v) => cmp(a, v, schema, Cmp.GtEq)
    case sources.LessThan(a, v) => cmp(a, v, schema, Cmp.Lt)
    case sources.LessThanOrEqual(a, v) => cmp(a, v, schema, Cmp.LtEq)
    case sources.In(a, vs) if vs.nonEmpty && vs.length <= 20 =>
      val opts = vs.toSeq.map(v => cmp(a, v, schema, Cmp.Eq))
      if (opts.forall(_.isDefined)) opts.flatten.reduceOption(FilterApi.or)
      else None
    case sources.In(a, vs) if vs.length > 20 =>
      // large IN sets (runtime DPP key sets, secondary-index probes): an
      // OR-chain would bloat the predicate tree, but the [min, max]
      // envelope is a sound superset and still drives row-group + page
      // skipping on the sorted key column. Nulls never match IN, so
      // dropping them from the envelope is sound too.
      val cs = vs.filter(_ != null)
      val comparable = cs.nonEmpty && cs.forall(v =>
        v.isInstanceOf[Comparable[_]] && v.getClass == cs.head.getClass)
      if (!comparable) None
      else {
        val sorted = cs.sortWith((x, y) =>
          x.asInstanceOf[Comparable[Any]].compareTo(y) < 0)
        for (lo <- cmp(a, sorted.head, schema, Cmp.GtEq);
             hi <- cmp(a, sorted.last, schema, Cmp.LtEq))
          yield FilterApi.and(lo, hi)
      }
    case _ => None
  }

  private object Cmp extends Enumeration { val Eq, Gt, GtEq, Lt, LtEq = Value }

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

  /** Decimal predicates push as unscaled int32/int64 compares (the
    * physical layout for precision ≤ 18). FLBA decimals (p > 18) are
    * not pushed: parquet's binary comparator orders the two's-complement
    * bytes unsigned-lexicographically, which breaks on negatives. A
    * literal that cannot be represented at the column's scale exactly
    * is not pushed either (sound: Spark re-applies the filter). */
  private def decimalCmp(name: String, dt: DecimalType, value: Any,
      op: Cmp.Value): Option[FilterPredicate] = {
    if (dt.precision > 18) return None
    val bd = value match {
      case x: java.math.BigDecimal => x
      case x: BigDecimal => x.bigDecimal
      case _ => return None
    }
    val scaled =
      try bd.setScale(dt.scale)
      catch { case _: ArithmeticException => return None }
    val unscaled = scaled.unscaledValue
    // an out-of-range literal (wider than the column's physical type)
    // is not pushed — e.g. `d9 < 1e12` compares fine in Spark but has
    // no int32 representation
    if (unscaled.bitLength > (if (dt.precision <= 9) 31 else 62))
      return None
    if (dt.precision <= 9) {
      val c = FilterApi.intColumn(name)
      val i = Int.box(unscaled.intValueExact)
      Some(op match {
        case Cmp.Eq => FilterApi.eq(c, i); case Cmp.Gt => FilterApi.gt(c, i)
        case Cmp.GtEq => FilterApi.gtEq(c, i); case Cmp.Lt => FilterApi.lt(c, i)
        case Cmp.LtEq => FilterApi.ltEq(c, i)
      })
    } else {
      val c = FilterApi.longColumn(name)
      val l = Long.box(unscaled.longValueExact)
      Some(op match {
        case Cmp.Eq => FilterApi.eq(c, l); case Cmp.Gt => FilterApi.gt(c, l)
        case Cmp.GtEq => FilterApi.gtEq(c, l); case Cmp.Lt => FilterApi.lt(c, l)
        case Cmp.LtEq => FilterApi.ltEq(c, l)
      })
    }
  }

  private def cmp(attr: String, value: Any, schema: StructType,
      op: Cmp.Value): Option[FilterPredicate] = {
    val field = schema.fields.find(_.name.equalsIgnoreCase(attr))
      .getOrElse(return None)
    field.dataType match {
      case dt: DecimalType => return decimalCmp(field.name, dt, value, op)
      case _ =>
    }
    toInternal(field.dataType, value).flatMap { v =>
      field.dataType match {
        case ByteType | ShortType | IntegerType | DateType =>
          val c = FilterApi.intColumn(field.name)
          val i = v match {
            case x: Byte => Int.box(x.toInt); case x: Short => Int.box(x.toInt)
            case x: Int => Int.box(x)
          }
          Some(op match {
            case Cmp.Eq => FilterApi.eq(c, i); case Cmp.Gt => FilterApi.gt(c, i)
            case Cmp.GtEq => FilterApi.gtEq(c, i); case Cmp.Lt => FilterApi.lt(c, i)
            case Cmp.LtEq => FilterApi.ltEq(c, i)
          })
        case LongType | TimestampType =>
          val c = FilterApi.longColumn(field.name)
          val l = Long.box(v.asInstanceOf[Long])
          Some(op match {
            case Cmp.Eq => FilterApi.eq(c, l); case Cmp.Gt => FilterApi.gt(c, l)
            case Cmp.GtEq => FilterApi.gtEq(c, l); case Cmp.Lt => FilterApi.lt(c, l)
            case Cmp.LtEq => FilterApi.ltEq(c, l)
          })
        case FloatType =>
          val c = FilterApi.floatColumn(field.name)
          val x = Float.box(v.asInstanceOf[Float])
          Some(op match {
            case Cmp.Eq => FilterApi.eq(c, x); case Cmp.Gt => FilterApi.gt(c, x)
            case Cmp.GtEq => FilterApi.gtEq(c, x); case Cmp.Lt => FilterApi.lt(c, x)
            case Cmp.LtEq => FilterApi.ltEq(c, x)
          })
        case DoubleType =>
          val c = FilterApi.doubleColumn(field.name)
          val x = Double.box(v.asInstanceOf[Double])
          Some(op match {
            case Cmp.Eq => FilterApi.eq(c, x); case Cmp.Gt => FilterApi.gt(c, x)
            case Cmp.GtEq => FilterApi.gtEq(c, x); case Cmp.Lt => FilterApi.lt(c, x)
            case Cmp.LtEq => FilterApi.ltEq(c, x)
          })
        case StringType =>
          val c = FilterApi.binaryColumn(field.name)
          val b = Binary.fromString(v.asInstanceOf[String])
          Some(op match {
            case Cmp.Eq => FilterApi.eq(c, b); case Cmp.Gt => FilterApi.gt(c, b)
            case Cmp.GtEq => FilterApi.gtEq(c, b); case Cmp.Lt => FilterApi.lt(c, b)
            case Cmp.LtEq => FilterApi.ltEq(c, b)
          })
        case BooleanType if op == Cmp.Eq =>
          Some(FilterApi.eq(FilterApi.booleanColumn(field.name),
            Boolean.box(v.asInstanceOf[Boolean])))
        case _ => None
      }
    }
  }
}
