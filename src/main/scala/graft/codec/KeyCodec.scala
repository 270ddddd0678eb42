package graft.codec

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Order-preserving binary key codec.
  *
  * Re-expresses the reference's row-key encoding capability (Heracles
  * `util/bytesUtils.scala:114-264`, `util/HBaseKVHelper.scala:26-95` in
  * /root/reference): values encode to byte arrays whose unsigned
  * lexicographic order equals the value order, so composite keys can be
  * range-scanned and range-partitioned by raw bytes. The bit tricks are
  * the standard public ones (big-endian with sign-bit flip for integers;
  * sign-magnitude flip for IEEE floats — as used by HBase's Bytes /
  * OrderedBytes and Lucene): not a translation of the reference's code.
  *
  * Composite form: fixed-width fields concatenated in key order;
  * strings are UTF-8 with a 0x00 terminator except in last position
  * (same capability as the reference's delimiter scheme — strings
  * containing NUL are rejected rather than silently mis-decoded).
  */
object KeyCodec {

  /** Types storable as key or value columns (the reference's ten). */
  val supportedTypes: Seq[DataType] = Seq(BooleanType, ByteType, ShortType,
    IntegerType, LongType, FloatType, DoubleType, StringType, DateType,
    TimestampType)

  // ----------------------------------------------------------- scalar encode

  def encode(dt: DataType, v: Any): Array[Byte] = dt match {
    case BooleanType => Array(if (v.asInstanceOf[Boolean]) 1.toByte else 0.toByte)
    case ByteType => Array((v.asInstanceOf[Byte] ^ 0x80).toByte)
    case ShortType => encodeShort(v.asInstanceOf[Short])
    case IntegerType => encodeInt(v.asInstanceOf[Int])
    case DateType => encodeInt(v.asInstanceOf[Int]) // days since epoch
    case LongType => encodeLong(v.asInstanceOf[Long])
    case TimestampType => encodeLong(v.asInstanceOf[Long]) // µs since epoch
    case FloatType => encodeFloat(v.asInstanceOf[Float])
    case DoubleType => encodeDouble(v.asInstanceOf[Double])
    case StringType => encodeString(v.toString)
    case other =>
      throw new IllegalArgumentException(s"Unsupported key type: $other")
  }

  /** Encode the key column at `ordinal` of a Catalyst row (internal
    * values: days for dates, µs for timestamps). The one row-to-key
    * path every region writer uses; reads the value unboxed. */
  def encodeAt(row: InternalRow, ordinal: Int, dt: DataType): Array[Byte] =
    dt match {
      case BooleanType =>
        Array(if (row.getBoolean(ordinal)) 1.toByte else 0.toByte)
      case ByteType => Array((row.getByte(ordinal) ^ 0x80).toByte)
      case ShortType => encodeShort(row.getShort(ordinal))
      case IntegerType | DateType => encodeInt(row.getInt(ordinal))
      case LongType | TimestampType => encodeLong(row.getLong(ordinal))
      case FloatType => encodeFloat(row.getFloat(ordinal))
      case DoubleType => encodeDouble(row.getDouble(ordinal))
      case StringType => encodeString(row.getUTF8String(ordinal).toString)
      case other =>
        throw new IllegalArgumentException(s"Unsupported key type: $other")
    }

  private def encodeFloat(v: Float): Array[Byte] = {
    val bits = java.lang.Float.floatToIntBits(v)
    encodeIntRaw(bits ^ (if (bits < 0) 0xFFFFFFFF else 0x80000000))
  }
  private def encodeDouble(v: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(v)
    encodeLongRaw(bits ^ (if (bits < 0) -1L else Long.MinValue))
  }
  private def encodeString(s: String): Array[Byte] = {
    require(!s.contains('\u0000'),
      "NUL not allowed in string key columns (delimiter)")
    s.getBytes(StandardCharsets.UTF_8)
  }

  def decode(dt: DataType, b: Array[Byte], off: Int, len: Int): Any = dt match {
    case BooleanType => b(off) == 1.toByte
    case ByteType => (b(off) ^ 0x80).toByte
    case ShortType => decodeShort(b, off)
    case IntegerType | DateType => decodeInt(b, off)
    case LongType | TimestampType => decodeLong(b, off)
    case FloatType =>
      val raw = decodeIntRaw(b, off)
      java.lang.Float.intBitsToFloat(
        raw ^ (if (raw >= 0) 0xFFFFFFFF else 0x80000000))
    case DoubleType =>
      val raw = decodeLongRaw(b, off)
      java.lang.Double.longBitsToDouble(
        raw ^ (if (raw >= 0) -1L else Long.MinValue))
    case StringType => new String(b, off, len, StandardCharsets.UTF_8)
    case other =>
      throw new IllegalArgumentException(s"Unsupported key type: $other")
  }

  /** Encoded width of a fixed-width type; -1 for variable (string). */
  def width(dt: DataType): Int = dt match {
    case BooleanType | ByteType => 1
    case ShortType => 2
    case IntegerType | DateType | FloatType => 4
    case LongType | TimestampType | DoubleType => 8
    case StringType => -1
    case other =>
      throw new IllegalArgumentException(s"Unsupported key type: $other")
  }

  private def encodeShort(v: Short): Array[Byte] = {
    val x = v ^ 0x8000
    Array(((x >> 8) & 0xFF).toByte, (x & 0xFF).toByte)
  }
  private def decodeShort(b: Array[Byte], off: Int): Short =
    ((((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)) ^ 0x8000).toShort

  private def encodeInt(v: Int): Array[Byte] = encodeIntRaw(v ^ 0x80000000)
  private def decodeInt(b: Array[Byte], off: Int): Int =
    decodeIntRaw(b, off) ^ 0x80000000

  private def encodeIntRaw(x: Int): Array[Byte] =
    Array((x >>> 24).toByte, ((x >> 16) & 0xFF).toByte,
      ((x >> 8) & 0xFF).toByte, (x & 0xFF).toByte)
  private def decodeIntRaw(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  private def encodeLong(v: Long): Array[Byte] = encodeLongRaw(v ^ Long.MinValue)
  private def decodeLong(b: Array[Byte], off: Int): Long =
    decodeLongRaw(b, off) ^ Long.MinValue

  private def encodeLongRaw(x: Long): Array[Byte] = {
    val out = new Array[Byte](8)
    var i = 0
    while (i < 8) { out(i) = ((x >>> (56 - 8 * i)) & 0xFF).toByte; i += 1 }
    out
  }
  private def decodeLongRaw(b: Array[Byte], off: Int): Long = {
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (b(off + i) & 0xFF); i += 1 }
    x
  }

  // --------------------------------------------------------- composite keys

  /** Encode a composite key: fields in key order, strings NUL-terminated
    * except in last position. */
  def encodeComposite(types: Seq[DataType], values: Seq[Any]): Array[Byte] = {
    require(types.length == values.length)
    val parts = types.zip(values).zipWithIndex.map { case ((dt, v), i) =>
      val enc = encode(dt, v)
      if (dt == StringType && i < types.length - 1) enc :+ 0.toByte else enc
    }
    val out = new Array[Byte](parts.map(_.length).sum)
    var pos = 0
    parts.foreach { p => System.arraycopy(p, 0, out, pos, p.length); pos += p.length }
    out
  }

  /** Decode a composite key back to per-dimension values. */
  def decodeComposite(types: Seq[DataType], b: Array[Byte]): Seq[Any] = {
    var pos = 0
    types.zipWithIndex.map { case (dt, i) =>
      val w = width(dt)
      if (w >= 0) {
        val v = decode(dt, b, pos, w); pos += w; v
      } else if (i == types.length - 1) {
        val v = decode(dt, b, pos, b.length - pos); pos = b.length; v
      } else {
        var end = pos
        while (end < b.length && b(end) != 0) end += 1
        val v = decode(dt, b, pos, end - pos)
        pos = end + 1
        v
      }
    }
  }

  // ------------------------------------------------------------- byte order

  /** Unsigned lexicographic comparison (the storage sort order). */
  def compare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Smallest byte string strictly greater than `b` of the same length
    * family (carry-propagating +1; null if all 0xFF — end of space). */
  def successor(b: Array[Byte]): Array[Byte] = {
    val out = b.clone()
    var i = out.length - 1
    while (i >= 0) {
      if ((out(i) & 0xFF) != 0xFF) {
        out(i) = ((out(i) & 0xFF) + 1).toByte
        return out
      }
      out(i) = 0
      i -= 1
    }
    null
  }

  def toHex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  def fromHex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}
