package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.codec.KeyCodec

/** Per-region min/max/null-count statistics for NON-KEY columns.
  *
  * Key columns already prune regions through the manifest's per-dimension
  * encoded min/max ([[GraftFilters]] / [[graft.prune.KeyRanges]] — the
  * reference's critical-point pruning, `HBaseCriticalPoint.scala`). But a
  * predicate on a non-key column schedules a task for every region and
  * relies on parquet row-group stats inside each file to skip IO. At
  * 100 TB that is still one scheduled task per region; the win of
  * manifest-level stats is that the DRIVER skips whole regions before any
  * task exists — the same idea as Iceberg/Delta per-file column stats,
  * one level above parquet's own row-group stats.
  *
  * Stats are collected for free during the sorted region write (the
  * writer already walks every row for key encoding) and ride the same
  * manifest entries as key min/max. Values are stored as hex of the
  * order-preserving [[KeyCodec]] encoding, so one unsigned-byte
  * comparator covers all ten atomic types; long string bounds are
  * truncated (min → 64-byte prefix, a valid lower bound; max →
  * successor of the 64-byte prefix, a valid upper bound) so a huge text
  * column cannot bloat the manifest.
  *
  * Soundness contract (same as key pruning): a region is skipped only
  * when its stats PROVE no row can satisfy the predicate; anything
  * unknown — absent stats (pre-upgrade manifests, ALTER-added columns),
  * unencodable literals, unrecognized filter nodes — widens to "may
  * match". Because non-key columns are nullable, the 3-valued cases
  * differ from the key path: a filter only passes rows where it
  * evaluates TRUE, so value predicates ignore nulls (min/max cover
  * non-null values only) and IS NULL / IS NOT NULL consult the null
  * count.
  */
final case class ColStat(min: Option[String], max: Option[String],
    nulls: Long) {
  /** min/max are None iff the region has no non-null value in the column. */
  def hasValues: Boolean = min.isDefined
}

object ColStats {

  /** String stat bounds are truncated to this many UTF-8 bytes. */
  val MaxStringStatBytes = 64

  /** Types whose stats we can track and compare in encoded-byte order:
    * the ten atomic types plus DECIMAL(p≤18), whose unscaled long at
    * the column's fixed scale orders exactly like the value (the same
    * representation the parquet predicate pushdown compares). FLBA
    * decimals (p>18) and ARRAY/BINARY columns are untracked — unknown,
    * never pruned. */
  def trackable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
        LongType | TimestampType | FloatType | DoubleType | StringType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  // ------------------------------------------------------------ write side

  /** Running min/max/null-count of one column within one region file.
    * One virtual call per non-null value; string bounds are cloned only
    * when adopted (the row's UTF8String buffer is reused by Spark). */
  sealed abstract class Tracker(val name: String) {
    var nulls = 0L
    def observe(row: InternalRow, i: Int): Unit
    def stat: ColStat
  }

  def tracker(field: StructField): Tracker = field.dataType match {
    case StringType => new StringTracker(field.name)
    case FloatType | DoubleType => new FpTracker(field.name, field.dataType)
    case d: DecimalType => new DecimalTracker(field.name, d)
    case dt => new IntegralTracker(field.name, dt)
  }

  /** Boolean/byte/short/int/date/long/timestamp — all order-embed into
    * Long exactly. */
  private final class IntegralTracker(name: String, dt: DataType)
      extends Tracker(name) {
    private var has = false
    private var mn = 0L
    private var mx = 0L
    private def value(row: InternalRow, i: Int): Long = dt match {
      case BooleanType => if (row.getBoolean(i)) 1L else 0L
      case ByteType => row.getByte(i).toLong
      case ShortType => row.getShort(i).toLong
      case IntegerType | DateType => row.getInt(i).toLong
      case _ => row.getLong(i) // LongType | TimestampType
    }
    override def observe(row: InternalRow, i: Int): Unit = {
      val v = value(row, i)
      if (!has) { has = true; mn = v; mx = v }
      else { if (v < mn) mn = v; if (v > mx) mx = v }
    }
    private def enc(v: Long): String = KeyCodec.toHex(dt match {
      case BooleanType => KeyCodec.encode(dt, v == 1L)
      case ByteType => KeyCodec.encode(dt, v.toByte)
      case ShortType => KeyCodec.encode(dt, v.toShort)
      case IntegerType | DateType => KeyCodec.encode(dt, v.toInt)
      case _ => KeyCodec.encode(dt, v)
    })
    override def stat: ColStat =
      if (!has) ColStat(None, None, nulls)
      else ColStat(Some(enc(mn)), Some(enc(mx)), nulls)
  }

  /** Float/double, ordered like the encoded bytes (NaN above +Inf,
    * -0.0 below 0.0 — java.lang.Double.compare order). Zero bounds are
    * widened to cover both signed zeros at commit, since SQL comparison
    * treats -0.0 = 0.0 (the standard parquet-writer precaution). */
  private final class FpTracker(name: String, dt: DataType)
      extends Tracker(name) {
    private var has = false
    private var mn = 0.0
    private var mx = 0.0
    override def observe(row: InternalRow, i: Int): Unit = {
      val v =
        if (dt == FloatType) row.getFloat(i).toDouble else row.getDouble(i)
      if (!has) { has = true; mn = v; mx = v }
      else {
        if (java.lang.Double.compare(v, mn) < 0) mn = v
        if (java.lang.Double.compare(v, mx) > 0) mx = v
      }
    }
    private def enc(v: Double): String = KeyCodec.toHex(
      if (dt == FloatType) KeyCodec.encode(dt, v.toFloat)
      else KeyCodec.encode(dt, v))
    override def stat: ColStat =
      if (!has) ColStat(None, None, nulls)
      else ColStat(Some(enc(if (mn == 0.0) -0.0 else mn)),
        Some(enc(if (mx == 0.0) 0.0 else mx)), nulls)
  }

  /** DECIMAL(p≤18): min/max of the unscaled long, encoded like a LONG
    * stat — value order at the column's fixed scale. */
  private final class DecimalTracker(name: String, dt: DecimalType)
      extends Tracker(name) {
    private var has = false
    private var mn = 0L
    private var mx = 0L
    override def observe(row: InternalRow, i: Int): Unit = {
      val v = row.getDecimal(i, dt.precision, dt.scale).toUnscaledLong
      if (!has) { has = true; mn = v; mx = v }
      else { if (v < mn) mn = v; if (v > mx) mx = v }
    }
    private def enc(v: Long): String =
      KeyCodec.toHex(KeyCodec.encode(LongType, v))
    override def stat: ColStat =
      if (!has) ColStat(None, None, nulls)
      else ColStat(Some(enc(mn)), Some(enc(mx)), nulls)
  }

  private final class StringTracker(name: String) extends Tracker(name) {
    private var mn: UTF8String = _
    private var mx: UTF8String = _
    override def observe(row: InternalRow, i: Int): Unit = {
      val v = row.getUTF8String(i)
      if (mn == null) { mn = v.clone(); mx = mn }
      else if (v.compareTo(mn) < 0) mn = v.clone()
      else if (v.compareTo(mx) > 0) mx = v.clone()
    }
    override def stat: ColStat = {
      if (mn == null) return ColStat(None, None, nulls)
      val lo = mn.getBytes
      val hi = mx.getBytes
      // a prefix is a valid lower bound; successor(prefix) a valid upper
      // bound (if the prefix is all 0xFF the full value stays — rare)
      val loT = if (lo.length > MaxStringStatBytes)
        lo.take(MaxStringStatBytes) else lo
      val hiT = if (hi.length > MaxStringStatBytes) {
        val s = KeyCodec.successor(hi.take(MaxStringStatBytes))
        if (s == null) hi else s
      } else hi
      ColStat(Some(KeyCodec.toHex(loT)), Some(KeyCodec.toHex(hiT)), nulls)
    }
  }

  // ------------------------------------------------------------ prune side

  /** The stats half of region pruning: [[Compiled.survives]] keeps a
    * region iff every pushed conjunct may have a satisfying row, judging
    * by its column stats. `types` maps lowercase non-key column names to
    * their types; `stats` keys are lowercase (normalized at manifest
    * load). Compile once per scan: literal encodings are memoized across
    * regions, so evaluating thousands of regions against a runtime `In`
    * set of thousands of join keys encodes each literal once, not per
    * region. */
  def compile(filters: Seq[sources.Filter],
      types: Map[String, DataType]): Compiled =
    new Compiled(filters, types)

  final class Compiled(filters: Seq[sources.Filter],
      types: Map[String, DataType]) {
    private val memo =
      new java.util.HashMap[(DataType, Any), Option[Array[Byte]]]()
    private def encF(dt: DataType, v: Any): Option[Array[Byte]] =
      memo.computeIfAbsent((dt, v), _ => ColStats.enc(dt, v))
    def survives(stats: Map[String, ColStat]): Boolean =
      // stat keys are lowercase from manifest load (TableMeta) — no
      // per-region map rebuild on manifest-scale region counts
      stats.isEmpty || filters.forall(mayMatch(_, stats))

    private def stat(st: Map[String, ColStat], c: String)
        : Option[(ColStat, DataType)] = {
      val lc = c.toLowerCase
      for (s <- st.get(lc); dt <- types.get(lc)) yield (s, dt)
    }
    private def bounds(st: Map[String, ColStat], c: String)
        : Option[(Array[Byte], Array[Byte], DataType)] =
      stat(st, c).flatMap { case (s, dt) =>
        for (mn <- s.min; mx <- s.max)
          yield (KeyCodec.fromHex(mn), KeyCodec.fromHex(mx), dt)
      }
    // no non-null value: a value predicate is never TRUE (nor FALSE)
    private def noValues(st: Map[String, ColStat], c: String): Boolean =
      stat(st, c).exists { case (s, _) => !s.hasValues }
    private def hasNull(st: Map[String, ColStat], c: String): Boolean =
      stat(st, c).forall { case (s, _) => s.nulls > 0 }
    private def hasNonNull(st: Map[String, ColStat], c: String): Boolean =
      stat(st, c).forall { case (s, _) => s.hasValues }
    /** ∃ non-null value in [min, max] related by `may` to the encoded
      * literal `v`? Unknown → true. */
    private def witness(st: Map[String, ColStat], c: String, v: Any)(
        may: (Array[Byte], Array[Byte], Array[Byte]) => Boolean): Boolean =
      if (noValues(st, c)) false
      else bounds(st, c) match {
        case Some((mn, mx, dt)) => encF(dt, v).forall(b => may(mn, mx, b))
        case None => true
      }
    /** ∃ non-null value in [min, max] among `vs` (`neg`: outside `vs`)? */
    private def inSet(st: Map[String, ColStat], c: String, vs: Array[Any],
        neg: Boolean): Boolean =
      if (noValues(st, c)) false
      else bounds(st, c) match {
        // ∃ non-null ∉ vs: disprovable only when bounds pin ONE value
        // that is proven present in vs
        case Some((mn, mx, dt)) if neg =>
          !(KeyCodec.compare(mn, mx) == 0 && vs.exists(v =>
            encF(dt, v).exists(KeyCodec.compare(_, mn) == 0)))
        case Some((mn, mx, dt)) => vs.exists(v => encF(dt, v).forall(b =>
          KeyCodec.compare(mn, b) <= 0 && KeyCodec.compare(mx, b) >= 0))
        case None => true
      }
    /** ∃ non-null value in [min, max] starting with `p` (`neg`: not)? */
    private def prefix(st: Map[String, ColStat], c: String, p: String,
        neg: Boolean): Boolean =
      if (noValues(st, c)) false
      else bounds(st, c) match {
        case Some((mn, mx, StringType)) =>
          val lo = p.getBytes(StandardCharsets.UTF_8)
          val hi = KeyCodec.successor(lo)
          if (neg) // ∃ non-null outside [p, successor(p))
            KeyCodec.compare(mn, lo) < 0 ||
              (hi != null && KeyCodec.compare(mx, hi) >= 0)
          else KeyCodec.compare(mx, lo) >= 0 &&
            (hi == null || KeyCodec.compare(mn, hi) < 0)
        case _ => true
      }

    /** May any row of the region satisfy f? Unknown → true (sound). */
    private def mayMatch(f: sources.Filter, st: Map[String, ColStat])
        : Boolean = f match {
      case sources.And(l, r) => mayMatch(l, st) && mayMatch(r, st)
      case sources.Or(l, r) => mayMatch(l, st) || mayMatch(r, st)
      case sources.Not(g) => negMayMatch(g, st)
      case sources.EqualTo(c, v) => witness(st, c, v)((mn, mx, b) =>
        KeyCodec.compare(mn, b) <= 0 && KeyCodec.compare(mx, b) >= 0)
      case sources.EqualNullSafe(c, null) => hasNull(st, c)
      case sources.EqualNullSafe(c, v) => witness(st, c, v)((mn, mx, b) =>
        KeyCodec.compare(mn, b) <= 0 && KeyCodec.compare(mx, b) >= 0)
      case sources.GreaterThan(c, v) =>
        witness(st, c, v)((_, mx, b) => KeyCodec.compare(mx, b) > 0)
      case sources.GreaterThanOrEqual(c, v) =>
        witness(st, c, v)((_, mx, b) => KeyCodec.compare(mx, b) >= 0)
      case sources.LessThan(c, v) =>
        witness(st, c, v)((mn, _, b) => KeyCodec.compare(mn, b) < 0)
      case sources.LessThanOrEqual(c, v) =>
        witness(st, c, v)((mn, _, b) => KeyCodec.compare(mn, b) <= 0)
      case sources.In(c, vs) => inSet(st, c, vs, neg = false)
      case sources.IsNull(c) => hasNull(st, c)
      case sources.IsNotNull(c) => hasNonNull(st, c)
      case sources.StringStartsWith(c, p) => prefix(st, c, p, neg = false)
      case _ => true
    }

    /** May any row make g strictly FALSE (not null)? `Not(g)` only passes
      * rows where g is FALSE — a null input gives NULL, which a filter
      * rejects — so value cases require a non-null witness. Unknown →
      * true (sound). */
    private def negMayMatch(g: sources.Filter, st: Map[String, ColStat])
        : Boolean = g match {
      case sources.Not(h) => mayMatch(h, st)
      case sources.And(l, r) => // ¬(l∧r) = ¬l ∨ ¬r
        negMayMatch(l, st) || negMayMatch(r, st)
      case sources.Or(l, r) => // ¬(l∨r) = ¬l ∧ ¬r
        negMayMatch(l, st) && negMayMatch(r, st)
      // ∃ non-null ≠ v: only disprovable when bounds are exact and
      // pinned to v (truncated string bounds can never pin — min is a
      // prefix, max a successor, so they differ and we stay sound)
      case sources.EqualTo(c, v) => witness(st, c, v)((mn, mx, b) =>
        !(KeyCodec.compare(mn, mx) == 0 && KeyCodec.compare(mn, b) == 0))
      // ¬(c <=> NULL) ≡ c IS NOT NULL (null-safe is 2-valued)
      case sources.EqualNullSafe(c, null) => hasNonNull(st, c)
      // ¬(c <=> v) is TRUE for nulls too
      case sources.EqualNullSafe(c, v) =>
        hasNull(st, c) || witness(st, c, v)((mn, mx, b) =>
          !(KeyCodec.compare(mn, mx) == 0 && KeyCodec.compare(mn, b) == 0))
      case sources.GreaterThan(c, v) => // ∃ c ≤ v
        witness(st, c, v)((mn, _, b) => KeyCodec.compare(mn, b) <= 0)
      case sources.GreaterThanOrEqual(c, v) => // ∃ c < v
        witness(st, c, v)((mn, _, b) => KeyCodec.compare(mn, b) < 0)
      case sources.LessThan(c, v) => // ∃ c ≥ v
        witness(st, c, v)((_, mx, b) => KeyCodec.compare(mx, b) >= 0)
      case sources.LessThanOrEqual(c, v) => // ∃ c > v
        witness(st, c, v)((_, mx, b) => KeyCodec.compare(mx, b) > 0)
      case sources.In(c, vs) => inSet(st, c, vs, neg = true)
      case sources.IsNull(c) => hasNonNull(st, c)
      case sources.IsNotNull(c) => hasNull(st, c)
      case sources.StringStartsWith(c, p) => prefix(st, c, p, neg = true)
      case _ => true
    }
  }

  /** A stored bound (hex) back as a Catalyst value, the inverse of the
    * trackers' encoding: decimal stats carry the unscaled long at the
    * column's scale, strings are raw UTF-8, the rest the [[KeyCodec]]
    * encoding (so a key bound decodes too). */
  def decode(dt: DataType, hex: String): Any = {
    val b = KeyCodec.fromHex(hex)
    dt match {
      case d: DecimalType => Decimal(
        KeyCodec.decode(LongType, b, 0, b.length).asInstanceOf[Long],
        d.precision, d.scale)
      case StringType => UTF8String.fromBytes(b)
      case _ => KeyCodec.decode(dt, b, 0, b.length)
    }
  }

  /** The non-key columns that carry manifest stats. */
  def statFields(schema: StructType, keyCols: Seq[String]): Seq[StructField] =
    schema.fields.toSeq
      .filterNot(f => keyCols.exists(_.equalsIgnoreCase(f.name)))
      .filter(f => trackable(f.dataType))

  private def enc(dt: DataType, v: Any): Option[Array[Byte]] = dt match {
    // decimal literal → unscaled long at the column's scale, exactly;
    // inexact or long-overflowing literals widen to unknown (sound —
    // same contract as the parquet unscaled-compare pushdown)
    case d: DecimalType =>
      val bd = v match {
        case x: java.math.BigDecimal => x
        case x: BigDecimal => x.bigDecimal
        case x: org.apache.spark.sql.types.Decimal => x.toJavaBigDecimal
        case _ => return None
      }
      val scaled =
        try bd.setScale(d.scale) catch { case _: ArithmeticException => return None }
      if (scaled.unscaledValue.bitLength > 62) None
      else Some(KeyCodec.encode(LongType, scaled.unscaledValue.longValueExact))
    case _ =>
      ParquetRowIO.toInternal(dt, v).flatMap { cv =>
        try Some(dt match {
          // bypass KeyCodec's NUL-delimiter rejection: stats are not
          // composite keys, any string content is comparable
          case StringType => cv.toString.getBytes(StandardCharsets.UTF_8)
          case _ => KeyCodec.encode(dt, cv)
        }) catch { case _: Exception => None }
      }
  }
}
