package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** `option("graft.filterHint", "<sql predicate>")` — a user-asserted
  * skipping predicate for streaming reads.
  *
  * Spark's filter-pushdown rule is batch-only, so a `.where(...)` above
  * `readStream.table(...)` never reaches the streaming scan: a tail of
  * a 100 TB table decodes every appended region even when the query
  * keeps one key range. The hint closes that gap: the source prunes
  * regions (manifest key intervals + non-key [[ColStats]]) and pushes
  * parquet row-group/page predicates from the hint, exactly like a
  * batch scan with the same predicate pushed.
  *
  * CONTRACT: the hint must be implied by the query's own filters — the
  * source genuinely skips data contradicting it (that is its job), so
  * a hint wider than the query's filter is safe, a narrower one drops
  * rows the query wanted. Unparseable or untranslatable conjuncts are
  * dropped (less skipping, never wrong rows *beyond the asserted
  * hint*).
  */
object FilterHint {

  /** Option key, matched case-insensitively by the options map. */
  val OptionKey = "graft.filterHint"

  /** Parse the hint into V1 filters; unconvertible conjuncts drop.
    * With a schema, integral literals first take their integral
    * column's type ([[alignIntegralLiterals]]), so hints like
    * `CAST(day AS BIGINT) = 20240101` still skip. */
  def parse(hint: String, schema: Option[StructType] = None)
      : Array[sources.Filter] = {
    val expr = SparkSession.active.sessionState.sqlParser
      .parseExpression(hint)
    splitConjuncts(expr)
      .map(c => schema.fold(c)(alignIntegralLiterals(c, _)))
      .flatMap(toSource).toArray
  }

  private val intRank: Map[DataType, Int] = Map(
    ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)

  private def fits(v: Long, dt: DataType): Boolean = dt match {
    case ByteType => v == v.toByte
    case ShortType => v == v.toShort
    case IntegerType => v == v.toInt
    case LongType => true
    case _ => false
  }

  private def narrowLit(v: Long, dt: DataType): Literal = dt match {
    case ByteType => Literal(v.toByte, ByteType)
    case ShortType => Literal(v.toShort, ShortType)
    case IntegerType => Literal(v.toInt, IntegerType)
    case _ => Literal(v, LongType)
  }

  /** Rewrite `c cmp lit` and `CAST(c AS wider-integral) cmp lit` on an
    * integral column `c` to `c cmp lit'`, `lit'` being the literal in
    * `c`'s own type: the parser types `3` as INT, and Spark's parquet
    * filter converter pushes nothing for a value of another type than
    * the column's. The cast must be a pure integral widening (order-
    * AND equality-preserving, unlike the narrowing casts [[Col]]
    * refuses). A literal outside `c`'s type leaves the conjunct as it
    * was (a cast form then drops — sound, merely less skipping). */
  private def alignIntegralLiterals(e: Expression, schema: StructType)
      : Expression = {
    def colType(a: Attribute): Option[DataType] =
      schema.fields.collectFirst {
        case f if f.name.equalsIgnoreCase(a.name) => f.dataType
      }
    def widens(from: DataType, to: DataType): Boolean =
      (intRank.get(from), intRank.get(to)) match {
        case (Some(a), Some(b)) => a <= b
        case _ => false
      }
    // a bare integral column, or one under a pure integral widening
    // cast, with the column's type
    object IntCol {
      def unapply(e: Expression): Option[(Attribute, DataType)] = e match {
        case a: Attribute => colType(a).filter(intRank.contains).map(a -> _)
        case Cast(a: Attribute, wide, _, _) =>
          colType(a).filter(widens(_, wide)).map(a -> _)
        case _ => None
      }
    }
    def typedLit(l: Expression, dt: DataType): Option[Literal] =
      if (!l.foldable) None
      else (l.eval(null) match {
        case b: Byte => Some(b.toLong)
        case s: Short => Some(s.toLong)
        case i: Int => Some(i.toLong)
        case v: Long => Some(v)
        case _ => None
      }).filter(fits(_, dt)).map(narrowLit(_, dt))
    e transform {
      case cmp @ BinaryComparison(IntCol(a, dt), rhs)
          if typedLit(rhs, dt).isDefined =>
        cmp.withNewChildren(Seq(a, typedLit(rhs, dt).get))
      case cmp @ BinaryComparison(lhs, IntCol(a, dt))
          if typedLit(lhs, dt).isDefined =>
        cmp.withNewChildren(Seq(typedLit(lhs, dt).get, a))
      case in @ In(IntCol(a, dt), list) =>
        val vs = list.map(typedLit(_, dt))
        if (vs.forall(_.isDefined)) In(a, vs.flatten) else in
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private object Col {
    def unapply(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      // No Cast-stripping: `CAST(c AS INT) = 5` on a BIGINT c admits
      // values the bare-column filter would skip (4294967301 wraps to
      // 5), so translating it would skip rows the hint admits. The
      // conjunct is dropped instead — less skipping, never wrong rows.
      case _ => None
    }
  }

  /** Foldable expression → external Scala value (the representation
    * `sources.Filter` carries: String not UTF8String, java.sql.Date
    * not epoch-day int). */
  private object Lit {
    def unapply(e: Expression): Option[Any] = e match {
      case _: Attribute => None
      case _ if e.foldable =>
        try Some(CatalystTypeConverters.convertToScala(
          e.eval(null), e.dataType))
        catch { case _: Exception => None }
      case _ => None
    }
  }

  private def toSource(e: Expression): Option[sources.Filter] = e match {
    case EqualTo(Col(c), Lit(v)) => Some(sources.EqualTo(c, v))
    case EqualTo(Lit(v), Col(c)) => Some(sources.EqualTo(c, v))
    case GreaterThan(Col(c), Lit(v)) => Some(sources.GreaterThan(c, v))
    case GreaterThan(Lit(v), Col(c)) => Some(sources.LessThan(c, v))
    case GreaterThanOrEqual(Col(c), Lit(v)) =>
      Some(sources.GreaterThanOrEqual(c, v))
    case GreaterThanOrEqual(Lit(v), Col(c)) =>
      Some(sources.LessThanOrEqual(c, v))
    case LessThan(Col(c), Lit(v)) => Some(sources.LessThan(c, v))
    case LessThan(Lit(v), Col(c)) => Some(sources.GreaterThan(c, v))
    case LessThanOrEqual(Col(c), Lit(v)) =>
      Some(sources.LessThanOrEqual(c, v))
    case LessThanOrEqual(Lit(v), Col(c)) =>
      Some(sources.GreaterThanOrEqual(c, v))
    case EqualNullSafe(Col(c), Lit(v)) => Some(sources.EqualNullSafe(c, v))
    case EqualNullSafe(Lit(v), Col(c)) => Some(sources.EqualNullSafe(c, v))
    case In(Col(c), list) =>
      val vs = list.map { case Lit(v) => Some(v); case _ => None }
      if (vs.forall(_.isDefined)) Some(sources.In(c, vs.map(_.get).toArray))
      else None
    case IsNull(Col(c)) => Some(sources.IsNull(c))
    case IsNotNull(Col(c)) => Some(sources.IsNotNull(c))
    case StartsWith(Col(c), Lit(p: String)) =>
      Some(sources.StringStartsWith(c, p))
    // the parser yields Like (LikeSimplification runs later); translate
    // the pure-prefix form
    // the escape char is rejected along with %/_ — an escaped
    // wildcard (`a\%b%`) or escaped backslash (`a\\b%`) would need
    // unescaping before it could become a literal prefix
    case Like(Col(c), Lit(p: String), '\\')
        if p.endsWith("%") && !p.dropRight(1).exists("%_\\".contains(_)) =>
      Some(sources.StringStartsWith(c, p.dropRight(1)))
    case Not(g) => toSource(g).map(sources.Not)
    case Or(l, r) =>
      for (a <- toSource(l); b <- toSource(r)) yield sources.Or(a, b)
    case And(l, r) => // nested under Or/Not; top level already split
      for (a <- toSource(l); b <- toSource(r)) yield sources.And(a, b)
    case _ => None // dropped: less skipping, never extra skipping
  }
}
