package graft.prune

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.{And, Expression, Literal}
import org.apache.spark.sql.graftshim.ColumnExpr
import org.apache.spark.sql.types.DataType
import graft.catalog.GraftFilters
import graft.codec.KeyCodec

/** The interval domain of region pruning over key-sorted storage.
  *
  * Each key dimension of a predicate maps to a set of intervals over
  * order-preserving encoded key bytes ([[KeyCodec]]), so one comparator
  * covers all ten key types; a region survives when every constrained
  * dimension's [min,max] overlaps one of its intervals ([[survives]]).
  * [[GraftFilters]] builds these sets from the `sources.Filter`s a
  * catalog scan receives (AND intersects, OR unions, anything
  * unanalyzable widens to ⊤ — sound, it never prunes a region that
  * could match), and [[graft.catalog.GraftDelete]] reuses the domain.
  * This is the rebuild of the reference's "critical point" partition
  * pruning (Heracles `HBaseCriticalPoint.scala` +
  * `PartialPredicateOperations.scala`).
  */
object KeyRanges {

  /** Interval over encoded bytes; None = unbounded. */
  final case class Iv(lo: Option[Array[Byte]], loInc: Boolean,
      hi: Option[Array[Byte]], hiInc: Boolean) {
    def isEmpty: Boolean = (lo, hi) match {
      case (Some(a), Some(b)) =>
        val c = KeyCodec.compare(a, b)
        c > 0 || (c == 0 && !(loInc && hiInc))
      case _ => false
    }
    /** Does [min,max] (both inclusive) overlap this interval? */
    def overlaps(min: Array[Byte], max: Array[Byte]): Boolean = {
      val belowHi = hi.forall { h =>
        val c = KeyCodec.compare(min, h)
        c < 0 || (c == 0 && hiInc)
      }
      val aboveLo = lo.forall { l =>
        val c = KeyCodec.compare(max, l)
        c > 0 || (c == 0 && loInc)
      }
      belowHi && aboveLo
    }
    def intersect(o: Iv): Iv = {
      val (nlo, nloInc) = (lo, o.lo) match {
        case (None, _) => (o.lo, o.loInc)
        case (_, None) => (lo, loInc)
        case (Some(a), Some(b)) =>
          val c = KeyCodec.compare(a, b)
          if (c > 0) (lo, loInc)
          else if (c < 0) (o.lo, o.loInc)
          else (lo, loInc && o.loInc)
      }
      val (nhi, nhiInc) = (hi, o.hi) match {
        case (None, _) => (o.hi, o.hiInc)
        case (_, None) => (hi, hiInc)
        case (Some(a), Some(b)) =>
          val c = KeyCodec.compare(a, b)
          if (c < 0) (hi, hiInc)
          else if (c > 0) (o.hi, o.hiInc)
          else (hi, hiInc && o.hiInc)
      }
      Iv(nlo, nloInc, nhi, nhiInc)
    }
  }

  val full: Iv = Iv(None, loInc = false, None, hiInc = false)

  /** Disjoint-ish interval set; ⊤ = List(full), ⊥ = Nil. Soundness only
    * requires covering, not disjointness, so union is concatenation. */
  type IvSet = List[Iv]

  /** Lower-bound order: unbounded first; equal bytes → inclusive first
    * (an inclusive bound starts earlier). */
  private def cmpLo(a: Iv, b: Iv): Int = (a.lo, b.lo) match {
    case (None, None) => 0
    case (None, _) => -1
    case (_, None) => 1
    case (Some(x), Some(y)) =>
      val c = KeyCodec.compare(x, y)
      if (c != 0) c
      else (a.loInc, b.loInc) match {
        case (true, false) => -1
        case (false, true) => 1
        case _ => 0
      }
  }

  /** Upper-bound order: unbounded last; equal bytes → exclusive first
    * (an exclusive bound ends earlier). */
  private def cmpHi(a: Iv, b: Iv): Int = (a.hi, b.hi) match {
    case (None, None) => 0
    case (None, _) => 1
    case (_, None) => -1
    case (Some(x), Some(y)) =>
      val c = KeyCodec.compare(x, y)
      if (c != 0) c
      else (a.hiInc, b.hiInc) match {
        case (true, false) => 1
        case (false, true) => -1
        case _ => 0
      }
  }

  /** Does interval `b` (whose lo is ≥ `a`'s lo in [[cmpLo]] order)
    * start at or before `a`'s end — i.e. do they overlap as point
    * sets? Touching at one byte point counts only if both sides
    * include it. */
  private def startsWithin(a: Iv, b: Iv): Boolean = (b.lo, a.hi) match {
    case (None, _) | (_, None) => true
    case (Some(x), Some(y)) =>
      val c = KeyCodec.compare(x, y)
      c < 0 || (c == 0 && b.loInc && a.hiInc)
  }

  /** Canonical form: sorted by lower bound, pairwise disjoint, no empty
    * intervals. Exact as a point set (overlapping intervals merge into
    * their union hull), which is the semantics every consumer uses. */
  private def normalize(s: IvSet): IvSet = {
    val xs = s.filterNot(_.isEmpty)
    if (xs.lengthCompare(1) <= 0) xs
    else {
      val sorted = xs.sortWith(cmpLo(_, _) < 0)
      val out = List.newBuilder[Iv]
      var cur = sorted.head
      sorted.tail.foreach { iv =>
        if (startsWithin(cur, iv))
          cur = if (cmpHi(cur, iv) >= 0) cur
                else Iv(cur.lo, cur.loInc, iv.hi, iv.hiInc)
        else { out += cur; cur = iv }
      }
      out += cur
      out.result()
    }
  }

  /** Pairwise intersection of two interval sets. Tiny sets take the
    * direct cross product; anything larger is normalized (sorted +
    * disjoint) and swept with two pointers in O(n log n + m log m) —
    * the cross product is O(n·m), which a runtime-filter IN-list of
    * tens of thousands of key points turns into minutes of
    * driver-side planning. */
  private[graft] def intersectSets(a: IvSet, b: IvSet): IvSet =
    if (a.lengthCompare(16) <= 0 && b.lengthCompare(16) <= 0)
      (for (x <- a; y <- b) yield x.intersect(y)).filterNot(_.isEmpty)
    else {
      val as = normalize(a).toArray
      val bs = normalize(b).toArray
      val out = List.newBuilder[Iv]
      var i = 0
      var j = 0
      while (i < as.length && j < bs.length) {
        val c = as(i).intersect(bs(j))
        if (!c.isEmpty) out += c
        if (cmpHi(as(i), bs(j)) <= 0) i += 1 else j += 1
      }
      out.result()
    }

  /** ¬(k IN pts) as the complement interval set, built directly in
    * O(n log n): the gaps strictly between the sorted points, plus the
    * two unbounded tails. Duplicate points need no dedup — adjacent
    * equal points produce the degenerate exclusive gap (p,p), which
    * `isEmpty` filters. (Folding per-point exclusions through
    * [[intersectSets]] is quadratic in the list length — pathological
    * for large NOT-IN lists.) */
  private[graft] def complementOfPoints(pts: Seq[Array[Byte]]): IvSet = {
    val sorted = pts.sortWith(KeyCodec.compare(_, _) < 0)
    val bounds = None +: sorted.map(Some(_))
    val uppers = sorted.map(Some(_)) :+ None
    bounds.zip(uppers).map { case (lo, hi) =>
      Iv(lo, loInc = false, hi, hiInc = false)
    }.toList.filterNot(_.isEmpty)
  }

  /** Per-dimension interval sets of a resolved Catalyst predicate,
    * derived by the catalog's own analyzer: constant subexpressions
    * (the analyzer's `Cast(literal)` wrappers) are folded, each conjunct
    * is translated to the `sources.Filter` a scan would receive, and
    * [[GraftFilters.intervals]] does the rest. Scans never call this —
    * they receive the translated filters directly; it measures pruning
    * analysis in isolation (`perfbench`'s `prune.analyze_us`).
    * dims: key column name (lowercase) → (dimension index, type). */
  def analyze(pred: Expression, dims: Map[String, (Int, DataType)])
      : Map[Int, IvSet] = {
    val folded = pred.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        try Literal(e.eval(), e.dataType) catch { case NonFatal(_) => e }
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case _ => Seq(e)
    }
    GraftFilters.intervals(
      conjuncts(folded).flatMap(ColumnExpr.pushedFilter), dims)
  }

  /** Prune: keep file iff every constrained dim's [min,max] overlaps
    * some interval (an empty set for any dim proves the file empty). */
  def survives(constraints: Map[Int, IvSet],
      mins: Seq[Array[Byte]], maxs: Seq[Array[Byte]]): Boolean =
    constraints.forall { case (d, ivs) =>
      d >= mins.length || ivs.exists(_.overlaps(mins(d), maxs(d)))
    }
}
