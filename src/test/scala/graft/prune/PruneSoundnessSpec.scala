package graft.prune

import scala.util.Random

import org.apache.spark.sql.sources
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.GraftFilters
import graft.codec.KeyCodec

/** Soundness property of the region pruner (seeded-random loops, same
  * style as KeyCodecSpec): for arbitrary predicate trees over two int
  * key dimensions and arbitrary region splits, a pruned region must
  * contain NO row satisfying the predicate. This is the invariant the
  * reference's CriticalPointsTestSuite checks with hand-picked cases —
  * here verified against a brute-force evaluator over random inputs.
  * (Completeness — pruning as much as possible — is a quality concern,
  * not a correctness one; soundness is what must never break.)
  */
class PruneSoundnessSpec extends AnyFunSuite {

  private val rnd = new Random(1234)
  private val dims = Map("k1" -> (0, IntegerType: org.apache.spark.sql.types.DataType),
    "k2" -> (1, IntegerType: org.apache.spark.sql.types.DataType))

  private def randLeaf(): sources.Filter = {
    val col = if (rnd.nextBoolean()) "k1" else "k2"
    val v = rnd.nextInt(100) - 50
    rnd.nextInt(9) match {
      case 0 => sources.EqualTo(col, v)
      case 1 => sources.GreaterThan(col, v)
      case 2 => sources.GreaterThanOrEqual(col, v)
      case 3 => sources.LessThan(col, v)
      case 4 => sources.LessThanOrEqual(col, v)
      // occasionally a large IN (and thus a large NOT-IN under the
      // random Not wrapper): >16 points per side pushes the AND-merge
      // through the sorted-sweep intersection path rather than the
      // tiny-set cross product, so the soundness property exercises
      // both implementations
      case 5 => sources.In(col, Array.fill(
        if (rnd.nextInt(4) == 0) 17 + rnd.nextInt(24)
        else 1 + rnd.nextInt(3))((rnd.nextInt(100) - 50): Any))
      case 6 => sources.EqualNullSafe(col, v)
      case 7 => sources.IsNotNull(col)
      case 8 => sources.Not(randLeaf())
    }
  }

  private def randPred(depth: Int): sources.Filter =
    if (depth == 0 || rnd.nextInt(3) == 0) randLeaf()
    else rnd.nextInt(5) match {
      case 0 | 1 => sources.And(randPred(depth - 1), randPred(depth - 1))
      case 2 | 3 => sources.Or(randPred(depth - 1), randPred(depth - 1))
      case 4 => sources.Not(randPred(depth - 1))
    }

  /** Brute-force evaluation of the V1 filter on a (k1, k2) row.
    * Values are non-null ints, so ¬ is classical (no 3VL cases). */
  private def eval(f: sources.Filter, row: (Int, Int)): Boolean = {
    def v(col: String): Int = if (col == "k1") row._1 else row._2
    f match {
      case sources.And(l, r) => eval(l, row) && eval(r, row)
      case sources.Or(l, r) => eval(l, row) || eval(r, row)
      case sources.Not(g) => !eval(g, row)
      case sources.EqualTo(c, x) => v(c) == x.asInstanceOf[Int]
      case sources.EqualNullSafe(c, x) => v(c) == x.asInstanceOf[Int]
      case sources.GreaterThan(c, x) => v(c) > x.asInstanceOf[Int]
      case sources.GreaterThanOrEqual(c, x) => v(c) >= x.asInstanceOf[Int]
      case sources.LessThan(c, x) => v(c) < x.asInstanceOf[Int]
      case sources.LessThanOrEqual(c, x) => v(c) <= x.asInstanceOf[Int]
      case sources.In(c, xs) => xs.contains(v(c))
      case sources.IsNull(_) => false
      case sources.IsNotNull(_) => true
      case other => fail(s"unexpected $other")
    }
  }

  test("pruned regions are provably empty (1000 random scenarios)") {
    (1 to 1000).foreach { i =>
      val rows = Seq.fill(20 + rnd.nextInt(60))(
        (rnd.nextInt(100) - 50, rnd.nextInt(100) - 50))
        .sorted // region files are key-sorted
      val regionSize = 1 + rnd.nextInt(10)
      val regions = rows.grouped(regionSize).toSeq
      val pred = randPred(3)
      val constraints = GraftFilters.intervals(Seq(pred), dims)
      regions.foreach { rg =>
        val mins = Seq(KeyCodec.encode(IntegerType, rg.map(_._1).min),
          KeyCodec.encode(IntegerType, rg.map(_._2).min))
        val maxs = Seq(KeyCodec.encode(IntegerType, rg.map(_._1).max),
          KeyCodec.encode(IntegerType, rg.map(_._2).max))
        val kept = KeyRanges.survives(constraints, mins, maxs)
        if (!kept) {
          val matching = rg.filter(eval(pred, _))
          assert(matching.isEmpty,
            s"scenario $i: pruned region $rg has matches $matching " +
              s"under $pred (constraints $constraints)")
        }
      }
    }
  }

  test("string-key prefix/Not predicates prune soundly (500 scenarios)") {
    val sdims = Map("s" ->
      (0, org.apache.spark.sql.types.StringType: org.apache.spark.sql.types.DataType))
    // multi-byte chars and a 0xFF-leading codepoint stress the
    // prefix-successor carry logic
    val alphabet = "abczéÿÿ￮"
    def randStr(max: Int): String =
      (0 until rnd.nextInt(max + 1)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    def leaf(): sources.Filter = rnd.nextInt(4) match {
      case 0 => sources.StringStartsWith("s", randStr(2))
      case 1 => sources.EqualTo("s", randStr(3))
      case 2 => sources.GreaterThan("s", randStr(3))
      case 3 => sources.LessThanOrEqual("s", randStr(3))
    }
    def pred(depth: Int): sources.Filter =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(5) match {
        case 0 | 1 => sources.And(pred(depth - 1), pred(depth - 1))
        case 2 | 3 => sources.Or(pred(depth - 1), pred(depth - 1))
        case 4 => sources.Not(pred(depth - 1))
      }
    def eval(f: sources.Filter, s: String): Boolean = f match {
      case sources.And(l, r) => eval(l, s) && eval(r, s)
      case sources.Or(l, r) => eval(l, s) || eval(r, s)
      case sources.Not(g) => !eval(g, s)
      case sources.StringStartsWith(_, p) => s.startsWith(p)
      case sources.EqualTo(_, x) => s == x.asInstanceOf[String]
      // unsigned-lex over UTF-8 = encoded order the pruner uses; this
      // evaluator must use the SAME order the storage sorts by
      case sources.GreaterThan(_, x) => KeyCodec.compare(
        KeyCodec.encode(org.apache.spark.sql.types.StringType, s),
        KeyCodec.encode(org.apache.spark.sql.types.StringType,
          x.asInstanceOf[String])) > 0
      case sources.LessThanOrEqual(_, x) => KeyCodec.compare(
        KeyCodec.encode(org.apache.spark.sql.types.StringType, s),
        KeyCodec.encode(org.apache.spark.sql.types.StringType,
          x.asInstanceOf[String])) <= 0
      case other => fail(s"unexpected $other")
    }
    val st = org.apache.spark.sql.types.StringType
    (1 to 500).foreach { i =>
      val rows = Seq.fill(20 + rnd.nextInt(40))(randStr(4))
        .sortBy(s => KeyCodec.encode(st, s))(
          Ordering.fromLessThan((a: Array[Byte], b: Array[Byte]) =>
            KeyCodec.compare(a, b) < 0))
      val regions = rows.grouped(1 + rnd.nextInt(8)).toSeq
      val p = pred(3)
      val constraints = GraftFilters.intervals(Seq(p), sdims)
      regions.foreach { rg =>
        val encs = rg.map(KeyCodec.encode(st, _))
        val mn = encs.min(Ordering.fromLessThan(
          (a: Array[Byte], b: Array[Byte]) => KeyCodec.compare(a, b) < 0))
        val mx = encs.max(Ordering.fromLessThan(
          (a: Array[Byte], b: Array[Byte]) => KeyCodec.compare(a, b) < 0))
        if (!KeyRanges.survives(constraints, Seq(mn), Seq(mx))) {
          val matching = rg.filter(eval(p, _))
          assert(matching.isEmpty,
            s"scenario $i: pruned region $rg has matches $matching " +
              s"under $p")
        }
      }
    }
  }

  test("full-dimension point predicates prune to at most the covering regions") {
    (1 to 200).foreach { _ =>
      val rows = Seq.fill(50)((rnd.nextInt(40), rnd.nextInt(40))).distinct.sorted
      val regions = rows.grouped(8).toSeq
      val target = rows(rnd.nextInt(rows.length))
      val pred = sources.And(sources.EqualTo("k1", target._1),
        sources.EqualTo("k2", target._2))
      val constraints = GraftFilters.intervals(Seq(pred), dims)
      val surviving = regions.filter { rg =>
        KeyRanges.survives(constraints,
          Seq(KeyCodec.encode(IntegerType, rg.map(_._1).min),
            KeyCodec.encode(IntegerType, rg.map(_._2).min)),
          Seq(KeyCodec.encode(IntegerType, rg.map(_._1).max),
            KeyCodec.encode(IntegerType, rg.map(_._2).max)))
      }
      // the region actually holding the row must survive (no false prune)
      assert(surviving.exists(_.contains(target)))
    }
  }

  test("a resolved Catalyst predicate prunes exactly like its pushed filters") {
    import org.apache.spark.sql.catalyst.expressions._
    val k1 = AttributeReference("k1", IntegerType)()
    val k2 = AttributeReference("K2", IntegerType)()
    // the analyzer's Cast(literal) wrapper is folded before translation
    val pred = And(EqualTo(k1, Cast(Literal(3L), IntegerType)),
      Or(LessThan(k2, Literal(-10)), Not(LessThan(k2, Literal(20)))))
    val pushed = Seq(sources.EqualTo("k1", 3), sources.Or(
      sources.LessThan("K2", -10), sources.Not(sources.LessThan("K2", 20))))
    val viaCatalyst = KeyRanges.analyze(pred, dims)
    val viaFilters = GraftFilters.intervals(pushed, dims)
    assert(viaCatalyst.keySet == Set(0, 1))
    def enc(i: Int) = KeyCodec.encode(IntegerType, i)
    for (lo1 <- -30 to 30 by 3; lo2 <- -30 to 30 by 3; w <- Seq(0, 4, 40)) {
      val (mins, maxs) = (Seq(enc(lo1), enc(lo2)), Seq(enc(lo1 + w), enc(lo2 + w)))
      assert(KeyRanges.survives(viaCatalyst, mins, maxs) ==
        KeyRanges.survives(viaFilters, mins, maxs), s"$lo1 $lo2 $w")
    }
  }
}
