package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Sketch-bracket-refine exact percentiles ([[Quantiles]]) vs the
  * definitional answer (k = ceil(p·n)-th smallest element, computed by
  * a full sort here): exact on every distribution shape the bracket
  * logic must survive — heavy duplicates (bracket ranks collapse),
  * skew, tiny n (clamped open-sided brackets), a starved accuracy
  * that clamps every bracket open, and SQL's special doubles (NULL,
  * NaN, ±0.0, ±Infinity); plus the contract-violation fallback
  * ([[Quantiles.byDefinition]]) called directly, since a working
  * sketch never reaches it. */
class QuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Ps = Seq(0.01, 0.25, 0.5, 0.75, 0.95, 1.0)

  private def definitional(xs: Seq[Double], p: Double): Double = {
    val sorted = xs.sorted
    sorted(math.ceil(p * xs.size).toLong.toInt - 1)
  }

  /** Checks every target against [[definitional]]; returns the fused
    * resolve's collected slice rows (−1 when it did not run). */
  private def check(xs: Seq[Double], accuracy: Int = 10000,
      fuseLimit: Long = 1L << 20): Long = {
    import spark.implicits._
    val (df, sliceRows) = Quantiles
      .exactPercentilesSliced(xs.toDF("x"), "x", Ps, accuracy, fuseLimit)
    val got = df.collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    Ps.foreach { p =>
      assert(got(p) == definitional(xs, p),
        s"p=$p acc=$accuracy n=${xs.size}: got ${got(p)}, " +
          s"want ${definitional(xs, p)}")
    }
    sliceRows
  }

  test("uniform random doubles: exact at every target") {
    val rnd = new scala.util.Random(42)
    check(Seq.fill(20000)(rnd.nextDouble() * 1e6))
  }

  test("heavy duplicates: 90% of rows share one value, bracket ranks " +
      "collapse onto it, the answer is still the exact k-th element") {
    val rnd = new scala.util.Random(7)
    check(Seq.fill(18000)(123.456) ++ Seq.fill(2000)(rnd.nextDouble()))
  }

  test("log-skewed values and tiny n (open-sided clamped brackets)") {
    val rnd = new scala.util.Random(11)
    check(Seq.fill(5000)(math.exp(rnd.nextGaussian() * 8)))
    check(Seq(3.0, 1.0, 2.0)) // n < E: every bracket clamps open
    check(Seq(42.0))
  }

  test("large-slice branch (fuse gate off): the distributed pass-3 " +
      "refine answers identically to the fused driver-side resolve") {
    val rnd = new scala.util.Random(19)
    check(Seq.fill(20000)(rnd.nextDouble() * 1e6), fuseLimit = 0L)
    check(Seq.fill(18000)(123.456) ++ Seq.fill(2000)(rnd.nextDouble()),
      fuseLimit = 0L)
  }

  test("dominant duplicated value at the bracket endpoint: the fused " +
      "collect stays O(targets·E) — the strict interior excludes the " +
      "duplicate mass — and answers stay exact (incl. answer == v_hi)") {
    // 90% of rows share the LARGEST value: for mid targets the upper
    // bracket lands ON the duplicated value, so a closed-interval
    // collect (v <= v_hi) would gather all 45k duplicates; the strict
    // interior must keep the slice within the sketch bound. p = 0.5
    // onward the ANSWER is the duplicated v_hi itself — the hiDirect
    // rank resolution, not a slice pick.
    val rnd = new scala.util.Random(23)
    val xs = Seq.fill(5000)(rnd.nextDouble()) ++ Seq.fill(45000)(2.0)
    val accuracy = 2000
    val sliceRows = check(xs, accuracy)
    val n = xs.size
    val bound = 8L * (n / accuracy + 1) * Ps.size
    assert(sliceRows >= 0L, "expected the fused branch to run")
    assert(sliceRows <= bound,
      s"fused slice collected $sliceRows rows, " +
        s"sketch bound is $bound — duplicate mass leaked into the slice")
    // same distribution through the distributed pass-3 branch
    check(xs, accuracy, fuseLimit = 0L)
  }

  test("accuracy 1: every bracket clamps open, the slice answers") {
    // accuracy 1 makes E = n: both bracket sides clamp open for every
    // target, so the whole column is the slice and must still pick
    // the exact answers
    val rnd = new scala.util.Random(3)
    check(Seq.fill(3000)(rnd.nextDouble()), accuracy = 1)
  }

  /** Uniform doubles in [-1.8, 0.2) mixed with every special double
    * SQL orders: 50 −Infinity, 100 −0.0 and 100 0.0, 300 +Infinity,
    * 200 NaN and 100 NULLs, shuffled. Non-null ranks: −Infinity 1-50,
    * the zeros inside 2751-2950, +Infinity 3251-3550, NaN 3551-3750. */
  private def specials(): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val xs: Seq[Option[Double]] =
      Seq.fill(3000)(Some(rnd.nextDouble() * 2.0 - 1.8)) ++
        Seq.fill(50)(Some(Double.NegativeInfinity)) ++
        Seq.fill(100)(Some(-0.0)) ++ Seq.fill(100)(Some(0.0)) ++
        Seq.fill(300)(Some(Double.PositiveInfinity)) ++
        Seq.fill(200)(Some(Double.NaN)) ++ Seq.fill(100)(None)
    rnd.shuffle(xs).toDF("x").repartition(3)
  }

  /** The k-th row of Spark's own ORDER BY over the non-null values. */
  private def sqlOrdered(df: DataFrame): Array[Double] =
    df.filter(col("x").isNotNull).orderBy(col("x"))
      .collect().map(_.getDouble(0))

  private def sameDouble(got: Double, want: Double): Boolean =
    SQLOrderingUtil.compareDoubles(got, want) == 0

  test("NULL, NaN, -0.0/0.0 and +-Infinity: exact in SQL order on the " +
      "fused and the distributed branch") {
    val df = specials().cache()
    try {
      val sorted = sqlOrdered(df)
      val ps = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 1.0)
      val want = ps.map(p =>
        p -> sorted(math.ceil(p * sorted.length).toInt - 1)).toMap
      // the targets land in every special mass the data holds
      assert(want(0.01) == Double.NegativeInfinity)
      assert(want(0.75) == 0.0)
      assert(want(0.9) == Double.PositiveInfinity)
      assert(want(0.95).isNaN && want(1.0).isNaN)
      // accuracy 1 opens both sides of every bracket: no comparison
      // drops the NULLs or the NaNs there
      for (accuracy <- Seq(10000, 2000, 100, 1);
           fuseLimit <- Seq(1L << 20, 0L)) {
        val (res, sliceRows) = Quantiles.exactPercentilesSliced(
          df, "x", ps, accuracy, fuseLimit)
        assert((sliceRows >= 0L) == (fuseLimit > 0L),
          s"acc=$accuracy fuseLimit=$fuseLimit: slice rows $sliceRows")
        val got = res.collect().map(r => r.getDouble(0) -> r.getDouble(1))
        assert(got.map(_._1).sorted.toSeq == ps.sorted)
        got.foreach { case (p, value) =>
          assert(sameDouble(value, want(p)),
            s"p=$p acc=$accuracy fuseLimit=$fuseLimit: got $value, " +
              s"want ${want(p)}")
        }
      }
    } finally df.unpersist()
  }

  test("contract-violation fallback: the global sort answers by the " +
      "definition") {
    // unreachable through exactPercentiles while the sketch keeps its
    // rank error, so it is called directly, over every special double
    val df = specials()
    val sorted = sqlOrdered(df)
    val ks = Seq(1L, 50L, 51L, 2800L, 2900L, 3300L, 3551L, 3750L)
    assert(sorted.length == 3750)
    val got = Quantiles.byDefinition(df, "x", ks)
    assert(got.keySet == ks.toSet)
    ks.foreach { k =>
      assert(sameDouble(got(k), sorted(k.toInt - 1)),
        s"k=$k: got ${got(k)}, want ${sorted(k.toInt - 1)}")
    }
  }

  test("empty, all-NULL and all-NaN columns") {
    import spark.implicits._
    val ps = Seq(0.5, 1.0)
    def answers(xs: Seq[Option[Double]]): Seq[Any] =
      Quantiles.exactPercentiles(xs.toDF("x"), "x", ps)
        .collect().map(_.get(1)).toSeq
    assert(answers(Nil) == Seq(null, null))
    assert(answers(Seq(None, None)) == Seq(null, null))
    assert(answers(Seq(Some(Double.NaN), None)).forall(
      _.asInstanceOf[Double].isNaN))
  }
}
