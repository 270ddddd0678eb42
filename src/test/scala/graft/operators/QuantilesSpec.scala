package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Sketch-bracket-refine exact percentiles ([[Quantiles]]) vs the
  * definitional answer (k = ceil(p·n)-th smallest element, computed by
  * a full sort here): exact on every distribution shape the bracket
  * logic must survive — heavy duplicates (bracket ranks collapse),
  * skew, tiny n (clamped open-sided brackets), and a deliberately
  * starved accuracy that trips the contract check into the exact
  * fallback. */
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

  test("starved accuracy falls back to the exact-but-heavy percentile " +
      "rather than answering wrong") {
    // accuracy 1 makes E = n: the contract check cannot bracket and
    // the fallback path must produce the same exact answers
    val rnd = new scala.util.Random(3)
    check(Seq.fill(3000)(rnd.nextDouble()), accuracy = 1)
  }
}
