package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT percentiles without a global sort — the sketch-then-verify
  * pattern ([[TextOps.heavyHitters]]) applied to order statistics.
  *
  * `percentile()` (and the `agg_percentile` face) is exact but
  * materializes every group value in the aggregation buffer — the
  * 100-TB killer. `approx_percentile` is bounded-memory but
  * approximate. This face is BOTH: three bounded passes that return
  * exactly the k-th smallest element (k = ceil(p·n), DuckDB's
  * `quantile_disc` convention, verified against it by the driver's
  * oracle):
  *
  *  1. SKETCH — one `approx_percentile` pass (rank error ≤ E = n/acc,
  *     the contract Spark's KLL-style sketch publishes) nominates a
  *     value BRACKET [v_lo, v_hi] per target, at ranks p ∓ 3E/n.
  *  2. VERIFY — one aggregation computes the brackets' EXACT ranks;
  *     the sketch contract makes r_lo < k ≤ r_hi a theorem, and the
  *     code still checks it (a violated contract falls back to the
  *     exact-but-heavy percentile rather than answering wrong).
  *  3. REFINE — one pass emits only the ~6E rows inside each bracket;
  *     the answer is the (k − r_lo)-th smallest within its slice
  *     (tiny per-target window, never a corpus sort).
  *
  * Memory is O(E) per pass regardless of data size; the exchange in
  * pass 3 moves O(targets · E) rows. At 100 TB with accuracy 10⁴ the
  * refinement slice is ~0.06% of the data. */
object Quantiles {

  /** Exact `quantile_disc` for every p in `ps` over `df(valueCol)`
    * (doubles; NULLs ignored). Returns (p, value) rows. */
  def exactPercentiles(df: DataFrame, valueCol: String,
      ps: Seq[Double], accuracy: Int = 10000,
      fuseLimit: Long = 1L << 20): DataFrame =
    exactPercentilesSliced(df, valueCol, ps, accuracy, fuseLimit)._1

  /** [[exactPercentiles]] plus the interior-slice rows the FUSED resolve
    * collected (−1 when it did not run), so QuantilesSpec can assert the
    * O(targets·E) slice bound under a dominant duplicated value at a
    * bracket endpoint — the case the strict interior exists for. */
  private[operators] def exactPercentilesSliced(df: DataFrame,
      valueCol: String, ps: Seq[Double], accuracy: Int,
      fuseLimit: Long): (DataFrame, Long) = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"percentile targets must be in (0, 1]; got $ps")
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol)
    // Deliberately NOT repartitioned before the aggregations (r12:
    // measured): fanning the 600k-row value column out to 32 tasks
    // costs a 4.8 MB shuffle write + a 32-sketch final merge + GC that
    // together exceed the 3-task sketch update it parallelizes
    // (2.6 s vs 1.35 s end to end). The partial aggregation pipelines
    // with the scan; rows-per-split, not core count, is the right
    // grain here.
    val vdf = df.select(v)

    // pass 1: count + bracket sketch in ONE aggregation (the rank
    // error is E = n/accuracy, so the bracket HALF-WIDTH as a rank
    // fraction is just 3/accuracy — no pre-count needed). Clamped
    // targets mark the bracket side OPEN (no lower/upper filter) —
    // the slice stays bounded because k itself is then within 3E of
    // the data's edge.
    val eps = 3.0 / accuracy
    val pLo = ps.map(p => math.max(p - eps, 0.0))
    val pHi = ps.map(p => math.min(p + eps, 1.0))
    val sk = vdf.agg(
      count(v).as("n"),
      percentile_approx(v, lit(pLo.toArray), lit(accuracy)).as("lo"),
      percentile_approx(v, lit(pHi.toArray), lit(accuracy)).as("hi"))
      .head()
    val n = sk.getLong(0)
    val vLo = sk.getSeq[Double](1)
    val vHi = sk.getSeq[Double](2)
    val ks = ps.map(p => math.ceil(p * n).toLong)

    // open-sided targets: at the low edge the bracket's lower filter
    // is dropped (ranks 0), at the high edge the upper one (rank n)
    val openLo = ps.indices.map(i => pLo(i) <= 0.0)
    val openHi = ps.indices.map(i => pHi(i) >= 1.0)
    // pass 2+3: exact bracket ranks, FUSED with the in-bracket slice
    // collection when the slice is driver-small. The STRICT rank of
    // v_lo matters under heavy duplicates: when the target sits
    // inside a duplicated mass, v_lo IS that mass and the answer is
    // v_lo itself — detectable only as lt < k <= le. The collected
    // slice is the STRICT interior (v_lo, v_hi): the closed form
    // v <= v_hi would sweep in v_hi's ENTIRE duplicate mass — O(n)
    // under one dominant value at the bracket edge, even with the
    // fuse gate passed (the sketch bounds the rank of ONE occurrence
    // of v_hi, not the mass of equal values). The open interior's
    // rank span hlt − le IS sketch-bounded (both endpoints' single-
    // occurrence ranks are within ~4E of k, duplicates of the
    // endpoints stay outside the open interval), so the slice is
    // O(targets · E) unconditionally; "the answer is v_hi itself" is
    // resolved from the hlt/he ranks, mirroring the v_lo case. E is
    // bounded by the ACCURACY, not the data, only as a fraction: at
    // fixed accuracy it grows with n. So the collect rides the rank
    // aggregation only while the expected slice stays under ~1M
    // values (n is known from pass 1); past that the refine runs as
    // the distributed pass 3 it always was — the 100 TB shape.
    val fuse = 8L * (n / accuracy + 1) * ps.size <= fuseLimit
    val inB: Seq[Column] = ps.indices.map { i =>
      val lo = if (openLo(i)) lit(true) else v > vLo(i)
      val hi = if (openHi(i)) lit(true) else v < vHi(i)
      lo && hi
    }
    val rankCols: Seq[Column] = ps.indices.flatMap { i =>
      Seq(sum(when(v < vLo(i), 1L).otherwise(0L)).as(s"lt_$i"),
        sum(when(v <= vLo(i), 1L).otherwise(0L)).as(s"le_$i"),
        sum(when(v < vHi(i), 1L).otherwise(0L)).as(s"hlt_$i"),
        sum(when(v <= vHi(i), 1L).otherwise(0L)).as(s"he_$i")) ++
        (if (fuse) Seq(collect_list(when(inB(i), v)).as(s"sl_$i"))
         else Nil)
    }
    val stride = if (fuse) 5 else 4
    val ranks = vdf.agg(rankCols.head, rankCols.tail: _*).head()
    val lt = ps.indices.map(i =>
      if (openLo(i)) 0L else ranks.getLong(stride * i))
    val le = ps.indices.map(i =>
      if (openLo(i)) 0L else ranks.getLong(stride * i + 1))
    // open high side: no upper filter — every k <= n resolves from the
    // slice, never as "the answer is v_hi" (hlt = he = n keeps the
    // three rank intervals a partition of (lt, n])
    val hlt = ps.indices.map(i =>
      if (openHi(i)) n else ranks.getLong(stride * i + 2))
    val he = ps.indices.map(i =>
      if (openHi(i)) n else ranks.getLong(stride * i + 3))

    // per-target resolution over the partition
    // (lt, le] = v_lo | (le, hlt] = interior slice | (hlt, he] = v_hi
    val direct = ps.indices.filter(i => lt(i) < ks(i) && ks(i) <= le(i))
    // v_lo == v_hi collapses the two direct intervals onto each other;
    // exclude already-answered targets so the partition stays disjoint
    val hiDirect = ps.indices.filter(i => !(lt(i) < ks(i) && ks(i) <= le(i)) &&
      hlt(i) < ks(i) && ks(i) <= he(i))
    val sliced = ps.indices.filter(i => le(i) < ks(i) && ks(i) <= hlt(i))
    if ((direct ++ hiDirect ++ sliced).size != ps.size) {
      // sketch contract violated (kept as the correctness backstop,
      // unreachable while percentile_approx honors its rank error):
      // answer by the DEFINITION — global sort, k-th element. NOT
      // percentile(): that interpolates (quantile_cont), a different
      // statistic.
      val byRank = vdf.select(v.as("value"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("value").asc)))
        .filter(col("rn").isin(ks.distinct: _*))
        .collect().map(r => r.getLong(1) -> r.getDouble(0)).toMap
      import spark.implicits._
      return (ps.indices
        .map(i => (ps(i), byRank(ks(i)))).toDF("p", "value"), -1L)
    }

    val directRows = direct.map(i => (ps(i), vLo(i))) ++
      hiDirect.map(i => (ps(i), vHi(i)))
    if (fuse) {
      // resolve the sliced targets from the already-collected bracket
      // slices: the answer is the (k − r_lo)-th smallest inside the
      // slice — a sort of ≤ ~8E doubles on the driver, replacing the
      // pass-3 scan + explode + per-slice window. k <= hlt bounds the
      // pick index by the slice length (slice holds ranks (le, hlt]).
      val slicedRows = sliced.map { i =>
        val slice = ranks.getSeq[Double](stride * i + 4).sorted
        (ps(i), slice((ks(i) - le(i) - 1).toInt))
      }
      val sliceRows = sliced.map(i =>
        ranks.getSeq[Double](stride * i + 4).size.toLong).sum
      import spark.implicits._
      return ((directRows ++ slicedRows).toDF("p", "value"), sliceRows)
    }

    // pass 3 (large-slice branch): emit only in-bracket rows, one
    // window per tiny-fraction slice — distributed, never collected
    if (sliced.isEmpty) {
      import spark.implicits._
      return (directRows.toDF("p", "value"), -1L)
    }
    val arms = sliced.map { i =>
      val inLo = if (openLo(i)) lit(true) else v > vLo(i)
      // strict interior here too: pass 3 otherwise explodes v_hi's
      // duplicate mass into the per-slice window (skew + bytes);
      // sliced targets have ks <= hlt so the pick index always lands
      val inHi = if (openHi(i)) lit(true) else v < vHi(i)
      when(inLo && inHi, struct(lit(i).as("i"), v.as("value")))
    }
    val pickExpr = sliced
      .map(i => s"WHEN i = $i THEN ${ks(i) - le(i)}L")
      .mkString("CASE ", " ", " END")
    val slicedDf = vdf.select(explode(array(arms: _*)).as("a"))
      .filter(col("a").isNotNull)
      .select(col("a.i").as("i"), col("a.value").as("value"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("value").asc)))
      .filter(col("rn") === expr(pickExpr))
      .select(element_at(lit(ps.toArray), col("i") + 1).as("p"),
        col("value"))
    if (directRows.isEmpty) (slicedDf, -1L)
    else {
      import spark.implicits._
      (slicedDf.unionByName(directRows.toDF("p", "value")), -1L)
    }
  }
}
