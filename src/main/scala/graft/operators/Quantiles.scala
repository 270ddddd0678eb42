package graft.operators

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.{QuantileSummaries, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** EXACT percentiles without a global sort — the sketch-then-verify
  * pattern ([[TextOps.heavyHitters]]) applied to order statistics.
  *
  * `percentile()` (and the `agg_percentile` face) is exact but
  * materializes every group value in the aggregation buffer — the
  * 100-TB killer. `approx_percentile` is bounded-memory but
  * approximate. This face is BOTH: bounded passes that return exactly
  * the k-th smallest non-null value (k = ceil(p·n), DuckDB's
  * `quantile_disc` convention, verified against it by the driver's
  * oracle) in SQL's double order — NaN above every value, −0.0 equal to
  * 0.0. Each of the first two passes is ONE primitive loop over the
  * value column's scan partitions (`queryExecution.toRdd`), not a
  * Catalyst aggregation:
  *
  *  1. SKETCH — per partition, count the non-null rows and the NaNs
  *     and insert every other value into one `QuantileSummaries` (the
  *     structure `percentile_approx` wraps; rank error ≤ E = n/acc, the
  *     contract it publishes). The driver merges the partitions' sketches
  *     and queries every target's value BRACKET [v_lo, v_hi], at ranks
  *     k ∓ 3E, in one call. NaN stays out of the sketch (its order puts
  *     NaN below +Infinity, SQL puts it above): a target with
  *     k > n − #NaN answers NaN outright.
  *  2. VERIFY — per partition, one loop counts each bracket's EXACT
  *     ranks (`SQLOrderingUtil.compareDoubles`, SQL's `<`); the sketch
  *     contract makes r_lo < k ≤ r_hi a theorem, and the code still
  *     checks it (a violated contract falls back to [[byDefinition]]
  *     rather than answering wrong). While the expected slice is
  *     driver-small the same loop also keeps each bracket's strict
  *     interior in primitive arrays, and the answer is the
  *     (k − r_lo)-th smallest of its slice.
  *  3. REFINE (large slices only) — one distributed pass emits only the
  *     ~6E rows inside each bracket and picks the answer with a tiny
  *     per-target window, never a corpus sort.
  *
  * Memory is O(E) per pass regardless of data size; the exchange in
  * pass 3 moves O(targets · E) rows. At 100 TB with accuracy 10⁴ the
  * refinement slice is ~0.06% of the data. */
object Quantiles {

  /** Exact `quantile_disc` for every p in `ps` over `df(valueCol)`
    * (cast to double; NULLs ignored). Returns (p, value) rows; the
    * value is NULL when the column holds no non-null value. */
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
    val v = col("v")
    // Deliberately NOT repartitioned: both loops run in the scan's own
    // tasks, one single-stage job each with no exchange. Fanning the
    // 600k-row value column out to 32 tasks (r12, measured on the
    // aggregation form of these passes) cost a 4.8 MB shuffle write +
    // a 32-sketch merge + GC that together exceeded the 3-task sketch
    // update it parallelized (2.6 s vs 1.35 s end to end);
    // rows-per-split, not core count, is the right grain here.
    val vdf = df.select(col(valueCol).cast(DoubleType).as("v"))
    val rows = vdf.queryExecution.toRdd

    // pass 1: count + bracket sketch in ONE loop (the rank error is
    // E = nn/accuracy over the nn non-NaN values, so the bracket
    // HALF-WIDTH as a rank fraction is just 3/accuracy — no pre-count
    // needed)
    val relativeError = 1.0 / accuracy
    val sketched = rows.mapPartitions { it =>
      var n = 0L
      var nan = 0L
      var s = new QuantileSummaries(
        QuantileSummaries.defaultCompressThreshold, relativeError)
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) {
          val x = r.getDouble(0)
          n += 1
          if (x.isNaN) nan += 1 else s = s.insert(x)
        }
      }
      Iterator.single((n, nan, s.compress()))
    }.collect()
    val n = sketched.map(_._1).sum
    if (n == 0L)
      return (ps.map(p => (p, Option.empty[Double])).toDF("p", "value"), -1L)
    val nn = n - sketched.map(_._2).sum
    val ks = ps.map(p => math.ceil(p * n).toLong)
    // SQL sorts NaN last: ranks past the non-NaN values are NaN
    val nanDirect = ps.indices.filter(i => ks(i) > nn)
    if (nanDirect.size == ps.size)
      return (ps.map(p => (p, Double.NaN)).toDF("p", "value"), -1L)

    // the sketch holds only the nn non-NaN values: target k sits at
    // fraction p·n/nn ≈ k/nn of it (p itself when there is no NaN). Clamped
    // targets mark the bracket side OPEN (no lower/upper bound) — the
    // slice stays bounded because k itself is then within 3E of the
    // data's edge.
    val eps = 3.0 / accuracy
    val scale = n.toDouble / nn
    val qs = ps.map(p => math.min(p * scale, 1.0))
    val qLo = qs.map(q => math.max(q - eps, 0.0))
    val qHi = qs.map(q => math.min(q + eps, 1.0))
    val bracket = sketched.map(_._3).reduce(_ merge _)
      .query(qLo ++ qHi).get.toArray
    val vLo = bracket.take(ps.size)
    val vHi = bracket.drop(ps.size)
    val openLo = qLo.map(_ <= 0.0).toArray
    val openHi = qHi.map(_ >= 1.0).toArray

    // pass 2 (+3 when fused): exact bracket ranks, with the in-bracket
    // slice collection FUSED into the same loop when the slice is
    // driver-small. The STRICT rank of v_lo matters under heavy
    // duplicates: when the target sits inside a duplicated mass, v_lo
    // IS that mass and the answer is v_lo itself — detectable only as
    // lt < k <= le. The collected slice is the STRICT interior
    // (v_lo, v_hi): the closed form v <= v_hi would sweep in v_hi's
    // ENTIRE duplicate mass — O(n) under one dominant value at the
    // bracket edge, even with the fuse gate passed (the sketch bounds
    // the rank of ONE occurrence of v_hi, not the mass of equal
    // values). The open interior's rank span hlt − le IS sketch-bounded
    // (both endpoints' single-occurrence ranks are within ~4E of k,
    // duplicates of the endpoints stay outside the open interval), so
    // the slice is O(targets · E) unconditionally; "the answer is v_hi
    // itself" is resolved from the hlt/he ranks, mirroring the v_lo
    // case. E is bounded by the ACCURACY, not the data, only as a
    // fraction: at fixed accuracy it grows with n. So the collect rides
    // the rank loop only while the expected slice stays under ~1M
    // values (n is known from pass 1); past that the refine runs as
    // the distributed pass 3 it always was — the 100 TB shape.
    val fuse = 8L * (n / accuracy + 1) * ps.size <= fuseLimit
    val m = ps.size
    val ranked = rows.mapPartitions { it =>
      // per target i: lt, le, hlt, he at 4i .. 4i+3. NaN rows count
      // nowhere (SQL orders NaN above every bracket value, and no
      // bracket value is NaN). An open low side compares every value
      // above v_lo (lt = le = 0), an open high side every value below
      // v_hi (hlt = he = nn): the three rank intervals below stay a
      // partition of (lt, nn].
      val c = new Array[Long](4 * m)
      val slices = if (fuse) Array.fill(m)(new ArrayBuilder.ofDouble) else null
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) {
          val x = r.getDouble(0)
          if (!x.isNaN) {
            var i = 0
            while (i < m) {
              val a = if (openLo(i)) 1 else SQLOrderingUtil.compareDoubles(x, vLo(i))
              val b = if (openHi(i)) -1 else SQLOrderingUtil.compareDoubles(x, vHi(i))
              if (a < 0) c(4 * i) += 1
              if (a <= 0) c(4 * i + 1) += 1
              if (b < 0) c(4 * i + 2) += 1
              if (b <= 0) c(4 * i + 3) += 1
              if (fuse && a > 0 && b < 0) slices(i) += x
              i += 1
            }
          }
        }
      }
      Iterator.single((c, if (fuse) slices.map(_.result()) else null))
    }.collect()
    val c = ranked.map(_._1).transpose.map(_.sum)
    val lt = ps.indices.map(i => c(4 * i))
    val le = ps.indices.map(i => c(4 * i + 1))
    val hlt = ps.indices.map(i => c(4 * i + 2))
    val he = ps.indices.map(i => c(4 * i + 3))

    // per-target resolution over the partition
    // (lt, le] = v_lo | (le, hlt] = interior slice | (hlt, he] = v_hi
    val bracketed = ps.indices.filterNot(nanDirect.contains)
    val direct = bracketed.filter(i => lt(i) < ks(i) && ks(i) <= le(i))
    // v_lo == v_hi collapses the two direct intervals onto each other;
    // exclude already-answered targets so the partition stays disjoint
    val hiDirect = bracketed.filter(i => !(lt(i) < ks(i) && ks(i) <= le(i)) &&
      hlt(i) < ks(i) && ks(i) <= he(i))
    val sliced = bracketed.filter(i => le(i) < ks(i) && ks(i) <= hlt(i))
    if ((nanDirect ++ direct ++ hiDirect ++ sliced).size != ps.size) {
      // sketch contract violated (kept as the correctness backstop,
      // unreachable while QuantileSummaries honors its rank error)
      val byRank = byDefinition(vdf, "v", ks)
      return (ps.indices.map(i => (ps(i), byRank(ks(i)))).toDF("p", "value"),
        -1L)
    }

    val directRows = nanDirect.map(i => (ps(i), Double.NaN)) ++
      direct.map(i => (ps(i), vLo(i))) ++ hiDirect.map(i => (ps(i), vHi(i)))
    if (fuse) {
      // resolve the sliced targets from the already-collected bracket
      // slices: the answer is the (k − r_lo)-th smallest inside the
      // slice — a sort of ≤ ~8E doubles on the driver, replacing the
      // pass-3 scan + explode + per-slice window. k <= hlt bounds the
      // pick index by the slice length (slice holds ranks (le, hlt]).
      val slices = sliced.map { i =>
        val slice = ranked.flatMap(_._2(i))
        java.util.Arrays.sort(slice)
        i -> slice
      }
      val slicedRows = slices.map { case (i, slice) =>
        (ps(i), slice((ks(i) - le(i) - 1).toInt))
      }
      return ((directRows ++ slicedRows).toDF("p", "value"),
        slices.map(_._2.length.toLong).sum)
    }

    // pass 3 (large-slice branch): emit only in-bracket rows, one
    // window per tiny-fraction slice — distributed, never collected
    if (sliced.isEmpty) return (directRows.toDF("p", "value"), -1L)
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
    // with both sides open no comparison drops the NULLs (which the
    // window sorts first) or the NaNs: drop them before the arms
    val slicedDf = vdf.filter(v.isNotNull && !isnan(v))
      .select(explode(array(arms: _*)).as("a"))
      .filter(col("a").isNotNull)
      .select(col("a.i").as("i"), col("a.value").as("value"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("value").asc)))
      .filter(col("rn") === expr(pickExpr))
      .select(element_at(lit(ps.toArray), col("i") + 1).as("p"),
        col("value"))
    if (directRows.isEmpty) (slicedDf, -1L)
    else (slicedDf.unionByName(directRows.toDF("p", "value")), -1L)
  }

  /** The answer by the DEFINITION — one global sort of the non-null
    * values in SQL order, the k-th row for every k in `ks` (1-based,
    * each within the non-null count). The sketch-contract backstop;
    * NOT percentile(): that interpolates (quantile_cont), a different
    * statistic. */
  private[operators] def byDefinition(df: DataFrame, valueCol: String,
      ks: Seq[Long]): Map[Long, Double] =
    df.select(col(valueCol).as("value"))
      .filter(col("value").isNotNull)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("value").asc)))
      .filter(col("rn").isin(ks.distinct: _*))
      .collect().map(r => r.getInt(1).toLong -> r.getDouble(0)).toMap
}
