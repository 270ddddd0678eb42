package graft.catalog

import java.io.File

import org.apache.spark.sql.sources
import graft.codec.KeyCodec
import graft.prune.KeyRanges.{Iv, IvSet}

/** Region-aligned metadata-only DELETE.
  *
  * `DELETE FROM t WHERE log_id < cutoff` on a key-organized 100 TB
  * table should not rewrite data: when the predicate is EXACTLY a
  * leading-key-dimension interval set and every region falls fully
  * inside or fully outside it, the delete is a manifest edit — whole
  * regions drop with zero data IO (the Iceberg/Delta metadata-delete,
  * and the retention primitive every log-keyed table needs).
  *
  * Regions the predicate only PARTIALLY covers — the ≤2 boundary
  * regions of a contiguous range, regardless of table size — are
  * rewritten locally without the matching rows (copy-on-write), so the
  * total work of `DELETE WHERE k < cutoff` is two region files, not a
  * table scan. Predicates that are not exactly representable as
  * leading-key intervals are refused by `canDeleteWhere` (Spark then
  * raises its standard "cannot delete" analysis error) — an
  * over-approximation here would delete kept rows.
  *
  * Unlike the PRUNING translators ([[GraftFilters]]/[[graft.prune.KeyRanges]]),
  * which may over-approximate (⊤ on anything unknown, sound for
  * skipping), this translator must be exact.
  *
  * Deleted regions move to the manifest's retired list (files kept one
  * compaction cycle), so a tailing stream that already planned a batch
  * over them still reads its rows; stable region ids mean later
  * batches simply skip the gone ids. The manifest generation bumps so
  * pre-upgrade position-based stream checkpoints fail loudly instead
  * of mis-slicing the shifted region list.
  */
object GraftDelete {

  /** Exact leading-dimension interval set for the conjunction, or None
    * if any conjunct is not exactly representable. */
  def exactIntervals(filters: Seq[sources.Filter], meta: TableMeta)
      : Option[IvSet] = {
    val k0 = meta.keyCols.head.toLowerCase
    val dt0 = meta.keyTypes.head
    def enc(v: Any): Option[Array[Byte]] =
      ParquetRowIO.toInternal(dt0, v).flatMap { cv =>
        try Some(KeyCodec.encode(dt0, cv)) catch { case _: Exception => None }
      }
    // Signed-zero exactness: KeyCodec orders enc(-0.0) < enc(0.0) but
    // SQL comparison treats them equal, so a zero literal on a FLOAT/
    // DOUBLE key must map to the two-point byte range [enc(-0.0),
    // enc(0.0)], not the single encoding of whichever zero was written.
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    def isFpZero(v: Any): Boolean = (dt0, v) match {
      case (FloatType, f: java.lang.Float) => f.floatValue == 0.0f
      case (DoubleType, d: java.lang.Double) => d.doubleValue == 0.0d
      // an unfolded DECIMAL zero literal against an fp key also means
      // "both zeros" (BigDecimal cannot carry the sign bit)
      case (FloatType | DoubleType, bd: java.math.BigDecimal) =>
        bd.signum == 0
      case (FloatType | DoubleType, bd: BigDecimal) => bd.signum == 0
      case _ => false
    }
    def negZero: Option[Array[Byte]] =
      enc(if (dt0 == FloatType) java.lang.Float.valueOf(-0.0f)
          else java.lang.Double.valueOf(-0.0d))
    def posZero: Option[Array[Byte]] =
      enc(if (dt0 == FloatType) java.lang.Float.valueOf(0.0f)
          else java.lang.Double.valueOf(0.0d))
    def zeroPointIv: Option[IvSet] =
      for (lo <- negZero; hi <- posZero) yield List(Iv(Some(lo), true, Some(hi), true))
    def one(f: sources.Filter): Option[IvSet] = f match {
      case sources.AlwaysTrue() => Some(List(graft.prune.KeyRanges.full))
      case sources.AlwaysFalse() => Some(Nil)
      case sources.IsNotNull(c) if c.toLowerCase == k0 =>
        Some(List(graft.prune.KeyRanges.full)) // keys reject nulls
      case sources.EqualTo(c, v) if c.toLowerCase == k0 =>
        if (isFpZero(v)) zeroPointIv
        else enc(v).map(b => List(Iv(Some(b), true, Some(b), true)))
      case sources.GreaterThan(c, v) if c.toLowerCase == k0 =>
        // > 0.0 excludes BOTH zeros → open bound at the larger enc(+0.0)
        if (isFpZero(v)) posZero.map(b => List(Iv(Some(b), false, None, false)))
        else enc(v).map(b => List(Iv(Some(b), false, None, false)))
      case sources.GreaterThanOrEqual(c, v) if c.toLowerCase == k0 =>
        // >= 0.0 includes BOTH zeros → closed bound at enc(-0.0)
        if (isFpZero(v)) negZero.map(b => List(Iv(Some(b), true, None, false)))
        else enc(v).map(b => List(Iv(Some(b), true, None, false)))
      case sources.LessThan(c, v) if c.toLowerCase == k0 =>
        // < 0.0 excludes BOTH zeros → open bound at the smaller enc(-0.0)
        if (isFpZero(v)) negZero.map(b => List(Iv(None, false, Some(b), false)))
        else enc(v).map(b => List(Iv(None, false, Some(b), false)))
      case sources.LessThanOrEqual(c, v) if c.toLowerCase == k0 =>
        // <= 0.0 includes BOTH zeros → closed bound at enc(+0.0)
        if (isFpZero(v)) posZero.map(b => List(Iv(None, false, Some(b), true)))
        else enc(v).map(b => List(Iv(None, false, Some(b), true)))
      case sources.In(c, vs) if c.toLowerCase == k0 =>
        val encs = vs.toList.map { v =>
          if (isFpZero(v)) zeroPointIv.map(_.head)
          else enc(v).map(b => Iv(Some(b), true, Some(b), true))
        }
        if (encs.forall(_.isDefined)) Some(encs.flatten) else None
      // {s : s startsWith p} IS [p, successor(p)) in byte order —
      // exact, so `DELETE WHERE key LIKE '2023-%'` retention works
      case sources.StringStartsWith(c, p)
          if c.toLowerCase == k0 &&
            dt0 == org.apache.spark.sql.types.StringType =>
        val lo = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        Some(List(Iv(Some(lo), true, Option(KeyCodec.successor(lo)), false)))
      // keys reject nulls: IS NULL on the key matches nothing, exactly
      case sources.IsNull(c) if c.toLowerCase == k0 => Some(Nil)
      case sources.And(l, r) =>
        for (a <- one(l); b <- one(r))
          yield (for (x <- a; y <- b) yield x.intersect(y))
            .filterNot(_.isEmpty)
      case sources.Or(l, r) => for (a <- one(l); b <- one(r)) yield a ++ b
      case _ => None // not exactly representable
    }
    filters.toList.map(one) match {
      case Nil => Some(List(graft.prune.KeyRanges.full)) // DELETE all
      case cs if cs.forall(_.isDefined) =>
        Some(cs.flatten.reduce((a, b) =>
          (for (x <- a; y <- b) yield x.intersect(y)).filterNot(_.isEmpty)))
      case _ => None
    }
  }

  /** [mn,mx] (region dim-0 bounds, inclusive) fully inside ONE interval
    * of the set. Single-interval containment is deliberately
    * conservative: a range covered only by the union of two adjacent
    * intervals refuses rather than risking a gap. */
  private def contained(ivs: IvSet, mn: Array[Byte], mx: Array[Byte])
      : Boolean =
    ivs.exists { iv =>
      val okLo = iv.lo.forall { l =>
        val c = KeyCodec.compare(l, mn)
        c < 0 || (c == 0 && iv.loInc)
      }
      val okHi = iv.hi.forall { h =>
        val c = KeyCodec.compare(mx, h)
        c < 0 || (c == 0 && iv.hiInc)
      }
      okLo && okHi
    }

  def deleteWhere(tableDir: File, meta: TableMeta,
      filters: Array[sources.Filter]): Unit = {
    val ivs = exactIntervals(filters.toSeq, meta).getOrElse(
      throw new IllegalArgumentException(
        s"graft DELETE requires a predicate exactly expressible as " +
          s"${meta.keyCols.head} intervals; got " +
          filters.mkString(", ")))
    // phase 1: classify the snapshot's regions. A boundary rewrite
    // re-stamps its KEPT rows with a fresh (higher) region id; on a
    // dedupKeys table that would lift a kept stale version above a
    // newer overlapping append (latest-wins orders by
    // _graft_region_id). Refuse exactly the unsafe rewrites — aligned
    // metadata deletes and rewrites of the newest overlapping region
    // stay available ([[GraftSplit.precedenceSafe]]).
    val snapshot = TableMeta.loadRegions(tableDir)
    val (in, out) = partitionRegions(snapshot, ivs)
    val straddlers = straddlersOf(out, ivs)
    if (TableMeta.dedupKeys(meta.properties) &&
        straddlers.exists(r => !GraftSplit.precedenceSafe(Seq(r), snapshot)))
      throw new UnsupportedOperationException(
        "graft DELETE on a 'graft.dedupKeys' table: the boundary " +
          "rewrite would re-stamp kept rows above newer versions of " +
          "the same keys (latest-wins orders by _graft_region_id). " +
          "Align the interval to region boundaries, or run " +
          "CALL graft.sys.compact first to fold versions.")
    if (in.isEmpty && straddlers.isEmpty) return
    // phase 2 (no lock): rewrite the boundary regions, dropping rows
    // inside the interval set. Straddlers of a contiguous range are
    // the <=2 boundary regions REGARDLESS of table size, so a
    // row-at-a-time local rewrite is the right cost model — the same
    // region-local work the reference's region server would do. Each
    // rewrite's lineage is its source's id (srcMaxId, like compaction
    // rewrites): a tailing stream that already consumed the original
    // skips the rewrite instead of re-reading the kept rows as new data.
    val rewritten = straddlers.flatMap(r =>
      rewriteRegion(tableDir, meta, r, ivs).map(_.copy(srcMaxId = r.id)))
    // phase 3: re-classify against the CURRENT state (concurrent
    // appends outside the range are carried forward untouched) and
    // swap; with no straddlers the whole delete is a metadata edit.
    // Deleted regions retire (files kept one compaction cycle for
    // in-flight readers).
    TableMeta.replaceRegions(tableDir, "delete", rewritten) { state =>
      TableMeta.stillLive("graft DELETE", straddlers)(state)
      val (inNow, outNow) = partitionRegions(state.regions, ivs)
      val stradNow = straddlersOf(outNow, ivs)
      // a region appended BETWEEN our phases may straddle the delete
      // range; we hold no rewrite for it, and retiring it unrewritten
      // would lose its kept rows — fail loudly instead. (A concurrent
      // append fully INSIDE the range is safe to drop: all its rows
      // match the predicate, the delete just ordered after the insert.)
      val processed = straddlers.map(_.file).toSet
      if (stradNow.exists(r => !processed(r.file)))
        throw new IllegalStateException(
          "graft DELETE lost a race with a concurrent append into the " +
            "deleted key range; retry the DELETE")
      inNow ++ stradNow
    }
  }

  private def partitionRegions(regions: Seq[RegionMeta], ivs: IvSet)
      : (Seq[RegionMeta], Seq[RegionMeta]) =
    regions.partition { r =>
      contained(ivs, KeyCodec.fromHex(r.mins.head),
        KeyCodec.fromHex(r.maxs.head))
    }

  private def straddlersOf(out: Seq[RegionMeta], ivs: IvSet)
      : Seq[RegionMeta] =
    out.filter(r =>
      ivs.exists(_.overlaps(KeyCodec.fromHex(r.mins.head),
        KeyCodec.fromHex(r.maxs.head))))

  /** Rewrite one boundary region without the rows whose leading key
    * falls in `ivs`; None if every row matched (region vanishes). The
    * new file keeps the region's sort (filtering preserves order) and
    * its bucket; it is a [[RegionWriter]] file. */
  private def rewriteRegion(tableDir: File, meta: TableMeta,
      r: RegionMeta, ivs: IvSet): Option[RegionMeta] = {
    val keyIdx = RegionWriter.keyIdx(meta)
    val keyTypes = meta.keyTypes.toArray
    val reader = new ParquetColumnarIO.ColumnarReader(
      new File(tableDir, r.file).getPath, meta.schema, Nil)
    val writer = RegionWriter(tableDir,
      s"delete-rw-${r.id}-${java.util.UUID.randomUUID()}.parquet",
      meta, r.bucket)
    var kept: Option[RegionMeta] = None
    try {
      reader.rows().foreach { row =>
        val encs = RegionWriter.encodeKeys(row, keyIdx, keyTypes)
        // point membership of the leading key
        if (!ivs.exists(_.overlaps(encs(0), encs(0)))) writer.write(row, encs)
      }
    } finally {
      reader.close()
      kept = writer.close()
    }
    kept
  }
}
