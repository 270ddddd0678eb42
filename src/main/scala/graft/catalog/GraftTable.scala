package graft.catalog

import java.io.File
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.codec.KeyCodec
import graft.prune.KeyRanges
import graft.prune.KeyRanges.{Iv, IvSet}

/** A graft table: key-sorted parquet region files + JSON metadata,
  * exposed through DataSource V2.
  *
  * Read path mirrors the reference's scan stack (SURVEY §2.1/§4.1) in
  * Spark-native terms:
  *  - `SupportsPushDownFilters` receives the predicate split (the
  *    reference's `ScanPredClassifier`); key-column conjuncts drive
  *    region pruning (the reference's critical-point partition pruning,
  *    `HBaseCriticalPoint.scala`), all filters also become parquet
  *    row-group predicates (the FilterList/skip-scan analogue), and
  *    everything is kept as residual for Spark to re-check (exactness
  *    never depends on storage-side evaluation);
  *  - `SupportsPushDownRequiredColumns` is the column-pruning path
  *    (`addColumnFamiliesToScan`);
  *  - one `InputPartition` per surviving region (the reference's
  *    `HBasePartition`), with row-count statistics for the planner.
  */
class GraftTable(tableName: String, val tableDir: File, val meta: TableMeta,
    val snapshot: Option[(Long, Seq[RegionMeta])] = None)
    extends Table with SupportsRead with SupportsWrite
    with connector.catalog.SupportsDelete
    with connector.catalog.SupportsRowLevelOperations
    with connector.catalog.SupportsMetadataColumns {

  /** Pinned region list of a `VERSION AS OF` / `TIMESTAMP AS OF` read
    * ([[TableMeta.stateAt]]); None = live table. A snapshot is
    * read-only: every write surface below refuses, and
    * [[capabilities]] advertises batch reads only, so INSERT/DML/
    * streaming against it fail at analysis, not at commit. */
  private def pinnedRegions: Option[Seq[RegionMeta]] =
    snapshot.map(_._2)

  private def refuseWrite(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"$what is not supported on a time-travel snapshot " +
        s"($tableName VERSION AS OF ${snapshot.get._1}); " +
        "run it against the live table")

  /** SQL UPDATE / MERGE INTO / non-interval DELETE: copy-on-write
    * region rewrites ([[GraftRowLevelOperation]]). Interval-exact
    * DELETEs still take the metadata-only path ([[canDeleteWhere]]). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (snapshot.isDefined) refuseWrite("UPDATE/MERGE/DELETE")
    new GraftRowLevelBuilder(tableDir, meta, info)
  }

  /** Row provenance as V2 metadata columns (the analogue of HBase's
    * cell timestamp/region provenance, which the reference's Put-upsert
    * relies on): `_graft_region_id` = the stable manifest id of the
    * row's region (monotone in commit order), `_graft_file` = the
    * region file name. SELECT-able only when asked for by name; zero
    * cost otherwise. `_graft_region_id` makes latest-wins readable
    * BEFORE a dedupKeys compaction folds duplicates:
    * `row_number() OVER (PARTITION BY key ORDER BY _graft_region_id
    * DESC) = 1`. The `_graft` name prefix is already reserved at DDL
    * time, so these can never collide with user columns. Resolved on
    * BOTH faces: batch via V2 column pruning, streaming via the
    * always-appended trailing columns in [[GraftScan.toMicroBatchStream]]
    * (Spark's streaming path resolves `metadataOutput` but runs no
    * pruning pass — see the note there), so an incremental consumer
    * can checkpoint `max(_graft_region_id)` in plain SQL. */
  override def metadataColumns(): Array[connector.catalog.MetadataColumn] =
    GraftMetaCols.all

  override def name(): String = tableName
  override def schema(): StructType = meta.schema
  override def properties(): java.util.Map[String, String] =
    meta.properties.asJava

  /** V2 columns rebuilt WITH their GENERATED / IDENTITY clauses: the
    * default `Table.columns()` conversion drops both (it only maps
    * defaults), so SHOW CREATE TABLE / DESCRIBE would render a plain
    * column and a user round-tripping the DDL would silently lose the
    * fill semantics. Default values stay in the column metadata JSON,
    * which Spark's DDL renderer already reads. */
  override def columns(): Array[connector.catalog.Column] =
    meta.schema.fields.map { f =>
      val gen = if (f.metadata.contains(GraftGenerated.MetaKey))
        f.metadata.getString(GraftGenerated.MetaKey) else null
      val idSpec = if (f.metadata.contains(GraftIdentity.StartKey))
        new connector.catalog.IdentityColumnSpec(
          f.metadata.getLong(GraftIdentity.StartKey),
          f.metadata.getLong(GraftIdentity.StepKey),
          !f.metadata.contains(GraftIdentity.AllowExplicitKey) ||
            f.metadata.getBoolean(GraftIdentity.AllowExplicitKey))
        else null
      new connector.catalog.Column {
        override def name(): String = f.name
        override def dataType(): org.apache.spark.sql.types.DataType =
          f.dataType
        override def nullable(): Boolean = f.nullable
        override def comment(): String = null
        override def defaultValue(): connector.catalog.ColumnDefaultValue =
          null // stays in metadataInJSON, where the renderer reads it
        override def generationExpression(): String = gen
        override def identityColumnSpec()
            : connector.catalog.IdentityColumnSpec = idSpec
        override def metadataInJSON(): String =
          if (f.metadata == org.apache.spark.sql.types.Metadata.empty) null
          else f.metadata.json
      }
    }

  /** CHECK constraints surfaced through Spark 4's DSv2 constraint API:
    * `ENFORCED` + `VALID` (ADD CONSTRAINT scanned the stored data, every
    * write path re-validates), so the analyzer compiles them into
    * `CheckInvariant` guards above INSERT/UPDATE/MERGE plans — the
    * engine-side half of the contract. The writer-side per-row check
    * ([[GraftChecks.bound]]) stays on as the backstop for the paths the
    * analyzer never sees (CALL load_csv, streaming epochs, COPY INTO). */
  override def constraints(): Array[connector.catalog.constraints.Constraint] =
    GraftChecks.specs(meta.properties).map { case (n, sql) =>
      connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql)
        .enforced(true)
        .validationStatus(
          connector.catalog.constraints.Constraint.ValidationStatus.VALID)
        .rely(true)
        .build(): connector.catalog.constraints.Constraint
    }.toArray
  override def capabilities(): java.util.Set[TableCapability] =
    if (snapshot.isDefined)
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // `changesFromVersion` CDC reads ride the same pinned-region seam
    // as time travel, so every pushdown surface composes (GraftChanges)
    val pin = Option(options.get(GraftChanges.FromKey)) match {
      case Some(vs) =>
        val fromV = vs.toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"${GraftChanges.FromKey} must be a commit-log seq " +
              s"(integer); got '$vs'"))
        if (snapshot.isDefined) throw new UnsupportedOperationException(
          s"${GraftChanges.FromKey} cannot be combined with VERSION/" +
            s"TIMESTAMP AS OF; bound the range with ${GraftChanges.ToKey}")
        val toV = Option(options.get(GraftChanges.ToKey)).map(_.toLong)
        Some(GraftChanges.regionsBetween(tableDir, fromV, toV))
      case None => pinnedRegions
    }
    // WAP branch preview (GraftBranch): current main + the branch's
    // staged regions, riding the same pinned-region seam as time
    // travel/CDC so every pushdown surface composes. An explicit
    // branch option cannot combine with a version pin (a preview of a
    // historical main is not a defined state); the ambient session
    // conf simply yields to the more specific pin. A named branch
    // that does not exist on THIS table falls back to plain main —
    // the session-wide WAP conf must not break reads of uninvolved
    // tables.
    val explicitBranch = Option(options.get(GraftBranch.OptionKey))
      .map(_.trim).filter(_.nonEmpty)
    val deltaOnly = Option(options.get(GraftBranch.DeltaOptionKey))
      .exists(_.toBoolean)
    val pinBranched = GraftBranch.resolve(explicitBranch) match {
      case Some(b) if pin.isEmpty && deltaOnly =>
        // audit face: ONLY the staged batch (no such branch = nothing
        // staged = an empty read, not a fallback to main)
        Some(TableMeta.branchDeltaRegions(tableDir, b).getOrElse(Nil))
      case Some(b) if pin.isEmpty =>
        TableMeta.branchPreviewRegions(tableDir, b).orElse(pin)
      case Some(b) if explicitBranch.isDefined =>
        throw new UnsupportedOperationException(
          s"branch '$b' cannot be combined with VERSION/TIMESTAMP AS " +
            "OF or a changes-read: a staged preview is defined only " +
            "against the CURRENT main state")
      case _ => pin
    }
    // deterministic region (cluster) sampling: a profiling read over
    // an m/n fraction or the k:n shard of the region set — composes
    // with time travel / CDC pins by filtering whatever they resolved
    val pinSampled = Option(options.get(GraftSample.OptionKey)) match {
      case Some(spec) =>
        val keep = GraftSample.parse(spec)
        Some(pinBranched.getOrElse(TableMeta.loadRegions(tableDir))
          .filter(r => keep(r.id)))
      case None => pinBranched
    }
    new GraftScanBuilder(tableDir, meta,
      Option(options.get(FilterHint.OptionKey)),
      pinned = pinSampled)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (snapshot.isDefined) refuseWrite("INSERT")
    new GraftWriteBuilder(tableDir, meta, info)
  }

  /** Region-aligned metadata-only DELETE/TRUNCATE ([[GraftDelete]]):
    * whole regions drop from the manifest with zero data IO when the
    * predicate is exactly a leading-key interval set. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    snapshot.isEmpty &&
      GraftDelete.exactIntervals(filters.toSeq, meta).isDefined

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    if (snapshot.isDefined) refuseWrite("DELETE")
    // same WAP posture as the row-level rewrite path (GraftRowLevel):
    // a metadata-only DELETE mid-audit would mutate MAIN silently
    GraftBranch.resolve(None).foreach { b =>
      throw new UnsupportedOperationException(
        s"DELETE while ${GraftBranch.WapConf}='$b' is set would " +
          "modify MAIN, not the branch (branches stage appends only); " +
          "unset the conf to run main DML")
    }
    GraftDelete.deleteWhere(tableDir, meta, filters)
  }
}

/** V1 `sources.Filter` → per-key-dimension interval sets, for region
  * pruning: the one predicate analyzer over the interval domain of
  * [[graft.prune.KeyRanges]]. */
object GraftFilters {

  def intervals(filters: Seq[sources.Filter],
      dims: Map[String, (Int, DataType)]): Map[Int, IvSet] =
    filters.map(one(_, dims)).foldLeft(Map.empty[Int, IvSet])(merge)

  /** Conservative translation of one pushed predicate on a
    * constant-per-region metadata column (`colName`) into a per-region
    * test. The value is CONSTANT per region, so this pruning is exact
    * at region granularity. Range comparisons translate only when an
    * ordering is given. Unsupported shapes return None; the predicate
    * always stays residual, so skipping is pure acceleration. */
  private def constPred[T](colName: String, lift: Any => Option[T],
      ord: Option[Ordering[T]])(f: sources.Filter)
      : Option[T => Boolean] = {
    def rec(f: sources.Filter): Option[T => Boolean] = f match {
      case sources.EqualTo(`colName`, v) => lift(v).map(x => (c: T) => c == x)
      case sources.GreaterThan(`colName`, v) =>
        ord.flatMap(o => lift(v).map(x => (c: T) => o.gt(c, x)))
      case sources.GreaterThanOrEqual(`colName`, v) =>
        ord.flatMap(o => lift(v).map(x => (c: T) => o.gteq(c, x)))
      case sources.LessThan(`colName`, v) =>
        ord.flatMap(o => lift(v).map(x => (c: T) => o.lt(c, x)))
      case sources.LessThanOrEqual(`colName`, v) =>
        ord.flatMap(o => lift(v).map(x => (c: T) => o.lteq(c, x)))
      case sources.In(`colName`, vs) =>
        // empty IN is always-false (a runtime group filter with zero
        // matches arrives this way — a no-match UPDATE/MERGE must
        // prune EVERY region, not ignore the filter)
        if (vs.isEmpty) Some(_ => false)
        else {
          val xs = vs.toSeq.map(lift)
          if (xs.forall(_.isDefined)) {
            val set = xs.flatten.toSet
            Some(c => set.contains(c))
          } else None
        }
      case sources.And(l, r) =>
        (rec(l), rec(r)) match {
          case (Some(a), Some(b)) => Some(c => a(c) && b(c))
          // half-translated AND keeps a superset of regions — sound
          case (a, b) => a.orElse(b)
        }
      case _ => None
    }
    rec(f)
  }

  /** `_graft_region_id` pruning: `WHERE _graft_region_id > last_seen`
    * is the incremental-batch pattern (process only regions committed
    * since the last run) served with zero data IO for the skipped
    * regions. */
  def regionIdPred(f: sources.Filter): Option[Long => Boolean] =
    constPred[Long](GraftMetaCols.RegionId, {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }, Some(Ordering.Long))(f)

  /** `_graft_file` pruning: notably the runtime GROUP filter Spark
    * injects for group-based row-level operations (UPDATE/MERGE
    * rewrites touch only groups that contain matches). */
  def regionFilePred(f: sources.Filter): Option[String => Boolean] =
    constPred[String](GraftMetaCols.FileName, {
      case s: String => Some(s)
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }, None)(f)

  private def merge(a: Map[Int, IvSet], b: Map[Int, IvSet]): Map[Int, IvSet] =
    (a.keySet ++ b.keySet).map { d =>
      val xs = a.getOrElse(d, List(KeyRanges.full))
      val ys = b.getOrElse(d, List(KeyRanges.full))
      // sorted-sweep intersection — the naive cross product is O(n·m),
      // which a runtime-filter IN-list of ~32k key points (SMJ semi
      // filter) ANDed with itself turned into minutes of driver time
      d -> KeyRanges.intersectSets(xs, ys)
    }.toMap

  private def enc(dt: DataType, v: Any): Option[Array[Byte]] =
    ParquetRowIO.toInternal(dt, v).flatMap { cv =>
      try Some(KeyCodec.encode(dt, cv)) catch { case _: Exception => None }
    }

  private def one(f: sources.Filter, dims: Map[String, (Int, DataType)])
      : Map[Int, IvSet] = f match {
    case sources.And(l, r) => merge(one(l, dims), one(r, dims))
    case sources.Or(l, r) =>
      val (a, b) = (one(l, dims), one(r, dims))
      (a.keySet intersect b.keySet).map(d => d -> (a(d) ++ b(d))).toMap
    case sources.EqualTo(n, v) => dim(n, dims).flatMap { case (d, dt) =>
      enc(dt, v).map(b => Map(d -> List(Iv(Some(b), true, Some(b), true))))
    }.getOrElse(Map.empty)
    case sources.GreaterThan(n, v) => dim(n, dims).flatMap { case (d, dt) =>
      enc(dt, v).map(b => Map(d -> List(Iv(Some(b), false, None, false))))
    }.getOrElse(Map.empty)
    case sources.GreaterThanOrEqual(n, v) => dim(n, dims).flatMap { case (d, dt) =>
      enc(dt, v).map(b => Map(d -> List(Iv(Some(b), true, None, false))))
    }.getOrElse(Map.empty)
    case sources.LessThan(n, v) => dim(n, dims).flatMap { case (d, dt) =>
      enc(dt, v).map(b => Map(d -> List(Iv(None, false, Some(b), false))))
    }.getOrElse(Map.empty)
    case sources.LessThanOrEqual(n, v) => dim(n, dims).flatMap { case (d, dt) =>
      enc(dt, v).map(b => Map(d -> List(Iv(None, false, Some(b), true))))
    }.getOrElse(Map.empty)
    case sources.In(n, vs) => dim(n, dims).map { case (d, dt) =>
      val ivs = vs.toList.flatMap(v =>
        enc(dt, v).map(b => Iv(Some(b), true, Some(b), true)))
      if (ivs.length == vs.length) Map(d -> ivs) else Map.empty[Int, IvSet]
    }.getOrElse(Map.empty)
    // key columns reject nulls at write time → IS NULL proves empty
    case sources.IsNull(n) =>
      dim(n, dims).map { case (d, _) => Map(d -> (Nil: IvSet)) }
        .getOrElse(Map.empty)
    // keys are non-null, so <=> v behaves exactly like = v (and <=> NULL
    // is provably false) — the reference's null-safe coverage
    // (ScanPredClassifier.scala:27-143)
    case sources.EqualNullSafe(n, null) =>
      dim(n, dims).map { case (d, _) => Map(d -> (Nil: IvSet)) }
        .getOrElse(Map.empty)
    case sources.EqualNullSafe(n, v) => one(sources.EqualTo(n, v), dims)
    // LIKE 'p%' on a string key → the prefix byte interval
    case sources.StringStartsWith(n, p) => prefixIv(n, p, dims)
    case sources.Not(g) => negOne(g, dims)
    case _ => Map.empty
  }

  /** [utf8(p), successor(utf8(p))) covers exactly the strings with
    * prefix p in unsigned-lex (= encoded-key) order; successor=null
    * (all 0xFF) → unbounded above. */
  private def prefixIv(n: String, p: String,
      dims: Map[String, (Int, DataType)]): Map[Int, IvSet] =
    dim(n, dims).collect { case (d, StringType) =>
      val lo = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val hi = Option(KeyCodec.successor(lo))
      Map(d -> List(Iv(Some(lo), true, hi, false)))
    }.getOrElse(Map.empty)

  /** Sound over-approximation of ¬f. `one` over-approximates f, so
    * negating its output would be UNsound — negation must recurse
    * structurally and widen to ⊤ on anything unrecognized. */
  private def negOne(f: sources.Filter, dims: Map[String, (Int, DataType)])
      : Map[Int, IvSet] = f match {
    case sources.Not(g) => one(g, dims)
    // ¬(l ∧ r) = ¬l ∨ ¬r — same both-sides-constrained rule as Or
    case sources.And(l, r) =>
      val (a, b) = (negOne(l, dims), negOne(r, dims))
      (a.keySet intersect b.keySet).map(d => d -> (a(d) ++ b(d))).toMap
    case sources.Or(l, r) => merge(negOne(l, dims), negOne(r, dims))
    case sources.EqualTo(n, v) => excludePoint(n, v, dims)
    // keys non-null: ¬(k <=> v) ≡ k ≠ v; ¬(k <=> NULL) ≡ true (⊤)
    case sources.EqualNullSafe(_, null) => Map.empty
    case sources.EqualNullSafe(n, v) => excludePoint(n, v, dims)
    case sources.GreaterThan(n, v) =>
      one(sources.LessThanOrEqual(n, v), dims)
    case sources.GreaterThanOrEqual(n, v) =>
      one(sources.LessThan(n, v), dims)
    case sources.LessThan(n, v) =>
      one(sources.GreaterThanOrEqual(n, v), dims)
    case sources.LessThanOrEqual(n, v) =>
      one(sources.GreaterThan(n, v), dims)
    // ¬(k IN (v…)) = the complement interval set, built directly in
    // O(n log n) (folding per-value exclusions through merge is
    // quadratic in the list length); unencodable values are skipped —
    // excluding fewer points is sound
    case sources.In(n, vs) if vs.nonEmpty =>
      dim(n, dims).map { case (d, dt) =>
        Map(d -> KeyRanges.complementOfPoints(vs.toSeq.flatMap(enc(dt, _))))
      }.getOrElse(Map.empty)
    // keys non-null: ¬(k IS NULL) is always true (⊤); ¬(k IS NOT NULL)
    // is provably false
    case sources.IsNull(_) => Map.empty
    case sources.IsNotNull(n) =>
      dim(n, dims).map { case (d, _) => Map(d -> (Nil: IvSet)) }
        .getOrElse(Map.empty)
    case sources.StringStartsWith(n, p) =>
      dim(n, dims).collect { case (d, StringType) =>
        val lo = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val hi = Option(KeyCodec.successor(lo))
        Map(d -> (Iv(None, false, Some(lo), false) ::
          hi.map(h => Iv(Some(h), true, None, false)).toList))
      }.getOrElse(Map.empty)
    case _ => Map.empty // unknown under ¬ → no constraint (sound)
  }

  /** k ≠ v as the two open intervals around v (the reference's NOT
    * two-interval split, PartialPredicateOperations.scala:116-384). */
  private def excludePoint(n: String, v: Any,
      dims: Map[String, (Int, DataType)]): Map[Int, IvSet] =
    dim(n, dims).flatMap { case (d, dt) =>
      enc(dt, v).map(b => Map(d -> List(
        Iv(None, false, Some(b), false),
        Iv(Some(b), false, None, false))))
    }.getOrElse(Map.empty)

  private def dim(name: String, dims: Map[String, (Int, DataType)])
      : Option[(Int, DataType)] = dims.get(name.toLowerCase)
}

/** Session-level kill switches for every pure ACCELERATION, mirroring
  * the reference's config matrix (`HBaseSQLConf`: coprocessor /
  * customfilter / codegen toggles, exercised answer-identical in
  * `HBaseAdditionalQuerySuite.scala:172-260`). Every pushed predicate
  * stays residual in the Spark plan, so turning any of these off may
  * only read MORE data, never change an answer — the config-matrix
  * parity suite asserts exactly that over the whole catalog query set.
  * Defaults are all-on; the switches exist for that proof and as the
  * operator's escape hatch when chasing a suspected skipping bug. */
object GraftAccel {
  /** region-level non-key min/max/null skipping + runtime re-prune */
  val StatsSkip = "spark.graft.accel.statsSkip"
  /** storage-side parquet predicates: row-group stats, blooms, page skip */
  val ParquetFilters = "spark.graft.accel.parquetFilters"
  /** manifest-answered COUNT/MIN/MAX (zero data IO) */
  val AggPushdown = "spark.graft.accel.aggPushdown"
  /** tiny-region bin-packing into read tasks */
  val Packing = "spark.graft.accel.packing"
  /** LIMIT/ORDER-BY-key-LIMIT region truncation (manifest row counts) */
  val LimitPushdown = "spark.graft.accel.limitPushdown"
  /** transparent secondary-index rewrite of point filters
    * ([[GraftIndexRewrite]]) */
  val IndexRewrite = "spark.graft.accel.indexRewrite"
  /** transparent materialized-view rewrite of re-aggregable GROUP BYs
    * ([[GraftMviewRewrite]]) */
  val MviewRewrite = "spark.graft.accel.mviewRewrite"

  val All: Seq[String] =
    Seq(StatsSkip, ParquetFilters, AggPushdown, Packing, LimitPushdown,
      IndexRewrite, MviewRewrite)

  def on(key: String): Boolean = {
    val raw = try org.apache.spark.sql.internal.SQLConf.get
      .getConfString(key, "true")
    catch { case _: Exception => return true } // no active session
    // a malformed value must fail LOUDLY: silently defaulting a typo'd
    // kill switch to ON defeats its whole debugging purpose
    raw.trim.toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"$key must be true or false, got '$other'")
    }
  }
}

/** `groupMode` (row-level operations): pushed filters prune REGIONS
  * only — parquet row skipping is disabled so every row of a surviving
  * region is produced (the group-based contract: a rewrite must carry
  * a matched group's unmatched rows forward unchanged). `onBuild`
  * hands the built scan back to the owning [[GraftRowLevelOperation]],
  * whose commit replaces exactly the regions the scan selected. */
class GraftScanBuilder(tableDir: File, meta: TableMeta,
    filterHint: Option[String] = None, groupMode: Boolean = false,
    onBuild: GraftScan => Unit = null,
    pinned: Option[Seq[RegionMeta]] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  private var required: StructType = meta.schema
  private var pushed: Array[sources.Filter] = Array.empty
  private var aggPlan: Option[Seq[GraftAggScan.Spec]] = None
  private var groupAggPlan: Option[GraftGroupAggScan.Plan] = None
  private var limitPush: Option[GraftScan.LimitPush] = None

  /** LIMIT n over an unfiltered scan: ANY n rows satisfy it, so the
    * scan can plan a minimal region subset whose manifest row counts
    * reach n — on a 100k-region table a bare `LIMIT 10` schedules one
    * task instead of 100k. Always PARTIAL (Spark keeps its own Limit;
    * the scan only guarantees it still holds ≥ n rows), so exactness
    * never depends on the truncation — the same residual discipline as
    * every other pushdown here. Filtered scans refuse: pushed
    * predicates are re-checked above the scan, so manifest row counts
    * no longer bound the post-filter yield. */
  override def pushLimit(n: Int): Boolean = {
    val ok = !groupMode && GraftAccel.on(GraftAccel.LimitPushdown) &&
      pushed.isEmpty && n > 0
    if (ok) limitPush = Some(GraftScan.LimitPush(n, None))
    ok
  }

  /** ORDER BY <leading key> ... LIMIT n: a region cannot contribute
    * unless fewer than n rows sort strictly before its whole key range
    * on the FIRST sort column — secondary sort columns only break ties,
    * so pruning on the leading key's manifest bounds is sound for any
    * suffix ordering. The first sort column must be the table's leading
    * key (any direction; key columns are non-null by construction, so
    * null ordering is moot). Partial like pushLimit: Spark's TopN stays
    * on top and does the exact ordering over the surviving regions. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    if (groupMode || !GraftAccel.on(GraftAccel.LimitPushdown) ||
      pushed.nonEmpty || n <= 0 || orders.isEmpty) return false
    orders.head.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 &&
          r.fieldNames.head.equalsIgnoreCase(meta.keyCols.head) =>
        limitPush = Some(GraftScan.LimitPush(n,
          Some(orders.head.direction() == SortDirection.ASCENDING)))
        true
      case _ => false
    }
  }

  /** The scan never emits EXACTLY n rows — it plans enough regions to
    * cover n and leaves the final cut to Spark. */
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[sources.Filter])
      : Array[sources.Filter] = {
    pushed = filters
    filters // everything stays residual; storage-side eval is best-effort
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Metadata-answerable aggregation: COUNT(*), COUNT(col), and
    * MIN/MAX with no filter and no grouping come straight from the
    * region manifest — zero data IO. Key columns use the per-dimension
    * key bounds; NON-KEY columns use the ColStats entries when every
    * region carries one and the bounds are exact for the type
    * (integral/date/timestamp/decimal≤18 — string bounds may be
    * truncated and float/double zero bounds are sign-widened, so those
    * answer COUNT only). This is the V2-sanctioned face of the
    * reference's partial-aggregation-in-storage coprocessor
    * (SURVEY §2.7), without a server process. */
  private def analyzeAgg(agg: Aggregation): Option[Seq[GraftAggScan.Spec]] = {
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty) return None
    val keyDim = meta.keyCols.map(_.toLowerCase).zipWithIndex.toMap
    val keySet = keyDim.keySet
    def dimOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Int] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        keyDim.get(r.fieldNames.head.toLowerCase)
      case _ => None
    }
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        meta.schema.fields.find(
          _.name.equalsIgnoreCase(r.fieldNames.head))
          .filterNot(f => keySet(f.name.toLowerCase))
      case _ => None
    }
    // every region must carry a stat entry for the column (pre-upgrade
    // manifests fall back to a real scan); empty table answers anything
    lazy val regions = pinned.getOrElse(TableMeta.loadRegions(tableDir))
    def covered(f: StructField): Boolean =
      ColStats.trackable(f.dataType) && regions.forall(
        _.stats.exists(_._1.equalsIgnoreCase(f.name)))
    // min/max are only exact where the stored bounds are exact values
    def exactBounds(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | DateType | LongType |
          TimestampType | BooleanType => true
      case d: DecimalType => d.precision <= 18
      case _ => false // strings truncate; fp zeros sign-widen
    }
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(GraftAggScan.CountAll)
      // COUNT(keyCol) = COUNT(*): key columns reject nulls at write time
      case c: Count if !c.isDistinct && dimOf(c.column).isDefined =>
        Some(GraftAggScan.CountAll)
      // COUNT(nonKeyCol): total rows minus the stat null counts
      case c: Count if !c.isDistinct =>
        colOf(c.column).filter(covered)
          .map(f => GraftAggScan.ColCountNonNull(f.name))
      case m: Min => dimOf(m.column).map(GraftAggScan.KeyMin).orElse(
        colOf(m.column).filter(covered)
          .filter(f => exactBounds(f.dataType))
          .map(f => GraftAggScan.ColMin(f.name)))
      case m: Max => dimOf(m.column).map(GraftAggScan.KeyMax).orElse(
        colOf(m.column).filter(covered)
          .filter(f => exactBounds(f.dataType))
          .map(f => GraftAggScan.ColMax(f.name)))
      case _ => None
    }
    if (specs.forall(_.isDefined)) Some(specs.flatten) else None
  }

  /** Grouped PARTIAL aggregation pushdown — the full analogue of the
    * reference's coprocessor-side grouped partial aggregation
    * (SparkSqlRegionObserver.scala:42-196, its
    * `SparkSqlRegionObserver`'s per-region `InternalRowRegionScanner`):
    * when the grouping columns are a leading prefix of the composite
    * key, region files are sorted by the group key, so each read task
    * can fold its rows into per-group partial rows with O(1) state
    * (streaming group-change detection, no hash map, no spill) and ship
    * only the partials. Spark plans the final merge on top
    * (`supportCompletePushDown` stays false: a group can span regions);
    * combined with KeyGroupedPartitioning the merge needs no Exchange.
    * Supported partial functions mirror Spark's own partial-pushdown
    * surface: COUNT(*)/COUNT(col)/MIN/MAX (orderable types) and
    * non-distinct SUM over integral (Long partial) or floating (Double
    * partial) columns — decimals are excluded (the partial type
    * widening would change the final result type). */
  private def analyzeGroupAgg(agg: Aggregation)
      : Option[GraftGroupAggScan.Plan] = {
    import GraftGroupAggScan._
    if (pushed.nonEmpty || agg.groupByExpressions.isEmpty) return None
    val keyDim = meta.keyCols.map(_.toLowerCase).zipWithIndex.toMap
    def nameOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        meta.schema.fields.find(
          _.name.equalsIgnoreCase(r.fieldNames.head)).map(_.name)
      case _ => None
    }
    val groupNames = agg.groupByExpressions.toSeq.map(nameOf)
    if (groupNames.exists(_.isEmpty)) return None
    val groupCols = groupNames.flatten
    val dims = groupCols.map(c => keyDim.get(c.toLowerCase))
    if (dims.exists(_.isEmpty)) return None
    val dimSet = dims.flatten.toSet
    // leading prefix of the key, no duplicates: sorted regions make the
    // group contiguous within every file — the streaming fold is exact
    if (dimSet.size != dims.size ||
      dimSet != (0 until dimSet.size).toSet) return None
    // A fixed-split table with bucketed regions already aggregates
    // exchange-free on the key prefix (KeyGroupedPartitioning → one
    // complete HashAggregate, zero shuffle) — strictly better than
    // partials + a merge shuffle, so leave that plan alone. Push ONLY
    // when the exchange-free plan is unavailable (no declared splits,
    // unbucketed append regions, or SPJ disabled): exactly the case
    // where folding in the scan turns a full-row shuffle into a
    // partials shuffle.
    val spjOn = try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
      .toBoolean catch { case _: Exception => false }
    lazy val regionList = pinned.getOrElse(TableMeta.loadRegions(tableDir))
    if (spjOn && meta.splits.isDefined && regionList.nonEmpty &&
      regionList.forall(_.bucket >= 0)) return None
    // input columns read from parquet: group cols first, agg inputs after
    val inputCols = scala.collection.mutable.LinkedHashMap[String, DataType]()
    groupCols.foreach(c => inputCols(c) = meta.schema(c).dataType)
    def ordOf(c: String): Int = {
      if (!inputCols.contains(c)) inputCols(c) = meta.schema(c).dataType
      inputCols.keys.toSeq.indexOf(c)
    }
    def orderable(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | BooleanType | StringType | DateType |
          TimestampType => true
      case _: DecimalType => true
      case _ => false
    }
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(GCountAll)
      case c: Count if !c.isDistinct =>
        // COUNT(keyCol) = COUNT(*): key columns reject nulls at write
        // time, so skip the per-row null probe (and any extra column read)
        nameOf(c.column).map(n =>
          if (keyDim.contains(n.toLowerCase)) GCountAll
          else GCountCol(ordOf(n)))
      case m: Min => nameOf(m.column)
        .filter(n => orderable(meta.schema(n).dataType))
        .map(n => GMin(ordOf(n)))
      case m: Max => nameOf(m.column)
        .filter(n => orderable(meta.schema(n).dataType))
        .map(n => GMax(ordOf(n)))
      case s: Sum if !s.isDistinct =>
        nameOf(s.column).flatMap { n =>
          meta.schema(n).dataType match {
            case ByteType | ShortType | IntegerType | LongType =>
              Some(GSumLong(ordOf(n)))
            case FloatType | DoubleType => Some(GSumDouble(ordOf(n)))
            case _ => None
          }
        }
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return None
    val input = StructType(inputCols.toSeq.map { case (n, dt) =>
      StructField(n, dt, nullable = !keyDim.contains(n.toLowerCase)) })
    Some(Plan(groupCols, input, specs.flatten))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    analyzeAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    !groupMode && GraftAccel.on(GraftAccel.AggPushdown) &&
      (analyzeAgg(agg) match {
        case Some(s) => aggPlan = Some(s); true
        case None => analyzeGroupAgg(agg) match {
          case Some(g) => groupAggPlan = Some(g); true
          case None => false
        }
      })

  override def build(): Scan = aggPlan match {
    case Some(specs) => new GraftAggScan(tableDir, meta, specs, pinned)
    case None => groupAggPlan match {
      case Some(plan) => new GraftGroupAggScan(tableDir, meta, plan, pinned)
      case None =>
        val s = new GraftScan(tableDir, meta, required, pushed, filterHint,
          groupMode, pinned, limitPush)
        if (onBuild != null) onBuild(s)
        s
    }
  }
}


/** Manifest-answered aggregate scan: one partition, one row, no data
  * file reads. Values are computed on the driver at planning time and
  * shipped inside the InputPartition. */
object GraftAggScan {
  sealed trait Spec extends Serializable
  case object CountAll extends Spec
  final case class KeyMin(dim: Int) extends Spec
  final case class KeyMax(dim: Int) extends Spec
  final case class ColMin(name: String) extends Spec
  final case class ColMax(name: String) extends Spec
  final case class ColCountNonNull(name: String) extends Spec
}

class GraftAggScan(tableDir: File, meta: TableMeta,
    specs: Seq[GraftAggScan.Spec],
    pinned: Option[Seq[RegionMeta]] = None) extends Scan with Batch {
  import GraftAggScan._

  private val keyTypes = meta.keyTypes

  private def colType(name: String): DataType =
    meta.schema.fields.find(_.name.equalsIgnoreCase(name)).get.dataType

  override def readSchema(): StructType = StructType(specs.zipWithIndex.map {
    case (CountAll, i) => StructField(s"agg_$i", LongType, nullable = false)
    case (KeyMin(d), i) => StructField(s"agg_$i", keyTypes(d), nullable = true)
    case (KeyMax(d), i) => StructField(s"agg_$i", keyTypes(d), nullable = true)
    case (ColMin(c), i) => StructField(s"agg_$i", colType(c), nullable = true)
    case (ColMax(c), i) => StructField(s"agg_$i", colType(c), nullable = true)
    case (ColCountNonNull(_), i) =>
      StructField(s"agg_$i", LongType, nullable = false)
  })

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val regions = pinned.getOrElse(TableMeta.loadRegions(tableDir))
    // (countValue | minHex | maxHex | null for empty table, type json)
    // per spec, driver-computed. Committed regions always have rows>0,
    // so every manifest min/max is a real value — including "" (hex of
    // the empty-string key, which KeyCodec encodes to zero bytes); only
    // an empty manifest means NULL.
    val byteOrd = Ordering.fromLessThan((a: Array[Byte], b: Array[Byte]) =>
      KeyCodec.compare(a, b) < 0)
    def statsOf(c: String): Seq[ColStat] =
      regions.flatMap(_.stats.collectFirst {
        case (n, s) if n.equalsIgnoreCase(c) => s })
    val cells: Seq[(String, String)] = specs.map {
      case CountAll => (regions.map(_.rows).sum.toString, "")
      case KeyMin(d) =>
        (if (regions.isEmpty) null else regions.map(_.mins(d))
          .minBy(KeyCodec.fromHex)(byteOrd), keyTypes(d).json)
      case KeyMax(d) =>
        (if (regions.isEmpty) null else regions.map(_.maxs(d))
          .maxBy(KeyCodec.fromHex)(byteOrd), keyTypes(d).json)
      // non-key bounds: encoded hex of non-null values only; an
      // all-null column answers SQL NULL
      case ColMin(c) =>
        val vs = statsOf(c).flatMap(_.min)
        (if (vs.isEmpty) null else vs.minBy(KeyCodec.fromHex)(byteOrd),
          colType(c).json)
      case ColMax(c) =>
        val vs = statsOf(c).flatMap(_.max)
        (if (vs.isEmpty) null else vs.maxBy(KeyCodec.fromHex)(byteOrd),
          colType(c).json)
      case ColCountNonNull(c) =>
        val nulls = statsOf(c).map(_.nulls).sum
        ((regions.map(_.rows).sum - nulls).toString, "")
    }
    Array(GraftAggInputPartition(cells.map(_._1).toArray,
      cells.map(_._2).toArray))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftAggReaderFactory()

  override def description(): String =
    s"GraftAggScan ${tableDir.getName} manifest-only specs=$specs"
}

final case class GraftAggInputPartition(cells: Array[String],
    typeJsons: Array[String]) extends InputPartition

final case class GraftAggReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftAggInputPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = {
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          p.cells.length)
        p.cells.indices.foreach { i =>
          if (p.typeJsons(i).isEmpty) {
            row.setLong(i, p.cells(i).toLong) // CountAll
          } else if (p.cells(i) == null) {
            row.setNullAt(i) // min/max of an empty table
          } else {
            val dt = DataType.fromJson(p.typeJsons(i))
            val bytes = KeyCodec.fromHex(p.cells(i))
            val v = dt match {
              // decimal stats carry the unscaled long
              case d: DecimalType =>
                org.apache.spark.sql.types.Decimal(
                  KeyCodec.decode(LongType, bytes, 0, bytes.length)
                    .asInstanceOf[Long], d.precision, d.scale)
              case _ => KeyCodec.decode(dt, bytes, 0, bytes.length)
            }
            row.update(i, v match {
              case s: String =>
                org.apache.spark.unsafe.types.UTF8String.fromString(s)
              case other => other
            })
          }
        }
        row
      }
      override def close(): Unit = ()
    }
  }
}

/** Grouped partial-aggregation scan (see
  * [[GraftScanBuilder.analyzeGroupAgg]]): each read task streams its
  * key-sorted region rows once and emits one partial row per contiguous
  * group run — `(groupCols…, partialAgg…)` — with O(1) aggregation
  * state. Spark's V2 pushdown plans the final merge above (`Sum` over
  * partial counts/sums, `Min`/`Max` over partial bounds). Emitting a
  * group more than once (a run split across files of a packed
  * partition, or an append region overlapping a compacted one) is
  * correct by construction: the final merge re-combines.
  *
  * This is the reference's storage-side grouped aggregation
  * (`SparkSqlRegionObserver.scala:42-196`) rebuilt on the sanctioned V2
  * surface: where the reference ran an observer inside the region
  * server, graft folds inside the partition reader — same effect, rows
  * never leave the scan un-aggregated. */
object GraftGroupAggScan {
  /** Partial-agg spec; `in` = ordinal into the scan's input schema. */
  sealed trait GSpec extends Serializable { def in: Int }
  case object GCountAll extends GSpec { val in: Int = -1 }
  final case class GCountCol(in: Int) extends GSpec
  final case class GMin(in: Int) extends GSpec
  final case class GMax(in: Int) extends GSpec
  final case class GSumLong(in: Int) extends GSpec
  final case class GSumDouble(in: Int) extends GSpec

  final case class Plan(groupCols: Seq[String], input: StructType,
      specs: Seq[GSpec]) extends Serializable

  private[catalog] def outType(s: GSpec, input: StructType): DataType =
    s match {
      case GCountAll | _: GCountCol => LongType
      case m: GMin => input(m.in).dataType
      case m: GMax => input(m.in).dataType
      case _: GSumLong => LongType
      case _: GSumDouble => DoubleType
    }
}

class GraftGroupAggScan(tableDir: File, meta: TableMeta,
    plan: GraftGroupAggScan.Plan,
    pinned: Option[Seq[RegionMeta]] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics {
  import GraftGroupAggScan._

  /** Region selection/packing/locality/partitioning delegate: the same
    * read tasks a plain scan of the input columns would get. */
  private val inner = new GraftScan(tableDir, meta, plan.input,
    Array.empty, None, false, pinned)

  override def readSchema(): StructType = StructType(
    plan.groupCols.map(c => plan.input(c)) ++
      plan.specs.zipWithIndex.map { case (s, i) =>
        StructField(s"agg_$i", outType(s, plan.input),
          nullable = s != GCountAll && !s.isInstanceOf[GCountCol])
      })

  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    inner.planInputPartitions()
  /** KeyGroupedPartitioning survives the fold (group cols keep their
    * names in the output), so the final merge plans with no Exchange on
    * fixed-split tables — partial rows aggregate in place. */
  override def outputPartitioning()
      : connector.read.partitioning.Partitioning =
    inner.outputPartitioning()
  override def estimateStatistics(): Statistics = inner.estimateStatistics()

  override def createReaderFactory(): PartitionReaderFactory =
    GraftGroupAggReaderFactory(plan.input.json, plan.groupCols.length,
      plan.specs.toArray,
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone,
      org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis)

  override def description(): String =
    s"GraftGroupAggScan ${tableDir.getName} group=${plan.groupCols
      .mkString(",")} specs=${plan.specs.mkString(",")}"
}

final case class GraftGroupAggReaderFactory(inputJson: String,
    nGroup: Int, specs: Array[GraftGroupAggScan.GSpec],
    sessionZone: String, caseSensitive: Boolean)
    extends PartitionReaderFactory {
  import GraftGroupAggScan._

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val input = DataType.fromJson(inputJson).asInstanceOf[StructType]
    val (files, _) = partition match {
      case p: GraftInputPartition => (p.files, p.ids)
      case p: GraftKeyedInputPartition => (p.files, p.ids)
      case other => throw new IllegalStateException(other.toString)
    }
    // value extraction from the columnar batch, copying buffer-backed
    // types (UTF8String/binary) because vectors are reused across batches
    def getter(dt: DataType, ord: Int)
        : (org.apache.spark.sql.vectorized.ColumnarBatch, Int) => Any =
      dt match {
        case BooleanType => (b, r) => b.column(ord).getBoolean(r)
        case ByteType => (b, r) => b.column(ord).getByte(r)
        case ShortType => (b, r) => b.column(ord).getShort(r)
        case IntegerType | DateType => (b, r) => b.column(ord).getInt(r)
        case LongType | TimestampType => (b, r) => b.column(ord).getLong(r)
        case FloatType => (b, r) => b.column(ord).getFloat(r)
        case DoubleType => (b, r) => b.column(ord).getDouble(r)
        case StringType => (b, r) => b.column(ord).getUTF8String(r).clone()
        case d: DecimalType =>
          (b, r) => b.column(ord).getDecimal(r, d.precision, d.scale)
        case BinaryType => (b, r) => b.column(ord).getBinary(r).clone()
        case other => throw new IllegalStateException(
          s"group-agg pushdown over unsupported type $other")
      }
    val groupGet = Array.tabulate(nGroup)(i => getter(input(i).dataType, i))

    sealed abstract class Acc {
      def add(b: org.apache.spark.sql.vectorized.ColumnarBatch, r: Int): Unit
      def value: Any // null = no non-null input seen
      def reset(): Unit
    }
    def acc(s: GSpec): Acc = s match {
      case GCountAll => new Acc {
        private var n = 0L
        def add(b: org.apache.spark.sql.vectorized.ColumnarBatch, r: Int)
            : Unit = n += 1
        def value: Any = n
        def reset(): Unit = n = 0L
      }
      case GCountCol(i) => new Acc {
        private var n = 0L
        def add(b: org.apache.spark.sql.vectorized.ColumnarBatch, r: Int)
            : Unit = if (!b.column(i).isNullAt(r)) n += 1
        def value: Any = n
        def reset(): Unit = n = 0L
      }
      case GSumLong(i) => new Acc {
        private var sum = 0L; private var seen = false
        def add(b: org.apache.spark.sql.vectorized.ColumnarBatch, r: Int)
            : Unit = if (!b.column(i).isNullAt(r)) {
          seen = true
          sum += (input(i).dataType match {
            case LongType => b.column(i).getLong(r)
            case IntegerType => b.column(i).getInt(r).toLong
            case ShortType => b.column(i).getShort(r).toLong
            case _ => b.column(i).getByte(r).toLong
          })
        }
        def value: Any = if (seen) sum else null
        def reset(): Unit = { sum = 0L; seen = false }
      }
      case GSumDouble(i) => new Acc {
        private var sum = 0.0; private var seen = false
        def add(b: org.apache.spark.sql.vectorized.ColumnarBatch, r: Int)
            : Unit = if (!b.column(i).isNullAt(r)) {
          seen = true
          sum += (input(i).dataType match {
            case DoubleType => b.column(i).getDouble(r)
            case _ => b.column(i).getFloat(r).toDouble
          })
        }
        def value: Any = if (seen) sum else null
        def reset(): Unit = { sum = 0.0; seen = false }
      }
      case m@(_: GMin | _: GMax) => new Acc {
        private val i = m.in
        private val get = getter(input(i).dataType, i)
        private val keepLess = m.isInstanceOf[GMin]
        private var cur: Any = null
        def add(b: org.apache.spark.sql.vectorized.ColumnarBatch, r: Int)
            : Unit = if (!b.column(i).isNullAt(r)) {
          val v = get(b, r)
          if (cur == null) cur = v
          else {
            // all supported types expose Spark-consistent Comparable
            // (UTF8String is binary-ordered, Decimal numeric, Double/
            // Float the NaN-greatest total order)
            val c = v.asInstanceOf[Comparable[Any]].compareTo(cur)
            if (if (keepLess) c < 0 else c > 0) cur = v
          }
        }
        def value: Any = cur
        def reset(): Unit = cur = null
      }
    }
    val accs = specs.map(acc)

    new PartitionReader[InternalRow] {
      private var idx = 0
      private var cur: ParquetColumnarIO.ColumnarReader = _
      private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
      private var rowId = 0
      private var nRows = 0
      private var groupCur: Array[Any] = _
      private var needReset = false
      private var out: InternalRow = _

      private def advance(): Boolean = {
        while (true) {
          if (cur == null) {
            if (idx >= files.length) return false
            cur = new ParquetColumnarIO.ColumnarReader(files(idx),
              input, Nil, sessionZone, caseSensitive)
            idx += 1
          }
          if (cur.nextBatch()) {
            batch = cur.batch(); rowId = 0; nRows = batch.numRows()
            return true
          }
          cur.close(); cur = null
        }
        false
      }

      private def sameGroup(r: Int): Boolean = {
        var i = 0
        while (i < nGroup) {
          if (groupGet(i)(batch, r) != groupCur(i)) return false
          i += 1
        }
        true
      }

      private def emit(): Unit = {
        val row = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(nGroup + accs.length)
        var i = 0
        while (i < nGroup) { row.update(i, groupCur(i)); i += 1 }
        var j = 0
        while (j < accs.length) {
          row.update(nGroup + j, accs(j).value); j += 1
        }
        out = row
      }

      override def next(): Boolean = {
        while (true) {
          if (batch != null && rowId < nRows) {
            if (!needReset && groupCur != null && !sameGroup(rowId)) {
              emit(); needReset = true; return true // row not consumed
            }
            if (groupCur == null || needReset) {
              groupCur = Array.tabulate(nGroup)(i => groupGet(i)(batch, rowId))
              accs.foreach(_.reset()); needReset = false
            }
            var j = 0
            while (j < accs.length) { accs(j).add(batch, rowId); j += 1 }
            rowId += 1
          } else if (!advance()) {
            if (groupCur != null && !needReset) {
              emit(); needReset = true; return true // flush the last run
            }
            return false
          }
        }
        false
      }
      override def get(): InternalRow = out
      override def close(): Unit = if (cur != null) cur.close()
    }
  }
}

class GraftScan(tableDir: File, meta: TableMeta, required: StructType,
    filters: Array[sources.Filter], filterHint: Option[String] = None,
    groupMode: Boolean = false,
    pinned: Option[Seq[RegionMeta]] = None,
    limitPush: Option[GraftScan.LimitPush] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportOrdering with SupportsRuntimeFiltering
    with SupportsReportPartitioning {

  private val dims: Map[String, (Int, DataType)] =
    meta.keyCols.zipWithIndex.map { case (k, i) =>
      k.toLowerCase -> (i, meta.schema(k).dataType)
    }.toMap

  /** Non-key columns with manifest stats: drive region skipping on
    * non-key predicates ([[ColStats]]) — the manifest-level analogue of
    * parquet row-group stats, one level up, so the driver never even
    * schedules a task for a region the predicate provably misses. */
  private val statTypes: Map[String, DataType] = {
    val keySet = meta.keyCols.map(_.toLowerCase).toSet
    meta.schema.fields.iterator
      .filterNot(f => keySet(f.name.toLowerCase))
      .filter(f => ColStats.trackable(f.dataType))
      .map(f => f.name.toLowerCase -> f.dataType).toMap
  }

  /** Runtime (dynamic) filters Spark injects at execution time — e.g.
    * the build-side key set of a broadcast join. They prune regions
    * exactly like planning-time filters; the V2-native realization of
    * dynamic partition pruning over key-organized storage. */
  @volatile private var runtimeFilters: Array[sources.Filter] = Array.empty

  override def filterAttributes()
      : Array[connector.expressions.NamedReference] = {
    // only columns that survived column pruning — Spark resolves these
    // against the scan output. Key columns prune via intervals; stat-
    // tracked non-key columns prune via manifest min/max (a broadcast
    // join on ANY stat-covered column re-prunes regions at runtime).
    val have = required.fieldNames.map(_.toLowerCase).toSet
    // in group mode the runtime GROUP filter arrives on _graft_file —
    // accept it so an UPDATE/MERGE rewrite touches only the regions
    // that actually contain matches
    val metaAttrs =
      if (groupMode && required.fieldNames.contains(GraftMetaCols.FileName))
        Seq(GraftMetaCols.FileName)
      else Nil
    (meta.keyCols.filter(k => have.contains(k.toLowerCase)) ++
      required.fieldNames.filter(n => statTypes.contains(n.toLowerCase)) ++
      metaAttrs)
      .map(connector.expressions.Expressions.column).toArray
  }

  override def filter(runtime: Array[sources.Filter]): Unit = {
    runtimeFilters = runtime
    selectedRegionsCache = null // re-prune with the tighter set
    packedGroupsCache = null
  }

  /** Regions surviving interval pruning (driver-side, O(regions)). */
  @volatile private var selectedRegionsCache: Seq[RegionMeta] = _
  def selectedRegions: Seq[RegionMeta] = {
    var c = selectedRegionsCache
    if (c == null) {
      val all = filters.toSeq ++ runtimeFilters
      val constraints = GraftFilters.intervals(all, dims)
      val statsOn = GraftAccel.on(GraftAccel.StatsSkip)
      val colPred = ColStats.compile(all, statTypes) // literals enc'd once
      val idPreds = all.flatMap(GraftFilters.regionIdPred)
      val filePreds = all.flatMap(GraftFilters.regionFilePred)
      c = pinned.getOrElse(TableMeta.loadRegions(tableDir)).filter { r =>
        idPreds.forall(_(r.id)) && filePreds.forall(_(r.file)) &&
          KeyRanges.survives(constraints,
            r.mins.map(KeyCodec.fromHex), r.maxs.map(KeyCodec.fromHex)) &&
          (!statsOn || colPred.survives(r.stats))
      }
      selectedRegionsCache = c
    }
    c
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming read: the append-only region manifest is the changelog —
    * an offset is "number of committed regions", each micro-batch reads
    * the regions committed since the last offset. (Do not compact a
    * table while it is being tailed; compaction rewrites the manifest.)
    * The reference has no streaming surface at all (SURVEY §2.8). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pinned.isEmpty,
      "streaming from a pinned-region scan (time travel / " +
        "graft.sampleRegions / a WAP branch preview) is not " +
        "supported; tail the live table (incremental consumers " +
        "checkpoint on _graft_region_id instead)")
    // graft.filterHint: user-asserted skipping predicate (FilterHint) —
    // the streaming stand-in for batch-only filter pushdown
    val hinted = filterHint
      .map(FilterHint.parse(_, Some(meta.schema))).getOrElse(Array.empty)
    // Streaming resolves metadata columns (StreamingRelationV2 is
    // ExposesMetadataColumns) but runs NO pruning pass, so when a
    // query references one the relation's output is the full data
    // schema plus ALL metadata columns, in metadataColumns() order —
    // while `required` here is still only the data schema. Emit the
    // metadata columns unconditionally as trailing fields: they line
    // up exactly when referenced, and unreferenced trailing columns
    // are never read (cost: one constant vector per batch).
    val withMeta = StructType(required.fields ++ GraftMetaCols.all.map(m =>
      org.apache.spark.sql.types.StructField(m.name, m.dataType,
        nullable = false)))
    new GraftMicroBatchStream(tableDir, withMeta, filters ++ hinted)
  }

  /** Key-grouped partitioning over the fixed region buckets, when the
    * table declares `regionSplits` and every region file carries its
    * bucket. With `spark.sql.sources.v2.bucketing.enabled`:
    *  - GROUP BY on the first key column (or any superset) plans with
    *    no Exchange (bucket is a function of k1, so equal keys share a
    *    partition), and
    *  - joins between two tables with byte-identical split lists plan
    *    as storage-partitioned joins — no Exchange on either fact side
    *    (the reference's `canBeAggregatedForAll` intent,
    *    `HBaseStrategies.scala:44-175`, realized on the V2 API). */
  private def keyGrouped: Boolean = meta.splits.isDefined &&
    selectedRegions.nonEmpty && selectedRegions.forall(_.bucket >= 0)

  override def outputPartitioning()
      : connector.read.partitioning.Partitioning =
    if (keyGrouped) {
      val sp = meta.splits.get
      new connector.read.partitioning.KeyGroupedPartitioning(
        Array(connector.expressions.Expressions.apply(sp.functionName,
          connector.expressions.Expressions.column(meta.keyCols.head))),
        packedGroups.size)
    } else {
      new connector.read.partitioning.UnknownPartitioning(
        packedGroups.size)
    }

  /** Spark's small-file packing applied to regions: a streaming-ingest
    * table accumulates thousands of tiny regions between compactions,
    * and one task per tiny region is a scheduler flood at scale. Pack
    * greedily to the same target Spark's file source uses
    * (min(maxPartitionBytes, max(openCost, total/defaultParallelism)))
    * — large compacted regions stay one-per-task, tiny append regions
    * coalesce. Key-grouped scans pack only within a bucket, so
    * storage-partitioned plans survive packing. */
  /** Cached: consulted by partitioning, ordering, and partition
    * planning in one scan — each recomputation stats every region
    * file. Invalidated together with the pruned-region cache. The pack
    * target comes from the WHOLE scan's bytes (Spark's maxSplitBytes
    * formula) and is shared across buckets — a per-bucket total would
    * clamp the target to openCost on bucketed streaming-ingest tables
    * and defeat packing exactly where it matters most. */
  /** Region truncation for a pushed LIMIT/TopN ([[GraftScan.LimitPush]]).
    * Engages ONLY on an unfiltered scan (no pushed predicates, no
    * runtime filters, not group mode): with any filter in play the
    * manifest row counts no longer bound the post-filter yield, and the
    * builder/plan already refuse those combinations — the runtime check
    * re-verifies because dynamic filters arrive after planning.
    *
    *  - bare LIMIT n: ANY n rows satisfy it — keep a minimal manifest
    *    prefix whose row counts reach n;
    *  - TopN on the leading key: keep region P unless ≥ n rows sit in
    *    regions whose ENTIRE key range sorts strictly before (asc) /
    *    after (desc) P's range on the first sort column — sound under
    *    overlapping region ranges (dedupKeys appends, pre-merge
    *    streaming litter), where a simple sorted prefix would not be.
    *    O(R log R): prefix sums over bound-sorted regions + binary
    *    search. Spark's TopN above does the exact ordering. */
  private def limitedRegions: Seq[RegionMeta] = {
    val regions = selectedRegions
    limitPush match {
      case Some(lp) if filters.isEmpty && runtimeFilters.isEmpty &&
          !groupMode && regions.nonEmpty =>
        lp.keyAsc match {
          case None =>
            var cum = 0L
            regions.takeWhile { r =>
              val need = cum < lp.n; cum += r.rows; need }
          case Some(asc) =>
            // bound of each region on the leading key, oriented so the
            // "strictly before in sort order" test is one comparison
            val cmp = (a: Array[Byte], b: Array[Byte]) =>
              KeyCodec.compare(a, b)
            val lo = regions.map(r => KeyCodec.fromHex(
              if (asc) r.mins(0) else r.maxs(0)))
            val hi = regions.map(r => KeyCodec.fromHex(
              if (asc) r.maxs(0) else r.mins(0)))
            // rows whose region sorts ENTIRELY before key k: prefix
            // sums over regions ordered by their far bound
            val order = regions.indices.sortBy(hi(_))(
              Ordering.fromLessThan((a, b) =>
                (if (asc) cmp(a, b) < 0 else cmp(a, b) > 0)))
            val sortedHi = order.map(hi(_)).toIndexedSeq
            val pre = order.scanLeft(0L)((s, i) => s + regions(i).rows)
              .toIndexedSeq
            def rowsBefore(k: Array[Byte]): Long = {
              var a = 0; var b = sortedHi.length
              while (a < b) {
                val m = (a + b) >>> 1
                val c = cmp(sortedHi(m), k)
                if (if (asc) c < 0 else c > 0) a = m + 1 else b = m
              }
              pre(a)
            }
            regions.indices.filter(i => rowsBefore(lo(i)) < lp.n)
              .map(regions(_))
        }
      case _ => regions
    }
  }

  @volatile private var packedGroupsCache: Seq[Seq[RegionMeta]] = _
  private def packedGroups: Seq[Seq[RegionMeta]] = {
    var c = packedGroupsCache
    if (c == null) {
      val regions = limitedRegions
      c = if (regions.isEmpty) Nil
      else if (!GraftAccel.on(GraftAccel.Packing)) regions.map(Seq(_))
      else {
        val conf = org.apache.spark.sql.internal.SQLConf.get
        val openCost = conf.filesOpenCostInBytes
        val minParts = conf.filesMinPartitionNum
          .getOrElse(math.max(1, org.apache.spark.sql.SparkSession.active
            .sparkContext.defaultParallelism))
        val weights: Map[String, Long] = regions.map(r =>
          r.file -> (new File(tableDir, r.file).length() + openCost)).toMap
        val weight = (r: RegionMeta) => weights(r.file)
        val target = math.min(conf.filesMaxPartitionBytes,
          math.max(openCost, weights.values.sum / math.max(1, minParts)))
        if (keyGrouped)
          regions.groupBy(_.bucket).toSeq.sortBy(_._1)
            .flatMap { case (_, rs) => GraftPacking.pack(rs, weight, target) }
        else GraftPacking.pack(regions, weight, target)
      }
      packedGroupsCache = c
    }
    c
  }

  override def planInputPartitions(): Array[InputPartition] = {
    def files(rs: Seq[RegionMeta]): Array[String] =
      rs.map(r => new File(tableDir, r.file).getPath).toArray
    def hosts(rs: Seq[RegionMeta]): Array[String] =
      rs.flatMap(GraftInputPartition.hosts).distinct.toArray
    def ids(rs: Seq[RegionMeta]): Array[Long] = rs.map(_.id).toArray
    if (keyGrouped)
      packedGroups.map(rs => GraftKeyedInputPartition(
        files(rs), rs.map(_.rows).sum, rs.head.bucket, hosts(rs), ids(rs))
        : InputPartition).toArray
    else
      packedGroups.map(rs => GraftInputPartition(
        files(rs), rs.map(_.rows).sum, hosts(rs), ids(rs))
        : InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // with parquet-side filtering off, readers emit every row and the
    // (always-residual) Spark filter does all the work — answers equal.
    // Group mode forces it off: a row-level rewrite must read EVERY
    // row of a surviving region, matched or not.
    // Runtime (DPP) filters join the reader predicate too: they are
    // sound row filters (Spark still executes the actual join above),
    // and on a key column they turn a broadcast-probe join into
    // page-level point gets inside the surviving regions — large IN
    // sets become a [min,max] envelope in toParquetFilter.
    GraftReaderFactory(required.json,
      if (!groupMode && GraftAccel.on(GraftAccel.ParquetFilters))
        filters ++ runtimeFilters
      else Array.empty,
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone,
      org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(
      selectedRegions.map(r => new File(tableDir, r.file).length())
        .sum.max(1L))
    override def numRows(): OptionalLong =
      OptionalLong.of(selectedRegions.map(_.rows).sum)
    /** Table-level column stats aggregated from the manifest (key
      * min/max per dimension; non-key ColStats min/max/null-count) —
      * feeds Spark's CBO (join reordering, filter selectivity) with no
      * data IO. Strings report null counts only: CBO's min/max
      * estimation is numeric, and string bounds may be truncated. */
    // computed on demand (CBO-only consumer), once per Statistics
    private lazy val colStatsMemo: java.util.Map[
        connector.expressions.NamedReference,
        connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[connector.expressions.NamedReference,
        connector.read.colstats.ColumnStatistics]()
      val regions = selectedRegions
      if (regions.nonEmpty) fill(out, regions)
      out
    }

    private def fill(out: java.util.HashMap[
          connector.expressions.NamedReference,
          connector.read.colstats.ColumnStatistics],
        regions: Seq[RegionMeta]): Unit = {
      def colStat(mn: Option[Any], mx: Option[Any], nulls: Long)
          : connector.read.colstats.ColumnStatistics =
        new connector.read.colstats.ColumnStatistics {
          override def min(): java.util.Optional[Object] = mn match {
            case Some(v) => java.util.Optional.of(v.asInstanceOf[Object])
            case None => java.util.Optional.empty()
          }
          override def max(): java.util.Optional[Object] = mx match {
            case Some(v) => java.util.Optional.of(v.asInstanceOf[Object])
            case None => java.util.Optional.empty()
          }
          override def nullCount(): OptionalLong = OptionalLong.of(nulls)
        }
      val byteOrd = Ordering.fromLessThan((a: Array[Byte], b: Array[Byte]) =>
        KeyCodec.compare(a, b) < 0)
      def decoded(dt: DataType, hex: String): Any = {
        val b = KeyCodec.fromHex(hex)
        KeyCodec.decode(dt, b, 0, b.length)
      }
      meta.keyCols.zipWithIndex.foreach { case (k, d) =>
        val dt = meta.schema(k).dataType
        if (dt != StringType)
          out.put(connector.expressions.Expressions.column(k),
            colStat(
              Some(decoded(dt,
                regions.map(_.mins(d)).minBy(KeyCodec.fromHex)(byteOrd))),
              Some(decoded(dt,
                regions.map(_.maxs(d)).maxBy(KeyCodec.fromHex)(byteOrd))),
              0L)) // keys reject nulls at write time
      }
      statTypes.foreach { case (lc, dt) =>
        val perRegion = regions.map(r =>
          r.stats.collectFirst { case (n, s) if n.toLowerCase == lc => s })
        if (perRegion.forall(_.isDefined)) { // else unknown: skip column
          val sts = perRegion.map(_.get)
          val nulls = sts.map(_.nulls).sum
          val mns = sts.flatMap(_.min).map(KeyCodec.fromHex)
          val mxs = sts.flatMap(_.max).map(KeyCodec.fromHex)
          def dec(b: Array[Byte]): Any = dt match {
            // decimal stats store the unscaled long; CBO wants the
            // Catalyst Decimal
            case d: DecimalType => org.apache.spark.sql.types.Decimal(
              KeyCodec.decode(LongType, b, 0, b.length).asInstanceOf[Long],
              d.precision, d.scale)
            case _ => KeyCodec.decode(dt, b, 0, b.length)
          }
          val (mn, mx) =
            if (dt == StringType || mns.isEmpty) (None, None)
            else (Some(dec(mns.min(byteOrd))), Some(dec(mxs.max(byteOrd))))
          val name = meta.schema.fields
            .find(_.name.toLowerCase == lc).get.name
          out.put(connector.expressions.Expressions.column(name),
            colStat(mn, mx, nulls))
        }
      }
    }

    override def columnStats(): java.util.Map[
        connector.expressions.NamedReference,
        connector.read.colstats.ColumnStatistics] = colStatsMemo
  }

  /** Region files are written key-sorted (RequiresDistributionAndOrdering
    * on the write side), so each partition reads in composite-key order —
    * reported so Spark elides local sorts on key prefixes (the rebuild of
    * the reference's declared scan ordering, HBaseSQLTableScan.scala:41-47).
    * Only reported when every key column survives column pruning AND no
    * read partition packs multiple (possibly overlapping) region files —
    * a packed partition concatenates files, which is not key-ordered. */
  override def outputOrdering(): Array[connector.expressions.SortOrder] = {
    val have = required.fieldNames.map(_.toLowerCase).toSet
    if (meta.keyCols.forall(k => have.contains(k.toLowerCase)) &&
      packedGroups.forall(_.size == 1))
      meta.keyCols.map(k => connector.expressions.Expressions.sort(
        connector.expressions.Expressions.column(k),
        connector.expressions.SortDirection.ASCENDING)).toArray
    else Array.empty
  }

  override def description(): String =
    s"GraftScan ${tableDir.getName} regions=${selectedRegions.size} " +
      s"filters=${filters.mkString(", ")}"

  /** Driver-side pruning metrics, surfaced on the scan node in the
    * Spark UI: how many manifest regions existed, how many survived
    * pruning (key intervals + column stats + runtime filters), and how
    * many read tasks they packed into — the numbers an operator checks
    * to see whether skipping is doing its job on a big table. */
  override def supportedCustomMetrics()
      : Array[connector.metric.CustomMetric] =
    Array(new GraftScan.RegionsTotalMetric,
      new GraftScan.RegionsScannedMetric,
      new GraftScan.ReadPartitionsMetric)

  override def reportDriverMetrics()
      : Array[connector.metric.CustomTaskMetric] = {
    val total = pinned.getOrElse(TableMeta.loadRegions(tableDir)).size
    Array(GraftScan.taskMetric("regionsTotal", total),
      GraftScan.taskMetric("regionsScanned", limitedRegions.size),
      GraftScan.taskMetric("readPartitions", packedGroups.size))
  }
}

object GraftScan {
  /** A pushed LIMIT (`keyAsc` = None) or leading-key TopN
    * (`keyAsc` = Some(direction)); always partial — the scan plans a
    * region subset guaranteed to still contain the answer, Spark cuts
    * the exact n above. */
  final case class LimitPush(n: Int, keyAsc: Option[Boolean])

  // concrete zero-arg classes: Spark's SQL metrics listener
  // re-instantiates CustomMetric implementations reflectively, so
  // parameterized anonymous classes cannot aggregate in the UI
  sealed abstract class SumMetric(n: String, desc: String)
      extends connector.metric.CustomMetric {
    override def name(): String = n
    override def description(): String = desc
    override def aggregateTaskMetrics(values: Array[Long]): String =
      values.sum.toString
  }
  final class RegionsTotalMetric
      extends SumMetric("regionsTotal", "manifest regions (total)")
  final class RegionsScannedMetric
      extends SumMetric("regionsScanned", "regions after pruning")
  final class ReadPartitionsMetric
      extends SumMetric("readPartitions", "packed read tasks")

  private[catalog] def taskMetric(n: String, v: Long)
      : connector.metric.CustomTaskMetric =
    new connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
}

/** The provenance metadata columns ([[GraftTable.metadataColumns]]). */
object GraftMetaCols {
  val RegionId = "_graft_region_id"
  val FileName = "_graft_file"
  val names: Set[String] = Set(RegionId, FileName)

  private def col(n: String, dt: DataType, c: String)
      : connector.catalog.MetadataColumn =
    new connector.catalog.MetadataColumn {
      override def name(): String = n
      override def dataType(): DataType = dt
      override def isNullable: Boolean = false
      override def comment(): String = c
    }

  val all: Array[connector.catalog.MetadataColumn] = Array(
    col(RegionId, LongType,
      "stable region id (monotone in commit order) of the row's region"),
    col(FileName, StringType, "region file name inside the table dir"))
}

object GraftInputPartition {
  /** Locality hint of a region (the reference's
    * `getPreferredLocations`): the manifest-carried host, empty for
    * location-less filesystems. */
  def hosts(r: RegionMeta): Array[String] =
    if (r.host.nonEmpty) Array(r.host) else Array.empty
}

/** Order-preserving greedy bin packing (the same shape Spark's file
  * source uses for small-file coalescing). Pure so it can be
  * property-tested: every item appears exactly once, order preserved,
  * and no group except singletons exceeds the target. */
object GraftPacking {
  def pack[T](items: Seq[T], weight: T => Long, target: Long)
      : Seq[Seq[T]] = {
    val out = Seq.newBuilder[Seq[T]]
    var cur = List.empty[T]
    var curBytes = 0L
    items.foreach { r =>
      val w = weight(r)
      if (cur.nonEmpty && curBytes + w > target) {
        out += cur.reverse; cur = Nil; curBytes = 0L
      }
      cur ::= r; curBytes += w
    }
    if (cur.nonEmpty) out += cur.reverse
    out.result()
  }
}

/** One read task over one-or-more region files (small regions pack).
  * `ids(i)` = stable region id of `files(i)`, for the metadata
  * columns. */
final case class GraftInputPartition(files: Array[String], rows: Long,
    locations: Array[String] = Array.empty,
    ids: Array[Long] = Array.empty) extends InputPartition {
  override def preferredLocations(): Array[String] = locations
}

/** Region files of one fixed-split bucket: every row maps to `bucket`
  * under the table's region transform, so the partition key is the
  * bucket. */
final case class GraftKeyedInputPartition(files: Array[String], rows: Long,
    bucket: Int, locations: Array[String] = Array.empty,
    ids: Array[Long] = Array.empty)
    extends InputPartition with HasPartitionKey {
  override def preferredLocations(): Array[String] = locations
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

/** Offset = "all original data in regions with stable id ≤ `id` has
  * been consumed", qualified by the manifest generation current when
  * the offset was taken. Ids survive compaction (the rewritten regions
  * move to the manifest's retired list with their ids), so an offset
  * stays meaningful across manifest rewrites; `n` ≥ 0 marks a legacy
  * count-based checkpoint, translated to an id on first use. */
final case class RegionCountOffset(gen: Long, id: Long, n: Int = -1)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  // a deserialized legacy offset must re-serialize as itself — dropping
  // `n` here would corrupt a count-based checkpoint into id=-1
  override def json(): String =
    if (n >= 0) s"""{"gen":$gen,"n":$n}""" else s"""{"gen":$gen,"id":$id}"""
}

object RegionCountOffset {
  def parse(json: String): RegionCountOffset = {
    val t = json.trim
    if (t.startsWith("{")) {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
      val gen = node.get("gen").asLong
      if (node.has("id")) RegionCountOffset(gen, node.get("id").asLong)
      else RegionCountOffset(gen, -1L, node.get("n").asInt)
    } else RegionCountOffset(0L, -1L, t.toInt) // pre-generation checkpoint
  }
}

final class GraftMicroBatchStream(tableDir: File, required: StructType,
    filters: Array[sources.Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def generation: Long = TableMeta.loadGeneration(tableDir)

  // same pruning machinery as the batch scan: a filtered tail skips
  // regions the pushed predicates provably miss (offsets still advance
  // past them — their rows match nothing). Spark's pushdown rule is
  // batch-only today, so SQL-level stream filters stay above the scan;
  // the skip engages for filters handed to the stream directly and is
  // ready the day streaming pushdown lands.
  private lazy val (dims, statTypes) = {
    val meta = TableMeta.load(tableDir)
    val keySet = meta.keyCols.map(_.toLowerCase).toSet
    (meta.keyCols.zipWithIndex.map { case (k, i) =>
      k.toLowerCase -> (i, meta.schema(k).dataType)
    }.toMap,
      meta.schema.fields.iterator
        .filterNot(f => keySet(f.name.toLowerCase))
        .filter(f => ColStats.trackable(f.dataType))
        .map(f => f.name.toLowerCase -> f.dataType).toMap)
  }

  override def initialOffset(): Offset = RegionCountOffset(generation, 0L)
  override def latestOffset(): Offset = {
    // generation + max id from ONE manifest parse: two separate reads
    // can straddle a compaction commit and produce a torn offset.
    val (gen, regions) = TableMeta.loadManifest(tableDir)
    RegionCountOffset(gen, regions.map(_.id).maxOption.getOrElse(0L))
  }
  override def deserializeOffset(json: String): Offset =
    RegionCountOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Legacy count-based checkpoints index the live list by position,
    * which only stays meaningful while the manifest generation is
    * unchanged — the pre-id contract, preserved for old checkpoints. */
  private def toId(o: RegionCountOffset, gen: Long,
      regions: Seq[RegionMeta]): Long =
    if (o.n < 0) o.id
    else if (o.gen == gen) {
      if (o.n == 0) 0L else regions(o.n - 1).id
    } else throw new IllegalStateException(
      s"graft stream checkpoint of ${tableDir.getName} predates both " +
        "the stable-id manifest format and a compaction; restart the " +
        "stream with a fresh checkpoint.")

  /** Serve original data with id ∈ (start, end]. Live originals cover
    * everything after the last compaction; the retired list covers one
    * compaction cycle further back; compaction REWRITES (srcMaxId ≥ 0)
    * are only read by streams starting from scratch whose original
    * regions have already aged out — their data is otherwise a
    * duplicate of what the stream consumed or is consuming from
    * originals. A checkpoint more than one cycle behind fails loudly. */
  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val state = TableMeta.loadState(tableDir)
    val (so, eo) = (start.asInstanceOf[RegionCountOffset],
      end.asInstanceOf[RegionCountOffset])
    val a = toId(so, state.gen, state.regions)
    val b = toId(eo, state.gen, state.regions)
    val liveOriginals = state.regions.filter(_.srcMaxId < 0)
    // highest original id covered by live rewrites / by retired rewrites
    val covered = state.regions.map(_.srcMaxId).maxOption.getOrElse(-1L)
    val coveredPrev = state.retired.map(_.srcMaxId).maxOption.getOrElse(-1L)
    val picked: Seq[RegionMeta] =
      if (a >= covered)
        liveOriginals.filter(r => r.id > a && r.id <= b)
      else if (a >= coveredPrev)
        // across one compaction: retired originals fill (a, covered]
        (state.retired.filter(r => r.srcMaxId < 0 && r.id > a) ++
          liveOriginals.filter(_.id > a)).filter(_.id <= b)
      else if (a == 0L) {
        // fresh stream, originals aged out: rewrites carry the history.
        // A WAL-replayed end offset that predates the rewrites (b below
        // the last rewrite id) cannot be served — the originals it
        // referenced are gone and a partial rewrite set would silently
        // drop rows; fail as loudly as the a > 0 path does.
        val maxRw = state.regions.filter(_.srcMaxId >= 0)
          .map(_.id).maxOption.getOrElse(0L)
        if (b < maxRw) throw new IllegalStateException(
          s"graft stream batch end offset (region id $b) of " +
            s"${tableDir.getName} predates the compaction rewrites that " +
            "now carry the table's history; the original regions it " +
            "referenced have been aged out. Restart the stream with a " +
            "fresh checkpoint.")
        state.regions.filter(r => r.id > 0 && r.id <= b)
      }
      else throw new IllegalStateException(
        s"graft stream checkpoint (region id $a) of ${tableDir.getName} " +
          "is more than one compaction cycle behind: the original " +
          "regions it still needed have been aged out. Restart the " +
          "stream with a fresh checkpoint, or compact less often than " +
          "the stream checkpoints.")
    val constraints = GraftFilters.intervals(filters.toSeq, dims)
    val statsOn = GraftAccel.on(GraftAccel.StatsSkip)
    val colPred = ColStats.compile(filters.toSeq, statTypes)
    picked.sortBy(_.id)
      .filter(r => KeyRanges.survives(constraints,
        r.mins.map(KeyCodec.fromHex), r.maxs.map(KeyCodec.fromHex)) &&
        (!statsOn || colPred.survives(r.stats)))
      .map(r =>
        GraftInputPartition(Array(new File(tableDir, r.file).getPath),
          r.rows, GraftInputPartition.hosts(r), Array(r.id))
          : InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(required.json,
      if (GraftAccel.on(GraftAccel.ParquetFilters)) filters
      else Array.empty,
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone,
      org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis)
}

final case class GraftReaderFactory(requiredJson: String,
    filters: Array[sources.Filter],
    sessionZone: String, caseSensitive: Boolean)
    extends PartitionReaderFactory {

  /** Predicates referencing metadata columns never reach the parquet
    * readers (no such column in the files); they are pruned
    * region-exactly on the driver and re-checked residually above the
    * scan. */
  private def dataFilters: Array[sources.Filter] =
    filters.filterNot(_.references.exists(GraftMetaCols.names.contains))

  private def filesOf(partition: InputPartition)
      : (Array[String], Array[Long]) =
    partition match {
      case p: GraftInputPartition => (p.files, p.ids)
      case p: GraftKeyedInputPartition => (p.files, p.ids)
      case other => throw new IllegalStateException(other.toString)
    }

  /** Split the required schema into the parquet-readable data fields
    * and a position map: entry ≥ 0 = index into the data schema,
    * -1 = `_graft_region_id`, -2 = `_graft_file`. The metadata fields
    * never reach the parquet readers; their per-FILE constants are
    * appended around them. */
  private def split(required: StructType): (StructType, Array[Int]) = {
    var di = 0
    val map = required.fields.map(_.name match {
      case GraftMetaCols.RegionId => -1
      case GraftMetaCols.FileName => -2
      case _ => val i = di; di += 1; i
    })
    (StructType(required.fields.filterNot(f =>
      GraftMetaCols.names(f.name))), map)
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    val (dataSchema, posMap) = split(required)
    val hasMeta = posMap.exists(_ < 0)
    val (files, ids) = filesOf(partition)
    new PartitionReader[InternalRow] {
      private var idx = 0
      private var cur: GraftPartitionReader = _
      private var row: InternalRow = _
      private var regionId = 0L
      private var fileName: org.apache.spark.unsafe.types.UTF8String = _
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (idx >= files.length) return false
            cur = new GraftPartitionReader(files(idx), dataSchema,
              dataFilters)
            regionId = if (idx < ids.length) ids(idx) else 0L
            fileName = org.apache.spark.unsafe.types.UTF8String
              .fromString(new File(files(idx)).getName)
            idx += 1
          }
          if (cur.next()) {
            row = if (!hasMeta) cur.get() else project(cur.get())
            return true
          }
          cur.close(); cur = null
        }
        false
      }
      private def project(data: InternalRow): InternalRow = {
        val out = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(posMap.length)
        var p = 0
        while (p < posMap.length) {
          posMap(p) match {
            case -1 => out.update(p, regionId)
            case -2 => out.update(p, fileName)
            case i => out.update(p, data.get(i, dataSchema(i).dataType))
          }
          p += 1
        }
        out
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (cur != null) cur.close()
    }
  }

  /** Region scans are columnar: Spark's vectorized parquet decoder
    * fills `ColumnarBatch`es that flow into whole-stage codegen through
    * one `ColumnarToRow` boundary — the plan every stock parquet table
    * gets, now reachable from graft storage too. The row reader above
    * remains as the universal fallback. A packed partition chains its
    * files through one reader. */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    val (dataSchema, posMap) = split(required)
    val hasMeta = posMap.exists(_ < 0)
    val (files, ids) = filesOf(partition)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var idx = 0
      private var cur: ParquetColumnarIO.ColumnarReader = _
      // per-FILE constant vectors for the metadata columns (the same
      // mechanism Spark's file source uses for partition values —
      // constants never break vectorization); built once per file
      // open, reused across its batches. The capacity argument is
      // irrelevant for scalar-typed constants (reads ignore the row
      // id), so 1 suffices.
      private var ridVec
          : org.apache.spark.sql.execution.vectorized.ConstantColumnVector = _
      private var fileVec
          : org.apache.spark.sql.execution.vectorized.ConstantColumnVector = _
      private def openConstants(): Unit = if (hasMeta) {
        ridVec = new org.apache.spark.sql.execution.vectorized
          .ConstantColumnVector(1, LongType)
        ridVec.setLong(if (idx < ids.length) ids(idx) else 0L)
        fileVec = new org.apache.spark.sql.execution.vectorized
          .ConstantColumnVector(1, StringType)
        fileVec.setUtf8String(org.apache.spark.unsafe.types.UTF8String
          .fromString(new File(files(idx)).getName))
      }
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (idx >= files.length) return false
            cur = new ParquetColumnarIO.ColumnarReader(files(idx),
              dataSchema, dataFilters.toSeq, sessionZone, caseSensitive)
            openConstants()
            idx += 1
          }
          if (cur.nextBatch()) return true
          cur.close(); cur = null
        }
        false
      }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = cur.batch()
        if (!hasMeta) return b
        val n = b.numRows()
        val vecs = new Array[org.apache.spark.sql.vectorized.ColumnVector](
          posMap.length)
        var p = 0
        while (p < posMap.length) {
          posMap(p) match {
            case -1 => vecs(p) = ridVec
            case -2 => vecs(p) = fileVec
            case i => vecs(p) = b.column(i)
          }
          p += 1
        }
        new org.apache.spark.sql.vectorized.ColumnarBatch(vecs, n)
      }
      override def close(): Unit = if (cur != null) cur.close()
    }
  }
}

final class GraftPartitionReader(file: String, required: StructType,
    filters: Array[sources.Filter]) extends PartitionReader[InternalRow] {
  private val reader = new ParquetRowIO.RowReader(file, required,
    filters.toSeq)
  private var current: InternalRow = _
  override def next(): Boolean = { current = reader.next(); current != null }
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
