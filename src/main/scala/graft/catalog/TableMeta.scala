package graft.catalog

import java.io.File
import java.nio.file.Files

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.codec.KeyCodec

/** Catalog metadata for one graft table, persisted as JSON files inside
  * the table directory.
  *
  * Capability port of the reference's catalog persistence (Heracles
  * stores a Java-serialized `HBaseRelation` in an HBase `metadata`
  * table — /root/reference `HBaseCatalog.scala:814-870`); the rebuild
  * stores plain JSON beside the data, which is the V2-catalog-idiomatic
  * equivalent (serialization format is an implementation detail, not a
  * capability — SURVEY §7.1 step 2).
  *
  * Layout of a table directory:
  * {{{
  *   <warehouse>/<namespace>/<table>/
  *     _graft_meta.json      schema, key columns, table properties
  *     _graft_log/           the commit log: numbered delta/swap
  *       000000000042.json   segments (one per commit, CAS-published)
  *       cp-000000000040.json  versioned checkpoint folding seqs <= 40
  *     part-*.parquet        region data files, sorted by composite key
  * }}}
  * (`_graft_regions.json`, the pre-log unversioned checkpoint, is
  * still read for migration and deleted by the first fold.)
  */
/** `bucket` = fixed-region index when the table declares `regionSplits`
  * (-1 otherwise): the value of the table's region transform for every
  * row in the file, enabling key-grouped (storage-partitioned) plans.
  * `host` = optional locality hint (the node holding the region's
  * blocks — the rebuild of the reference's
  * `HBaseSQLReaderRDD.getPreferredLocations:115-119`); empty for
  * location-less filesystems (file://, s3://). */
/** `id` = stable region identity, assigned monotonically at manifest
  * commit time and never reused; streaming offsets reference ids, so a
  * checkpoint stays meaningful across manifest rewrites. `srcMaxId` ≥ 0
  * marks a compaction REWRITE that contains exactly the original data
  * of every region with id ≤ srcMaxId (a rewrite carries no new data —
  * the analogue of Delta's dataChange=false files); -1 = an original
  * append. */
/** `stats` = per-NON-KEY-column min/max/null-count ([[ColStat]]; hex of
  * the order-preserving encoding, string bounds truncated), collected by
  * the region writer — lets the driver skip regions on non-key
  * predicates before scheduling any task ([[ColStats]]). Empty on
  * pre-upgrade manifests (→ no pruning, sound). */
final case class RegionMeta(file: String, rows: Long,
    mins: Seq[String], maxs: Seq[String], bucket: Int = -1,
    host: String = "", id: Long = 0L, srcMaxId: Long = -1L,
    stats: Map[String, ColStat] = Map.empty) {

  /** The highest original region id whose data this region holds: its
    * `srcMaxId` when it is a rewrite, else its own id. A rewrite of a
    * set of regions carries the max of their `covers` as its
    * `srcMaxId`. */
  def covers: Long = if (srcMaxId >= 0) srcMaxId else id
}

final case class TableMeta(schema: StructType, keyCols: Seq[String],
    properties: Map[String, String]) {
  def keyTypes: Seq[DataType] = keyCols.map(schema(_).dataType)

  /** Fixed split points on the first key column, when declared. */
  lazy val splits: Option[RegionSplits] =
    properties.get(TableMeta.RegionSplitsProp)
      .map(RegionSplits.parse(schema(keyCols.head).dataType, _))
}

object TableMeta {
  val MetaFile = "_graft_meta.json"
  val RegionsFile = "_graft_regions.json"

  /** Commit-log directory: EVERY manifest mutation is one numbered
    * segment (`_graft_log/000000000042.json`) published with a
    * conditional put — O(1) delta segments for appends and streaming
    * epochs, O(touched) delta segments for DML/DELETE/vacuum,
    * O(regions) swap segments for compaction — folded into a VERSIONED
    * checkpoint (`cp-<seq>.json`) every [[logCheckpointEvery]] live
    * commits. Appending one region to a 100k-region table writes O(1)
    * bytes, not an O(regions) manifest rewrite, and the CAS on the
    * segment seq is the commit protocol's single serialization point
    * (what makes the lock-free [[CommitStore.Cas]] sound) — the
    * log-segment + checkpoint discipline Delta Lake uses for exactly
    * these reasons. The reference never hits the problem only because
    * HBase owns its region metadata server-side; a file-backed manifest
    * must solve it in the layout. */
  val LogDirName = "_graft_log"

  /** Reference DDL property names (SURVEY §1.4): keyCols = `k1;k2;…`,
    * nonKeyCols = `col,family,qualifier;…`, encodingFormat. */
  val KeyColsProp = "keyCols"
  val NonKeyColsProp = "nonKeyCols"
  val EncodingProp = "encodingFormat"
  val NumRegionsProp = "numRegions"
  val RegionSplitsProp = "regionSplits"

  /** Max rows per parquet page in region files (0 = parquet default).
    * Smaller pages give the column-index (page-stats) skip finer
    * seek granularity inside a region — the rebuild of the reference's
    * in-region `SEEK_NEXT_USING_HINT` skip-scan
    * (`HBaseCustomFilter.findNextHint:353-404`) — at the cost of more
    * page headers. Set it on tables whose trailing key dimensions get
    * point predicates over wide leading-dimension runs. */
  val PageRowLimitProp = "graft.pageRowLimit"

  /** `;`-separated columns to write parquet BLOOM FILTERS for (the
    * HBase column-family BLOOMFILTER option reborn storage-native).
    * Min/max stats skip RANGE predicates on clustered columns; blooms
    * skip POINT predicates on scattered high-cardinality columns —
    * uuid/fingerprint lookups — where a region's [min,max] spans
    * everything. Row-group level, consulted automatically by the
    * pushed-predicate filter in both readers; adaptively sized. */
  val BloomColsProp = "graft.bloomCols"

  def bloomCols(properties: Map[String, String]): Seq[String] =
    properties.get(BloomColsProp).toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)

  /** `'graft.dedupKeys'='true'`: compaction keeps the LATEST row per
    * key — the row from the highest source region id wins (region ids
    * are monotone in commit order, so this is commit order). Restores
    * the reference's Put-upsert semantics (`HBaseRelation.scala:
    * 659-723`, latest cell wins on key collision) for its
    * insert-twice workloads: appends stay cheap and append-only, the
    * fold to one-row-per-key happens at compaction, exactly where the
    * reference's region server folds HFile cells. Until a compaction
    * runs, reads see both versions (the reference shows one
    * immediately) — documented divergence, same end state. Duplicate
    * keys INSIDE one insert batch have no defined winner, matching
    * HBase's same-timestamp ambiguity. */
  val DedupKeysProp = "graft.dedupKeys"

  def dedupKeys(properties: Map[String, String]): Boolean =
    properties.get(DedupKeysProp).exists(_.trim.equalsIgnoreCase("true"))

  /** `graft.tag.<name>` = `<version>`: a NAMED, RETENTION-PINNING
    * reference to a commit-log version (Iceberg's snapshot tag).
    * `VERSION AS OF '<name>'` resolves it, and THREE cleanup layers
    * honor the pin until `CALL graft.sys.untag` releases it:
    * checkpoint-time log cleanup keeps the segments/checkpoints that
    * reconstruct every tagged version, compaction/cluster retired
    * age-out keeps tagged versions' files on the retired list, and
    * vacuum skips them. Tags live in the table properties (visible in
    * SHOW TBLPROPERTIES), mutated under the manifest lock. */
  val TagPropPrefix = "graft.tag."

  def tags(properties: Map[String, String]): Map[String, Long] =
    properties.collect {
      case (k, v) if k.startsWith(TagPropPrefix) &&
          v.nonEmpty && v.forall(_.isDigit) =>
        k.substring(TagPropPrefix.length) -> v.toLong
    }

  /** Region files referenced by any tagged version — excluded from
    * retired-file purges. Meta is re-read from disk: the pin must see
    * tags committed by other sessions/processes, not a cached view.
    * A tag whose version is no longer reconstructible pins nothing
    * (it is already broken; the read path reports it loudly). */
  def pinnedFiles(tableDir: File): Set[String] = {
    val vs = tagVersions(tableDir)
    vs.flatMap { v =>
      try stateAt(tableDir, v).regions.map(_.file).toSet
      catch { case _: Exception => Set.empty[String] }
    }
  }

  private def tagVersions(tableDir: File): Set[Long] =
    if (exists(tableDir)) tags(load(tableDir).properties).values.toSet
    else Set.empty

  /** Stamped on tables built by `CALL graft.sys.index`: the base table
    * this is a secondary index of, and the base's commit-log version at
    * build time (the freshness watermark — compare against the base's
    * current version to detect a stale index; `CALL graft.sys.index`
    * again rebuilds). */
  val IndexOfProp = "graft.indexOf"
  val IndexedVersionProp = "graft.indexedVersion"

  /** Stamped on tables built by `CALL graft.sys.text_index`: the base
    * table the postings index serves, the tokenized column, and the
    * document-id column — distinct from [[IndexOfProp]] so the
    * secondary-index rewrite machinery never mistakes a full-text
    * postings table for a key index. The freshness watermark reuses
    * [[IndexedVersionProp]]. */
  val TextIndexOfProp = "graft.textIndexOf"
  val FtsColProp = "graft.fts.column"
  val FtsIdProp = "graft.fts.id"

  /** Stamped on tables built by `CALL graft.sys.mview`: the base table
    * this is a materialized aggregate of, the base's commit-log version
    * at build/refresh time (freshness watermark — [[GraftMviewRewrite]]
    * only fires when it equals the base's current version), the
    * `;`-separated group-by columns (which are also the mview's key
    * columns), and the agg map `fn:col=storedCol;…` (e.g.
    * `sum:o_totalprice=sum_o_totalprice;count:*=cnt_star`). The mview
    * stores PARTIAL aggregates — one row per (group, ingest batch) —
    * so incremental refresh is a pure append of the delta's partials
    * and every read re-aggregates (SUM of sums, MIN of mins, SUM of
    * counts). */
  val MviewOfProp = "graft.mviewOf"
  val MviewVersionProp = "graft.mviewVersion"
  val MviewGroupByProp = "graft.mviewGroupBy"
  val MviewAggsProp = "graft.mviewAggs"

  /** Write-ahead refresh intent, set by `mview_refresh` /
    * `mview_join_refresh` BEFORE their partials/delta INSERT and
    * cleared after the watermark advance. Value:
    * `<targetVersions ';'-joined>:<mview manifest version at intent>`.
    * A refresh killed between its INSERT and its watermark ALTER
    * leaves the delta applied with a stale watermark — without the
    * intent, a lambda read would union the same delta again
    * (double-count) and the next refresh would re-append it. Recovery
    * (next refresh call, and [[GraftMviewRewrite]]'s effective
    * watermark) compares the view's CURRENT manifest version against
    * the recorded one: greater = the insert landed (finish by
    * advancing the watermark), equal = it did not (clear and redo). */
  val MviewPendingProp = "graft.mviewPending"

  /** Stamped on materialized JOIN views (`CALL graft.sys.mview_join`):
    * the two base tables, the equi-join condition, and one freshness
    * watermark per side — the refresh reads each side's CDC delta
    * since its own watermark (the two bases commit independently). */
  val MviewJoinLeftProp = "graft.mviewJoinLeft"
  val MviewJoinRightProp = "graft.mviewJoinRight"
  val MviewJoinOnProp = "graft.mviewJoinOn"
  val MviewJoinLeftVerProp = "graft.mviewJoinLeftVersion"
  val MviewJoinRightVerProp = "graft.mviewJoinRightVersion"

  /** Stamped on tables maintained by `CALL graft.sys.mirror`: the
    * source table this is an incremental replica of, and the source's
    * commit-log version the replica has applied up to (the replication
    * watermark — each mirror call appends the CDC delta
    * (watermark, current] and advances it). */
  val MirrorOfProp = "graft.mirrorOf"
  val MirrorVersionProp = "graft.mirrorVersion"

  private def mapper = new ObjectMapper()

  /** The storage seam every manifest write goes through ([[CommitStore]]).
    * Selected once per catalog initialization; `@volatile` because the
    * catalog may be initialized on a different thread than committers. */
  @volatile private[catalog] var commitStore: CommitStore =
    CommitStore.LockedPosix

  /** How long consumed log segments and superseded checkpoints are
    * retained after a fold — the TIME-TRAVEL horizon: any version whose
    * segments (or a covering checkpoint) are still on disk can be read
    * with `VERSION AS OF` / `TIMESTAMP AS OF` and restored with
    * `CALL graft.sys.restore`. Retained files are invisible to current
    * reads (the reader probes from the newest checkpoint), so the only
    * cost is log-directory bytes — O(commits within the horizon).
    * Catalog option `spark.sql.catalog.graft.historyRetainMillis`;
    * 0 disables history (pre-time-travel cleanup behavior). The
    * effective segment retention is max(this, the commit store's
    * stale-writer horizon [[CommitStore.segmentRetainMillis]]). */
  @volatile private[catalog] var historyRetainMillis: Long = 86400000L

  private def writeAtomic(path: File, content: String): Unit =
    commitStore.putReplace(path, content)

  def exists(tableDir: File): Boolean = new File(tableDir, MetaFile).isFile

  // under the manifest lock: vacuum sweeps *.tmp crash leftovers on
  // the same lock, so a concurrent ALTER's in-flight tmp must not be
  // observable outside it (and concurrent ALTERs serialize)
  def save(tableDir: File, meta: TableMeta): Unit =
    withManifestLock(tableDir) {
      val m = mapper
      val root = m.createObjectNode()
      root.put("schema", meta.schema.json)
      val kc = root.putArray("keyCols")
      meta.keyCols.foreach(kc.add)
      val props = root.putObject("properties")
      meta.properties.foreach { case (k, v) => props.put(k, v) }
      writeAtomic(new File(tableDir, MetaFile), root.toString)
    }

  def load(tableDir: File): TableMeta = {
    val root = mapper.readTree(new File(tableDir, MetaFile))
    val schema = DataType.fromJson(root.get("schema").asText)
      .asInstanceOf[StructType]
    val keyCols = {
      val a = root.get("keyCols").asInstanceOf[ArrayNode]
      (0 until a.size).map(a.get(_).asText)
    }
    val props = {
      val p = root.get("properties").asInstanceOf[ObjectNode]
      val it = p.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText }
      b.result()
    }
    TableMeta(schema, keyCols, props)
  }

  /** `epochs = null` (the default) preserves the file's existing
    * streaming-epoch ledger — callers rewriting the region list without
    * threading epoch state through cannot accidentally wipe the
    * replay-dedup record. Pass a map (possibly empty) to set it.
    * Retired regions and the id counter are always preserved; regions
    * without an id get one stamped. */
  def saveRegions(tableDir: File, regions: Seq[RegionMeta],
      generation: Long = 0L,
      epochs: Map[String, Long] = null): Unit = {
    val s = loadState(tableDir)
    val effEpochs =
      if (epochs != null)
        epochs.map { case (q, e) => q -> EpochEntry(e, generation) }
      else s.epochs
    val (rs, next) = stamped(regions, s.nextId)
    saveState(tableDir, ManifestState(generation, rs, effEpochs,
      s.retired, next))
  }

  /** Assign stable ids (from `from`) to regions that lack one. */
  private def stamped(regions: Seq[RegionMeta], from: Long)
      : (Seq[RegionMeta], Long) = {
    var next = from
    val rs = regions.map { r =>
      if (r.id > 0) r else { val r2 = r.copy(id = next); next += 1; r2 }
    }
    (rs, next max (rs.map(_.id).maxOption.getOrElse(0L) + 1))
  }

  private def regionsJson(arr: ArrayNode, regions: Seq[RegionMeta]): Unit =
    regions.foreach { r =>
      val o = arr.addObject()
      o.put("file", r.file)
      o.put("rows", r.rows)
      o.put("id", r.id)
      if (r.srcMaxId >= 0) o.put("srcMaxId", r.srcMaxId)
      if (r.bucket >= 0) o.put("bucket", r.bucket)
      if (r.host.nonEmpty) o.put("host", r.host)
      val mins = o.putArray("mins"); r.mins.foreach(mins.add)
      val maxs = o.putArray("maxs"); r.maxs.foreach(maxs.add)
      if (r.stats.nonEmpty) {
        val so = o.putObject("stats")
        // stat keys persist lowercase so pruning ([[ColStats.Compiled]])
        // never re-cases the map per region on manifest-scale scans
        r.stats.foreach { case (c, st) =>
          val e = so.putObject(c.toLowerCase)
          st.min.foreach(e.put("mn", _))
          st.max.foreach(e.put("mx", _))
          e.put("nc", st.nulls)
        }
      }
    }

  private def epochsJson(root: ObjectNode,
      epochs: Map[String, EpochEntry]): Unit =
    if (epochs.nonEmpty) {
      val e = root.putObject("epochs")
      epochs.foreach { case (q, ent) =>
        val o = e.putObject(q)
        o.put("ep", ent.epoch); o.put("gen", ent.touchedGen)
      }
    }

  private def stateJson(root: ObjectNode, state: ManifestState,
      lastSeq: Long): Unit = {
    root.put("generation", state.gen)
    root.put("nextId", state.nextId)
    if (lastSeq > 0L) root.put("lastSeq", lastSeq)
    epochsJson(root, state.epochs)
    regionsJson(root.putArray("regions"), state.regions)
    if (state.retired.nonEmpty)
      regionsJson(root.putArray("retired"), state.retired)
  }

  /** Replace the manifest with `state` — logged as a SWAP segment
    * (CAS'd like every commit, so a racer surfaces instead of being
    * clobbered), then folded into a checkpoint immediately: the swap
    * is O(regions) anyway, and folding at once keeps later loads from
    * re-parsing it per query. `state` must derive from the same view
    * `viewSeq` came from ([[commitView]]). */
  private[catalog] def saveStateAt(tableDir: File, viewSeq: Long,
      state: ManifestState, op: String = "swap"): Unit = {
    writeSegment(tableDir, viewSeq + 1L,
      SegmentDelta(Nil, Map.empty, swap = Some(state), op = op))
    writeCheckpoint(tableDir)
  }

  /** Full-state rewrite against the CURRENT manifest view. Callers own
    * locking (under `posix`; under `cas` prefer [[commitView]] +
    * [[saveStateAt]] so the view and the CAS seq are one unit). */
  def saveState(tableDir: File, state: ManifestState): Unit =
    saveStateAt(tableDir, loadLoaded(tableDir).lastSeq, state)

  /** Fold the current merged view into a VERSIONED checkpoint
    * `_graft_log/cp-<lastSeq>.json`, then clean up what it supersedes
    * (segments ≤ lastSeq, older checkpoints, the legacy unversioned
    * file). The checkpoint is published if-absent: its content at a
    * given seq is a pure function of the log prefix (the deterministic
    * fold of the previous checkpoint plus segments), so losing the put
    * means another folder already published the identical fold —
    * benign, proceed to cleanup. Checkpoint files never mutate, which
    * is what lets lock-free readers detect a concurrent fold by
    * re-listing (a consumed segment is only ever deleted AFTER the
    * covering checkpoint name exists). */
  private[catalog] def writeCheckpoint(tableDir: File): Unit = {
    val l = loadLoaded(tableDir)
    if (l.lastSeq > 0L) {
      logDirOf(tableDir).mkdirs()
      val root = mapper.createObjectNode()
      stateJson(root, l.state, l.lastSeq)
      commitStore.putIfAbsent(cpFile(tableDir, l.lastSeq), root.toString)
    }
    val newest = listCpSeqs(tableDir).maxOption.getOrElse(0L)
    if (newest > 0L) {
      // cleanup strictly AFTER the covering checkpoint exists; a
      // reader that listed the log before it still holds a valid view,
      // one that lists after detects the new checkpoint and retries.
      // Consumed segment NAMES are retained for the LONGER of two
      // horizons: the store's stale-writer horizon (deleting one frees
      // its seq for a writer holding a pre-fold view to re-win with
      // putIfAbsent, committing invisibly below the checkpoint; 0
      // under locked stores — no stale view can exist inside the
      // lock), and the history-retention horizon (consumed segments +
      // superseded checkpoints are what VERSION AS OF reconstructs
      // historical manifests from).
      val retain = commitStore.segmentRetainMillis max historyRetainMillis
      val cutoff = System.currentTimeMillis() - retain
      // Tag pin: the oldest tagged version anchors at the newest
      // checkpoint at or below it; that checkpoint plus every segment
      // above it reconstructs ALL tagged versions (stateAt replays
      // anchor+1..v), so cleanup stops at the anchor — regardless of
      // the time-based horizon — until the tag is dropped.
      val pinAnchor = tagVersions(tableDir).minOption.map(v =>
        listCpSeqs(tableDir).filter(_ <= v).maxOption.getOrElse(0L))
      listSegSeqs(tableDir).filter(_ <= newest)
        .filter(q => pinAnchor.forall(q <= _))
        .map(segFile(tableDir, _))
        .filter(f => retain <= 0L || f.lastModified() < cutoff)
        .foreach(_.delete())
      val cpCutoff = System.currentTimeMillis() - historyRetainMillis
      listCpSeqs(tableDir).filter(_ < newest)
        .filter(q => pinAnchor.forall(q < _))
        .map(q => cpFile(tableDir, q))
        .filter(f => historyRetainMillis <= 0L ||
          f.lastModified() < cpCutoff)
        .foreach(_.delete())
      val legacy = new File(tableDir, RegionsFile)
      if (legacy.isFile) legacy.delete()
    }
    // invalidate rather than write through: the next load re-parses
    // (once per checkpoint) and re-applies load-side normalizations
    // (lowercase stat keys, id synthesis) uniformly
    stateCache.remove(new File(tableDir, RegionsFile).getCanonicalPath)
  }

  /** Manifest generation: bumped by every rewrite of the region set
    * ([[replaceRegions]]), preserved by appends. Streaming offsets
    * carry it so a checkpoint taken before a rewrite fails loudly
    * instead of re-reading or mis-slicing rewritten regions. */
  def loadGeneration(tableDir: File): Long =
    loadState(tableDir).gen // cache hit on repeated polls

  def loadRegions(tableDir: File): Seq[RegionMeta] =
    loadManifest(tableDir)._2

  /** Generation + regions from ONE parse of the manifest file. Streaming
    * offsets must use this: reading generation and region list in two
    * separate file reads can straddle a compaction commit and pair the
    * old generation with the new region count (spurious stream failure). */
  def loadManifest(tableDir: File): (Long, Seq[RegionMeta]) = {
    val s = loadState(tableDir)
    (s.gen, s.regions)
  }

  /** One streaming query's ledger entry: last committed epoch id plus
    * the manifest generation current at that commit. `touchedGen` lets
    * compaction age out entries of long-terminated queries instead of
    * growing the ledger forever. */
  final case class EpochEntry(epoch: Long, touchedGen: Long)

  /** Full manifest state. `epochs` = per-streaming-query last committed
    * epoch, the dedup ledger that makes the native streaming sink
    * effectively exactly-once (a replayed epoch after a restart is
    * recognized and skipped). `retired` = regions replaced since the
    * last compaction, cluster or INSERT OVERWRITE (a new-cycle
    * [[replaceRegions]]), files retained on disk until the next one or
    * a vacuum so a tailing stream checkpointed before the rewrite can
    * still read the original data it had not yet consumed. `nextId` =
    * the next stable region id to assign. */
  final case class ManifestState(gen: Long, regions: Seq[RegionMeta],
      epochs: Map[String, EpochEntry],
      retired: Seq[RegionMeta] = Nil, nextId: Long = 1L)

  /** A merged manifest view: the checkpoint state with every log
    * segment ≤ `lastSeq` applied, plus the checkpoint file's identity
    * key the view was validated against. `cpSeq` = the checkpoint's
    * OWN lastSeq (segments ≤ it are folded/orphaned) — kept so
    * live-segment counts need no checkpoint re-parse. */
  private final case class Loaded(cpKey: Any, lastSeq: Long,
      state: ManifestState, cpSeq: Long = 0L)

  /** Parsed-manifest cache, keyed by canonical path and invalidated by
    * the checkpoint file's identity (inode via
    * BasicFileAttributes.fileKey — every [[saveState]] is an atomic
    * tmp+move, so each commit is a new inode), size, and nanosecond
    * mtime. The reference caches region info with a 600 s TTL
    * (`HBaseRelation.fetchPartitions:203-235`); stat-based invalidation
    * gives the same O(1) repeated-scan cost WITHOUT the staleness
    * window — a 100k-region checkpoint parses once per CHECKPOINT
    * instead of once per scan, and loads after an append apply only
    * the new O(1) log segments onto the cached view. Same-JVM
    * checkpoints invalidate eagerly in [[saveState]]. */
  private val stateCache = new java.util.concurrent.ConcurrentHashMap[
    String, Loaded]()

  /** Checkpoint parse count, exposed for the cache-behavior spec. */
  private[catalog] val manifestParses =
    new java.util.concurrent.atomic.AtomicLong

  /** Log-segment parse count, exposed for the log-behavior spec. */
  private[catalog] val segmentParses =
    new java.util.concurrent.atomic.AtomicLong

  /** Fold the log into a fresh checkpoint once it reaches this many
    * segments (per-load cost is O(segments) stats of a bounded dir,
    * so keep it small; overridden by tests). */
  private[catalog] var logCheckpointEvery = 16

  /** Drop a table's parsed-state entry (called by dropTable — the
    * directory is going away, so the entry would otherwise pin a full
    * ManifestState on the driver heap forever). */
  def evictManifestCache(tableDir: File): Unit =
    stateCache.remove(new File(tableDir, RegionsFile).getCanonicalPath)

  private def manifestKey(f: File): Any =
    try {
      val a = Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      (a.fileKey, a.size, a.lastModifiedTime)
    } catch { case _: Exception => null }

  def loadState(tableDir: File): ManifestState = loadLoaded(tableDir).state

  private def logDirOf(tableDir: File) = new File(tableDir, LogDirName)

  private def segFile(tableDir: File, seq: Long): File =
    new File(logDirOf(tableDir), f"$seq%012d.json")

  private def listSegSeqs(tableDir: File): Seq[Long] = {
    val names = logDirOf(tableDir).list()
    if (names == null) Nil
    else names.toSeq.filter(_.endsWith(".json"))
      .flatMap(n => n.stripSuffix(".json").toLongOption).sorted
  }

  /** Versioned checkpoint `cp-<seq>.json` in the log dir — the name
    * encodes the log position it folds; excluded from [[listSegSeqs]]
    * (its name does not parse as a bare seq). */
  private def cpFile(tableDir: File, seq: Long): File =
    new File(logDirOf(tableDir), f"cp-$seq%012d.json")

  private def listCpSeqs(tableDir: File): Seq[Long] = {
    val names = logDirOf(tableDir).list()
    if (names == null) Nil
    else names.toSeq
      .filter(n => n.startsWith("cp-") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("cp-").stripSuffix(".json").toLongOption)
      .sorted
  }

  /** The newest checkpoint to base a read on: highest versioned
    * `cp-<seq>` if any, else the legacy unversioned [[RegionsFile]]
    * (pre-upgrade tables; its seq comes from the parsed `lastSeq`).
    * Returns (file, Some(seq-from-name) | None-for-legacy). */
  private def newestCp(tableDir: File): Option[(File, Option[Long])] =
    listCpSeqs(tableDir).maxOption match {
      case Some(q) => Some((cpFile(tableDir, q), Some(q)))
      case None =>
        val legacy = new File(tableDir, RegionsFile)
        if (legacy.isFile) Some((legacy, None)) else None
    }

  /** Lock-free reader protocol: pick the newest checkpoint, take the
    * cached view if its identity matches (else parse), apply log
    * segments newer than the view's `lastSeq` in seq order, then
    * RE-pick the newest checkpoint. An unchanged newest checkpoint
    * proves no fold landed before the segment listing — a consumed
    * segment is only ever deleted AFTER its covering checkpoint name
    * exists — so no segment was missed; a changed one retries against
    * the new checkpoint. Versioned checkpoints never mutate, so
    * identity is (path, stat key); the legacy unversioned file is also
    * covered by its stat key (an external writer replacing it is
    * detected). Writers CAS their segment seqs ([[writeSegment]]), so
    * committed seqs are dense and segments themselves are atomic
    * link/move files. */
  private def loadLoaded(tableDir: File): Loaded = {
    val cacheKey = new File(tableDir, RegionsFile).getCanonicalPath
    var attempt = 0
    while (true) {
      attempt += 1
      val cp0 = newestCp(tableDir)
      // a failed stat (file deleted between listing and stat) is "no
      // identity", never a cacheable (path, null) identity
      val id0: Any = cp0.flatMap { case (f, _) =>
        Option(manifestKey(f)).map(k => (f.getPath, k)) }.orNull
      val cached = stateCache.get(cacheKey)
      val hit = cached != null && id0 != null && cached.cpKey == id0
      try {
        val (base, baseSeq, cpSeq) =
          if (hit) (cached.state, cached.lastSeq, cached.cpSeq)
          else cp0 match {
            case Some((f, nameSeq)) =>
              val (st, contentSeq) = parseCheckpoint(f)
              val q = nameSeq.getOrElse(contentSeq)
              (st, q, q)
            case None => (ManifestState(0L, Nil, Map.empty), 0L, 0L)
          }
        // PROBE segments by contiguous seq, never by directory
        // listing: committed seqs are dense (every commit CAS'es
        // lastSeq+1), but readdir racing concurrent creates may
        // return seq K while missing an earlier J<K — a fold built
        // from such a listing would checkpoint WITHOUT J and then
        // delete it. Probing stops at the first absent seq, so the
        // view is always a consistent log prefix.
        var merged = base
        var q = baseSeq + 1L
        while (segFile(tableDir, q).isFile) {
          merged = applySegment(merged, parseSegment(segFile(tableDir, q)))
          q += 1L
        }
        val lastSeq = q - 1L
        if (hit && lastSeq == baseSeq) return cached
        val cp1 = newestCp(tableDir)
        val id1: Any = cp1.flatMap { case (f, _) =>
          Option(manifestKey(f)).map(k => (f.getPath, k)) }.orNull
        if (id0 == id1) {
          val loaded = Loaded(id0, lastSeq, merged, cpSeq)
          if (id0 != null) stateCache.put(cacheKey, loaded)
          return loaded
        }
        // unstable: a fold landed mid-read, so `merged` may be MISSING
        // regions the fold consumed — never return it; fail loudly if
        // the manifest won't hold still (each retry needs a fresh fold
        // to keep failing, so 8 in a row means something is
        // pathologically rewriting the table)
        if (attempt >= 8) throw new IllegalStateException(
          s"manifest of $tableDir kept changing under $attempt read " +
            "attempts; retry the query")
      } catch {
        // a concurrent fold consumed a segment (or superseded a
        // checkpoint) between listing and parse — the retry reads the
        // new checkpoint instead
        case e: java.io.IOException => if (attempt >= 8) throw e
      }
    }
    sys.error("unreachable")
  }

  private def parseEpochs(root: com.fasterxml.jackson.databind.JsonNode,
      defaultGen: Long): Map[String, EpochEntry] =
    Option(root.get("epochs")).map { e =>
      val it = e.fields()
      val b = Map.newBuilder[String, EpochEntry]
      while (it.hasNext) {
        val kv = it.next()
        val v = kv.getValue
        // pre-upgrade ledgers stored a bare epoch number
        b += kv.getKey -> (if (v.isNumber) EpochEntry(v.asLong, defaultGen)
          else EpochEntry(v.get("ep").asLong, v.get("gen").asLong))
      }
      b.result()
    }.getOrElse(Map.empty)

  private def parseRegionList(
      root: com.fasterxml.jackson.databind.JsonNode,
      field: String): Seq[RegionMeta] = {
    val arr = root.get(field).asInstanceOf[ArrayNode]
    if (arr == null) return Nil
    (0 until arr.size).map { i =>
      val o = arr.get(i)
      def strs(f2: String): Seq[String] = {
        val a = o.get(f2).asInstanceOf[ArrayNode]
        (0 until a.size).map(a.get(_).asText)
      }
      val stats: Map[String, ColStat] = if (!o.has("stats")) Map.empty
      else {
        val so = o.get("stats")
        val it = so.fields()
        val b = Map.newBuilder[String, ColStat]
        while (it.hasNext) {
          val kv = it.next()
          val e = kv.getValue
          // lowercase on load too: manifests written before the
          // lowercase-at-save change stay schema-cased on disk
          b += kv.getKey.toLowerCase -> ColStat(
            Option(e.get("mn")).map(_.asText),
            Option(e.get("mx")).map(_.asText),
            if (e.has("nc")) e.get("nc").asLong else 0L)
        }
        b.result()
      }
      RegionMeta(o.get("file").asText, o.get("rows").asLong,
        strs("mins"), strs("maxs"),
        if (o.has("bucket")) o.get("bucket").asInt else -1,
        if (o.has("host")) o.get("host").asText else "",
        if (o.has("id")) o.get("id").asLong else 0L,
        if (o.has("srcMaxId")) o.get("srcMaxId").asLong else -1L,
        stats)
    }
  }

  private def parseCheckpoint(f: File): (ManifestState, Long) = {
    manifestParses.incrementAndGet()
    parseStateRoot(mapper.readTree(f))
  }

  /** Parse a full manifest state (checkpoint file or SWAP segment),
    * applying the load-side normalizations (id synthesis for
    * pre-upgrade manifests, lowercase stat keys inside
    * [[parseRegionList]]). */
  private def parseStateRoot(
      root: com.fasterxml.jackson.databind.JsonNode)
      : (ManifestState, Long) = {
    val g = root.get("generation")
    val gen = if (g == null) 0L else g.asLong
    val epochs = parseEpochs(root, gen)
    var regions = parseRegionList(root, "regions")
    val retired = parseRegionList(root, "retired")
    // pre-upgrade manifests carry no ids: the live list is append-
    // ordered, so positions are stable identities — synthesize ids
    // from them once; subsequent saves persist the assignment
    if (regions.exists(_.id == 0L))
      regions = regions.zipWithIndex.map { case (r, i) =>
        if (r.id > 0) r else r.copy(id = i + 1L)
      }
    val maxSeen = (regions ++ retired).map(_.id).maxOption.getOrElse(0L)
    val nextId = {
      val n = root.get("nextId")
      if (n == null) maxSeen + 1 else n.asLong max (maxSeen + 1)
    }
    val lastSeq = Option(root.get("lastSeq")).map(_.asLong).getOrElse(0L)
    (ManifestState(gen, regions, epochs, retired, nextId), lastSeq)
  }

  /** One log segment — every manifest mutation is one of these, so
    * the conditional put of the segment's seq is the commit point for
    * ALL writers (append, streaming epoch, DML rewrite, DELETE,
    * vacuum, compaction alike). Two kinds:
    *
    *  - DELTA: `regions` appended, `epochs` updated, `removeIds`
    *    dropped from the live set, `retiredAdd` appended to (or, with
    *    `clearRetired`, replacing) the retired list, `gen` raising the
    *    generation. O(touched) bytes — a 2-region UPDATE on a
    *    100k-region table logs 2 regions, not 100k.
    *  - SWAP (`swap` set): the full replacement state — compaction and
    *    other whole-table rewrites. O(regions), matching the work the
    *    writer already did; [[saveStateAt]] folds it into a checkpoint
    *    immediately so later loads never re-parse it. */
  private final case class SegmentDelta(regions: Seq[RegionMeta],
      epochs: Map[String, EpochEntry],
      removeIds: Set[Long] = Set.empty,
      retiredAdd: Seq[RegionMeta] = Nil,
      clearRetired: Boolean = false,
      gen: Long = 0L,
      swap: Option[ManifestState] = None,
      op: String = null)

  private def parseSegment(f: File): SegmentDelta = {
    segmentParses.incrementAndGet()
    val root = mapper.readTree(f)
    if (root.has("swap"))
      SegmentDelta(Nil, Map.empty, swap = Some(parseStateRoot(root)._1))
    else {
      val rm = Option(root.get("removeIds")).map { n =>
        val a = n.asInstanceOf[ArrayNode]
        (0 until a.size).map(a.get(_).asLong).toSet
      }.getOrElse(Set.empty[Long])
      SegmentDelta(parseRegionList(root, "regions"), parseEpochs(root, 0L),
        rm, parseRegionList(root, "retired"),
        root.has("clearRetired"),
        Option(root.get("genMax")).map(_.asLong).getOrElse(0L))
    }
  }

  private def applySegment(s: ManifestState, d: SegmentDelta)
      : ManifestState = d.swap match {
    case Some(st) => st
    case None =>
      val live = if (d.removeIds.isEmpty) s.regions
        else s.regions.filterNot(r => d.removeIds.contains(r.id))
      val maxId = d.regions.map(_.id).maxOption.getOrElse(0L)
      ManifestState(
        gen = s.gen max d.gen,
        regions = live ++ d.regions,
        epochs = s.epochs ++ d.epochs,
        retired = (if (d.clearRetired) Nil else s.retired) ++ d.retiredAdd,
        nextId = s.nextId max (maxId + 1L))
  }

  /** Publish one commit's segment at `seq` with a conditional put —
    * THE commit point of the protocol. A seq collision raises
    * [[CommitRaceException]]: under the lock-free `cas` store the
    * enclosing `exclusively` re-runs the whole commit body against the
    * fresh state (normal optimistic concurrency); under `posix` a
    * collision is impossible while the lock works (seq allocation is
    * serialized and consumed seqs are never reallocated — checkpoints
    * keep `lastSeq` monotone), so one surfacing anyway means a second
    * committer slipped past a lock the filesystem ignored, and the
    * loud abort is the tripwire that prevents the silent lost update. */
  private def writeSegment(tableDir: File, seq: Long,
      delta: SegmentDelta): Unit = {
    logDirOf(tableDir).mkdirs()
    val root = mapper.createObjectNode()
    root.put("seq", seq)
    // commit wall-clock, for TIMESTAMP AS OF resolution and the
    // history readout. Informational only — the protocol orders by seq.
    root.put("ts", System.currentTimeMillis())
    if (delta.op != null) root.put("op", delta.op)
    delta.swap match {
      case Some(st) =>
        root.put("swap", true)
        stateJson(root, st, 0L)
      case None =>
        if (delta.gen > 0L) root.put("genMax", delta.gen)
        if (delta.clearRetired) root.put("clearRetired", true)
        if (delta.removeIds.nonEmpty) {
          val a = root.putArray("removeIds")
          delta.removeIds.toSeq.sorted.foreach(a.add)
        }
        epochsJson(root, delta.epochs)
        regionsJson(root.putArray("regions"), delta.regions)
        if (delta.retiredAdd.nonEmpty)
          regionsJson(root.putArray("retired"), delta.retiredAdd)
    }
    // stale-view guard: a checkpoint at or past `seq` means this seq
    // was already consumed — its name may have been cleaned past the
    // retention horizon, and winning a recycled name would commit
    // INVISIBLY below the checkpoint. Reject the stale view outright
    // (under `cas` the retry re-reads and allocates a fresh seq).
    if (listCpSeqs(tableDir).maxOption.getOrElse(0L) >= seq)
      throw new CommitRaceException(
        s"log seq $seq of $tableDir is already covered by a newer " +
          "checkpoint — the committer's manifest view is stale; " +
          "re-read and retry (automatic under the 'cas' store).")
    if (!commitStore.putIfAbsent(segFile(tableDir, seq), root.toString))
      throw new CommitRaceException(
        s"log segment $seq of $tableDir already exists — a concurrent " +
          "committer published this seq first. Under commit store " +
          s"'${commitStore.name}' this aborts the commit (no data was " +
          "overwritten); the 'cas' store retries it as a fresh " +
          "optimistic attempt. A collision under 'posix' means the " +
          "filesystem's advisory locks do not actually lock — " +
          "configure a commit store suited to the filesystem (README: " +
          "commit-store deployment matrix).")
  }

  /** One consistent (state, lastSeq) view to base a read-modify-write
    * commit on. Pass the returned seq to [[writeDelta]] /
    * [[saveStateAt]]: a racer committing between this view and the
    * write then surfaces as a conditional-put loss (retried under
    * `cas`, tripwire under `posix`) instead of being silently built
    * over. */
  private[catalog] def commitView(tableDir: File): (ManifestState, Long) = {
    val l = loadLoaded(tableDir)
    (l.state, l.lastSeq)
  }

  /** Commit an O(touched) delta computed from the view at `viewSeq`:
    * the segment CAS at `viewSeq`+1 makes the optimistic assumption
    * ("nothing changed since my view") explicit and machine-checked. */
  private[catalog] def writeDelta(tableDir: File, viewSeq: Long,
      regions: Seq[RegionMeta] = Nil,
      epochs: Map[String, EpochEntry] = Map.empty,
      removeIds: Set[Long] = Set.empty,
      retiredAdd: Seq[RegionMeta] = Nil,
      clearRetired: Boolean = false,
      gen: Long = 0L,
      op: String = null): Unit = {
    writeSegment(tableDir, viewSeq + 1L, SegmentDelta(regions, epochs,
      removeIds, retiredAdd, clearRetired, gen, op = op))
    maybeCheckpoint(tableDir)
  }

  /** Fold the log into a checkpoint once enough LIVE segments (above
    * the newest checkpoint — retained consumed names do not count)
    * accumulate. Callers own locking. */
  private def maybeCheckpoint(tableDir: File): Unit = {
    val l = loadLoaded(tableDir)
    if (l.lastSeq - l.cpSeq >= logCheckpointEvery)
      writeCheckpoint(tableDir)
  }

  /** Merged state + LIVE (unfolded) log-segment count, from ONE
    * consistent view under the manifest lock — for operational
    * readouts; two unsynchronized reads could straddle a commit and
    * report a segment whose regions the state view excludes. Orphan
    * segments (≤ the checkpoint's lastSeq, crash leftovers) are not
    * counted. */
  private[catalog] def stateAndLogLength(tableDir: File)
      : (ManifestState, Int, Long) =
    withManifestLock(tableDir)(stateAndLogLengthUnsafe(tableDir))

  // callers own locking (the OS file lock is NOT same-JVM reentrant)
  private def stateAndLogLengthUnsafe(tableDir: File)
      : (ManifestState, Int, Long) = {
    val l = loadLoaded(tableDir) // cached — no O(regions) re-parse
    (l.state, listSegSeqs(tableDir).count(_ > l.cpSeq), l.lastSeq)
  }

  /** Fold the commit log into the checkpoint NOW (the
    * `graft.sys.fold` procedure); returns the number of live segments
    * folded. A no-op on an already-folded log. */
  private[catalog] def foldLog(tableDir: File): Int =
    withManifestLock(tableDir) {
      val (_, live, _) = stateAndLogLengthUnsafe(tableDir)
      if (live > 0) writeCheckpoint(tableDir)
      live
    }

  /** Run `body` holding the table's manifest lock. Every manifest
    * read-modify-write — append and compaction swap alike — must go
    * through here. Delegates to the configured [[CommitStore]]: the
    * default [[CommitStore.LockedPosix]] uses a per-table monitor for
    * same-JVM threads plus an OS advisory file lock for other
    * processes, and refuses loudly on filesystems whose locks do not
    * work rather than running a lock that does not lock. */
  def withManifestLock[T](tableDir: File)(body: => T): T =
    commitStore.exclusively(tableDir)(body)

  def appendRegions(tableDir: File, added: Seq[RegionMeta]): Unit = {
    // a zero-region commit (all-empty write tasks) must not grow the
    // log or count toward the checkpoint fold
    if (added.isEmpty) return
    withManifestLock(tableDir) {
      val l = loadLoaded(tableDir)
      val (rs, _) = stamped(added.map(_.copy(id = 0L)), l.state.nextId)
      writeSegment(tableDir, l.lastSeq + 1L,
        SegmentDelta(rs, Map.empty, op = "append"))
      maybeCheckpoint(tableDir)
    }
  }

  /** Epoch-deduplicated append for the streaming sink: commits `added`
    * only if `epochId` is newer than the query's last committed epoch,
    * making micro-batch replays after failures idempotent. Returns
    * whether the regions were committed (false = duplicate replay; the
    * caller should discard its files). */
  def commitEpoch(tableDir: File, added: Seq[RegionMeta],
      queryId: String, epochId: Long): Boolean =
    withManifestLock(tableDir) {
      val l = loadLoaded(tableDir)
      val s = l.state
      s.epochs.get(queryId) match {
        case Some(e) if e.epoch >= epochId =>
          // duplicate replay — but the query is demonstrably alive, so
          // refresh its ledger entry's generation: a replaying-but-not-
          // advancing query must not look dead to compaction's aging
          if (e.touchedGen < s.gen) {
            writeSegment(tableDir, l.lastSeq + 1L, SegmentDelta(Nil,
              Map(queryId -> e.copy(touchedGen = s.gen)), op = "epoch"))
            maybeCheckpoint(tableDir) // same fold trigger as appends
          }
          false
        case _ =>
          val (rs, _) = stamped(added.map(_.copy(id = 0L)), s.nextId)
          writeSegment(tableDir, l.lastSeq + 1L, SegmentDelta(rs,
            Map(queryId -> EpochEntry(epochId, s.gen)), op = "epoch"))
          maybeCheckpoint(tableDir)
          true
      }
    }

  /** COPY INTO's per-source-file ledger commit: atomically append
    * `added` and record one `copy:<fileKey>` ledger entry per source
    * file, iff NONE of the keys is already present (a present key
    * means that file's rows are already in the table — a replayed or
    * racing COPY INTO). All-or-nothing by design: on any conflict
    * nothing commits and the caller re-plans against the refreshed
    * ledger (the conflicting files are exactly the ones someone else
    * just loaded). Rides the same epoch-ledger machinery as the
    * streaming sink, including its aging window
    * ([[GraftCompact.EpochRetainProp]]) — file-identity memory is
    * bounded, like Delta's COPY INTO retention, not eternal. */
  def commitCopy(tableDir: File, added: Seq[RegionMeta],
      fileKeys: Seq[String]): Boolean =
    withManifestLock(tableDir) {
      val l = loadLoaded(tableDir)
      val s = l.state
      if (fileKeys.exists(s.epochs.contains)) false
      else {
        val (rs, _) = stamped(added.map(_.copy(id = 0L)), s.nextId)
        writeSegment(tableDir, l.lastSeq + 1L, SegmentDelta(rs,
          fileKeys.map(k => k -> EpochEntry(0L, s.gen)).toMap,
          op = "copy"))
        maybeCheckpoint(tableDir)
        true
      }
    }

  /** The manifest's current ledger keys (COPY INTO's pre-filter reads
    * `copy:` entries; streaming query ids live here too). */
  def ledgerKeys(tableDir: File): Set[String] =
    loadLoaded(tableDir).state.epochs.keySet

  /** INSERT OVERWRITE's commit: atomically replace the entire live
    * region set with `added` — a new-cycle [[replaceRegions]] of every
    * live region. The displaced regions RETIRE (files kept one cycle
    * for in-flight readers), the previous retired set ages out (its
    * files deleted, tag-pinned ones kept), the generation bumps so
    * tailing streams fail loudly instead of mis-slicing, and the id
    * counter carries forward (old ids are never re-served — a batch
    * CDC range across the overwrite therefore delivers exactly the NEW
    * rows as appends, the displaced rows being a delete CDC never
    * delivers, consistent with the DELETE contract). */
  def overwriteRegions(tableDir: File, added: Seq[RegionMeta]): Unit =
    replaceRegions(tableDir, "overwrite", added, newCycle = true)(_.regions)

  /** The one region-replace commit every rewrite goes through:
    * compaction, cluster, merge, split, DELETE, UPDATE / MERGE INTO and
    * INSERT OVERWRITE (in the reference, HBase's region server owns
    * this lifecycle and the SQL layer never swaps a region itself).
    * Under one manifest lock and one commit view:
    *
    *  - `pick` chooses the live regions that `outputs` replace, against
    *    the current view, and throws when the caller's snapshot no
    *    longer stands ([[stillLive]] is the common check);
    *  - on a `graft.dedupKeys` table latest-wins precedence is
    *    re-checked against the regions left live ([[latestWinsHolds]]),
    *    so a newer overlapping commit that landed mid-rewrite is never
    *    outranked by the rewrite's fresh ids;
    *  - `outputs` get fresh ids (their `srcMaxId` lineage is set by the
    *    caller), the replaced regions retire, the generation bumps;
    *  - the commit is an O(touched) delta segment, or with `newCycle`
    *    (compaction, cluster, INSERT OVERWRITE) a full-state SWAP that
    *    opens a new retention cycle: the previous retired set ages out
    *    except files a tag pins ([[pinnedFiles]]), epoch-ledger entries
    *    untouched for [[GraftCompact.EpochRetainProp]] generations
    *    drop, and the aged files are deleted after the commit.
    *
    * Any failure before the commit point (a lost race, a refused
    * precedence check, a lost CAS) deletes the files of `outputs`, so
    * an abandoned rewrite leaves nothing behind. Replacing nothing
    * with nothing commits nothing. */
  private[catalog] def replaceRegions(tableDir: File, op: String,
      outputs: Seq[RegionMeta], newCycle: Boolean = false)(
      pick: ManifestState => Seq[RegionMeta]): Unit = {
    var committed = false
    val aged = try withManifestLock(tableDir) {
      val (cur, viewSeq) = commitView(tableDir)
      val replaced = pick(cur)
      if (replaced.isEmpty && outputs.isEmpty) Nil
      else {
        val gone = replaced.map(_.id).toSet
        val untouched = cur.regions.filterNot(r => gone(r.id))
        val props = load(tableDir).properties
        if (dedupKeys(props) &&
            !latestWinsHolds(replaced, outputs, untouched))
          throw new IllegalStateException(
            s"$op of ${tableDir.getName} lost a race with a newer " +
              "overlapping commit: its rewrite would outrank that " +
              "commit's rows under latest-wins; retry")
        val (outs, next) = stamped(outputs.map(_.copy(id = 0L)), cur.nextId)
        val gen = cur.gen + 1
        if (newCycle) {
          val pinned = pinnedFiles(tableDir)
          val (pin, age) = cur.retired.partition(r => pinned(r.file))
          val retain = props.get(GraftCompact.EpochRetainProp)
            .map(_.toLong).getOrElse(64L)
          val epochs = cur.epochs.filter(_._2.touchedGen >= gen - retain)
          writeSegment(tableDir, viewSeq + 1L, SegmentDelta(Nil, Map.empty,
            swap = Some(ManifestState(gen, outs ++ untouched, epochs,
              replaced ++ pin, next)), op = op))
          committed = true
          writeCheckpoint(tableDir)
          age
        } else {
          writeSegment(tableDir, viewSeq + 1L, SegmentDelta(outs, Map.empty,
            gone, replaced, gen = gen, op = op))
          committed = true
          maybeCheckpoint(tableDir)
          Nil
        }
      }
    } catch {
      case NonFatal(e) if !committed =>
        outputs.foreach(r => new File(tableDir, r.file).delete())
        throw e
    }
    aged.foreach(r => new File(tableDir, r.file).delete())
  }

  /** The common `pick`: the live copies of the caller's `snapshot`
    * regions, or a lost-race [[IllegalStateException]] when any of them
    * was replaced since (a concurrent compaction, cluster, merge, split
    * or delete) — swapping in a rewrite of a region that is gone would
    * resurrect deleted rows or duplicate rewritten ones. */
  private[catalog] def stillLive(what: String, snapshot: Seq[RegionMeta])(
      state: ManifestState): Seq[RegionMeta] = {
    val want = snapshot.map(_.file).toSet
    val live = state.regions.filter(r => want(r.file))
    if (live.size != want.size) throw new IllegalStateException(
      s"$what lost a race with a concurrent compaction, cluster, merge, " +
        "split or delete on the same regions; retry")
    live
  }

  /** Latest-wins survives replacing `replaced` by `outputs` (which take
    * the highest ids) iff no region left live is newer than a replaced
    * region it overlaps while also overlapping an output: that region's
    * version of a shared key won before the rewrite and would lose to
    * the output's fresh id after it. Leading-key bounds, like
    * [[GraftSplit.precedenceSafe]], which callers use to choose safe
    * targets from their snapshot; this re-check at commit catches the
    * commits that landed since. */
  private def latestWinsHolds(replaced: Seq[RegionMeta],
      outputs: Seq[RegionMeta], untouched: Seq[RegionMeta]): Boolean =
    replaced.isEmpty || outputs.isEmpty || {
      def bounds(r: RegionMeta) =
        (KeyCodec.fromHex(r.mins.head), KeyCodec.fromHex(r.maxs.head))
      def overlap(a: (Array[Byte], Array[Byte]),
          b: (Array[Byte], Array[Byte])): Boolean =
        KeyCodec.compare(a._1, b._2) <= 0 && KeyCodec.compare(b._1, a._2) <= 0
      val minId = replaced.map(_.id).min
      val srcs = replaced.map(r => (r.id, bounds(r)))
      val outs = outputs.map(bounds)
      untouched.iterator.filter(_.id > minId).forall { r =>
        val b = bounds(r)
        !(outs.exists(overlap(_, b)) &&
          srcs.exists { case (id, s) => id < r.id && overlap(s, b) })
      }
    }

  // ------------------------------------------------------- time travel

  /** The table's current version — the seq of its newest commit. Every
    * manifest mutation is exactly ONE log segment (the CAS'd commit
    * point), so versions are dense: version N is the manifest state
    * after applying segments 1..N, and the commit protocol itself is
    * the version history. `VERSION AS OF N` reads these numbers. */
  def currentVersion(tableDir: File): Long = loadLoaded(tableDir).lastSeq

  /** The oldest version still reconstructible from retained log files
    * (consumed segments and superseded checkpoints are kept for
    * [[historyRetainMillis]] after a fold). */
  def earliestVersion(tableDir: File): Long = {
    val seg1 = segFile(tableDir, 1L).isFile
    val cpMin = listCpSeqs(tableDir).minOption
    if (seg1) 1L
    else cpMin.getOrElse(loadLoaded(tableDir).lastSeq)
  }

  /** Reconstruct the manifest state as of `version`: parse the newest
    * retained checkpoint folding ≤ version, then apply segments up to
    * it — the same deterministic fold the live reader runs, anchored
    * at a historical seq. Fails loudly when the needed log files have
    * aged past the retention horizon. */
  def stateAt(tableDir: File, version: Long): ManifestState = {
    require(version >= 1L, s"version must be >= 1, got $version")
    val cur = loadLoaded(tableDir)
    if (version > cur.lastSeq) throw new IllegalArgumentException(
      s"version $version of ${tableDir.getName} does not exist " +
        s"(current version: ${cur.lastSeq})")
    if (version == cur.lastSeq) return cur.state
    val base = listCpSeqs(tableDir).filter(_ <= version).maxOption
    var (state, from) = base match {
      case Some(q) => (parseCheckpoint(cpFile(tableDir, q))._1, q)
      case None => (ManifestState(0L, Nil, Map.empty), 0L)
    }
    var q = from + 1L
    while (q <= version) {
      val f = segFile(tableDir, q)
      if (!f.isFile) throw new IllegalStateException(
        s"version $version of ${tableDir.getName} is no longer " +
          s"reconstructible: log segment $q has aged past the history " +
          "retention horizon (spark.sql.catalog.<name>." +
          "historyRetainMillis). Earliest reconstructible version: " +
          s"${earliestVersion(tableDir)}")
      state = applySegment(state, parseSegment(f))
      q += 1L
    }
    state
  }

  /** Resolve `TIMESTAMP AS OF`: the newest version whose commit
    * wall-clock is ≤ `tsMillis`. Commit times are read from the
    * retained segments' `ts` field; they are monotone per table
    * because the segment CAS is the commit protocol's single
    * serialization point. */
  def versionAt(tableDir: File, tsMillis: Long): Long = {
    val segs = listSegSeqs(tableDir)
    def tsOf(q: Long): Long = {
      val f = segFile(tableDir, q)
      try {
        val n = mapper.readTree(f)
        if (n.has("ts")) n.get("ts").asLong else f.lastModified()
      } catch { case _: Exception => Long.MaxValue } // deleted mid-read
    }
    val eligible = segs.filter(q => tsOf(q) <= tsMillis)
    if (eligible.nonEmpty) eligible.max
    else if (segs.isEmpty &&
      newestCp(tableDir).exists(_._1.lastModified() <= tsMillis))
      // quiet table, history fully folded and aged out: anything after
      // the newest checkpoint's publish time is the current version
      loadLoaded(tableDir).lastSeq
    else throw new IllegalArgumentException(
      s"no version of ${tableDir.getName} at or before timestamp " +
        s"$tsMillis is retained (earliest reconstructible version: " +
        s"${earliestVersion(tableDir)}); history older than the " +
        "retention horizon cannot be time-traveled to")
  }

  /** One commit-log entry for the `graft.sys.history` readout. */
  final case class HistoryEntry(version: Long, tsMillis: Long,
      op: String, regionsAdded: Int, rowsAdded: Long,
      regionsRemoved: Int)

  /** The retained commit history, oldest first — parsed straight from
    * the retained log segments (history older than the retention
    * horizon has been folded into checkpoints and aged out). */
  def history(tableDir: File): Seq[HistoryEntry] =
    listSegSeqs(tableDir).flatMap { q =>
      val f = segFile(tableDir, q)
      try {
        val n = mapper.readTree(f)
        val ts = if (n.has("ts")) n.get("ts").asLong else f.lastModified()
        val op = if (n.has("op")) n.get("op").asText
          else if (n.has("swap")) "swap"
          else if (n.has("clearRetired")) "vacuum"
          else if (n.has("removeIds")) "delete"
          else "commit"
        val regs = Option(n.get("regions"))
          .map(_.asInstanceOf[ArrayNode]).filter(_ != null)
        val added = regs.map(_.size).getOrElse(0)
        val rows = regs.map(a => (0 until a.size)
          .map(a.get(_).get("rows").asLong).sum).getOrElse(0L)
        val removed = Option(n.get("removeIds"))
          .map(_.asInstanceOf[ArrayNode].size).getOrElse(0)
        Some(HistoryEntry(q, ts, op, added, rows, removed))
      } catch { case _: Exception => None } // deleted mid-listing
    }

  // ------------------------------------------------------------------
  // Branches — write-audit-publish (WAP) staging
  //
  // A branch is a named, APPEND-ONLY staging lane for one table: writes
  // land on the branch invisible to main readers, an audit reads the
  // post-publish preview (current main + staged regions), and publish
  // moves the staged regions into main as ONE ordinary commit. The
  // capability Iceberg ships as `spark.wap.branch`, re-expressed on the
  // graft commit log.
  //
  // Layout rides the existing log directory in names the main fold
  // CANNOT see ([[listSegSeqs]] parses only bare-numeric segment names,
  // so branch files are invisible to the fold, to checkpoints, and —
  // critically — to checkpoint cleanup, which only deletes consumed
  // numeric segments; no extra retention pin is needed):
  //
  //   _graft_log/branch-<name>.json   registry (putIfAbsent = atomic
  //                                   create; fork seq + create time)
  //   _graft_log/b-<name>-<n>.json    the branch's own CAS ladder, one
  //                                   file per staged append
  //
  // Staged regions carry id=0: ids are assigned by MAIN's ladder at
  // publish time (so concurrent main appends can never collide with
  // staged ids), and previews synthesize ids above main's nextId (so a
  // latest-wins read over a dedupKeys preview sees staged rows as
  // newest — exactly what publishing would make true).
  //
  // Publish commits through [[commitEpoch]] with ledger key
  // `branch:<name>` and the branch ladder's top index as the epoch:
  // a crash between the publish segment and the ladder cleanup makes
  // the retry a recognized duplicate replay (regions commit ZERO
  // times extra), the same idempotence contract COPY INTO rides.
  // ------------------------------------------------------------------

  private def branchFile(tableDir: File, name: String): File =
    new File(logDirOf(tableDir), s"branch-$name.json")

  private def branchSegFile(tableDir: File, name: String, n: Long): File =
    new File(logDirOf(tableDir), f"b-$name-$n%09d.json")

  private def listBranchSegs(tableDir: File, name: String): Seq[Long] = {
    val pre = s"b-$name-"
    val names = logDirOf(tableDir).list()
    if (names == null) Nil
    else names.toSeq.filter(n => n.startsWith(pre) && n.endsWith(".json"))
      .flatMap(_.stripPrefix(pre).stripSuffix(".json").toLongOption).sorted
  }

  private[catalog] def validBranchName(name: String): Boolean =
    name.matches("[A-Za-z][A-Za-z0-9_]*")

  /** This branch GENERATION's publish-ledger key (None = no registry).
    * Salting with create time + fork seq keeps a recreated same-name
    * branch's epochs from colliding with the old generation's. */
  private def branchLedgerKey(tableDir: File, name: String)
      : Option[String] = {
    val f = branchFile(tableDir, name)
    if (!f.isFile) None
    else try {
      val j = mapper.readTree(f)
      Some(s"branch:$name:${j.get("ts").asLong}-${j.get("forkSeq").asLong}")
    } catch { case _: Exception => None } // dropped mid-read
  }

  def branchExists(tableDir: File, name: String): Boolean =
    branchFile(tableDir, name).isFile

  /** All branches of the table: (name, forkSeq, createMillis). */
  def branches(tableDir: File): Seq[(String, Long, Long)] = {
    val names = Option(logDirOf(tableDir).list()).getOrElse(Array.empty)
    names.toSeq.filter(n => n.startsWith("branch-") && n.endsWith(".json"))
      .sorted.flatMap { n =>
        try {
          val j = mapper.readTree(new File(logDirOf(tableDir), n))
          Some((j.get("name").asText, j.get("forkSeq").asLong,
            j.get("ts").asLong))
        } catch { case _: Exception => None } // dropped mid-listing
      }
  }

  /** Create branch `name` forked at the current version. Atomic via
    * putIfAbsent — a concurrent identical create loses loudly. */
  def createBranch(tableDir: File, name: String): Long = {
    require(validBranchName(name),
      s"invalid branch name '$name': letter first, then letters/" +
        "digits/'_' only (keeps registry and ladder file names " +
        "unambiguous)")
    val fork = loadLoaded(tableDir).lastSeq
    logDirOf(tableDir).mkdirs()
    val root = mapper.createObjectNode()
    root.put("name", name)
    root.put("forkSeq", fork)
    root.put("ts", System.currentTimeMillis())
    if (!commitStore.putIfAbsent(branchFile(tableDir, name), root.toString))
      throw new IllegalArgumentException(
        s"branch '$name' already exists on ${tableDir.getName}")
    fork
  }

  /** Stage one append on branch `name` (creating the branch when
    * `autoCreate` — the `spark.graft.wap.branch` first-write path).
    * The ladder index is CAS'd exactly like main segment seqs; ids
    * stay 0 until publish. */
  def appendBranch(tableDir: File, name: String,
      added: Seq[RegionMeta], autoCreate: Boolean = false): Unit = {
    if (added.isEmpty) return
    if (!branchExists(tableDir, name)) {
      if (!autoCreate) throw new IllegalArgumentException(
        s"branch '$name' does not exist on ${tableDir.getName}; " +
          "CALL graft.sys.branch to create it")
      // two sessions' first WAP writes may race the create: losing the
      // putIfAbsent means the branch now exists — proceed to stage
      try createBranch(tableDir, name)
      catch { case _: IllegalArgumentException
        if branchExists(tableDir, name) => () }
    }
    val root = mapper.createObjectNode()
    root.put("ts", System.currentTimeMillis())
    regionsJson(root.putArray("regions"),
      added.map(_.copy(id = 0L, srcMaxId = -1L)))
    // floor at the generation's already-published ledger epoch: a
    // staging append racing a publish must not recycle a ladder index
    // the publish just consumed, or its rows would later read as a
    // duplicate replay and silently drop
    val floor = branchLedgerKey(tableDir, name)
      .flatMap(k => loadState(tableDir).epochs.get(k)).map(_.epoch)
      .getOrElse(0L)
    var n =
      (listBranchSegs(tableDir, name).maxOption.getOrElse(0L) max floor) + 1L
    while (!commitStore.putIfAbsent(
      branchSegFile(tableDir, name, n), root.toString)) n += 1L
  }

  /** The staged regions of exactly the ladder indexes `segs`, in
    * commit order, ids still 0. Callers pass the listing they will
    * later clean up, so a concurrent staging append landing after the
    * listing is never deleted unpublished. */
  private def stagedRegions(tableDir: File, name: String,
      segs: Seq[Long]): Seq[RegionMeta] =
    segs.flatMap { n =>
      parseRegionList(mapper.readTree(branchSegFile(tableDir, name, n)),
        "regions")
    }

  /** Staged (regionCount, rowCount) — the audit readout. */
  def branchStats(tableDir: File, name: String): (Int, Long) = {
    val rs = stagedRegions(tableDir, name, listBranchSegs(tableDir, name))
    (rs.size, rs.map(_.rows).sum)
  }

  /** The post-publish PREVIEW region set: current main + staged
    * regions under synthetic ids above main's nextId (newest-wins
    * previews rank staged rows last, as publish will). None = no such
    * branch (callers fall back to a plain main read — a WAP session
    * conf must not break reads of tables that have no such branch).
    * Preview ids are for scanning only; streaming offsets over a
    * preview are refused at the source. */
  def branchPreviewRegions(tableDir: File, name: String)
      : Option[Seq[RegionMeta]] =
    if (!branchExists(tableDir, name)) None
    else {
      val st = loadState(tableDir)
      val staged = stagedRegions(tableDir, name,
        listBranchSegs(tableDir, name))
      Some(st.regions ++ staged.zipWithIndex.map { case (r, i) =>
        r.copy(id = st.nextId + i)
      })
    }

  /** ONLY the staged regions (synthetic ids, like the preview) — the
    * audit face that validates exactly the new batch without EXCEPTing
    * main away. None = no such branch. */
  def branchDeltaRegions(tableDir: File, name: String)
      : Option[Seq[RegionMeta]] =
    if (!branchExists(tableDir, name)) None
    else {
      val base = loadState(tableDir).nextId
      Some(stagedRegions(tableDir, name, listBranchSegs(tableDir, name))
        .zipWithIndex.map { case (r, i) => r.copy(id = base + i) })
    }

  /** Publish: move every staged region into main as ONE ordinary
    * commit, then drop the branch metadata. Staged data files become
    * main's; nothing is rewritten or copied.
    *
    * Idempotence across crash retries rides [[commitEpoch]] with a
    * PER-BRANCH-GENERATION ledger key (`branch:<name>:<createTs>-
    * <forkSeq>`): a retry after a crash between the publish segment
    * and the ladder cleanup is a recognized duplicate replay and
    * commits nothing twice, while a LATER branch recreated under the
    * same name gets a fresh key — its (smaller) ladder indexes can
    * never be mistaken for replays of the old generation's epochs.
    * A staging append racing the publish keeps its ladder file and
    * the registry (only the listed indexes are cleaned, and the
    * registry survives while any index remains) — the late rows stay
    * staged, publishable by a second call, never silently dropped.
    * Returns (regionsPublished, rowsPublished). */
  def publishBranch(tableDir: File, name: String): (Int, Long) = {
    val reg = branchFile(tableDir, name)
    val key = branchLedgerKey(tableDir, name).getOrElse(
      throw new IllegalArgumentException(
        s"branch '$name' does not exist on ${tableDir.getName}"))
    val segs = listBranchSegs(tableDir, name)
    val rs = stagedRegions(tableDir, name, segs)
    if (rs.nonEmpty) {
      // duplicate replay (false) means a crashed earlier publish
      // already committed these very regions — proceed to cleanup
      commitEpoch(tableDir, rs, key, segs.max)
    }
    segs.foreach(n => branchSegFile(tableDir, name, n).delete())
    if (listBranchSegs(tableDir, name).isEmpty) reg.delete()
    (rs.size, rs.map(_.rows).sum)
  }

  /** Abandon the branch: delete its staged DATA files (they were never
    * visible to main) and its metadata. Do not drop a branch a writer
    * is actively staging to — a write racing the drop can leave its
    * one staged append behind (re-creating the branch surfaces it;
    * publish-then-drop is the race-free teardown). Returns staged
    * regions deleted. */
  def dropBranch(tableDir: File, name: String): Int = {
    if (!branchExists(tableDir, name)) throw new IllegalArgumentException(
      s"branch '$name' does not exist on ${tableDir.getName}")
    val segs = listBranchSegs(tableDir, name)
    val rs = stagedRegions(tableDir, name, segs)
    rs.foreach(r => new File(tableDir, r.file).delete())
    segs.foreach(n => branchSegFile(tableDir, name, n).delete())
    if (listBranchSegs(tableDir, name).isEmpty)
      branchFile(tableDir, name).delete()
    rs.size
  }
}
