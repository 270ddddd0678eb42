package graft.catalog

import java.io.File
import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import scala.util.control.NonFatal

/** SQL-visible maintenance procedures for the graft catalog, on the
  * Spark-4 V2 `ProcedureCatalog` API:
  *
  * {{{
  *   CALL graft.sys.load_csv(table => 'ns.t', path => '/data/x.csv')
  *   CALL graft.sys.compact(table => 'ns.t', target_regions => 4)
  * }}}
  *
  * `load_csv` is the statement form of the reference's
  * `LOAD DATA [LOCAL] INPATH '<path>' INTO TABLE t` surface
  * (/root/reference `HBaseBulkLoadIntoTableSuite.scala:35-66`,
  * `HBaseSQLParser` LOAD grammar): same CSV → typed rows with null
  * backfill of short lines → shuffled, key-sorted region load.
  * Spark's own `LOAD DATA` statement is reserved for Hive-format v1
  * tables, so the sanctioned v2 route is a procedure rather than a
  * parser fork — one name, same semantics, plus it composes with
  * named/default arguments.
  *
  * Every procedure is one [[Proc]] entry of [[All]]; listing, loading
  * and the statement faces that reuse a procedure's columns read that
  * registry.
  */
object GraftProcedures {

  /** Namespace the procedures live in: `CALL graft.sys.<name>(...)`. */
  val Namespace: Array[String] = Array("sys")

  /** One `CALL graft.sys.<name>` procedure, declared once: its name,
    * description, parameters, output columns and body. Binding depends
    * on no input type, so a `Proc` is its own bound procedure; no
    * procedure is deterministic (each reads or changes table state).
    * The body runs against the catalog the procedure was loaded from
    * and returns its rows under `cols`, or under `colsAt`'s names when
    * those depend on the call. */
  final class Proc private (procName: String, desc: String,
      params: Seq[ProcedureParameter], val cols: Seq[String],
      colsAt: Option[(String, InternalRow) => Seq[String]],
      body: (String, InternalRow) => Seq[Seq[String]],
      catalogName: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val data = body(catalogName, input)
      rows(colsAt.fold(cols)(_(catalogName, input)), data)
    }

    /** No result for a procedure without output columns, else one
      * driver-side result set of `data` under `names`. */
    private def rows(names: Seq[String], data: Seq[Seq[String]])
        : java.util.Iterator[Scan] =
      if (names.isEmpty) Collections.emptyIterator()
      else Collections.singletonList(
        LocalRowsScan(names.toArray, data): Scan).iterator()

    private[GraftProcedures] def in(catalog: String): Proc =
      new Proc(procName, desc, params, cols, colsAt, body, catalog)
  }

  object Proc {
    def apply(name: String, description: String,
        params: Seq[ProcedureParameter], cols: Seq[String] = Nil,
        colsAt: Option[(String, InternalRow) => Seq[String]] = None)(
        body: (String, InternalRow) => Seq[Seq[String]]): Proc =
      new Proc(name, description, params, cols, colsAt, body, null)
  }

  /** An IN parameter; `default` is the SQL text of its default value. */
  private def param(name: String, dataType: DataType,
      comment: String = null, default: String = null): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dataType).comment(comment)
    (if (default == null) b else b.defaultValue(default)).build()
  }

  /** The `table` parameter most procedures take first. */
  private val tableParam =
    param("table", StringType, "'<namespace>.<table>' within this catalog")

  /** The `table` parameter of the procedures that derive a table. */
  private val baseTableParam = param("table", StringType,
    "base '<namespace>.<table>' within this catalog")

  /** Every procedure, in listing order. */
  val All: Seq[Proc] = Seq(

    Proc("load_csv",
      "bulk-load a delimited text file into a graft table (sorted " +
        "region load, shuffled by region on a regionSplits table and by " +
        "sampled key range otherwise; short lines null-backfill)",
      Seq(tableParam, param("path", StringType, "CSV file or directory"),
        param("delimiter", StringType, default = "','"))) {
      (catalogName, input) =>
        val table = input.getUTF8String(0).toString
        val path = input.getUTF8String(1).toString
        val delimiter = input.getUTF8String(2).toString
        GraftBulkLoad.loadCsv(SparkSession.active, path,
          fqn(catalogName, table), delimiter)
        Nil
    },

    Proc("compact",
      "rewrite a graft table's regions into target_regions key-sorted " +
        "files (at most one region per bucket on a regionSplits table) " +
        "and bump the manifest generation",
      Seq(tableParam, param("target_regions", IntegerType))) {
      (catalogName, input) =>
        val (ns, t) = splitNsTable(input.getUTF8String(0).toString)
        GraftCompact.compact(SparkSession.active, catalogName, ns, t,
          input.getInt(1))
        Nil
    },

    /** `CALL graft.sys.cluster(table => 'ns.t', cols => 'b;c',
      * target_regions => N)` — rewrite the table's regions Z-ORDERED by
      * the given columns ([[GraftCluster]]): per-region min/max stats
      * become tight on every clustered dimension at once, so non-key
      * predicates on any of them prune regions before task scheduling.
      * Trades key-range pruning for multi-column stat pruning. */
    Proc("cluster",
      "rewrite a graft table's regions z-ordered by the given columns " +
        "(multi-dimensional clustering for non-key stat pruning)",
      Seq(tableParam,
        param("cols", StringType, "';'-separated columns to cluster by"),
        param("target_regions", IntegerType))) { (catalogName, input) =>
      val (ns, t) = splitNsTable(input.getUTF8String(0).toString)
      val cols = input.getUTF8String(1).toString.split(";")
        .map(_.trim).filter(_.nonEmpty).toSeq
      GraftCluster.cluster(SparkSession.active, catalogName, ns, t,
        cols, input.getInt(2))
      Nil
    },

    /** `CALL graft.sys.stats(table => 'ns.t')` — one row per live region
      * with its stable id, row count, decoded composite-key range, and
      * the per-non-key-column min/max/null-count the pruner uses
      * ([[ColStats]]). The operational face of the region manifest: what
      * an operator reads to judge region health, skipping effectiveness,
      * and whether a compaction is due. Driver-only (manifest parse, no
      * data IO). */
    Proc("stats",
      "per-region manifest statistics of a graft table " +
        "(rows, key range, non-key column min/max/null counts)",
      Seq(tableParam), Seq("region_file", "region_id", "rows", "bytes",
        "bucket", "key_min", "key_max", "column_stats")) {
      (catalogName, input) =>
        val gt = graftTable(catalogName, input.getUTF8String(0).toString)
        val keyTypes = gt.meta.keyTypes
        def text(dt: DataType, hex: String): String =
          ColStats.decode(dt, hex) match {
            case d: org.apache.spark.sql.types.Decimal =>
              d.toJavaBigDecimal.toPlainString
            case v => String.valueOf(v)
          }
        def decodeKey(hexes: Seq[String]): String =
          hexes.zip(keyTypes).map { case (h, dt) => text(dt, h) }.mkString(",")
        def decodeStat(col: String, hex: String): String =
          text(gt.meta.schema(col).dataType, hex)
        TableMeta.loadRegions(gt.tableDir).map { r =>
          val stats = r.stats.toSeq.sortBy(_._1).map { case (c, st) =>
            s"$c:[${st.min.map(decodeStat(c, _)).getOrElse("")}.." +
              s"${st.max.map(decodeStat(c, _)).getOrElse("")}] " +
              s"nulls=${st.nulls}"
          }.mkString("; ")
          Seq(r.file, r.id.toString, r.rows.toString,
            // bytes feed split/merge target sizing
            new File(gt.tableDir, r.file).length().toString,
            if (r.bucket >= 0) r.bucket.toString else "",
            decodeKey(r.mins), decodeKey(r.maxs), stats)
        }
    },

    /** `CALL graft.sys.vacuum(table => 'ns.t')` — drop the retired
      * region files (kept by DELETE/compaction for in-flight readers and
      * tailing streams) and clear the retired list. Compaction does this
      * automatically each cycle; vacuum is for delete-heavy tables that
      * never compact. Run it only when no tailing stream still needs the
      * previous cycle — a stream checkpointed before the last
      * delete/compaction fails loudly afterwards (same contract as
      * falling more than one compaction cycle behind). Returns the
      * number of files removed. */
    Proc("vacuum",
      "remove retired region files of a graft table (files kept for " +
        "in-flight readers by DELETE/compaction)",
      Seq(tableParam), Seq("removed_files")) { (catalogName, input) =>
      val gt = graftTable(catalogName, input.getUTF8String(0).toString)
      val removed = TableMeta.withManifestLock(gt.tableDir) {
        val (state, viewSeq) = TableMeta.commitView(gt.tableDir)
        // files a tagged version references survive the vacuum and
        // stay on the retired list (TableMeta.pinnedFiles): the tag
        // is the operator's declared intent to keep that snapshot
        // readable; untag first to reclaim the space
        val pinned = TableMeta.pinnedFiles(gt.tableDir)
        val (keptRet, dropRet) =
          state.retired.partition(r => pinned(r.file))
        dropRet.foreach(r =>
          new java.io.File(gt.tableDir, r.file).delete())
        // also sweep .tmp leftovers of crashed atomic writes (a
        // writeAtomic that died between write and move). Age-gated:
        // under the lock-free `cas` store a concurrent committer
        // may own an in-flight tmp right now — a crash leftover is
        // old, a live write is milliseconds old
        val cutoff = System.currentTimeMillis() - 3600_000L
        val dirs = Array(gt.tableDir,
          new java.io.File(gt.tableDir, TableMeta.LogDirName))
        val tmps = dirs.flatMap(d =>
          Option(d.listFiles()).getOrElse(Array()))
          .filter(f => f.isFile && f.getName.endsWith(".tmp") &&
            f.lastModified() < cutoff)
        tmps.foreach(_.delete())
        // compact the identity reservation ladder: only the MAX
        // r-<k> matters (reserve() takes max+1), so older markers
        // are pure litter. Deleting strictly-below-max files can
        // never lower the max a concurrent reserve() sees, so the
        // counter stays monotone under races.
        val idseq = new java.io.File(gt.tableDir, "_graft_idseq")
        val idLitter = Option(idseq.listFiles())
          .getOrElse(Array.empty[java.io.File])
          .flatMap(f => f.getName.stripPrefix("r-").toLongOption
            .map(k => (k, f)))
        val idDropped =
          if (idLitter.length > 1) {
            val maxK = idLitter.map(_._1).max
            val drop = idLitter.filter(_._1 < maxK)
            drop.foreach(_._2.delete())
            drop.length
          } else 0
        if (state.retired.nonEmpty)
          TableMeta.writeDelta(gt.tableDir, viewSeq,
            retiredAdd = keptRet, clearRetired = true, op = "vacuum")
        dropRet.size + tmps.length + idDropped
      }
      Seq(Seq(removed.toString))
    },

    /** `CALL graft.sys.manifest(table => 'ns.t')` — one-row operational
      * readout of the table's manifest/commit-log state: generation,
      * live and retired region counts, pending log segments (appends not
      * yet folded into the checkpoint), next stable region id, and
      * streaming-epoch-ledger size. The numbers an operator checks to
      * see whether the log is folding and compaction/vacuum are keeping
      * up. */
    Proc("manifest", "manifest + commit-log state of a graft table",
      Seq(tableParam), Seq("generation", "live_regions", "live_rows",
        "retired_regions", "log_segments", "next_region_id",
        "stream_epochs", "version")) { (catalogName, input) =>
      val gt = graftTable(catalogName, input.getUTF8String(0).toString)
      // one consistent view: state and segment count must not
      // straddle a concurrent commit
      val (st, segs, version) = TableMeta.stateAndLogLength(gt.tableDir)
      Seq(Seq(st.gen.toString, st.regions.size.toString,
        st.regions.map(_.rows).sum.toString,
        st.retired.size.toString, segs.toString,
        st.nextId.toString, st.epochs.size.toString, version.toString))
    },

    /** `CALL graft.sys.fold(table => 'ns.t')` — fold the commit log into
      * the checkpoint NOW, without waiting for the every-16-commits
      * trigger or a compaction. For quiescing a table before a backup or
      * manifest copy (the checkpoint file then carries the whole state).
      * Returns the number of segments folded. */
    Proc("fold",
      "fold the commit log of a graft table into its checkpoint manifest",
      Seq(tableParam), Seq("folded_segments")) { (catalogName, input) =>
      val gt = graftTable(catalogName, input.getUTF8String(0).toString)
      Seq(Seq(TableMeta.foldLog(gt.tableDir).toString))
    },

    /** `CALL graft.sys.history(table => 'ns.t')` — the retained commit
      * history, one row per log segment, oldest first: version (= the
      * commit seq `VERSION AS OF` reads), commit wall-clock, operation,
      * and the delta's region/row counts. History reaches back as far as
      * the retention horizon (`historyRetainMillis`); older commits have
      * been folded into checkpoints and aged out. The graft analogue of
      * DESCRIBE HISTORY ([[GraftHistoryCommand]] returns these columns). */
    Proc("history",
      "retained commit history of a graft table (version, time, " +
        "operation, delta sizes)",
      Seq(tableParam), Seq("version", "committed_at", "operation",
        "regions_added", "rows_added", "regions_removed")) {
      (catalogName, input) =>
        val gt = graftTable(catalogName, input.getUTF8String(0).toString)
        TableMeta.history(gt.tableDir).map { e =>
          Seq(e.version.toString,
            java.time.Instant.ofEpochMilli(e.tsMillis).toString,
            e.op, e.regionsAdded.toString, e.rowsAdded.toString,
            e.regionsRemoved.toString)
        }
    },

    /** `CALL graft.sys.restore(table => 'ns.t', version => N)` — roll
      * the LIVE manifest back to the region set of a historical version
      * (metadata-only: region files are never copied or rewritten). The
      * restore is itself a new commit — the rolled-back-over history
      * stays readable, and a restore can be restored. Refuses when the
      * version's region files have been vacuumed. Generation bumps like
      * any rewrite, so tailing streams fail loudly rather than
      * mis-slicing; the epoch ledger and id counter carry forward
      * (restored regions keep their original ids — already-consumed ids
      * are not re-served to incremental consumers). */
    Proc("restore",
      "roll a graft table's live manifest back to a historical version " +
        "(metadata-only; the restore is itself a new commit)",
      Seq(tableParam, param("version", LongType,
        "commit-log version to restore to (see graft.sys.history)")),
      Seq("restored_version", "live_regions")) { (catalogName, input) =>
      val gt = graftTable(catalogName, input.getUTF8String(0).toString)
      val version = input.getLong(1)
      val dir = gt.tableDir
      val restored = TableMeta.withManifestLock(dir) {
        val (cur, viewSeq) = TableMeta.commitView(dir)
        val hist = TableMeta.stateAt(dir, version)
        val present = (cur.regions ++ cur.retired).map(_.file).toSet
        val gone = hist.regions.filterNot(r =>
          present(r.file) || new java.io.File(dir, r.file).isFile)
        if (gone.nonEmpty) throw new IllegalStateException(
          s"cannot restore to version $version: ${gone.size} region " +
            s"file(s) have been vacuumed (e.g. ${gone.head.file})")
        // regions dropped by the restore retire (files kept one
        // cycle for in-flight readers, like DELETE/compaction).
        // Previously-retired files stay tracked — vacuum must
        // still find them — EXCEPT ones the restore brings back
        // live (restoring to a pre-compaction version revives
        // regions that sit in the retired list right now).
        val restoredFiles = hist.regions.map(_.file).toSet
        val nowRetired = (cur.regions ++ cur.retired)
          .filterNot(r => restoredFiles(r.file))
          .distinctBy(_.file)
        TableMeta.saveStateAt(dir, viewSeq, TableMeta.ManifestState(
          cur.gen + 1, hist.regions, cur.epochs, nowRetired,
          cur.nextId), op = "restore")
        hist.regions.size
      }
      SparkSession.active.catalog.refreshTable(
        s"$catalogName." + input.getUTF8String(0).toString)
      Seq(Seq(version.toString, restored.toString))
    },

    /** `CALL graft.sys.analyze(table => 'ns.t')` — backfill missing
      * per-region non-key column stats ([[GraftAnalyze]]): one
      * column-pruned distributed read of the regions lacking entries,
      * one O(touched) CAS'd metadata delta, no data rewrite. Returns the
      * number of regions updated and the stat-tracked column count. */
    Proc("analyze", "backfill per-region column statistics of a graft table",
      Seq(tableParam), Seq("regions_updated", "stat_columns")) {
      (catalogName, input) =>
        val gt = graftTable(catalogName, input.getUTF8String(0).toString)
        val (updated, cols) = GraftAnalyze.analyze(SparkSession.active, gt)
        Seq(Seq(updated.toString, cols.toString))
    },

    /** `CALL graft.sys.split(table => 'ns.t', target_bytes => N)` —
      * targeted region split ([[GraftSplit]]): every region file larger
      * than `target_bytes` is re-cut into key-contiguous parts, O(touched
      * regions) IO, no full-table rewrite. Returns one row with the
      * counts so an operator script can loop until quiescent. */
    Proc("split",
      "split every region larger than target_bytes into key-contiguous " +
        "parts (O(touched) region-local rewrite, manifest delta swap)",
      Seq(tableParam, param("target_bytes", LongType,
        "split regions whose file exceeds this size")),
      Seq("regions_split", "parts_written")) { (catalogName, input) =>
      val (ns, t) = splitNsTable(input.getUTF8String(0).toString)
      val (nSplit, nParts) = GraftSplit.split(SparkSession.active,
        catalogName, ns, t, input.getLong(1))
      Seq(Seq(nSplit.toString, nParts.toString))
    },

    /** `CALL graft.sys.merge(table => 'ns.t', target_bytes => N)` —
      * targeted region merge ([[GraftMerge]]): adjacent regions pack
      * into groups under `target_bytes` and k-way sort-merge into one
      * file each, O(touched regions) IO. The defragmentation half of
      * `split`'s lifecycle pair. */
    Proc("merge",
      "k-way merge adjacent regions into files up to target_bytes " +
        "(O(touched) region-local rewrite, manifest delta swap)",
      Seq(tableParam, param("target_bytes", LongType,
        "merged files stay at or under this size")),
      Seq("groups_merged", "regions_consumed")) { (catalogName, input) =>
      val (ns, t) = splitNsTable(input.getUTF8String(0).toString)
      val (nGroups, nSources) = GraftMerge.merge(SparkSession.active,
        catalogName, ns, t, input.getLong(1))
      Seq(Seq(nGroups.toString, nSources.toString))
    },

    /** `CALL graft.sys.clone(table => 'ns.src', target => 'ns.dst'
      * [, version => N])` — snapshot a table into a NEW independent table
      * with zero data movement: region files are HARD-LINKED into the
      * target's directory (same bytes, two directory entries — each
      * table's vacuum unlinks only its own name, so retention is fully
      * independent, unlike a Delta shallow clone), the manifest is
      * rebuilt fresh (original region ids and key bounds/stats preserved,
      * so dedupKeys latest-wins order and all pruning survive; srcMaxId
      * cleared — everything in the clone is original data to a tailing
      * stream; streaming epoch ledger NOT copied — writers to the clone
      * start fresh). O(regions) metadata + one link syscall per region;
      * cross-filesystem targets fall back to a byte copy per file. The
      * pin-the-exact-training-corpus operation: clone at a version,
      * train against the clone, mutate the source freely. */
    Proc("clone",
      "snapshot a graft table (optionally at a version) into a new " +
        "independent table via hard-linked region files (zero copy)",
      Seq(param("table", StringType, "source '<namespace>.<table>'"),
        param("target", StringType,
          "new '<namespace>.<table>' (must not exist)"),
        param("version", LongType,
          "commit-log version to clone (default: current)", "-1")),
      Seq("cloned_regions", "target")) { (catalogName, input) =>
      val target = input.getUTF8String(1).toString
      val linked = GraftCloneRun(catalogName,
        input.getUTF8String(0).toString, target, input.getLong(2))
      Seq(Seq(linked.toString, target))
    },

    /** `CALL graft.sys.convert(table => 'ns.t', source => '<dir>',
      * keys => 'k1;k2')` — onboard an existing parquet directory as a
      * graft table ([[GraftConvert]]): key-sorted files hard-link in as
      * regions with exact bounds + ColStats (zero-copy); unsorted files
      * rewrite through the normal sorted bulk load. Returns one row per
      * source file with its disposition. */
    Proc("convert",
      "convert a parquet directory into a graft table (sorted files " +
        "link zero-copy; unsorted files rewrite sorted)",
      Seq(param("table", StringType, "'<namespace>.<table>' to create"),
        param("source", StringType,
          "directory (or single file) of parquet files"),
        param("keys", StringType, "';'-separated key columns")),
      Seq("file", "status", "rows")) { (catalogName, input) =>
      GraftConvert.convert(SparkSession.active, catalogName,
        input.getUTF8String(0).toString,
        input.getUTF8String(1).toString,
        input.getUTF8String(2).toString.split(';').map(_.trim).toSeq)
        .map { case (f, st, n) => Seq(f, st, n.toString) }
    },

    /** `CALL graft.sys.index(table => 'ns.t', column => 'c')` — build (or
      * rebuild) a GLOBAL SECONDARY INDEX over a non-key column: a graft
      * table `<t>_idx_<c>` keyed `(c; <base key cols…>)`, one row per
      * base row with a non-null `c`, loaded through the same
      * range-shuffled sorted region build as any table (the Phoenix-style
      * covered index over key-organized storage — the reference's
      * HBase lineage has exactly this gap: non-rowkey predicates scan
      * every region). A lookup composes as
      *
      * {{{
      *   SELECT b.* FROM base b
      *   JOIN (SELECT DISTINCT k FROM base_idx_c WHERE c = ?) i USING (k)
      * }}}
      *
      * — the probe is a key-pruned point scan on the index (1 region),
      * and the broadcast join hands the matching primary keys to the base
      * scan as a runtime IN filter: regions prune by key interval, and
      * inside surviving regions the IN predicate drives row-group/page
      * skipping. At 100 TB that is index-probe + point-gets, never a
      * base scan. The index records the base's commit version
      * ([[TableMeta.IndexedVersionProp]]) as its freshness watermark;
      * re-CALL to rebuild after base writes (the CDC face
      * `catalog_changes` provides the delta for an incremental refresh
      * strategy — see IncrementalIndexSpec for the pattern). */
    Proc("index",
      "build or rebuild a global secondary index table " +
        "<t>_idx_<col> keyed (col; base key cols)",
      Seq(baseTableParam,
        param("column", StringType, "non-key column to index"),
        param("num_regions", IntegerType, default = "16"),
        param("include", StringType, "';'-separated covered payload " +
          "columns — queries touching only (column, keys, include…) " +
          "answer from the index alone, no base join", "''")),
      Seq("index", "rows", "base_version")) { (catalogName, input) =>
      val table = input.getUTF8String(0).toString
      val column = input.getUTF8String(1).toString
      val nRegions = input.getInt(2)
      val include = input.getUTF8String(3).toString
        .split(";").map(_.trim).filter(_.nonEmpty).toSeq
      val s = SparkSession.active
      val base = graftTable(catalogName, table)
      val meta = base.meta
      val field = meta.schema.fields
        .find(_.name.equalsIgnoreCase(column))
        .getOrElse(throw new IllegalArgumentException(
          s"column $column not in ${table}'s schema"))
      require(!meta.keyCols.exists(_.equalsIgnoreCase(column)),
        s"$column is a key column — the primary key order already " +
          "serves predicates on it")
      require(graft.codec.KeyCodec.supportedTypes.contains(field.dataType),
        s"cannot index ${field.dataType.simpleString} column " +
          s"$column (not a key-codec type)")
      val includeFields = include.map { c =>
        val inc = meta.schema.fields
          .find(_.name.equalsIgnoreCase(c))
          .getOrElse(throw new IllegalArgumentException(
            s"include column $c not in ${table}'s schema"))
        require(!meta.keyCols.exists(_.equalsIgnoreCase(c)) &&
            !c.equalsIgnoreCase(column),
          s"include column $c is already part of the index key")
        inc
      }
      val (ns, t) = splitNsTable(table)
      val idxName = s"${t}_idx_${field.name.toLowerCase}"
      val idxFqn = fqn(catalogName, s"$ns.$idxName")
      val baseFqn = fqn(catalogName, table)
      // freshness watermark BEFORE the read: concurrent base
      // appends land after this version and correctly read stale
      val version = TableMeta.currentVersion(base.tableDir)
      s.sql(s"DROP TABLE IF EXISTS $idxFqn")
      val keyFields = meta.keyCols.map(k =>
        meta.schema.fields.find(_.name.equalsIgnoreCase(k)).get)
      val ddl = ((field +: keyFields) ++ includeFields)
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      val keySpec = (field.name +: keyFields.map(_.name)).mkString(";")
      s.sql(
        s"""CREATE TABLE $idxFqn ($ddl)
           |TBLPROPERTIES(
           |  '${TableMeta.KeyColsProp}'='$keySpec',
           |  '${TableMeta.NumRegionsProp}'='$nRegions',
           |  '${TableMeta.IndexOfProp}'='$baseFqn',
           |  '${TableMeta.IndexedVersionProp}'='$version')"""
          .stripMargin)
      val cols = ((field.name +: keyFields.map(_.name)) ++
        includeFields.map(_.name))
        .map(c => s"`$c`").mkString(", ")
      s.sql(s"""INSERT INTO $idxFqn SELECT $cols FROM $baseFqn
               |WHERE `${field.name}` IS NOT NULL""".stripMargin)
      val rows = s.table(idxFqn).count()
      Seq(Seq(idxFqn, rows.toString, version.toString))
    },

    /** `CALL graft.sys.index_refresh(table => 'ns.t', column => 'c')` —
      * incrementally maintain a secondary index: read the base's CDC
      * delta since the index's freshness watermark
      * ([[GraftChanges]] `changesFromVersion` — manifest-only planning,
      * reads ONLY the appended regions), append the new `(c, keys…)`
      * entries, and advance the watermark. O(delta), never a base scan —
      * the same incremental pattern IncrementalIndexSpec proves for the
      * MinHash band index, productized for the secondary index.
      *
      * Soundness contract: appends (and re-arrangement ops — compact /
      * cluster / split / merge, which the CDC face already skips) refresh
      * incrementally. In-place VALUE rewrites (UPDATE/MERGE `rowlevel`,
      * `overwrite`, `restore`) and dedupKeys upsert folds change existing
      * key→value mappings, which an append-only delta cannot retract —
      * those refuse loudly and direct to a full `CALL graft.sys.index`
      * rebuild. DELETEs are allowed: a dangling index entry finds no base
      * row in the join-back, so lookups stay exact (the index is a
      * pre-filter, never the answer); rebuild to reclaim the space. */
    Proc("index_refresh",
      "incrementally refresh a secondary index from the base table's " +
        "CDC delta since the index's watermark (O(delta), no base scan)",
      Seq(baseTableParam, param("column", StringType,
        "indexed column (index table <t>_idx_<col>)")),
      Seq("index", "rows_appended", "base_version")) {
      (catalogName, input) =>
        val table = input.getUTF8String(0).toString
        val column = input.getUTF8String(1).toString.toLowerCase
        val s = SparkSession.active
        val base = graftTable(catalogName, table)
        val (ns, t) = splitNsTable(table)
        val idxName = s"${t}_idx_$column"
        val idxFqn = fqn(catalogName, s"$ns.$idxName")
        val baseFqn = fqn(catalogName, table)
        val idx = graftTable(catalogName, s"$ns.$idxName")
        require(idx.meta.properties.get(TableMeta.IndexOfProp)
            .contains(baseFqn),
          s"$idxFqn is not an index of $baseFqn (build it with " +
            "CALL graft.sys.index first)")
        val watermark = idx.meta.properties(TableMeta.IndexedVersionProp)
          .toLong
        val now = TableMeta.currentVersion(base.tableDir)
        val appended = if (now == watermark) 0L else {
          require(!TableMeta.dedupKeys(base.meta.properties),
            s"$baseFqn has graft.dedupKeys: upsert folds change " +
              "key→value mappings in place, which an append-only " +
              "delta cannot retract; rebuild with CALL graft.sys.index")
          val rewrite = TableMeta.history(base.tableDir).find(e =>
            e.version > watermark && e.version <= now &&
              Set("rowlevel", "overwrite", "restore")(e.op))
          require(rewrite.isEmpty,
            s"$baseFqn had an in-place rewrite (${rewrite.get.op} at " +
              s"version ${rewrite.get.version}) since the index " +
              s"watermark $watermark; rebuild with CALL graft.sys.index")
          // the index schema names every carried column in order
          // (indexed col, base keys, covered includes)
          val cols = idx.meta.schema.fieldNames
            .map(c => s"`$c`").mkString(", ")
          val delta = s.read
            .option(GraftChanges.FromKey, watermark.toString)
            .option(GraftChanges.ToKey, now.toString)
            .table(baseFqn)
            .where(s"`$column` IS NOT NULL")
          val appended = delta.count()
          if (appended > 0) {
            val v = s"idx_delta_${math.abs(idxFqn.hashCode)}"
            delta.createOrReplaceTempView(v)
            s.sql(s"INSERT INTO $idxFqn SELECT $cols FROM $v")
          }
          s.sql(s"ALTER TABLE $idxFqn SET TBLPROPERTIES(" +
            s"'${TableMeta.IndexedVersionProp}'='$now')")
          appended
        }
        Seq(Seq(idxFqn, appended.toString, now.toString))
    },

    /** `CALL graft.sys.mview(table => 'ns.t', name => 'by_status',
      * group_by => 'a;b', aggs => 'sum:x;count:*;min:y')` — build (or
      * rebuild) a MATERIALIZED VIEW table `<t>_mv_<name>`, keyed by the
      * group-by columns and holding one PARTIAL-aggregate row per group
      * per ingest batch. [[GraftMviewRewrite]] then answers any
      * re-aggregable GROUP BY over the base (same groups, a coarser
      * rollup over them, or a filter on them) from the mview
      * transparently while the freshness watermark matches the base —
      * the summary-table move a 100-TB dashboard workload needs: the
      * fact scan runs once at build/refresh, never per query.
      *
      * The reference's coprocessor computed per-region partials on every
      * query (`SparkSqlRegionObserver.scala:42-196`); persisting them as
      * a first-class keyed table is the same partial-aggregate algebra
      * with the per-query cost moved to ingest. Group columns must be
      * non-null (a keyed store row needs a key; the build refuses
      * loudly otherwise, so the rewrite can never lose a NULL group). */
    Proc("mview",
      "build or rebuild a materialized aggregate table <t>_mv_<name> " +
        "keyed by the group-by columns, holding partial aggregates",
      Seq(baseTableParam,
        param("name", StringType, "mview suffix: table <t>_mv_<name>"),
        param("group_by", StringType, "';'-separated group-by columns " +
          "(become the mview's key)"),
        param("aggs", StringType, "';'-separated '<fn>:<col>' " +
          "aggregates, fn in sum/count/min/max, 'count:*' for row count"),
        param("num_regions", IntegerType, default = "4")),
      Seq("mview", "rows", "base_version")) { (catalogName, input) =>
      val table = input.getUTF8String(0).toString
      val mvSuffix = input.getUTF8String(1).toString.toLowerCase
      require(mvSuffix.matches("[a-z0-9_]+"),
        s"mview name '$mvSuffix' must be [a-z0-9_]+")
      val groupBy = input.getUTF8String(2).toString
        .split(";").map(_.trim).filter(_.nonEmpty).toSeq
      require(groupBy.nonEmpty, "group_by must name at least one column")
      val specs = parseAggSpecs(input.getUTF8String(3).toString)
      require(specs.nonEmpty, "aggs must name at least one aggregate")
      val nRegions = input.getInt(4)
      val s = SparkSession.active
      val base = graftTable(catalogName, table)
      val meta = base.meta
      val groupFields = groupBy.map { c =>
        val f = meta.schema.fields.find(_.name.equalsIgnoreCase(c))
          .getOrElse(throw new IllegalArgumentException(
            s"group_by column $c not in ${table}'s schema"))
        require(graft.codec.KeyCodec.supportedTypes.contains(f.dataType),
          s"cannot group a materialized view by " +
            s"${f.dataType.simpleString} column $c (not a key-codec " +
            "type)")
        f
      }
      specs.foreach { case (_, col, _) =>
        require(col == "*" ||
            meta.schema.fields.exists(_.name.equalsIgnoreCase(col)),
          s"aggregate column $col not in ${table}'s schema")
      }
      val (ns, t) = splitNsTable(table)
      val mvName = s"${t}_mv_$mvSuffix"
      val mvFqn = fqn(catalogName, s"$ns.$mvName")
      val baseFqn = fqn(catalogName, table)
      // freshness watermark BEFORE the read: concurrent base
      // appends land after this version and correctly read stale
      val version = TableMeta.currentVersion(base.tableDir)
      val gCols = groupFields.map(f => s"`${f.name}`").mkString(", ")
      val nullGroups = s.sql(
        s"""SELECT 1 FROM $baseFqn
           |WHERE ${groupFields.map(f => s"`${f.name}` IS NULL")
              .mkString(" OR ")} LIMIT 1""".stripMargin).count()
      require(nullGroups == 0,
        s"group_by column(s) contain NULLs in $baseFqn; a keyed " +
          "mview row needs a non-null key (filter or backfill first)")
      val aggSql =
        s"""SELECT $gCols, ${aggSelectExprs(specs).mkString(", ")}
           |FROM $baseFqn GROUP BY $gCols""".stripMargin
      val df = s.sql(aggSql)
      s.sql(s"DROP TABLE IF EXISTS $mvFqn")
      val ddl = df.schema.fields
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      val aggsProp = specs
        .map { case (fn, col, stored) => s"$fn:$col=$stored" }
        .mkString(";")
      // the freshness watermark is stamped AFTER the insert: the
      // insert's own SELECT…GROUP BY over the base is exactly the
      // shape [[GraftMviewRewrite]] accelerates, and a fresh-but-
      // empty mview would answer it with itself (self-reference);
      // versionless = never fresh also makes a crashed half-build
      // invisible to the rewrite
      s.sql(
        s"""CREATE TABLE $mvFqn ($ddl)
           |TBLPROPERTIES(
           |  '${TableMeta.KeyColsProp}'='${groupFields.map(_.name)
                .mkString(";")}',
           |  '${TableMeta.NumRegionsProp}'='$nRegions',
           |  '${TableMeta.MviewOfProp}'='$baseFqn',
           |  '${TableMeta.MviewGroupByProp}'='${groupFields
                .map(_.name.toLowerCase).mkString(";")}',
           |  '${TableMeta.MviewAggsProp}'='$aggsProp')"""
          .stripMargin)
      val v = procView("mv_src", mvFqn)
      df.createOrReplaceTempView(v)
      try s.sql(s"INSERT INTO $mvFqn SELECT * FROM $v")
      finally dropProcViews(s, v)
      s.sql(s"ALTER TABLE $mvFqn SET TBLPROPERTIES(" +
        s"'${TableMeta.MviewVersionProp}'='$version')")
      val rows = s.table(mvFqn).count()
      Seq(Seq(mvFqn, rows.toString, version.toString))
    },

    /** `CALL graft.sys.mview_refresh(table => 'ns.t', name => 'by_x')` —
      * incrementally maintain a materialized view: read the base's CDC
      * delta since the mview's freshness watermark ([[GraftChanges]] —
      * manifest-only planning, reads ONLY appended regions), aggregate
      * the delta into fresh PARTIAL rows, append them, and advance the
      * watermark. O(delta), never a base scan — existing partials are
      * untouched because the read side re-aggregates (SUM of sums, SUM
      * of counts, MIN of mins). Same soundness contract as
      * `index_refresh`: appends and re-arrangement ops refresh
      * incrementally; in-place value rewrites and dedupKeys folds
      * cannot be retracted from an append-only summary and refuse
      * loudly toward a full `CALL graft.sys.mview` rebuild. */
    Proc("mview_refresh",
      "incrementally refresh a materialized view from the base " +
        "table's CDC delta since the mview's watermark (O(delta))",
      Seq(baseTableParam,
        param("name", StringType, "mview suffix (table <t>_mv_<name>)")),
      Seq("mview", "rows_appended", "base_version")) {
      (catalogName, input) =>
        val table = input.getUTF8String(0).toString
        val mvSuffix = input.getUTF8String(1).toString.toLowerCase
        val s = SparkSession.active
        val base = graftTable(catalogName, table)
        val (ns, t) = splitNsTable(table)
        val mvName = s"${t}_mv_$mvSuffix"
        val mvFqn = fqn(catalogName, s"$ns.$mvName")
        val baseFqn = fqn(catalogName, table)
        val mv = graftTable(catalogName, s"$ns.$mvName")
        require(mv.meta.properties.get(TableMeta.MviewOfProp)
            .contains(baseFqn),
          s"$mvFqn is not a materialized view of $baseFqn (build it " +
            "with CALL graft.sys.mview first)")
        // finish/roll back a refresh killed mid-protocol before
        // trusting the stamped watermark (an applied-but-unstamped
        // delta would otherwise be appended a second time)
        recoverPending(s, mv.tableDir, mvFqn,
          Seq(TableMeta.MviewVersionProp))
        val watermark = TableMeta.load(mv.tableDir)
          .properties(TableMeta.MviewVersionProp).toLong
        val now = TableMeta.currentVersion(base.tableDir)
        val appended = if (now == watermark) 0L else {
          require(!TableMeta.dedupKeys(base.meta.properties),
            s"$baseFqn has graft.dedupKeys: upsert folds change " +
              "key→value mappings in place, which an append-only " +
              "summary cannot retract; rebuild with CALL graft.sys.mview")
          val rewrite = TableMeta.history(base.tableDir).find(e =>
            e.version > watermark && e.version <= now &&
              Set("rowlevel", "overwrite", "restore", "delete")(e.op))
          require(rewrite.isEmpty,
            s"$baseFqn had a row-removing or in-place rewrite " +
              s"(${rewrite.get.op} at version ${rewrite.get.version}) " +
              s"since the mview watermark $watermark; rebuild with " +
              "CALL graft.sys.mview")
          val groupBy = mv.meta.properties(TableMeta.MviewGroupByProp)
            .split(";").filter(_.nonEmpty).toSeq
          val specs = mv.meta.properties(TableMeta.MviewAggsProp)
            .split(";").filter(_.nonEmpty).toSeq.map { e =>
              val Array(spec, stored) = e.split("=", 2)
              val Array(fn, col) = spec.split(":", 2)
              (fn, col, stored)
            }
          val delta = s.read
            .option(GraftChanges.FromKey, watermark.toString)
            .option(GraftChanges.ToKey, now.toString)
            .table(baseFqn)
          val v = procView("mv_delta", mvFqn)
          delta.createOrReplaceTempView(v)
          val gCols = groupBy.map(c => s"`$c`").mkString(", ")
          val appended = try {
            val nullGroups = s.sql(
              s"""SELECT 1 FROM $v WHERE ${groupBy
                  .map(c => s"`$c` IS NULL").mkString(" OR ")} LIMIT 1""")
              .count()
            require(nullGroups == 0,
              s"CDC delta of $baseFqn contains NULL group column(s); a " +
                "keyed mview row needs a non-null key")
            val partials = s.sql(
              s"""SELECT $gCols, ${aggSelectExprs(specs).mkString(", ")}
                 |FROM $v GROUP BY $gCols""".stripMargin)
            // one evaluation feeds both the count and the insert
            partials.persist()
            try {
              val n = partials.count()
              if (n > 0) {
                val pv = procView("mv_part", mvFqn)
                partials.createOrReplaceTempView(pv)
                // write-ahead intent, then insert, then stamp+clear:
                // every crash point is recoverable (recoverPending)
                // and readable ([[GraftMviewRewrite]]'s effective
                // watermark) without double-counting the delta
                val mvVer = TableMeta.currentVersion(mv.tableDir)
                try {
                  setProps(s, mvFqn,
                    TableMeta.MviewPendingProp -> s"$now:$mvVer")
                  s.sql(s"INSERT INTO $mvFqn SELECT * FROM $pv")
                } finally dropProcViews(s, pv)
              }
              n
            } finally partials.unpersist()
          } finally dropProcViews(s, v)
          setProps(s, mvFqn,
            TableMeta.MviewVersionProp -> now.toString)
          unsetProp(s, mvFqn, TableMeta.MviewPendingProp)
          appended
        }
        Seq(Seq(mvFqn, appended.toString, now.toString))
    },

    /** `CALL graft.sys.mview_join(left => 'ns.a', right => 'ns.b',
      * name => 'enriched', on => 'a_key=b_key')` — build (or rebuild) a
      * MATERIALIZED JOIN VIEW table `<a>_mvj_<name>`: the inner
      * equi-join of the two bases, keyed (non-unique) by the join
      * column, persisted once so consumers read a pre-joined table
      * instead of re-paying the join per query — the denormalization
      * move a 100-TB star schema needs when the same enrichment join
      * fronts many queries. Both base reads are PINNED to the versions
      * captured before the scan (VERSION AS OF), so concurrent appends
      * land entirely after both watermarks and the incremental refresh
      * delivers them exactly once. Column names must be disjoint across
      * the sides (the right join column is dropped — it equals the
      * left's); a collision refuses loudly. */
    Proc("mview_join",
      "build or rebuild a materialized inner equi-join view " +
        "<left>_mvj_<name> keyed by the join column",
      Seq(param("left", StringType, "left base '<namespace>.<table>'"),
        param("right", StringType, "right base '<namespace>.<table>'"),
        param("name", StringType, "view suffix: table <left_t>_mvj_<name>"),
        param("on", StringType,
          "equi-join condition '<left_col>=<right_col>'"),
        param("num_regions", IntegerType, default = "4")),
      Seq("mview_join", "rows", "left_version", "right_version")) {
      (catalogName, input) =>
        val leftT = input.getUTF8String(0).toString
        val rightT = input.getUTF8String(1).toString
        val suffix = input.getUTF8String(2).toString.toLowerCase
        require(suffix.matches("[a-z0-9_]+"),
          s"view name '$suffix' must be [a-z0-9_]+")
        val on = input.getUTF8String(3).toString
        val nRegions = input.getInt(4)
        val Array(lCol, rCol) = {
          val parts = on.split("=", 2).map(_.trim.toLowerCase)
          require(parts.length == 2 && parts.forall(_.nonEmpty),
            s"on must be '<left_col>=<right_col>', got '$on'")
          parts
        }
        val s = SparkSession.active
        val left = graftTable(catalogName, leftT)
        val right = graftTable(catalogName, rightT)
        def field(m: TableMeta, c: String, side: String) =
          m.schema.fields.find(_.name.equalsIgnoreCase(c))
            .getOrElse(throw new IllegalArgumentException(
              s"join column $c not in the $side table's schema"))
        val lf = field(left.meta, lCol, "left")
        val rf = field(right.meta, rCol, "right")
        require(graft.codec.KeyCodec.supportedTypes.contains(lf.dataType),
          s"join column $lCol (${lf.dataType.simpleString}) is not a " +
            "key-codec type")
        // a BIGINT=STRING pair would silently depend on Spark's
        // implicit-cast equality; refuse loudly like the other
        // build-time mismatches
        require(lf.dataType == rf.dataType,
          s"join column type mismatch: $lCol is " +
            s"${lf.dataType.simpleString} but $rCol is " +
            s"${rf.dataType.simpleString} (cast or project the bases " +
            "first)")
        val rightKept = right.meta.schema.fields
          .filterNot(_.name.equalsIgnoreCase(rCol))
        val collide = rightKept.map(_.name.toLowerCase).toSet
          .intersect(left.meta.schema.fields.map(_.name.toLowerCase).toSet)
        require(collide.isEmpty,
          s"column name collision between the sides: " +
            s"${collide.mkString(", ")} " +
            "— a materialized join view needs disjoint names " +
            "(rename or project the bases first)")
        val (ns, lt) = splitNsTable(leftT)
        val mvFqn = fqn(catalogName, s"$ns.${lt}_mvj_$suffix")
        val leftFqn = fqn(catalogName, leftT)
        val rightFqn = fqn(catalogName, rightT)
        // both watermarks BEFORE the read; the read pins to them
        val vL = TableMeta.currentVersion(left.tableDir)
        val vR = TableMeta.currentVersion(right.tableDir)
        val cols = (left.meta.schema.fields.map(f => s"l.`${f.name}`") ++
          rightKept.map(f => s"r.`${f.name}`")).mkString(", ")
        val df = s.sql(
          s"""SELECT $cols
             |FROM $leftFqn VERSION AS OF $vL l
             |JOIN $rightFqn VERSION AS OF $vR r
             |  ON l.`$lCol` = r.`$rCol`""".stripMargin)
        s.sql(s"DROP TABLE IF EXISTS $mvFqn")
        val ddl = df.schema.fields
          .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        s.sql(
          s"""CREATE TABLE $mvFqn ($ddl)
             |TBLPROPERTIES(
             |  '${TableMeta.KeyColsProp}'='${lf.name}',
             |  '${TableMeta.NumRegionsProp}'='$nRegions',
             |  '${TableMeta.MviewJoinLeftProp}'='$leftFqn',
             |  '${TableMeta.MviewJoinRightProp}'='$rightFqn',
             |  '${TableMeta.MviewJoinOnProp}'='$lCol=$rCol')"""
            .stripMargin)
        val v = procView("mvj_src", mvFqn)
        df.createOrReplaceTempView(v)
        try s.sql(s"INSERT INTO $mvFqn SELECT * FROM $v")
        finally dropProcViews(s, v)
        // watermarks stamped AFTER the insert: versionless = never
        // refreshable, so a crashed half-build refuses toward rebuild
        s.sql(s"ALTER TABLE $mvFqn SET TBLPROPERTIES(" +
          s"'${TableMeta.MviewJoinLeftVerProp}'='$vL'," +
          s"'${TableMeta.MviewJoinRightVerProp}'='$vR')")
        val rows = s.table(mvFqn).count()
        Seq(Seq(mvFqn, rows.toString, vL.toString, vR.toString))
    },

    /** `CALL graft.sys.mview_join_refresh(view => 'ns.a_mvj_x')` —
      * incrementally maintain a materialized join view from the two
      * bases' CDC deltas since their per-side watermarks. For
      * insert-only bases the delta of an inner join decomposes exactly:
      *
      *   Δ(L ⋈ R) = ΔL ⋈ R_new  ∪  L_old ⋈ ΔR
      *
      * (ΔL pairs with everything now in R including ΔR; ΔR's remaining
      * pairs are against the PRE-append L, read VERSION AS OF the old
      * watermark — counting each new pair exactly once). Both terms are
      * delta-sized joins; the view never re-scans either base. Rewrites
      * or dedupKeys folds on either side refuse toward a rebuild, the
      * index_refresh/mview_refresh contract. */
    Proc("mview_join_refresh",
      "incrementally refresh a materialized join view from both " +
        "bases' CDC deltas (O(delta), exact for append-only bases)",
      Seq(param("view", StringType,
        "the '<namespace>.<table>_mvj_<name>' view")),
      Seq("mview_join", "rows_appended", "left_version",
        "right_version")) { (catalogName, input) =>
      val viewT = input.getUTF8String(0).toString
      val s = SparkSession.active
      val mv = graftTable(catalogName, viewT)
      val mvFqn = fqn(catalogName, viewT)
      require(mv.meta.properties.contains(TableMeta.MviewJoinLeftProp),
        s"$mvFqn is not a materialized join view (build it with " +
          "CALL graft.sys.mview_join first)")
      // finish/roll back a refresh killed mid-protocol before
      // trusting the stamped watermarks
      recoverPending(s, mv.tableDir, mvFqn,
        Seq(TableMeta.MviewJoinLeftVerProp,
          TableMeta.MviewJoinRightVerProp))
      val p = TableMeta.load(mv.tableDir).properties
      val leftFqn = p(TableMeta.MviewJoinLeftProp)
      val rightFqn = p(TableMeta.MviewJoinRightProp)
      val Array(lCol, rCol) = p(TableMeta.MviewJoinOnProp).split("=", 2)
      val wL = p.getOrElse(TableMeta.MviewJoinLeftVerProp,
        throw new IllegalStateException(
          s"$mvFqn carries no watermark (crashed half-build); " +
            "rebuild with CALL graft.sys.mview_join")).toLong
      val wR = p(TableMeta.MviewJoinRightVerProp).toLong
      def baseOf(f: String) = graftTable(catalogName,
        f.split("\\.", 2)(1))
      val left = baseOf(leftFqn)
      val right = baseOf(rightFqn)
      val vL = TableMeta.currentVersion(left.tableDir)
      val vR = TableMeta.currentVersion(right.tableDir)
      val appended = if (vL == wL && vR == wR) 0L else {
        val rebuild = "CALL graft.sys.mview_join"
        requireAppendOnlySince("left", left, leftFqn, wL, vL, rebuild)
        requireAppendOnlySince("right", right, rightFqn, wR, vR, rebuild)
        val rightKept = right.meta.schema.fields
          .filterNot(_.name.equalsIgnoreCase(rCol))
        val cols = (left.meta.schema.fields.map(f => s"l.`${f.name}`") ++
          rightKept.map(f => s"r.`${f.name}`")).mkString(", ")
        val dL = procView("mvj_dl", mvFqn)
        val dR = procView("mvj_dr", mvFqn)
        s.read.option(GraftChanges.FromKey, wL.toString)
          .option(GraftChanges.ToKey, vL.toString)
          .table(leftFqn).createOrReplaceTempView(dL)
        s.read.option(GraftChanges.FromKey, wR.toString)
          .option(GraftChanges.ToKey, vR.toString)
          .table(rightFqn).createOrReplaceTempView(dR)
        val delta = s.sql(
          s"""SELECT $cols FROM $dL l
             |JOIN $rightFqn VERSION AS OF $vR r
             |  ON l.`$lCol` = r.`$rCol`
             |UNION ALL
             |SELECT $cols FROM $leftFqn VERSION AS OF $wL l
             |JOIN $dR r ON l.`$lCol` = r.`$rCol`""".stripMargin)
        // one evaluation feeds both the count and the insert
        delta.persist()
        val appended = try {
          val n = delta.count()
          if (n > 0) {
            val v = procView("mvj_delta", mvFqn)
            delta.createOrReplaceTempView(v)
            // write-ahead intent → insert → stamp+clear (the
            // mview_refresh protocol; recoverPending finishes or
            // rolls back any crash point without re-appending)
            val mvVer = TableMeta.currentVersion(mv.tableDir)
            try {
              setProps(s, mvFqn,
                TableMeta.MviewPendingProp -> s"$vL;$vR:$mvVer")
              s.sql(s"INSERT INTO $mvFqn SELECT * FROM $v")
            } finally dropProcViews(s, v)
          }
          n
        } finally {
          delta.unpersist()
          dropProcViews(s, dL, dR)
        }
        setProps(s, mvFqn,
          TableMeta.MviewJoinLeftVerProp -> vL.toString,
          TableMeta.MviewJoinRightVerProp -> vR.toString)
        unsetProp(s, mvFqn, TableMeta.MviewPendingProp)
        appended
      }
      Seq(Seq(mvFqn, appended.toString, vL.toString, vR.toString))
    },

    /** `CALL graft.sys.tag(table => 'ns.t', name => 'release-v1'
      * [, version => n])` — pin a commit-log version under a NAME
      * (Iceberg's snapshot tag; default: the current version).
      * `VERSION AS OF 'release-v1'` then reads that snapshot, and the
      * pin is honored by every cleanup layer until `untag`: log cleanup
      * retains the segments that reconstruct it, compaction/cluster
      * age-out and vacuum keep its region files ([[TableMeta.pinnedFiles]]).
      * The pin-the-exact-training-corpus operation WITHOUT clone's
      * per-region link cost: O(1) metadata, same directory. Statement
      * faces: `ALTER TABLE t CREATE TAG name [AS OF VERSION n]` /
      * `ALTER TABLE t DROP TAG name`. */
    Proc("tag",
      "pin a commit-log version under a name readable via " +
        "VERSION AS OF '<name>' and protected from vacuum/compaction " +
        "cleanup until untagged",
      Seq(tableParam,
        param("name", StringType, "tag name (letter first; not an integer)"),
        param("version", LongType,
          "commit-log version to pin (default: current)", "-1")),
      Seq("tag", "version")) { (catalogName, input) =>
      val table = input.getUTF8String(0).toString
      val tag = input.getUTF8String(1).toString
      require(tag.matches("[A-Za-z][A-Za-z0-9._\\-]*"),
        s"invalid tag name '$tag': must start with a letter and " +
          "use only letters, digits, '.', '_', '-' (so it can " +
          "never collide with an integer version)")
      val gt = graftTable(catalogName, table)
      // readability check under the manifest lock (vacuum cannot
      // slip between the check and the lock release); the property
      // save runs after — TableMeta.save takes the lock itself
      val v = TableMeta.withManifestLock(gt.tableDir) {
        val cur = TableMeta.currentVersion(gt.tableDir)
        val v0 = input.getLong(2)
        val v = if (v0 < 0) cur else v0
        // a tag must be READABLE at creation: the state must still
        // reconstruct and every referenced region file must exist
        // (tagging an already-vacuumed version would pin nothing)
        val st = TableMeta.stateAt(gt.tableDir, v)
        val gone = st.regions.filterNot(r =>
          new File(gt.tableDir, r.file).isFile)
        if (gone.nonEmpty) throw new IllegalStateException(
          s"cannot tag version $v of $table: ${gone.size} region " +
            s"file(s) already removed (e.g. ${gone.head.file})")
        v
      }
      val meta = TableMeta.load(gt.tableDir)
      TableMeta.save(gt.tableDir, meta.copy(properties =
        meta.properties + (TableMeta.TagPropPrefix + tag -> v.toString)))
      invalidate(catalogName, table)
      Seq(Seq(tag, v.toString))
    },

    /** `CALL graft.sys.untag(table => 'ns.t', name => 'release-v1')` —
      * release the pin; the next vacuum/compaction may reclaim files
      * only the tagged version referenced. */
    Proc("untag",
      "remove a version tag (the next vacuum/compaction may reclaim " +
        "files only that version referenced)",
      Seq(tableParam, param("name", StringType)), Seq("untagged")) {
      (catalogName, input) =>
        val table = input.getUTF8String(0).toString
        val tag = input.getUTF8String(1).toString
        val gt = graftTable(catalogName, table)
        val meta = TableMeta.load(gt.tableDir)
        val key = TableMeta.TagPropPrefix + tag
        require(meta.properties.contains(key),
          s"no tag '$tag' on $table (tags: " +
            s"${TableMeta.tags(meta.properties).keys.toSeq.sorted
              .mkString(", ")})")
        TableMeta.save(gt.tableDir, meta.copy(properties =
          meta.properties - key))
        invalidate(catalogName, table)
        Seq(Seq(tag))
    },

    /** `CALL graft.sys.scan_estimate(table => 'ns.t', predicate =>
      * 'k BETWEEN 10 AND 20')` — pre-flight pruning readout: how many
      * regions (and rows/bytes upper bound) a scan with this predicate
      * would actually schedule, BEFORE paying for it. Runs the REAL
      * planning path (Catalyst pushdown → KeyRanges interval pruning →
      * ColStats/bloom skipping) by planning `SELECT * FROM t WHERE p`
      * and reading the scheduled graft partitions off the physical plan
      * — so the readout can never drift from execution, and a predicate
      * the planner can't push shows up honestly as a full scan. Zero
      * data IO (planning is driver-side manifest work). The operator
      * face of the 100-TB question "is this query going to read 100 TB
      * or 100 GB?". */
    Proc("scan_estimate",
      "regions/rows/bytes a predicate scan of a graft table would " +
        "schedule (driver-side planning only, no data IO)",
      Seq(tableParam, param("predicate", StringType, "SQL predicate over the " +
        "table's columns; '' or 'true' for the unfiltered readout")),
      Seq("regions_total", "regions_scanned", "rows_upper_bound",
        "bytes_scanned", "pruned_pct")) { (catalogName, input) =>
      val table = input.getUTF8String(0).toString
      val pred = Option(input.getUTF8String(1)).map(_.toString)
        .filter(_.trim.nonEmpty).getOrElse("true")
      val s = SparkSession.active
      val gt = graftTable(catalogName, table)
      val all = TableMeta.loadRegions(gt.tableDir)
      val df = s.table(fqn(catalogName, table)).where(pred)
      // sparkPlan (pre-AQE-wrapping): V2 pushdown has already run
      // in the optimizer, and the adaptive wrapper would hide the
      // scan node from collect until execution
      // a scan pruned to one small region plans as a local read
      val parts = df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b.inputPartitions
        case l: GraftLocalScanExec => l.partition.toSeq
      }.flatten
      val (files, rows) = parts.map {
        case p: RegionPartition => (p.files, p.rows)
        case other => throw new IllegalStateException(
          s"unexpected partition ${other.getClass.getName}")
      }.unzip
      val flat = files.flatten
      val bytes = flat.map(f => new File(f).length()).sum
      Seq(Seq(all.size.toString, flat.size.toString,
        rows.sum.toString, bytes.toString,
        if (all.isEmpty) "0.0"
        else f"${100.0 * (all.size - flat.size) / all.size}%.1f"))
    },

    /** `CALL graft.sys.mirror(source => 'ns.t', target => 'ns2.t2')` —
      * incremental replication: bootstrap the target as a zero-copy
      * CLONE of the source (same warehouse hard-link move the clone
      * procedure makes), then each call appends the source's CDC delta
      * `(watermark, current]` and advances the replication watermark —
      * O(delta) per sync, never a source re-scan. The DR / dev-copy /
      * cross-environment-promotion story: a consumer reads the mirror
      * while the source keeps ingesting, and syncs are idempotent at the
      * version level (an already-applied version is a 0-row no-op).
      * Append-only sources only: an in-place rewrite (UPDATE / MERGE /
      * overwrite / restore) or a dedupKeys fold since the watermark
      * REFUSES (an append-only delta cannot retract rows) — drop the
      * mirror and re-bootstrap, exactly the index_refresh contract. */
    Proc("mirror",
      "bootstrap (clone) and incrementally sync a replica of a graft " +
        "table from its CDC delta (O(delta) per sync)",
      Seq(param("source", StringType,
          "source '<namespace>.<table>' within this catalog"),
        param("target", StringType, "replica '<namespace>.<table>'; " +
          "created (cloned) on first call")),
      Seq("mirror", "rows_appended", "source_version")) {
      (catalogName, input) =>
        val source = input.getUTF8String(0).toString
        val target = input.getUTF8String(1).toString
        val s = SparkSession.active
        val src = graftTable(catalogName, source)
        val srcFqn = fqn(catalogName, source)
        val tgtFqn = fqn(catalogName, target)
        val now = TableMeta.currentVersion(src.tableDir)
        require(!TableMeta.dedupKeys(src.meta.properties),
          s"$srcFqn has graft.dedupKeys: upsert folds change " +
            "key->value mappings in place, which an append-only " +
            "delta cannot replicate; mirror only append-only tables")
        val exists =
          try { graftTable(catalogName, target); true }
          catch { case _: Exception => false }
        val appended = if (!exists) {
          s.sql(s"CALL `$catalogName`.sys.clone(" +
            s"table => '$source', target => '$target')").collect()
          val n = s.table(tgtFqn).count()
          s.sql(s"ALTER TABLE $tgtFqn SET TBLPROPERTIES(" +
            s"'${TableMeta.MirrorOfProp}'='$srcFqn', " +
            s"'${TableMeta.MirrorVersionProp}'='$now')")
          n
        } else {
          val tgt = graftTable(catalogName, target)
          require(tgt.meta.properties.get(TableMeta.MirrorOfProp)
              .contains(srcFqn),
            s"$tgtFqn is not a mirror of $srcFqn (it exists but has no " +
              s"${TableMeta.MirrorOfProp} stamp; pick a fresh target)")
          val watermark =
            tgt.meta.properties(TableMeta.MirrorVersionProp).toLong
          if (now == watermark) 0L else {
            val rewrite = TableMeta.history(src.tableDir).find(e =>
              e.version > watermark && e.version <= now &&
                Set("rowlevel", "overwrite", "restore")(e.op))
            require(rewrite.isEmpty,
              s"$srcFqn had an in-place rewrite (${rewrite.get.op} at " +
                s"version ${rewrite.get.version}) since the mirror " +
                s"watermark $watermark; DROP $tgtFqn and re-bootstrap")
            val delta = s.read
              .option(GraftChanges.FromKey, watermark.toString)
              .option(GraftChanges.ToKey, now.toString)
              .table(srcFqn)
            val appended = delta.count()
            if (appended > 0) {
              val v = s"mirror_delta_${math.abs(tgtFqn.hashCode)}"
              delta.createOrReplaceTempView(v)
              val cols = src.meta.schema.fieldNames
                .map(c => s"`$c`").mkString(", ")
              s.sql(s"INSERT INTO $tgtFqn SELECT $cols FROM $v")
            }
            s.sql(s"ALTER TABLE $tgtFqn SET TBLPROPERTIES(" +
              s"'${TableMeta.MirrorVersionProp}'='$now')")
            appended
          }
        }
        Seq(Seq(tgtFqn, appended.toString, now.toString))
    },

    /** `CALL graft.sys.branch(table => 'ns.t', name => 'audit')` —
      * create a write-audit-publish staging branch ([[GraftBranch]]):
      * appends staged on it are invisible to main readers until
      * `graft.sys.publish`. */
    Proc("branch",
      "create a write-audit-publish staging branch; stage appends " +
        "with writeTo(...).option('branch', ...) or the session conf " +
        GraftBranch.WapConf,
      Seq(tableParam, param("name", StringType,
        "branch name (letter first; letters/digits/_)")),
      Seq("branch", "fork_version")) { (catalogName, input) =>
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val gt = graftTable(catalogName, table)
      val fork = TableMeta.createBranch(gt.tableDir, name)
      Seq(Seq(name, fork.toString))
    },

    /** `CALL graft.sys.branches(table => 'ns.t')` — the audit readout:
      * every staging branch with its fork version and staged volume. */
    Proc("branches",
      "list the table's write-audit-publish staging branches with " +
        "staged region/row counts",
      Seq(tableParam), Seq("branch", "fork_version", "created_ms",
        "staged_regions", "staged_rows")) { (catalogName, input) =>
      val table = input.getUTF8String(0).toString
      val gt = graftTable(catalogName, table)
      TableMeta.branches(gt.tableDir).map { case (name, fork, ts) =>
        val (regions, rws) = TableMeta.branchStats(gt.tableDir, name)
        Seq(name, fork.toString, ts.toString,
          regions.toString, rws.toString)
      }
    },

    /** `CALL graft.sys.publish(table => 'ns.t', name => 'audit')` —
      * move the branch's staged regions into main as ONE atomic commit
      * (crash-retry idempotent) and drop the branch. */
    Proc("publish",
      "publish a staging branch: its staged appends become ONE main " +
        "commit, atomically visible; the branch is dropped",
      Seq(tableParam, param("name", StringType)),
      Seq("published_regions", "published_rows")) { (catalogName, input) =>
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val gt = graftTable(catalogName, table)
      val (regions, rows) = TableMeta.publishBranch(gt.tableDir, name)
      Seq(Seq(regions.toString, rows.toString))
    },

    /** `CALL graft.sys.branch_drop(table => 'ns.t', name => 'audit')` —
      * abandon the branch: staged data files (never visible to main)
      * are deleted. */
    Proc("branch_drop",
      "abandon a staging branch and delete its staged (never " +
        "published) region files",
      Seq(tableParam, param("name", StringType)), Seq("dropped_regions")) {
      (catalogName, input) =>
        val table = input.getUTF8String(0).toString
        val name = input.getUTF8String(1).toString
        val gt = graftTable(catalogName, table)
        Seq(Seq(TableMeta.dropBranch(gt.tableDir, name).toString))
    },

    /** `CALL graft.sys.text_index(table => 'ns.t', column => 'text',
      * id => 'doc_id')` — build (or rebuild) the full-text search tier
      * for a document table: a positional postings table `<t>_fts`
      * keyed `(term; id)` — one (term, id, tf, dl, pos) row per distinct
      * word per document, built by the same shared
      * [[graft.operators.TextOps.postingRows]] builder the query faces
      * recompute with — plus a `<t>_fts_stats` counters table (doc
      * count, total words: EXACT integers that ADD, so the incremental
      * refresh below never re-scans the corpus). Query-time BM25/phrase
      * cost then follows the query's terms (leading-key point reads on
      * the term string), not the corpus. */
    Proc("text_index",
      "build a positional full-text postings index <t>_fts (+ exact " +
        "stats counters <t>_fts_stats) over a document table",
      Seq(baseTableParam,
        param("column", StringType, "STRING column to tokenize"),
        param("id", StringType,
          "document id column (becomes the trailing key)"),
        param("num_regions", IntegerType, default = "8")),
      Seq("fts", "postings", "base_version")) { (catalogName, input) =>
      val table = input.getUTF8String(0).toString
      val column = input.getUTF8String(1).toString
      val id = input.getUTF8String(2).toString
      val nRegions = input.getInt(3)
      val s = SparkSession.active
      val base = graftTable(catalogName, table)
      val meta = base.meta
      def field(c: String) = meta.schema.fields
        .find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"column $c not in ${table}'s schema"))
      val colF = field(column)
      val idF = field(id)
      require(colF.dataType == StringType,
        s"text_index tokenizes a STRING column; $column is " +
          colF.dataType.simpleString)
      require(graft.codec.KeyCodec.supportedTypes.contains(idF.dataType),
        s"id column $id (${idF.dataType.simpleString}) is not a " +
          "key-codec type")
      val (ns, t) = splitNsTable(table)
      val ftsFqn = fqn(catalogName, s"$ns.${t}_fts")
      val statsFqn = fqn(catalogName, s"$ns.${t}_fts_stats")
      val baseFqn = fqn(catalogName, table)
      // watermark BEFORE the read, like the index build — and the
      // read below is PINNED to this version (VERSION AS OF), so a
      // concurrent append landing between version capture and the
      // build scan is neither indexed now nor lost: the next
      // refresh delivers it exactly once. An unpinned read would
      // both index it and re-deliver it (double-counted postings
      // and stats).
      val version = TableMeta.currentVersion(base.tableDir)
      s.sql(s"DROP TABLE IF EXISTS $ftsFqn")
      s.sql(s"DROP TABLE IF EXISTS $statsFqn")
      s.sql(
        s"""CREATE TABLE $ftsFqn (
           |  term STRING, `${idF.name}` ${idF.dataType.sql},
           |  tf BIGINT, dl BIGINT, pos ARRAY<INT>)
           |TBLPROPERTIES(
           |  '${TableMeta.KeyColsProp}'='term;${idF.name}',
           |  '${TableMeta.NumRegionsProp}'='$nRegions',
           |  '${TableMeta.TextIndexOfProp}'='$baseFqn',
           |  '${TableMeta.FtsColProp}'='${colF.name}',
           |  '${TableMeta.FtsIdProp}'='${idF.name}',
           |  '${TableMeta.IndexedVersionProp}'='$version')"""
          .stripMargin)
      s.sql(
        s"""CREATE TABLE $statsFqn (stat STRING, v BIGINT)
           |TBLPROPERTIES('${TableMeta.KeyColsProp}'='stat',
           |  '${TableMeta.NumRegionsProp}'='2')""".stripMargin)
      val src = s.sql(s"SELECT `${idF.name}` AS doc_id, " +
        s"`${colF.name}` AS text FROM $baseFqn VERSION AS OF $version")
      // BM25 df / n_docs assume one document per id: a duplicated
      // id would merge two documents' postings into one corrupted
      // row at build AND make every later incremental refresh
      // unsound (an append re-using an id cannot be retracted by
      // an insert-only delta). Enforced here once, so refresh only
      // has to check its delta against this invariant.
      import org.apache.spark.sql.functions.{count => fcount,
        countDistinct, lit => flit}
      val uniq = src.agg(fcount(flit(1)).as("n"),
        countDistinct(org.apache.spark.sql.functions.col("doc_id"))
          .as("nd")).collect()(0)
      require(uniq.getLong(0) == uniq.getLong(1),
        s"$baseFqn has ${uniq.getLong(0) - uniq.getLong(1)} " +
          s"duplicate `${idF.name}` values; text_index requires " +
          "one document per id (BM25 stats count documents)")
      val pv = s"fts_src_${math.abs(ftsFqn.hashCode)}"
      graft.operators.TextOps.postingRows(src)
        .createOrReplaceTempView(pv)
      s.sql(s"INSERT INTO $ftsFqn SELECT * FROM $pv")
      val sv = s"fts_stats_src_${math.abs(ftsFqn.hashCode)}"
      import org.apache.spark.sql.functions._
      src.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(size(filter(split(col("text"), " "),
          w => w =!= "")).cast("long")), lit(0L)).as("total_dl"))
        .selectExpr(
          "stack(2, 'n_docs', n_docs, 'total_dl', total_dl)" +
            " AS (stat, v)")
        .createOrReplaceTempView(sv)
      s.sql(s"INSERT INTO $statsFqn SELECT * FROM $sv")
      val rows = s.table(ftsFqn).count()
      Seq(Seq(ftsFqn, rows.toString, version.toString))
    },

    /** `CALL graft.sys.text_index_refresh(table => 'ns.t')` —
      * incrementally maintain the full-text tier after base appends:
      * read the CDC delta since the watermark (manifest-only planning,
      * reads ONLY appended regions), insert the DELTA's postingRows
      * (postings carry no cross-document state, so delta postings ARE
      * the postings delta), and ADD the delta's exact counters to the
      * stats rows — never a corpus re-scan. Same soundness contract as
      * index_refresh: in-place rewrites and dedupKeys folds refuse and
      * direct to a text_index rebuild. */
    Proc("text_index_refresh",
      "incrementally refresh <t>_fts and its stats counters from the " +
        "base table's CDC delta (O(delta), no corpus re-scan)",
      Seq(baseTableParam), Seq("fts", "postings_appended", "base_version")) {
      (catalogName, input) =>
        val table = input.getUTF8String(0).toString
        val s = SparkSession.active
        val base = graftTable(catalogName, table)
        val (ns, t) = splitNsTable(table)
        val ftsFqn = fqn(catalogName, s"$ns.${t}_fts")
        val statsFqn = fqn(catalogName, s"$ns.${t}_fts_stats")
        val baseFqn = fqn(catalogName, table)
        val idx = graftTable(catalogName, s"$ns.${t}_fts")
        require(idx.meta.properties.get(TableMeta.TextIndexOfProp)
            .contains(baseFqn),
          s"$ftsFqn is not a text index of $baseFqn (build it with " +
            "CALL graft.sys.text_index first)")
        val column = idx.meta.properties(TableMeta.FtsColProp)
        val id = idx.meta.properties(TableMeta.FtsIdProp)
        val watermark = idx.meta.properties(TableMeta.IndexedVersionProp)
          .toLong
        val now = TableMeta.currentVersion(base.tableDir)
        import org.apache.spark.sql.functions._
        val appended = if (now == watermark) 0L else {
          require(!TableMeta.dedupKeys(base.meta.properties),
            s"$baseFqn has graft.dedupKeys: upsert folds change " +
              "documents in place, which an append-only postings delta " +
              "cannot retract; rebuild with CALL graft.sys.text_index")
          val rewrite = TableMeta.history(base.tableDir).find(e =>
            e.version > watermark && e.version <= now &&
              Set("rowlevel", "overwrite", "restore")(e.op))
          require(rewrite.isEmpty,
            s"$baseFqn had an in-place rewrite (${rewrite.get.op} at " +
              s"version ${rewrite.get.version}) since the text-index " +
              s"watermark $watermark; rebuild with " +
              "CALL graft.sys.text_index")
          val delta = s.read
            .option(GraftChanges.FromKey, watermark.toString)
            .option(GraftChanges.ToKey, now.toString)
            .table(baseFqn)
            .select(col(s"`$id`").as("doc_id"),
              col(s"`$column`").as("text"))
          val agg = delta.agg(count(lit(1)).as("n"),
            coalesce(sum(size(filter(split(col("text"), " "),
              w => w =!= "")).cast("long")), lit(0L)).as("tdl"),
            countDistinct(col("doc_id")).as("nids"))
            .collect()(0)
          val (nDocs, totalDl) = (agg.getLong(0), agg.getLong(1))
          // An append that RE-USES an already-indexed id is unsound for
          // an insert-only postings delta: the duplicate (term, id)
          // rows double-count df/tf and the adding counters double-
          // count n_docs/total_dl — refresh would silently diverge
          // from a rebuild. Build enforces one-document-per-id, so it
          // suffices to check the delta against itself and against the
          // ids visible AT THE WATERMARK (pinned read — rows appended
          // after it are exactly the delta being checked). Small
          // deltas check by key-pruned IN-list point lookups; large
          // ones by a single-column join (still far below a rebuild,
          // which re-tokenizes the corpus).
          if (nDocs > 0) {
            require(agg.getLong(2) == nDocs,
              s"delta of $baseFqn contains ${nDocs - agg.getLong(2)} " +
                "duplicate document ids; rebuild with " +
                "CALL graft.sys.text_index")
            val deltaIds = delta.select(col("doc_id")).distinct()
            val atWm = s.sql(s"SELECT `$id` AS doc_id FROM $baseFqn " +
              s"VERSION AS OF $watermark")
            val reused =
              if (nDocs <= 10000) {
                val ids = deltaIds.collect().map(_.get(0))
                atWm.filter(col("doc_id").isin(ids: _*)).limit(1)
                  .count()
              } else atWm.join(deltaIds, "doc_id").limit(1).count()
            require(reused == 0L,
              s"$baseFqn re-used at least one already-indexed " +
                s"`$id` since the text-index watermark $watermark; " +
                "an insert-only postings delta cannot retract the " +
                "old document — rebuild with CALL graft.sys.text_index")
          }
          var appended = 0L
          if (nDocs > 0) {
            val pv = s"fts_delta_${math.abs(ftsFqn.hashCode)}"
            val rows = graft.operators.TextOps.postingRows(delta)
            rows.createOrReplaceTempView(pv)
            s.sql(s"INSERT INTO $ftsFqn SELECT * FROM $pv")
            appended = s.table(pv).count()
            // exact adding counters — the reason the stats are stored
            // as integers rather than the derived average
            s.sql(s"UPDATE $statsFqn SET v = v + $nDocs " +
              "WHERE stat = 'n_docs'")
            s.sql(s"UPDATE $statsFqn SET v = v + $totalDl " +
              "WHERE stat = 'total_dl'")
          }
          s.sql(s"ALTER TABLE $ftsFqn SET TBLPROPERTIES(" +
            s"'${TableMeta.IndexedVersionProp}'='$now')")
          appended
        }
        Seq(Seq(ftsFqn, appended.toString, now.toString))
    },

    /** `CALL graft.sys.text_search(table => 'ns.t', query => 'a b c',
      * k => 10)` — BM25 top-k over the `<t>_fts` postings index, as a
      * statement: arbitrary query terms, no DataFrame code. The terms
      * hit the index as a leading-key IN-list (region-pruned), the two
      * stats counters are point reads, and the scoring is the same
      * shared core the driver-gated faces run — query cost follows the
      * query, not the corpus. The first output column is named after
      * the index's document-id column. */
    Proc("text_search",
      "BM25 top-k retrieval from a text_index postings table",
      Seq(param("table", StringType, "indexed base '<namespace>.<table>'"),
        param("query", StringType, "space-separated query terms"),
        param("k", IntegerType, default = "10")),
      colsAt = Some((catalogName, input) =>
        Seq(ftsId(catalogName, input.getUTF8String(0).toString), "score"))) {
      (catalogName, input) =>
        val table = input.getUTF8String(0).toString
        val terms = input.getUTF8String(1).toString
          .split(' ').map(_.trim).filter(_.nonEmpty).distinct.toSeq
        val k = input.getInt(2)
        require(terms.nonEmpty, "query must contain at least one term")
        val s = SparkSession.active
        val (ns, t) = splitNsTable(table)
        val ftsFqn = fqn(catalogName, s"$ns.${t}_fts")
        val statsFqn = fqn(catalogName, s"$ns.${t}_fts_stats")
        val id = ftsId(catalogName, table)
        import org.apache.spark.sql.functions._
        val posts = s.table(ftsFqn)
          .filter(col("term").isin(terms: _*))
          .select(col(s"`$id`").as("doc_id"), col("dl"),
            col("term").as("w"), col("tf"))
        val stats = s.table(statsFqn).groupBy()
          .agg(max(when(col("stat") === "n_docs", col("v")))
            .as("n_docs"),
            (max(when(col("stat") === "total_dl", col("v")))
              .cast("double") /
              max(when(col("stat") === "n_docs", col("v"))))
              .as("avgdl"))
        graft.operators.TextOps.bm25ScoreOf(posts, stats)
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(k).collect()
          .map(r => Seq(r.get(0).toString, r.getDouble(1).toString)).toSeq
    })

  val Names: Seq[String] = All.map(_.name())

  private val byName: Map[String, Proc] = All.map(p => p.name() -> p).toMap

  /** The declared output columns of procedure `name`. */
  def cols(name: String): Seq[String] = byName(name).cols

  def load(catalogName: String, ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty ||
      ident.namespace.map(_.toLowerCase).sameElements(Namespace),
      s"graft procedures live in the '${Namespace.mkString(".")}' " +
        s"namespace; got ${ident.namespace.mkString(".")}")
    val name = ident.name.toLowerCase
    byName.getOrElse(name, throw new IllegalArgumentException(
      s"unknown graft procedure $name; available: ${Names.mkString(", ")}"))
      .in(catalogName)
  }

  /** 'ns.t' (within this catalog) → fully-qualified `catalog.ns.t`. */
  private def fqn(catalogName: String, table: String): String =
    s"$catalogName.$table"

  private def splitNsTable(table: String): (String, String) = {
    val i = table.lastIndexOf('.')
    require(i > 0, s"expected '<namespace>.<table>', got '$table'")
    (table.substring(0, i), table.substring(i + 1))
  }

  /** Resolve 'ns.t' to its [[GraftTable]] through the active session's
    * catalog manager. */
  private[catalog] def graftTable(catalogName: String, table: String): GraftTable = {
    val (ns, t) = splitNsTable(table)
    SparkSession.active.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[GraftCatalog]
      .loadTable(Identifier.of(Array(ns), t)).asInstanceOf[GraftTable]
  }

  /** The document-id column the text index of 'ns.t' was built with. */
  private def ftsId(catalogName: String, table: String): String = {
    val (ns, t) = splitNsTable(table)
    graftTable(catalogName, s"$ns.${t}_fts").meta
      .properties(TableMeta.FtsIdProp)
  }

  /** All-string driver-computed procedure result set (Spark executes
    * procedure output scans as [[org.apache.spark.sql.connector.read.LocalScan]]
    * local relations — no job, no data IO). */
  final case class LocalRowsScan(cols: Array[String],
      data: Seq[Seq[String]])
      extends org.apache.spark.sql.connector.read.LocalScan {
    override def readSchema(): StructType =
      StructType(cols.map(c =>
        org.apache.spark.sql.types.StructField(c, StringType)))
    override def rows(): Array[InternalRow] = data.map(r =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        r.map(v => org.apache.spark.unsafe.types.UTF8String
          .fromString(v): Any).toArray): InternalRow).toArray
  }

  /** Drop the catalog's cached [[GraftTable]] so property mutations
    * (tags) are visible to the next load. */
  private def invalidate(catalogName: String, table: String): Unit = {
    val (ns, t) = splitNsTable(table)
    SparkSession.active.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[GraftCatalog]
      .invalidateTable(Identifier.of(Array(ns), t))
  }

  /** The clone itself, shared by `CALL graft.sys.clone` and the
    * `CREATE TABLE t CLONE src` statement face ([[GraftCloneCommand]]).
    * Returns the number of cloned regions. */
  private[catalog] object GraftCloneRun {
    def apply(catalogName: String, srcTable: String, target: String,
        version: Long): Int = {
      import java.nio.file.{Files => NioFiles}
      val src = graftTable(catalogName, srcTable)
      val cat = SparkSession.active.sessionState.catalogManager
        .catalog(catalogName).asInstanceOf[GraftCatalog]
      val (tns, tname) = splitNsTable(target)
      val tgtIdent = Identifier.of(Array(tns), tname)
      val props = new java.util.HashMap[String, String]()
      src.meta.properties.foreach { case (k, v) => props.put(k, v) }
      val tgt = cat.createTable(tgtIdent, src.meta.schema,
        Array.empty, props).asInstanceOf[GraftTable]
      try {
        // under the source lock: vacuum cannot unlink a region
        // between the snapshot read and its link
        TableMeta.withManifestLock(src.tableDir) {
          val regions =
            if (version > 0) {
              val st = TableMeta.stateAt(src.tableDir, version)
              val gone = st.regions.filterNot(r =>
                new File(src.tableDir, r.file).isFile)
              if (gone.nonEmpty) throw new IllegalStateException(
                s"cannot clone version $version: ${gone.size} region " +
                  s"file(s) have been vacuumed (e.g. ${gone.head.file})")
              st.regions
            } else TableMeta.loadState(src.tableDir).regions
          regions.foreach { r =>
            val from = new File(src.tableDir, r.file).toPath
            val to = new File(tgt.tableDir, r.file).toPath
            try NioFiles.createLink(to, from)
            catch { case _: UnsupportedOperationException |
                _: java.nio.file.FileSystemException =>
              NioFiles.copy(from, to) // cross-device fallback
            }
          }
          // ids preserved (latest-wins order survives); srcMaxId
          // cleared (all clone data is original); epochs empty
          TableMeta.saveRegions(tgt.tableDir,
            regions.map(_.copy(srcMaxId = -1L)))
          regions.size
        }
      } catch { case NonFatal(e) =>
        // a failed clone must not leave a half-linked table behind
        try cat.dropTable(tgtIdent) catch { case _: Exception => () }
        throw e
      }
    }
  }

  /** Shared by mview build/refresh: parse the requested aggregate list
    * `"sum:x;count:*;min:y;hll:z"` → (fn, colLower, storedColumnName).
    * `hll:` stores a DataSketches HLL sketch (BINARY, default lgK) —
    * the mergeable approx-distinct partial; reads re-aggregate it with
    * `hll_union_agg`. */
  private def parseAggSpecs(aggs: String): Seq[(String, String, String)] =
    aggs.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { spec =>
      val parts = spec.split(":", 2)
      require(parts.length == 2,
        s"agg spec '$spec' must be '<fn>:<col>' (fn in " +
          "sum/count/min/max/hll/kll)")
      val fn = parts(0).trim.toLowerCase
      val col = parts(1).trim.toLowerCase
      require(Set("sum", "count", "min", "max", "hll", "kll")(fn),
        s"unsupported mview aggregate '$fn' (sum/count/min/max/hll/kll)")
      require(col != "*" || fn == "count", s"'$fn:*' is not an aggregate")
      val stored =
        if (fn == "count" && col == "*") "cnt_star"
        else if (fn == "count") s"cnt_$col"
        else s"${fn}_$col"
      (fn, col, stored)
    }

  /** Sanitized temp-view name for a procedure-internal dataframe:
    * the readable part derives from the target FQN and a hex hash of
    * the UNsanitized FQN disambiguates names the lossy `[^a-z0-9]→_`
    * mapping would collapse (`graft.x.a_t` vs `graft.x_a.t`). Callers
    * drop the view after use so nothing leaks into the session
    * catalog. */
  private def procView(prefix: String, fqn: String): String =
    prefix + "_" + fqn.toLowerCase.replaceAll("[^a-z0-9]", "_") +
      "_" + java.lang.Integer.toHexString(fqn.hashCode)

  private def dropProcViews(s: SparkSession, names: String*): Unit =
    names.foreach { n =>
      try s.catalog.dropTempView(n) catch { case _: Exception => () }
    }

  private def setProps(s: SparkSession, fqn: String,
      kvs: (String, String)*): Unit =
    s.sql(s"ALTER TABLE $fqn SET TBLPROPERTIES(" +
      kvs.map { case (k, v) => s"'$k'='$v'" }.mkString(",") + ")")

  private def unsetProp(s: SparkSession, fqn: String, k: String): Unit =
    s.sql(s"ALTER TABLE $fqn UNSET TBLPROPERTIES IF EXISTS ('$k')")

  /** Crash recovery for the refresh write protocol (see
    * [[TableMeta.MviewPendingProp]]): a pending intent whose INSERT
    * landed is finished by advancing the watermark prop(s) to the
    * intent's targets; an intent whose INSERT never landed is simply
    * cleared — the delta will be re-derived. "Landed" means an
    * APPEND commit exists in the view's history after the recorded
    * version — a bare version comparison would be fooled by
    * maintenance commits (compact/vacuum/analyze/cluster/split all
    * bump the manifest version without adding the delta rows).
    * Idempotent: re-running recovery after any of its own crash
    * points converges to the same state. Reads meta fresh from disk —
    * recovery must see the crashed run's last write, not a cached
    * snapshot. */
  private def recoverPending(s: SparkSession, mvDir: java.io.File,
      mvFqn: String, watermarkProps: Seq[String]): Unit = {
    val props = TableMeta.load(mvDir).properties
    props.get(TableMeta.MviewPendingProp).foreach { pend =>
      val parts = pend.split(":", 2)
      val targets = parts.head.split(";").map(_.trim).filter(_.nonEmpty)
      val recorded =
        if (parts.length == 2) parts(1).toLongOption else None
      require(targets.length == watermarkProps.length &&
          targets.forall(_.toLongOption.isDefined) &&
          recorded.isDefined,
        s"$mvFqn carries a malformed refresh intent '$pend'; " +
          "rebuild the view")
      val landed = TableMeta.history(mvDir)
        .exists(e => e.version > recorded.get && e.op == "append")
      if (landed)
        setProps(s, mvFqn, watermarkProps.zip(targets): _*)
      unsetProp(s, mvFqn, TableMeta.MviewPendingProp)
    }
  }

  /** SQL select-list fragment computing one partial aggregate. */
  private def aggSelectExprs(specs: Seq[(String, String, String)])
      : Seq[String] = specs.map {
    case ("count", "*", stored) => s"count(*) AS `$stored`"
    case ("hll", col, stored) => s"hll_sketch_agg(`$col`) AS `$stored`"
    case ("kll", col, stored) => s"kll_sketch_agg(`$col`) AS `$stored`"
    case (fn, col, stored) =>
      val f = if (fn == "count") "count" else fn
      s"$f(`$col`) AS `$stored`"
  }

  /** Append-only soundness guard shared by the join-view refresh: an
    * incremental delta can only APPEND, so any operation that removed
    * or rewrote rows in `(watermark, now]` — or a dedupKeys fold that
    * changes key→value mappings in place — refuses toward a rebuild. */
  private def requireAppendOnlySince(side: String, base: GraftTable,
      baseFqn: String, watermark: Long, now: Long, rebuild: String): Unit = {
    require(!TableMeta.dedupKeys(base.meta.properties),
      s"$side table $baseFqn has graft.dedupKeys: upsert folds change " +
        s"key→value mappings in place, which an append-only join view " +
        s"cannot retract; rebuild with $rebuild")
    val rewrite = TableMeta.history(base.tableDir).find(e =>
      e.version > watermark && e.version <= now &&
        Set("rowlevel", "overwrite", "restore", "delete")(e.op))
    require(rewrite.isEmpty,
      s"$side table $baseFqn had a row-removing or in-place rewrite " +
        s"(${rewrite.get.op} at version ${rewrite.get.version}) since " +
        s"the join view's watermark $watermark; rebuild with $rebuild")
  }
}
