package graft.catalog

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedTable
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{LoadData, LogicalPlan}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** The literal `LOAD DATA [LOCAL] INPATH '<path>' INTO TABLE t`
  * statement face — the exact syntax the reference accepts
  * (`HBaseBulkLoadIntoTableSuite.scala:35-80` parses it with the stock
  * `SparkSqlParser` and routes the `LoadDataCommand` into its bulk
  * load). Spark's parser accepts the statement for any table, but V2
  * catalogs get no hook: the analyzer's `ResolveSessionCatalog` throws
  * NOT_SUPPORTED_COMMAND_FOR_V2_TABLE before injected resolution rules
  * ever see the node. The sanctioned escape (the pattern Delta's SQL
  * extensions use) is a DELEGATING PARSER: parse with the stock
  * grammar, then lower the `LoadData` node onto the graft bulk-load
  * command when — and only when — the target identifier lands in a
  * [[GraftCatalog]]. Everything else passes through verbatim, so the
  * wrapper adds one pattern-match per statement. Reference scripts
  * paste in unchanged.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  /** `CREATE TABLE <tgt> CLONE <src> [VERSION AS OF n]` — Delta's
    * clone syntax for the zero-copy snapshot (same semantics as
    * `CALL graft.sys.clone`). There is no stock grammar for CLONE, so
    * this is matched BEFORE delegation (the one statement shape the
    * stock parser would reject); both identifiers must land in a graft
    * catalog. */
  private val CloneRe =
    ("""(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+CLONE\s+([\w.`]+)""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""").r

  private def parts(ident: String): Seq[String] =
    ident.split('.').map(_.stripPrefix("`").stripSuffix("`")).toSeq

  /** `RESTORE TABLE t TO VERSION AS OF n` / `DESCRIBE HISTORY t` /
    * `OPTIMIZE t [ZORDER BY (c1, c2)]` — Delta's maintenance syntax
    * over the existing procedures (restore / history / merge /
    * cluster). Matched before delegation like CLONE: none of these
    * have a stock grammar for V2 tables. */
  private val RestoreRe =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.`]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val HistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+([\w.`]+)\s*;?\s*""".r
  private val DetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([\w.`]+)\s*;?\s*""".r
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+([\w.`]+)(?:\s+ZORDER\s+BY\s+\(([^)]+)\))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+([\w.`]+)\s*;?\s*""".r

  /** `ALTER TABLE t CREATE TAG name [AS OF VERSION n]` /
    * `ALTER TABLE t DROP TAG name` — Iceberg's tag DDL, lowered onto
    * `CALL graft.sys.tag` / `.untag`. Matched before delegation (the
    * stock grammar rejects the TAG clause). */
  private val CreateTagRe =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+CREATE\s+TAG\s+""" +
      """`?([A-Za-z][\w.\-]*)`?(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""").r
  private val DropTagRe =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+TAG\s+""" +
      """`?([A-Za-z][\w.\-]*)`?\s*;?\s*""").r

  /** `COPY INTO t FROM '<path>' [FILEFORMAT = CSV|JSON|PARQUET]
    * [PATTERN = '<glob>']` — the lakehouse-standard idempotent
    * ingestion statement (Delta's COPY INTO semantics): each source
    * file loads AT MOST ONCE, tracked by a `copy:<md5(path)>` ledger
    * entry committed atomically with the file's rows. */
  private val CopyIntoRe =
    ("""(?is)\s*COPY\s+INTO\s+([\w.`]+)\s+FROM\s+'([^']+)'""" +
      """(?:\s+FILEFORMAT\s*=\s*(\w+))?""" +
      """(?:\s+PATTERN\s*=\s*'([^']+)')?\s*;?\s*""").r

  /** `CONVERT TO GRAFT '<dir>' AS ns.t KEY (k1, k2)` — the Delta
    * `CONVERT TO DELTA` capability: adopt an existing parquet
    * directory as a graft table, hard-linking key-sorted files as
    * regions (zero-copy) and rewriting unsorted ones sorted. */
  private val ConvertRe =
    ("""(?is)\s*CONVERT\s+TO\s+GRAFT\s+'([^']+)'\s+AS\s+([\w.`]+)""" +
      """\s+KEY\s*\(([^)]+)\)\s*;?\s*""").r

  /** `CREATE MATERIALIZED VIEW <name> AS SELECT <aggs> FROM t GROUP BY
    * <cols>` — the lakehouse-standard syntax for the partial-aggregate
    * summary table (`CALL graft.sys.mview`): the SELECT is parsed by
    * the stock grammar and its UNRESOLVED Aggregate shape translated
    * into the procedure's (group_by, aggs) spec. Supported exactly
    * where the mview algebra is exact: plain-column groups and
    * sum/count/min/max (+ approx_count_distinct → the mergeable HLL
    * partial) over plain columns; anything else refuses with the
    * supported shape spelled out. The materialized table is
    * `<t>_mv_<name>` (stored column names are the procedure's
    * canonical ones — the transparent rewrite, not the stored names,
    * is how queries consume the view). `REFRESH MATERIALIZED VIEW
    * ns.t_mv_<name>` appends the CDC delta's partials
    * (`CALL graft.sys.mview_refresh`). */
  private val CreateMviewRe =
    ("""(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+`?(\w+)`?\s+AS\s+""" +
      """(.+?)\s*;?\s*""").r

  /** `CREATE [OR REPLACE] VIEW <graft ident> AS <query>` /
    * `DROP VIEW [IF EXISTS] <graft ident>` / `SHOW VIEWS IN <graft ns>`
    * — persistent SQL views over the graft catalog ([[GraftViews]]).
    * Core Spark ships the ViewCatalog interface with no analyzer
    * support, so the statement face lives here and resolution in the
    * injected [[GraftViewSubstitution]] rule. TEMPORARY/MATERIALIZED
    * variants never match these shapes (the keyword sits between
    * CREATE and VIEW) and non-graft identifiers delegate, so stock
    * session-catalog views are untouched. */
  private val CreateViewRe =
    ("""(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.`]+)\s+AS\s+""" +
      """(.+?)\s*;?\s*""").r
  private val DropViewRe =
    """(?is)\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.`]+)\s*;?\s*""".r
  private val ShowViewsRe =
    """(?is)\s*SHOW\s+VIEWS\s+IN\s+([\w.`]+)\s*;?\s*""".r

  /** A DROP VIEW / stored-view lookup target: resolves to a graft
    * catalog AND names a stored view AND is not shadowed by a temp
    * view (stock precedence — temp drops stay on the stock path). */
  private def storedView(ident: String): Option[(String, String, String)] = {
    val ps = parts(ident)
    if (ps.length <= 2 && session.sessionState.catalog.isTempView(ps))
      return None
    graftTarget(ps).flatMap { case (cat, ns, v) =>
      session.sessionState.catalogManager.catalog(cat) match {
        case g: GraftCatalog if g.viewDefinition(ns, v).isDefined =>
          Some((cat, ns, v))
        case _ => None
      }
    }
  }
  private val RefreshMviewRe =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s*;?\s*""".r

  private def mviewCall(name: String, select: String): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal => Lit}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def refuse(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"CREATE MATERIALIZED VIEW supports exactly " +
          "'SELECT <group cols…, aggs…> FROM <graft table> GROUP BY " +
          "<plain columns>' with aggs from sum/count/min/max/" +
          s"approx_count_distinct over plain columns; $what")
    val parsed = delegate.parsePlan(select)
    parsed match {
      case Aggregate(groupExprs, aggExprs, rel: UnresolvedRelation, _) =>
        val groups = groupExprs.map {
          case a: UnresolvedAttribute if a.nameParts.length == 1 =>
            a.nameParts.head
          case other => refuse(s"group expression '${other.sql}' is not " +
            "a plain column")
        }
        val groupSet = groups.map(_.toLowerCase).toSet
        def aggOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
            : Option[String] = e match {
          case f: UnresolvedFunction if !f.isDistinct &&
              f.filter.isEmpty && f.nameParts.length == 1 =>
            (f.nameParts.head.toLowerCase, f.arguments) match {
              case ("count", Seq(_: UnresolvedStar)) => Some("count:*")
              case ("count", Seq(Lit(_, _))) => Some("count:*")
              case ("count", Seq(a: UnresolvedAttribute))
                  if a.nameParts.length == 1 =>
                Some(s"count:${a.nameParts.head}")
              case (fn @ ("sum" | "min" | "max"),
                  Seq(a: UnresolvedAttribute))
                  if a.nameParts.length == 1 =>
                Some(s"$fn:${a.nameParts.head}")
              case ("approx_count_distinct", Seq(a: UnresolvedAttribute))
                  if a.nameParts.length == 1 =>
                Some(s"hll:${a.nameParts.head}")
              case _ => None
            }
          case _ => None
        }
        val aggs = aggExprs.flatMap {
          case a: UnresolvedAttribute if a.nameParts.length == 1 &&
              groupSet(a.nameParts.head.toLowerCase) => None // group col
          case UnresolvedAlias(child, _) =>
            Some(aggOf(child).getOrElse(refuse(
              s"select expression '${child.sql}' is not a supported " +
                "aggregate")))
          case Alias(child, _) =>
            Some(aggOf(child).getOrElse(refuse(
              s"select expression '${child.sql}' is not a supported " +
                "aggregate")))
          case other => refuse(s"select expression '${other.sql}' is " +
            "neither a group column nor a supported aggregate")
        }
        if (aggs.isEmpty) refuse("the select list names no aggregates")
        val (cat, t) = graftNsTable(rel.multipartIdentifier.mkString("."),
          "CREATE MATERIALIZED VIEW")
        GraftCallCommand(cat,
          s"CALL `$cat`.sys.mview(table => '$t', name => '$name', " +
            s"group_by => '${groups.mkString(";")}', " +
            s"aggs => '${aggs.mkString(";")}')")
      case _ => refuse("the query is not a single GROUP BY over one table")
    }
  }

  /** `ANALYZE TABLE t COMPUTE STATISTICS` — the stock statement
    * (v1-only in Spark's analyzer: V2 tables throw
    * NOT_SUPPORTED_COMMAND_FOR_V2_TABLE) lowered onto
    * `CALL graft.sys.analyze`, which backfills per-region ColStats
    * into the manifest without rewriting data. */
  private val AnalyzeRe =
    """(?is)\s*ANALYZE\s+TABLE\s+([\w.`]+)\s+COMPUTE\s+STATISTICS\s*;?\s*""".r

  private def graftNsTable(ident: String, stmt: String): (String, String) =
    graftTarget(parts(ident)) match {
      case Some((cat, ns, tbl)) => (cat, s"$ns.$tbl")
      case None => throw new UnsupportedOperationException(
        s"$stmt is a graft statement; '$ident' does not resolve into a " +
          "graft catalog")
    }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case CreateViewRe(orRepl, ident, select)
        if graftTarget(parts(ident)).isDefined =>
      val (cat, ns, v) = graftTarget(parts(ident)).get
      GraftCreateViewCommand(cat, ns, v, select.trim, orRepl != null)
    case DropViewRe(ifExists, ident) if storedView(ident).isDefined ||
        (Option(ifExists).isDefined && graftTarget(parts(ident))
          .exists(t => parts(ident).length == 3 ||
            !session.sessionState.catalog.isTempView(parts(ident)))) =>
      val (cat, ns, v) = graftTarget(parts(ident)).get
      GraftDropViewCommand(cat, ns, v, Option(ifExists).isDefined)
    case ShowViewsRe(ident) if graftTarget(parts(ident) :+ "_").isDefined =>
      val (cat, ns, _) = graftTarget(parts(ident) :+ "_").get
      GraftShowViewsCommand(cat, ns)
    case CloneRe(tgt, src, ver) =>
      (graftTarget(parts(tgt)), graftTarget(parts(src))) match {
        case (Some((cat, tns, ttbl)), Some((scat, sns, stbl)))
            if cat == scat =>
          GraftCloneCommand(cat, s"$sns.$stbl", s"$tns.$ttbl",
            Option(ver).map(_.toLong).getOrElse(-1L))
        case _ => throw new UnsupportedOperationException(
          "CREATE TABLE ... CLONE requires both tables in the same " +
            s"graft catalog; got target '$tgt', source '$src'")
      }
    case RestoreRe(ident, ver) =>
      val (cat, t) = graftNsTable(ident, "RESTORE TABLE")
      GraftCallCommand(cat,
        s"CALL `$cat`.sys.restore(table => '$t', version => $ver)")
    case HistoryRe(ident) if graftTarget(parts(ident)).isDefined =>
      val (cat, t) = graftNsTable(ident, "DESCRIBE HISTORY")
      GraftHistoryCommand(cat, t)
    case OptimizeRe(ident, cols) =>
      val (cat, t) = graftNsTable(ident, "OPTIMIZE")
      Option(cols) match {
        case Some(cs) =>
          val colList = cs.split(',').map(_.trim)
            .map(_.stripPrefix("`").stripSuffix("`")).mkString(";")
          GraftOptimizeZorderCommand(cat, t, colList)
        case None =>
          // Delta's plain OPTIMIZE = coalesce small files: the merge
          // procedure, targeted at the table's own region-size cap
          GraftCallCommand(cat,
            s"CALL `$cat`.sys.merge(table => '$t', " +
              "target_bytes => 134217728)")
      }
    case VacuumRe(ident) if graftTarget(parts(ident)).isDefined =>
      val (cat, t) = graftNsTable(ident, "VACUUM")
      GraftCallCommand(cat, s"CALL `$cat`.sys.vacuum(table => '$t')")
    case CreateTagRe(ident, tag, ver)
        if graftTarget(parts(ident)).isDefined =>
      val (cat, t) = graftNsTable(ident, "ALTER TABLE ... CREATE TAG")
      val verArg = Option(ver).map(v => s", version => $v").getOrElse("")
      GraftCallCommand(cat,
        s"CALL `$cat`.sys.tag(table => '$t', name => '$tag'$verArg)")
    case DropTagRe(ident, tag) if graftTarget(parts(ident)).isDefined =>
      val (cat, t) = graftNsTable(ident, "ALTER TABLE ... DROP TAG")
      GraftCallCommand(cat,
        s"CALL `$cat`.sys.untag(table => '$t', name => '$tag')")
    case DetailRe(ident) if graftTarget(parts(ident)).isDefined =>
      val (cat, t) = graftNsTable(ident, "DESCRIBE DETAIL")
      GraftDetailCommand(cat, t)
    case CopyIntoRe(ident, path, fmt, pattern) =>
      val (cat, t) = graftNsTable(ident, "COPY INTO")
      val format = Option(fmt).map(_.toUpperCase) match {
        case None | Some("CSV") => "csv"
        case Some("JSON") => "json"
        case Some("PARQUET") => "parquet"
        case Some(other) => throw new UnsupportedOperationException(
          s"COPY INTO FILEFORMAT = $other is not supported " +
            "(CSV, JSON, PARQUET)")
      }
      GraftCopyIntoCommand(cat, t, path, format, Option(pattern))
    case ConvertRe(src, ident, cols) =>
      val (cat, t) = graftNsTable(ident, "CONVERT TO GRAFT")
      val keys = cols.split(',').map(_.trim)
        .map(_.stripPrefix("`").stripSuffix("`")).mkString(";")
      GraftCallCommand(cat, s"CALL `$cat`.sys.convert(table => '$t', " +
        s"source => '$src', keys => '$keys')")
    case AnalyzeRe(ident) if graftTarget(parts(ident)).isDefined =>
      val (cat, t) = graftNsTable(ident, "ANALYZE TABLE")
      GraftCallCommand(cat, s"CALL `$cat`.sys.analyze(table => '$t')")
    case CreateMviewRe(name, select) => mviewCall(name, select)
    case RefreshMviewRe(ident) if graftTarget(parts(ident)).isDefined =>
      val (cat, t) = graftNsTable(ident, "REFRESH MATERIALIZED VIEW")
      val i = t.lastIndexOf("_mv_")
      if (i < 0) throw new UnsupportedOperationException(
        s"REFRESH MATERIALIZED VIEW expects the materialized table " +
          s"name <base>_mv_<name>; got '$t'")
      GraftCallCommand(cat,
        s"CALL `$cat`.sys.mview_refresh(table => '${t.substring(0, i)}', " +
          s"name => '${t.substring(i + 4)}')")
    case _ => parseDelegated(sqlText)
  }

  private def parseDelegated(sqlText: String): LogicalPlan =
    delegate.parsePlan(sqlText) match {
      case LoadData(u: UnresolvedTable, path, isLocal, overwrite, partition) =>
        graftTarget(u.multipartIdentifier) match {
          case Some((cat, ns, tbl)) =>
            if (overwrite) throw new UnsupportedOperationException(
              "graft: LOAD DATA OVERWRITE is not supported (appends " +
                "only, like INSERT — the reference's bulk load appends too)")
            if (partition.nonEmpty) throw new UnsupportedOperationException(
              "graft tables have no Hive-style partitions; LOAD DATA " +
                "PARTITION does not apply (regions are key ranges)")
            GraftLoadDataCommand(cat, ns, tbl, path, isLocal)
          case None => LoadData(u, path, isLocal, overwrite, partition)
        }
      case other => other
    }

  /** (catalog, namespace, table) when the identifier resolves into a
    * graft catalog — explicitly qualified or via the session's current
    * catalog/namespace. */
  private def graftTarget(parts: Seq[String])
      : Option[(String, String, String)] = {
    val cm = session.sessionState.catalogManager
    def isGraft(name: String): Boolean =
      try cm.catalog(name).isInstanceOf[GraftCatalog]
      catch { case _: Exception => false }
    parts match {
      case Seq(cat, ns, tbl) if isGraft(cat) => Some((cat, ns, tbl))
      case Seq(ns, tbl) if isGraft(cm.currentCatalog.name) =>
        Some((cm.currentCatalog.name, ns, tbl))
      case Seq(tbl) if isGraft(cm.currentCatalog.name) &&
          cm.currentNamespace.nonEmpty =>
        Some((cm.currentCatalog.name, cm.currentNamespace.mkString("."), tbl))
      case _ => None
    }
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

/** Runs the intercepted statement through [[GraftBulkLoad.loadCsv]] —
  * identical semantics to `CALL graft.sys.load_csv(table, path)`:
  * typed CSV read, permissive null backfill of short lines, the
  * table's write shuffle (by region for a fixed-split table, by sampled
  * key range otherwise) into key-sorted regions, manifest commit. `LOCAL` is
  * accepted and means the same thing here (paths resolve through the
  * same Hadoop filesystem either way). */
case class GraftLoadDataCommand(catalogName: String, namespace: String,
    table: String, path: String, isLocal: Boolean)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftBulkLoad.loadCsv(session, path,
      s"$catalogName.$namespace.$table", ",")
    Seq.empty
  }
}

/** `COPY INTO t FROM '<path>'` — idempotent bulk ingestion (Delta's
  * COPY INTO semantics, re-expressed over the graft ledger): every
  * source file loads AT MOST ONCE. The commit appends the batch's
  * regions and one `copy:<md5(file path)>` ledger entry per file in a
  * single manifest segment ([[TableMeta.commitCopy]]), so the rows
  * and the file-identity memory are atomic — a crashed, replayed, or
  * concurrently racing COPY INTO can never double-load. All new files
  * load in ONE write (one shuffled, sorted region write), not a
  * per-file loop: at ingest scale the statement cost is one
  * bulk load plus an O(ledger) pre-filter. File-identity memory rides
  * the epoch ledger's aging window (`graft.epochRetainGenerations`,
  * default 64 manifest generations; every rewrite bumps one) —
  * bounded like Delta's COPY INTO retention, not eternal. */
case class GraftCopyIntoCommand(catalogName: String, table: String,
    path: String, format: String, pattern: Option[String])
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType

  override val output: Seq[AttributeReference] =
    Seq("file", "status")
      .map(n => AttributeReference(n, StringType, nullable = false)())

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq

  override def run(session: SparkSession): Seq[Row] = {
    val gt = GraftProcedures.graftTable(catalogName, table)
    val conf = session.sessionState.newHadoopConf()
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(conf)
    val statuses = (try Some(fs.getFileStatus(base))
      catch { case _: java.io.FileNotFoundException => None }) match {
      case Some(s) if s.isDirectory =>
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(base,
          pattern.getOrElse("*")))).map(_.toSeq).getOrElse(Seq.empty)
      case Some(s) => Seq(s)
      case None => // the path itself may be a glob
        Option(fs.globStatus(base)).map(_.toSeq).getOrElse(Seq.empty)
    }
    val files = statuses
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
    val withKeys = files.map(f => f -> s"copy:${md5hex(f)}")
    val status = scala.collection.mutable.LinkedHashMap[String, String]()
    val ledger0 = TableMeta.ledgerKeys(gt.tableDir)
    withKeys.filter { case (_, k) => ledger0(k) }
      .foreach { case (f, _) => status(f) = "skipped" }
    var todo = withKeys.filterNot { case (_, k) => ledger0(k) }
    var attempts = 0
    while (todo.nonEmpty && attempts < 5) {
      attempts += 1
      try {
        val reader = session.read.schema(gt.meta.schema)
        val df = format match {
          case "csv" =>
            reader.option("mode", "PERMISSIVE").csv(todo.map(_._1): _*)
          case "json" => reader.json(todo.map(_._1): _*)
          case _ => reader.parquet(todo.map(_._1): _*)
        }
        df.writeTo(s"$catalogName.$table")
          .option(GraftWrite.CopyKeysOption, todo.map(_._2).mkString(","))
          .append()
        todo.foreach { case (f, _) => status(f) = "loaded" }
        todo = Seq.empty
      } catch {
        case NonFatal(e)
            if causes(e).exists(_.isInstanceOf[GraftCopyConflictException]) =>
          // someone else just loaded >=1 of these files; their keys are
          // in the ledger now — drop them and retry the remainder
          val ledger = TableMeta.ledgerKeys(gt.tableDir)
          val (done, rest) = todo.partition { case (_, k) => ledger(k) }
          done.foreach { case (f, _) => status(f) = "skipped" }
          if (rest.size == todo.size) throw e // conflict with no visible key
          todo = rest
      }
    }
    if (todo.nonEmpty) throw new IllegalStateException(
      "COPY INTO could not commit after repeated ledger conflicts")
    files.map(f => Row(f, status(f)))
  }
}

/** `CREATE TABLE tgt CLONE src [VERSION AS OF n]` — the statement face
  * of `CALL graft.sys.clone` (zero-copy hard-linked snapshot). */
case class GraftCloneCommand(catalogName: String, srcTable: String,
    target: String, version: Long) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftProcedures.GraftCloneRun(catalogName, srcTable, target, version)
    Seq.empty
  }
}

/** Statement faces that lower verbatim onto an existing procedure —
  * the CALL text is built at parse time, executed at run time. */
case class GraftCallCommand(catalogName: String, callSql: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    session.sql(callSql).collect()
    Seq.empty
  }
}

/** `DESCRIBE HISTORY t` → the history procedure's rows. */
case class GraftHistoryCommand(catalogName: String, table: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType
  override val output: Seq[AttributeReference] =
    GraftProcedures.cols("history")
      .map(n => AttributeReference(n, StringType, nullable = true)())
  override def run(session: SparkSession): Seq[Row] =
    session.sql(
      s"CALL `$catalogName`.sys.history(table => '$table')").collect()
      .toSeq
}

/** `DESCRIBE DETAIL t` — one row of table-level facts from the
  * manifest (no data IO): format, location, key columns, region/row
  * counts, total bytes, current commit version, clustering. */
case class GraftDetailCommand(catalogName: String, table: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType
  override val output: Seq[AttributeReference] =
    Seq("format", "location", "key_cols", "num_regions", "num_rows",
      "size_bytes", "version", "clustered_by")
      .map(n => AttributeReference(n, StringType, nullable = true)())
  override def run(session: SparkSession): Seq[Row] = {
    val gt = GraftProcedures.graftTable(catalogName, table)
    val regions = TableMeta.loadRegions(gt.tableDir)
    val bytes = regions.map(r =>
      new java.io.File(gt.tableDir, r.file).length()).sum
    Seq(Row("graft", gt.tableDir.getPath,
      gt.meta.keyCols.mkString(";"),
      regions.size.toString, regions.map(_.rows).sum.toString,
      bytes.toString,
      TableMeta.currentVersion(gt.tableDir).toString,
      gt.meta.properties.getOrElse(GraftCluster.ClusteredByProp, "")))
  }
}

/** `OPTIMIZE t ZORDER BY (cols)` → the cluster procedure at the
  * table's current live region count (layout-count-preserving), read
  * from the manifest. */
case class GraftOptimizeZorderCommand(catalogName: String, table: String,
    cols: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val n = TableMeta.loadRegions(
      GraftProcedures.graftTable(catalogName, table).tableDir).size
    session.sql(s"CALL `$catalogName`.sys.cluster(table => '$table', " +
      s"cols => '$cols', target_regions => ${math.max(1, n)})").collect()
    Seq.empty
  }
}

/** `CREATE [OR REPLACE] VIEW` over a graft identifier: validates the
  * query ANALYZES now (missing tables/columns fail at CREATE, stock
  * behavior), refuses temp-view capture and direct self-reference,
  * then stores the SQL with its creation context ([[GraftViews]]). */
case class GraftCreateViewCommand(catalogName: String, ns: String,
    name: String, selectSql: String, orReplace: Boolean)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    val parsed = session.sessionState.sqlParser.parsePlan(selectSql)
    require(!parsed.isInstanceOf[
        org.apache.spark.sql.execution.command.RunnableCommand] &&
      !parsed.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Command],
      s"CREATE VIEW body must be a query, got: ${selectSql.take(80)}")
    parsed.foreach {
      case u: UnresolvedRelation =>
        val ps = u.multipartIdentifier
        require(ps.length > 2 ||
          !session.sessionState.catalog.isTempView(ps),
          s"cannot store a persistent view over TEMPORARY view " +
            s"${ps.mkString(".")} (stock Spark's rule: a persistent " +
            "object may not capture session state)")
        val cm = session.sessionState.catalogManager
        val abs = ps match {
          case Seq(v) if cm.currentNamespace.length == 1 =>
            Seq(cm.currentCatalog.name, cm.currentNamespace.head, v)
          case Seq(n2, v) => Seq(cm.currentCatalog.name, n2, v)
          case other => other
        }
        require(abs.map(_.toLowerCase) !=
          Seq(catalogName, ns, name).map(_.toLowerCase),
          s"view $ns.$name may not reference itself")
      case _ =>
    }
    // analyze against the CURRENT state (the creation context equals
    // the storage context, so this validates exactly what queries will
    // re-expand later — late-binding re-analysis happens per use)
    session.sessionState.executePlan(parsed).assertAnalyzed()
    session.sessionState.catalogManager.catalog(catalogName) match {
      case g: GraftCatalog =>
        g.createView(ns, name, catalogName, selectSql, orReplace)
      case other => throw new IllegalStateException(
        s"$catalogName is not a graft catalog: $other")
    }
    Seq.empty
  }
}

case class GraftDropViewCommand(catalogName: String, ns: String,
    name: String, ifExists: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val dropped = session.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[GraftCatalog].dropViewFile(ns, name)
    if (!dropped && !ifExists)
      throw new IllegalArgumentException(s"view $ns.$name not found")
    Seq.empty
  }
}

case class GraftShowViewsCommand(catalogName: String, ns: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType
  override val output: Seq[AttributeReference] =
    Seq("namespace", "viewName")
      .map(n => AttributeReference(n, StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    session.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[GraftCatalog].listViewNames(ns)
      .map(v => Row(ns, v))
}
