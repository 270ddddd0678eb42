package graft.catalog

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.Collections

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.constraints.Check
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.codec.KeyCodec

/** V2 `TableCatalog` for graft tables — the rebuild of the reference's
  * `HBaseCatalog extends ExternalCatalog` (/root/reference
  * `HBaseCatalog.scala:97-99`) on the sanctioned Spark-4 extension
  * point (SURVEY §1.5: "V2 TableCatalog — far smaller surface than
  * forking ExternalCatalog").
  *
  * Register with:
  * {{{
  *   spark.sql.catalog.graft = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  * then:
  * {{{
  *   CREATE TABLE graft.ns.t (k1 INT, k2 STRING, v DOUBLE)
  *   TBLPROPERTIES('keyCols'='k1;k2', 'numRegions'='16')
  *   INSERT INTO graft.ns.t SELECT ...   -- range-shuffled sorted bulk load
  *   SELECT ... FROM graft.ns.t WHERE k1 = 5  -- region-pruned scan
  * }}}
  *
  * DDL semantics mirror the reference (SURVEY §1.4): explicit key
  * columns via `keyCols` TBLPROPERTIES (order = composite key order),
  * ten storable atomic types, optional `nonKeyCols` family/qualifier
  * mapping (kept as metadata for capability parity; our storage does
  * not need cell addressing), databases = namespaces, rename/partition
  * APIs unsupported exactly as in the reference
  * (`HBaseCatalog.scala:257-259,288-290,434-444`).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: File = _
  private val cache = TrieMap.empty[String, GraftTable]

  /** Region-bucket functions for fixed-split tables, keyed by function
    * name (`region_<split-set-hash>`). Registered whenever such a table
    * is created or loaded, so scans planned afterwards can resolve the
    * transform they report (Spark resolves it on the driver through
    * this catalog's `loadFunction`). */
  private val regionFns =
    TrieMap.empty[String, org.apache.spark.sql.connector.catalog.functions.UnboundFunction]

  private def registerRegionFn(meta: TableMeta): Unit =
    meta.splits.foreach { sp =>
      regionFns.getOrElseUpdate(sp.functionName, new GraftRegionFunction(sp))
    }

  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    regionFns.keys.map(n => Identifier.of(namespace, n)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    regionFns.getOrElse(ident.name,
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  override def functionExists(ident: Identifier): Boolean =
    regionFns.contains(ident.name)

  // ------------------------------------------------- procedures (CALL …)

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(catalogName, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty ||
      namespace.map(_.toLowerCase).sameElements(GraftProcedures.Namespace))
      GraftProcedures.Names
        .map(Identifier.of(GraftProcedures.Namespace, _)).toArray
    else Array.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = new File(
      Option(options.get("warehouse")).getOrElse("/tmp/graft_warehouse"))
    // spark.sql.catalog.graft.commitStore — refuses unknown names
    // loudly (a lock that silently does not lock corrupts manifests)
    TableMeta.commitStore = CommitStore.select(
      Option(options.get("commitStore")).getOrElse("posix"))
    // spark.sql.catalog.graft.historyRetainMillis — the time-travel
    // horizon (how long consumed log segments / superseded checkpoints
    // survive a fold); 0 disables history
    Option(options.get("historyRetainMillis")).foreach { v =>
      TableMeta.historyRetainMillis = v.toLongOption.getOrElse(
        throw new IllegalArgumentException(
          s"historyRetainMillis must be a non-negative integer, got '$v'"))
    }
    Files.createDirectories(Paths.get(warehouse.getPath, "default"))
  }

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  private def nsDir(namespace: Array[String]): File = {
    require(namespace.length == 1,
      s"graft supports single-level namespaces, got ${namespace.mkString(".")}")
    new File(warehouse, namespace.head)
  }
  private def tableDir(ident: Identifier): File =
    new File(nsDir(ident.namespace()), ident.name())

  // ------------------------------------------------------------- views

  /** Stored-view lookup for [[GraftViewSubstitution]] and the view DDL
    * commands: (creationCatalog, creationNamespace, sql). */
  def viewDefinition(ns: String, name: String)
      : Option[(String, String, String)] =
    GraftViews.load(nsDir(Array(ns)), name)

  def createView(ns: String, name: String, creationCatalog: String,
      sql: String, orReplace: Boolean): Unit = {
    val ident = Identifier.of(Array(ns), name)
    require(!TableMeta.exists(tableDir(ident)),
      s"cannot create view $ns.$name: a graft TABLE of that name exists")
    if (!nsDir(Array(ns)).isDirectory)
      throw new NoSuchNamespaceException(Seq(ns))
    GraftViews.create(nsDir(Array(ns)), name, creationCatalog, ns, sql,
      orReplace)
  }

  def dropViewFile(ns: String, name: String): Boolean =
    GraftViews.drop(nsDir(Array(ns)), name)

  def listViewNames(ns: String): Seq[String] =
    GraftViews.list(nsDir(Array(ns)))

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace.toSeq)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => TableMeta.exists(f))
      .map(f => Identifier.of(namespace, f.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: `graft.ns.t.history` parses as
    // namespace [ns, t] + name "history" — when the namespace tail is
    // a real graft table and the name is a metadata kind, serve the
    // read-only metadata relation ([[GraftMetaTable]]). Checked FIRST:
    // graft namespaces are single-level, so a 2-level namespace can
    // only be this shape. Built fresh per load — the commit log moves
    // under it.
    if (ident.namespace().length == 2) {
      val baseIdent = Identifier.of(ident.namespace().take(1),
        ident.namespace().last)
      val baseDir = tableDir(baseIdent)
      if (GraftMetaTable.Kinds(ident.name.toLowerCase) &&
          TableMeta.exists(baseDir))
        return GraftMetaTable(baseIdent.toString,
          ident.name.toLowerCase, baseDir)
      // not a resolvable metadata table (unknown kind / missing base):
      // report "no such table", not a namespace-shape complaint
      throw new NoSuchTableException(ident.namespace().toSeq :+ ident.name())
    }
    val dir = tableDir(ident)
    if (!TableMeta.exists(dir))
      throw new NoSuchTableException(ident.namespace().toSeq :+ ident.name())
    cache.getOrElseUpdate(dir.getPath, {
      val meta = TableMeta.load(dir)
      registerRegionFn(meta)
      new GraftTable(ident.toString, dir, meta)
    })
  }

  /** `VERSION AS OF <n>` — version numbers are commit-log seqs
    * ([[TableMeta.currentVersion]]; `CALL graft.sys.history` lists
    * them). The snapshot pins the region manifest as of that commit;
    * the schema is the CURRENT schema (graft schema metadata is not
    * versioned — like the reference, where HBase cells outlive column
    * mapping changes): a column added since reads as null for regions
    * that predate it, a dropped column stays dropped. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!TableMeta.exists(dir))
      throw new NoSuchTableException(ident.namespace().toSeq :+ ident.name())
    // non-integer versions resolve as TAGS (`CALL graft.sys.tag`):
    // `VERSION AS OF 'release-v1'` reads the pinned commit-log seq
    val v = version.toLongOption.orElse {
      TableMeta.tags(TableMeta.load(dir).properties).get(version)
    }.getOrElse {
      val known = TableMeta.tags(TableMeta.load(dir).properties)
        .keys.toSeq.sorted
      throw new IllegalArgumentException(
        s"'$version' is neither a commit-log seq (integer) nor a tag " +
          s"of $ident" + (if (known.isEmpty) ""
          else s" (tags: ${known.mkString(", ")})"))
    }
    snapshotTable(ident, dir, v)
  }

  /** `TIMESTAMP AS OF <t>` — Spark hands micros since epoch; resolved
    * to the newest commit at or before it ([[TableMeta.versionAt]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!TableMeta.exists(dir))
      throw new NoSuchTableException(ident.namespace().toSeq :+ ident.name())
    snapshotTable(ident, dir, TableMeta.versionAt(dir, timestamp / 1000L))
  }

  private def snapshotTable(ident: Identifier, dir: File,
      version: Long): GraftTable = {
    val state = TableMeta.stateAt(dir, version)
    // Region files of a historical version may have been vacuumed
    // (DELETE/compaction retire files; graft.sys.vacuum removes them).
    // Check eagerly — but only files OUTSIDE the current manifest
    // (live + retired certainly exist), so the check is O(difference),
    // not O(regions) stats, on the common no-rewrite-since path.
    val present = {
      val cur = TableMeta.loadState(dir)
      (cur.regions ++ cur.retired).map(_.file).toSet
    }
    val gone = state.regions
      .filterNot(r => present(r.file) || new File(dir, r.file).isFile)
    if (gone.nonEmpty) throw new IllegalStateException(
      s"version $version of $ident references ${gone.size} region " +
        s"file(s) removed by vacuum/compaction cleanup (e.g. " +
        s"${gone.head.file}); this version is no longer readable")
    val meta = TableMeta.load(dir)
    registerRegionFn(meta)
    new GraftTable(ident.toString, dir, meta,
      snapshot = Some((version, state.regions)))
  }

  override def invalidateTable(ident: Identifier): Unit =
    cache.remove(tableDir(ident).getPath)

  override def tableExists(ident: Identifier): Boolean =
    TableMeta.exists(tableDir(ident))

  /** ANSI constraint DDL rides the DSv2 constraint API (Spark 4.1):
    * declaring this capability makes the parser's inline
    * `CONSTRAINT c CHECK (…)` clauses and `ALTER TABLE … ADD/DROP
    * CONSTRAINT` resolve against this catalog instead of failing
    * analysis. Only CHECK is supported (PRIMARY KEY is `keyCols` +
    * `graft.dedupKeys`; UNIQUE/FOREIGN KEY have no enforcement story
    * here and are refused rather than silently informational). */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  /** CREATE TABLE with inline `CONSTRAINT name CHECK (expr)` clauses:
    * each becomes a `graft.check.<name>` property, the single storage
    * format both enforcement halves (analyzer CheckInvariant + writer
    * backstop) read from. */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val checkProps = info.constraints().map {
      case c: Check =>
        (GraftChecks.Prefix + c.name()) -> c.predicateSql()
      case other => throw new UnsupportedOperationException(
        s"graft enforces CHECK constraints only; ${other.toDDL} is not " +
          "supported (PRIMARY KEY semantics = keyCols + " +
          "'graft.dedupKeys'='true')")
    }
    val merged = new java.util.HashMap[String, String](info.properties())
    checkProps.foreach { case (k, v) => merged.put(k, v) }
    // GENERATED ALWAYS AS: the stock TableInfo.schema() conversion
    // DROPS the generation expression (a catalog relying on it would
    // silently create a plain nullable column) — rescue it from the V2
    // columns into the field metadata the writer fill reads
    var schema = info.schema()
    def stamp(name: String)(
        f: org.apache.spark.sql.types.MetadataBuilder =>
           org.apache.spark.sql.types.MetadataBuilder): Unit = {
      val i = schema.fieldIndex(name)
      val old = schema.fields(i)
      val fields = schema.fields.clone()
      fields(i) = old.copy(metadata =
        f(new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(old.metadata)).build())
      schema = StructType(fields)
    }
    info.columns().foreach { c =>
      if (c.generationExpression() != null)
        stamp(c.name())(_.putString(GraftGenerated.MetaKey,
          c.generationExpression()))
      // IDENTITY likewise rides the column metadata (Spark's own keys)
      if (c.identityColumnSpec() != null) {
        val spec = c.identityColumnSpec()
        stamp(c.name())(_
          .putLong(GraftIdentity.StartKey, spec.getStart)
          .putLong(GraftIdentity.StepKey, spec.getStep)
          .putBoolean(GraftIdentity.AllowExplicitKey,
            spec.isAllowExplicitInsert))
      }
    }
    createTable(ident, schema, info.partitions(), merged)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      "graft tables are key-organized; PARTITIONED BY is not supported " +
        "(declare keyCols in TBLPROPERTIES)")
    val dir = tableDir(ident)
    if (TableMeta.exists(dir))
      throw new TableAlreadyExistsException(ident.namespace().toSeq :+ ident.name())
    if (!nsDir(ident.namespace()).isDirectory)
      throw new NoSuchNamespaceException(ident.namespace().toSeq)
    require(ident.namespace().length != 1 ||
      !GraftViews.exists(nsDir(ident.namespace()), ident.name()),
      s"cannot create table ${ident.name()}: a graft VIEW of that name " +
        "exists in the namespace")

    val props = properties.asScala.toMap
    val keyCols = props.getOrElse(TableMeta.KeyColsProp,
      throw new IllegalArgumentException(
        s"graft table requires TBLPROPERTIES('${TableMeta.KeyColsProp}'=" +
          "'k1;k2;…')")).split(";").map(_.trim).filter(_.nonEmpty).toSeq
    require(keyCols.nonEmpty, "keyCols must name at least one column")

    val byName = schema.fields.map(f => f.name.toLowerCase -> f).toMap
    keyCols.foreach { k =>
      val f = byName.getOrElse(k.toLowerCase,
        throw new IllegalArgumentException(s"key column $k not in schema"))
      require(KeyCodec.supportedTypes.contains(f.dataType),
        s"key column $k has unsupported type ${f.dataType.simpleString}")
    }
    schema.fields.foreach { f =>
      require(ParquetRowIO.isStorable(f.dataType),
        s"column ${f.name}: type ${f.dataType.simpleString} is not storable " +
          "(atomic types, DECIMAL, BINARY, or ARRAY of an atomic type)")
      // internal working columns (compaction's dedup fold provenance)
      // would be clobbered by withColumn/drop on a name collision
      require(!f.name.toLowerCase.startsWith("_graft"),
        s"column ${f.name}: the _graft prefix is reserved for internal use")
    }
    // reference's two physical encodings (SURVEY §1.3). Our storage is
    // typed parquet, so the choice is metadata-only: values never lose
    // their type, key pruning stays sound under both (the reference
    // needed custom comparators for stringformat; that hazard does not
    // exist here).
    props.get(TableMeta.EncodingProp).foreach { e =>
      require(e == "binaryformat" || e == "stringformat",
        s"encodingFormat must be binaryformat or stringformat, got $e")
    }
    // fixed region split points (the reference's pre-split regions) —
    // validated eagerly so a bad list fails the CREATE, not the scan
    props.get(TableMeta.RegionSplitsProp).foreach { spec =>
      RegionSplits.parse(byName(keyCols.head.toLowerCase).dataType, spec)
    }
    // numeric properties fail the CREATE, not the first INSERT
    validateNumericProps(props)
    // CHECK constraints analyze against the schema NOW (typo'd columns
    // / non-boolean expressions fail the CREATE, not the first INSERT)
    GraftChecks.specs(props).foreach { case (n, sql) =>
      GraftChecks.resolve(schema, n, sql)
    }
    // GENERATED ALWAYS AS expressions likewise: analyzed against the
    // non-generated columns, exact declared type, never a key column
    GraftGenerated.validate(schema, keyCols)
    // IDENTITY: BIGINT, BY DEFAULT form only, never a key column
    GraftIdentity.validate(schema, keyCols)
    // bloom-filter columns must exist and be primitive (typo'd names
    // or nested types fail the CREATE, not silently write bloom-less
    // regions)
    validateBloomCols(schema, props)
    // optional family/qualifier mapping — validated, kept as metadata
    props.get(TableMeta.NonKeyColsProp).foreach { spec =>
      val keySet = keyCols.map(_.toLowerCase).toSet
      spec.split(";").map(_.trim).filter(_.nonEmpty).foreach { entry =>
        val parts = entry.split(",").map(_.trim)
        require(parts.length == 3,
          s"nonKeyCols entry '$entry' must be 'col,family,qualifier'")
        require(byName.contains(parts(0).toLowerCase),
          s"nonKeyCols column ${parts(0)} not in schema")
        require(!keySet.contains(parts(0).toLowerCase),
          s"nonKeyCols column ${parts(0)} is a key column")
      }
    }

    Files.createDirectories(dir.toPath)
    val meta = TableMeta(schema, keyCols,
      props - TableCatalog.PROP_PROVIDER - TableCatalog.PROP_OWNER)
    TableMeta.save(dir, meta)
    TableMeta.saveRegions(dir, Nil)
    registerRegionFn(meta)
    new GraftTable(ident.toString, dir, meta)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!TableMeta.exists(dir))
      throw new NoSuchTableException(ident.namespace().toSeq :+ ident.name())
    var meta = TableMeta.load(dir)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft supports top-level columns only")
        val name = add.fieldNames.head
        // ADD COLUMN WITH DEFAULT: the default becomes BOTH the
        // current default (analyzer fills omitted INSERT columns from
        // CURRENT_DEFAULT in the field metadata) and the EXISTENCE
        // default — rows in region files written before the column
        // existed read the default, not NULL (Spark's parquet readers
        // honor EXISTS_DEFAULT for absent columns since 3.4, and the
        // graft region reader is Spark's). Constant defaults only: an
        // existence default must be a literal the readers can
        // materialize with no evaluation context — that is the same
        // restriction Spark's own sources enforce.
        val defaultMeta = Option(add.defaultValue()).map { dv =>
          val lit = dv.getValue
          require(lit != null,
            s"ADD COLUMN $name DEFAULT must be a constant expression")
          val foldedSql = org.apache.spark.sql.catalyst.expressions
            .Literal(lit.value, lit.dataType).sql
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT",
              Option(dv.getSql).getOrElse(foldedSql))
            .putString("EXISTS_DEFAULT", foldedSql)
            .build()
        }
        require(ParquetRowIO.isStorable(add.dataType),
          s"column $name: unsupported type ${add.dataType.simpleString}")
        require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"column $name already exists")
        // region files written before a DROP still hold the old column
        // under this name; readers match by name, so re-adding it with a
        // different type would decode garbage. Same type re-exposes the
        // old cells (matching the reference, where dropping the column
        // mapping leaves HBase cells in place).
        tombstones(meta).get(name.toLowerCase).foreach { oldType =>
          require(oldType == add.dataType.simpleString,
            s"column $name was previously dropped with type $oldType; " +
              s"re-adding it as ${add.dataType.simpleString} is not " +
              "supported (old region files still hold " +
              s"$oldType-typed values under this name)")
        }
        meta = withTombstones(meta,
          tombstones(meta) - name.toLowerCase).copy(schema =
          meta.schema.add(StructField(name, add.dataType, nullable = true,
            defaultMeta.getOrElse(
              org.apache.spark.sql.types.Metadata.empty))))
      case del: TableChange.DeleteColumn =>
        val name = del.fieldNames.head
        require(!meta.keyCols.exists(_.equalsIgnoreCase(name)),
          s"cannot drop key column $name") // reference: alter non-key only
        val field = meta.schema.fields.find(_.name.equalsIgnoreCase(name))
          .getOrElse(throw new IllegalArgumentException(
            s"requirement failed: column $name does not exist"))
        val narrowed = StructType(
          meta.schema.fields.filterNot(_.name.equalsIgnoreCase(name)))
        // a CHECK constraint referencing the column would dangle: its
        // expression must still analyze against the narrowed schema
        GraftChecks.specs(meta.properties).foreach { case (cn, sql) =>
          try GraftChecks.resolve(narrowed, cn, sql)
          catch { case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"cannot drop column $name: CHECK constraint '$cn' " +
                s"references it (drop the constraint first). " +
                e.getMessage)
          }
        }
        // same dangling rule for surviving generation expressions
        GraftGenerated.refuseDanglingDrop(narrowed, meta.keyCols, name)
        meta = withTombstones(meta, tombstones(meta) +
          (name.toLowerCase -> field.dataType.simpleString)).copy(
          schema = narrowed)
      case set: TableChange.SetProperty =>
        require(set.property != TableMeta.RegionSplitsProp,
          "regionSplits is fixed at CREATE TABLE (existing region files " +
            "are bucketed by the original splits)")
        require(set.property != DroppedColsProp,
          s"$DroppedColsProp is maintained internally by ALTER TABLE " +
            "ADD/DROP COLUMN and cannot be set directly")
        validateNumericProps(Map(set.property -> set.value))
        // bloomCols via ALTER applies to FUTURE region writes; same
        // existence/primitiveness validation as CREATE
        if (set.property.equalsIgnoreCase(TableMeta.BloomColsProp))
          validateBloomCols(meta.schema,
            Map(TableMeta.BloomColsProp -> set.value))
        // ADD CONSTRAINT: analyze against the schema AND validate the
        // EXISTING data (one parallel scan — the Delta contract); a
        // stored violating row refuses the ALTER, which is what lets
        // the write path assume the invariant afterwards
        if (set.property.toLowerCase.startsWith(GraftChecks.Prefix)) {
          val cname = set.property.substring(GraftChecks.Prefix.length)
          GraftChecks.resolve(meta.schema, cname, set.value)
          val bad = GraftChecks.violationsInExisting(catalogName,
            s"${ident.namespace().mkString(".")}.${ident.name()}",
            set.value)
          require(bad == 0L,
            s"cannot add CHECK constraint '$cname': $bad existing " +
              s"row(s) violate '${set.value}'")
        }
        meta = meta.copy(properties =
          meta.properties + (set.property -> set.value))
      // `ALTER COLUMN c SET/DROP DEFAULT`: the default is column
      // metadata (CURRENT_DEFAULT), read by the analyzer when filling
      // omitted INSERT columns — future writes only. EXISTS_DEFAULT is
      // deliberately never set: graft rows are fully materialized at
      // write, so stored data never needs a read-time backfill.
      case upd: TableChange.UpdateColumnDefaultValue =>
        require(upd.fieldNames.length == 1,
          "graft supports top-level columns only")
        val name = upd.fieldNames.head
        val idx = meta.schema.fields.indexWhere(_.name.equalsIgnoreCase(name))
        require(idx >= 0, s"requirement failed: column $name does not exist")
        val f = meta.schema.fields(idx)
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        val newSql = Option(upd.newCurrentDefault()).map(_.getSql)
          .orElse(Option(upd.newDefaultValue()).filter(_.nonEmpty))
        newSql match {
          case Some(sql) => mb.putString("CURRENT_DEFAULT", sql)
          case None => mb.remove("CURRENT_DEFAULT")
        }
        val fields = meta.schema.fields.clone()
        fields(idx) = f.copy(metadata = mb.build())
        meta = meta.copy(schema = StructType(fields))
      // ANSI `ALTER TABLE … ADD CONSTRAINT c CHECK (expr)`: Spark's
      // AddCheckConstraintExec has ALREADY run the violation scan
      // against the live table (executeTake on the violating-rows plan,
      // loud CHECK_CONSTRAINT_VIOLATION on a hit) before calling us —
      // so here the constraint only needs analyzing and recording.
      case add: TableChange.AddConstraint =>
        add.constraint() match {
          case c: Check =>
            GraftChecks.resolve(meta.schema, c.name(), c.predicateSql())
            require(!meta.properties.keys.exists(_.equalsIgnoreCase(
              GraftChecks.Prefix + c.name())),
              s"CHECK constraint '${c.name()}' already exists")
            meta = meta.copy(properties = meta.properties +
              ((GraftChecks.Prefix + c.name()) -> c.predicateSql()))
          case other => throw new UnsupportedOperationException(
            s"graft enforces CHECK constraints only; ${other.toDDL} " +
              "is not supported")
        }
      case drop: TableChange.DropConstraint =>
        val key = meta.properties.keys.find(_.equalsIgnoreCase(
          GraftChecks.Prefix + drop.name()))
        key match {
          case Some(k) =>
            meta = meta.copy(properties = meta.properties - k)
          case None =>
            if (!drop.ifExists()) throw new IllegalArgumentException(
              s"requirement failed: CHECK constraint '${drop.name()}' " +
                "does not exist")
        }
      case rm: TableChange.RemoveProperty =>
        require(rm.property != TableMeta.RegionSplitsProp,
          "regionSplits is fixed at CREATE TABLE")
        require(rm.property != DroppedColsProp,
          s"$DroppedColsProp is maintained internally by ALTER TABLE " +
            "ADD/DROP COLUMN and cannot be unset (old region files still " +
            "hold the dropped columns)")
        meta = meta.copy(properties = meta.properties - rm.property)
      case other => throw new UnsupportedOperationException(
        s"graft alterTable does not support $other")
    }
    TableMeta.save(dir, meta)
    cache.remove(dir.getPath)
    new GraftTable(ident.toString, dir, meta)
  }

  /** Dropped-column tombstones ("name:type;…" in table properties):
    * names of physical columns still present in pre-ALTER region files. */
  private val DroppedColsProp = "graft.droppedColumns"

  /** Shared by CREATE and ALTER SET: numeric properties must parse
    * here, not at the next INSERT. */
  /** bloomCols entries must name existing PRIMITIVE columns (parquet
    * bloom filters apply to primitive leaves only). */
  private def validateBloomCols(schema: StructType,
      props: Map[String, String]): Unit = {
    val byName = schema.fields.map(f => f.name.toLowerCase -> f).toMap
    TableMeta.bloomCols(props).foreach { c =>
      require(byName.contains(c.toLowerCase),
        s"${TableMeta.BloomColsProp} column $c not in schema")
      byName(c.toLowerCase).dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
            _: org.apache.spark.sql.types.MapType |
            _: org.apache.spark.sql.types.StructType =>
          throw new IllegalArgumentException(
            s"${TableMeta.BloomColsProp} column $c has a nested type; " +
              "parquet bloom filters apply to primitive columns only")
        case _ =>
      }
    }
  }

  private def validateNumericProps(props: Map[String, String]): Unit = {
    Seq(TableMeta.NumRegionsProp, TableMeta.PageRowLimitProp).foreach { p =>
      props.get(p).foreach { v =>
        require(scala.util.Try(v.toInt).toOption.exists(_ > 0),
          s"$p must be a positive integer, got '$v'")
      }
    }
    props.get(TableMeta.DedupKeysProp).foreach { v =>
      require(Set("true", "false").contains(v.trim.toLowerCase),
        s"${TableMeta.DedupKeysProp} must be true or false, got '$v'")
    }
  }

  private def tombstones(meta: TableMeta): Map[String, String] =
    meta.properties.get(DroppedColsProp).toSeq
      .flatMap(_.split(";")).filter(_.nonEmpty)
      .map { e => val i = e.lastIndexOf(':')
        e.substring(0, i) -> e.substring(i + 1) }.toMap

  private def withTombstones(meta: TableMeta,
      ts: Map[String, String]): TableMeta =
    meta.copy(properties =
      if (ts.isEmpty) meta.properties - DroppedColsProp
      else meta.properties + (DroppedColsProp ->
        ts.map { case (n, t) => s"$n:$t" }.mkString(";")))

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!TableMeta.exists(dir)) return false
    cache.remove(dir.getPath)
    TableMeta.evictManifestCache(dir) // parsed-state entry would leak
    deleteRecursively(dir)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "rename is not supported") // mirrors HBaseCatalog.scala:257-259

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    Option(warehouse.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      // "_"-prefixed directories are warehouse-internal (the fixture
      // build locks live in _locks), not namespaces
      .filterNot(_.getName.startsWith("_"))
      .map(f => Array(f.getName))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace.toSeq)

  // "_"-prefixed names are reserved for warehouse-internal state (the
  // fixture build locks live in _locks): they are invisible to every
  // namespace operation, so DROP NAMESPACE can never delete live lock
  // files and CREATE/SHOW stay mutually consistent
  private def internalName(namespace: Array[String]): Boolean =
    namespace.length == 1 && namespace.head.startsWith("_")

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && !internalName(namespace) &&
      nsDir(namespace).isDirectory

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace.toSeq)
    Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (internalName(namespace))
      throw new IllegalArgumentException(
        s"namespace name '${namespace.head}' is reserved " +
          "(\"_\"-prefixed directories are warehouse-internal)")
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(nsDir(namespace).toPath)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (internalName(namespace)) return false
    val d = nsDir(namespace)
    if (!d.isDirectory) return false
    if (!cascade && Option(d.listFiles()).exists(_.nonEmpty))
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    deleteRecursively(d)
    true
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
