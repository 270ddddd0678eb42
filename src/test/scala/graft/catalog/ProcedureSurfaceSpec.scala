package graft.catalog

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The `CALL graft.sys.*` surface as SQL callers and scripts see it:
  * which procedures exist, how names resolve, and each bound
  * procedure's parameters (name, type, comment, default) and
  * description. Output columns and row contents are pinned by each
  * procedure's own spec. */
class ProcedureSurfaceSpec extends AnyFunSuite {
  private lazy val cat = TestSpark.spark.sessionState.catalogManager
    .catalog("graft").asInstanceOf[GraftCatalog]

  private case class P(name: String, dataType: DataType,
      comment: Option[String] = None, default: Option[String] = None)

  private val Table = "'<namespace>.<table>' within this catalog"
  private val BaseTable = "base '<namespace>.<table>' within this catalog"
  private def tbl(comment: String = Table) =
    P("table", StringType, Some(comment))
  private def str(name: String, comment: String = null) =
    P(name, StringType, Option(comment))

  /** name → (description, parameters), in registry order. */
  private val Expected: Seq[(String, String, Seq[P])] = Seq(
    ("load_csv", "bulk-load a delimited text file into a graft table " +
      "(sorted region load, shuffled by region on a regionSplits table " +
      "and by sampled key range otherwise; short lines null-backfill)",
      Seq(tbl(), str("path", "CSV file or directory"),
        P("delimiter", StringType, None, Some("','")))),
    ("compact", "rewrite a graft table's regions into target_regions " +
      "key-sorted files (at most one region per bucket on a regionSplits " +
      "table) and bump the manifest generation",
      Seq(tbl(), P("target_regions", IntegerType))),
    ("cluster", "rewrite a graft table's regions z-ordered by the given " +
      "columns (multi-dimensional clustering for non-key stat pruning)",
      Seq(tbl(), str("cols", "';'-separated columns to cluster by"),
        P("target_regions", IntegerType))),
    ("stats", "per-region manifest statistics of a graft table (rows, " +
      "key range, non-key column min/max/null counts)", Seq(tbl())),
    ("vacuum", "remove retired region files of a graft table (files " +
      "kept for in-flight readers by DELETE/compaction)", Seq(tbl())),
    ("manifest", "manifest + commit-log state of a graft table",
      Seq(tbl())),
    ("fold", "fold the commit log of a graft table into its checkpoint " +
      "manifest", Seq(tbl())),
    ("history", "retained commit history of a graft table (version, " +
      "time, operation, delta sizes)", Seq(tbl())),
    ("restore", "roll a graft table's live manifest back to a historical " +
      "version (metadata-only; the restore is itself a new commit)",
      Seq(tbl(), P("version", LongType, Some("commit-log version to " +
        "restore to (see graft.sys.history)")))),
    ("analyze", "backfill per-region column statistics of a graft table",
      Seq(tbl())),
    ("split", "split every region larger than target_bytes into " +
      "key-contiguous parts (O(touched) region-local rewrite, manifest " +
      "delta swap)",
      Seq(tbl(), P("target_bytes", LongType,
        Some("split regions whose file exceeds this size")))),
    ("merge", "k-way merge adjacent regions into files up to " +
      "target_bytes (O(touched) region-local rewrite, manifest delta swap)",
      Seq(tbl(), P("target_bytes", LongType,
        Some("merged files stay at or under this size")))),
    ("clone", "snapshot a graft table (optionally at a version) into a " +
      "new independent table via hard-linked region files (zero copy)",
      Seq(tbl("source '<namespace>.<table>'"),
        str("target", "new '<namespace>.<table>' (must not exist)"),
        P("version", LongType,
          Some("commit-log version to clone (default: current)"),
          Some("-1")))),
    ("convert", "convert a parquet directory into a graft table (sorted " +
      "files link zero-copy; unsorted files rewrite sorted)",
      Seq(tbl("'<namespace>.<table>' to create"),
        str("source", "directory (or single file) of parquet files"),
        str("keys", "';'-separated key columns"))),
    ("index", "build or rebuild a global secondary index table " +
      "<t>_idx_<col> keyed (col; base key cols)",
      Seq(tbl(BaseTable), str("column", "non-key column to index"),
        P("num_regions", IntegerType, None, Some("16")),
        P("include", StringType, Some("';'-separated covered payload " +
          "columns — queries touching only (column, keys, include…) " +
          "answer from the index alone, no base join"), Some("''")))),
    ("index_refresh", "incrementally refresh a secondary index from the " +
      "base table's CDC delta since the index's watermark (O(delta), no " +
      "base scan)",
      Seq(tbl(BaseTable),
        str("column", "indexed column (index table <t>_idx_<col>)"))),
    ("mview", "build or rebuild a materialized aggregate table " +
      "<t>_mv_<name> keyed by the group-by columns, holding partial " +
      "aggregates",
      Seq(tbl(BaseTable), str("name", "mview suffix: table <t>_mv_<name>"),
        str("group_by", "';'-separated group-by columns (become the " +
          "mview's key)"),
        str("aggs", "';'-separated '<fn>:<col>' aggregates, fn in " +
          "sum/count/min/max, 'count:*' for row count"),
        P("num_regions", IntegerType, None, Some("4")))),
    ("mview_refresh", "incrementally refresh a materialized view from " +
      "the base table's CDC delta since the mview's watermark (O(delta))",
      Seq(tbl(BaseTable),
        str("name", "mview suffix (table <t>_mv_<name>)"))),
    ("mview_join", "build or rebuild a materialized inner equi-join " +
      "view <left>_mvj_<name> keyed by the join column",
      Seq(str("left", "left base '<namespace>.<table>'"),
        str("right", "right base '<namespace>.<table>'"),
        str("name", "view suffix: table <left_t>_mvj_<name>"),
        str("on", "equi-join condition '<left_col>=<right_col>'"),
        P("num_regions", IntegerType, None, Some("4")))),
    ("mview_join_refresh", "incrementally refresh a materialized join " +
      "view from both bases' CDC deltas (O(delta), exact for append-only " +
      "bases)",
      Seq(str("view", "the '<namespace>.<table>_mvj_<name>' view"))),
    ("tag", "pin a commit-log version under a name readable via " +
      "VERSION AS OF '<name>' and protected from vacuum/compaction " +
      "cleanup until untagged",
      Seq(tbl(), str("name", "tag name (letter first; not an integer)"),
        P("version", LongType,
          Some("commit-log version to pin (default: current)"),
          Some("-1")))),
    ("untag", "remove a version tag (the next vacuum/compaction may " +
      "reclaim files only that version referenced)",
      Seq(tbl(), str("name"))),
    ("scan_estimate", "regions/rows/bytes a predicate scan of a graft " +
      "table would schedule (driver-side planning only, no data IO)",
      Seq(tbl(), str("predicate", "SQL predicate over the table's " +
        "columns; '' or 'true' for the unfiltered readout"))),
    ("mirror", "bootstrap (clone) and incrementally sync a replica of a " +
      "graft table from its CDC delta (O(delta) per sync)",
      Seq(str("source", "source '<namespace>.<table>' within this catalog"),
        str("target", "replica '<namespace>.<table>'; created (cloned) " +
          "on first call"))),
    ("branch", "create a write-audit-publish staging branch; stage " +
      "appends with writeTo(...).option('branch', ...) or the session " +
      "conf spark.graft.wap.branch",
      Seq(tbl(), str("name", "branch name (letter first; letters/digits/_)"))),
    ("branches", "list the table's write-audit-publish staging branches " +
      "with staged region/row counts", Seq(tbl())),
    ("publish", "publish a staging branch: its staged appends become ONE " +
      "main commit, atomically visible; the branch is dropped",
      Seq(tbl(), str("name"))),
    ("branch_drop", "abandon a staging branch and delete its staged " +
      "(never published) region files",
      Seq(tbl(), str("name"))),
    ("text_index", "build a positional full-text postings index <t>_fts " +
      "(+ exact stats counters <t>_fts_stats) over a document table",
      Seq(tbl(BaseTable), str("column", "STRING column to tokenize"),
        str("id", "document id column (becomes the trailing key)"),
        P("num_regions", IntegerType, None, Some("8")))),
    ("text_index_refresh", "incrementally refresh <t>_fts and its stats " +
      "counters from the base table's CDC delta (O(delta), no corpus " +
      "re-scan)", Seq(tbl(BaseTable))),
    ("text_search", "BM25 top-k retrieval from a text_index postings table",
      Seq(tbl("indexed base '<namespace>.<table>'"),
        str("query", "space-separated query terms"),
        P("k", IntegerType, None, Some("10")))))

  private val names = Expected.map(_._1)

  test("listProcedures returns exactly the 31 procedures under sys and " +
      "the root namespace, and none elsewhere") {
    assert(names.size == 31 && names.distinct.size == 31)
    Seq(Array.empty[String], Array("sys"), Array("SYS")).foreach { ns =>
      val ids = cat.listProcedures(ns)
      assert(ids.map(_.name).toSeq.sorted == names.sorted,
        s"namespace ${ns.mkString(".")}")
      assert(ids.forall(_.namespace.sameElements(Array("sys"))))
    }
    assert(cat.listProcedures(Array("other")).isEmpty)
  }

  test("every name loads case-insensitively under the root or sys " +
      "namespace") {
    for (n <- names; ns <- Seq(Array.empty[String], Array("sys"),
        Array("Sys")); id <- Seq(n, n.toUpperCase)) {
      val p = cat.loadProcedure(Identifier.of(ns, id))
      assert(p.name() == n, s"${ns.mkString(".")}.$id")
    }
  }

  test("an unknown name and a foreign namespace are refused") {
    val unknown = intercept[IllegalArgumentException](
      cat.loadProcedure(Identifier.of(Array("sys"), "No_Such_Proc")))
    assert(unknown.getMessage == "unknown graft procedure no_such_proc; " +
      s"available: ${names.mkString(", ")}")
    val foreign = intercept[IllegalArgumentException](
      cat.loadProcedure(Identifier.of(Array("other"), "stats")))
    assert(foreign.getMessage == "requirement failed: graft procedures " +
      "live in the 'sys' namespace; got other")
    val nested = intercept[IllegalArgumentException](
      cat.loadProcedure(Identifier.of(Array("sys", "x"), "stats")))
    assert(nested.getMessage == "requirement failed: graft procedures " +
      "live in the 'sys' namespace; got sys.x")
  }

  test("each bound procedure keeps its parameters, description and " +
      "non-determinism") {
    Expected.foreach { case (n, description, params) =>
      val unbound = cat.loadProcedure(Identifier.of(Array("sys"), n))
      assert(unbound.description() == description, n)
      val bound = unbound.bind(new StructType())
      assert(bound.name() == n)
      assert(bound.description() == description, n)
      assert(!bound.isDeterministic, n)
      val got = bound.parameters().toSeq.map { p =>
        assert(p.mode() == ProcedureParameter.Mode.IN, s"$n.${p.name}")
        P(p.name, p.dataType, Option(p.comment),
          Option(p.defaultValue).map(_.getSql))
      }
      assert(got == params, n)
    }
  }
}
