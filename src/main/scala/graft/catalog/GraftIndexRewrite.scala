package graft.catalog

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, ExprId, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Transparent secondary-index acceleration (the Phoenix behavior: an
  * index's EXISTENCE is the opt-in): a point or range filter on a
  * non-key column that has a FRESH secondary index
  * (`CALL graft.sys.index`; watermark == the base's current commit
  * version) is rewritten from
  *
  * {{{ Filter(c = lit, base) }}}
  *
  * into
  *
  * {{{
  *   Filter(c = lit,                           // residual — exactness
  *     Join(base, LeftSemi, base.keys = i.keys,
  *          Project(keys, Filter(c = lit, base_idx_c))))
  * }}}
  *
  * Runs ONCE at the pre-CBO seam, while both sides are still plain
  * [[DataSourceV2Relation]]s — the normal V2 pushdown then turns the
  * index probe into a key-pruned point scan (c leads the index key),
  * and the runtime-filter machinery hands the probe's key set to the
  * base scan (region pruning + reader-level page skipping through
  * parquet's `in` predicate, see SecondaryIndexSpec). The residual filter on top keeps answers exact
  * under every edge (duplicate base keys, index entries for sibling
  * rows), so the rewrite is safe whenever it fires; the freshness gate
  * makes firing complete (no false negatives: every matching row has
  * an index entry at the watermark version).
  *
  * Does not fire on: key columns (interval pruning already serves
  * them), stale or absent indexes, time-travel/CDC-pinned snapshots,
  * non-literal or null comparisons. Kill switch:
  * `spark.graft.accel.indexRewrite=false`. */
class GraftIndexRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!GraftAccel.on(GraftAccel.IndexRewrite)) return plan
    // top-down so the covered (index-only) Project case sees the
    // original Project(Filter(relation)) shape before the bare-Filter
    // case consumes the Filter; the probe/covered subtrees this emits
    // cannot re-fire (their filter columns lead the index key)
    plan.transformDown {
      case p @ Project(list, Filter(cond, r: DataSourceV2Relation))
          if r.table.isInstanceOf[GraftTable] =>
        covered(p, list, cond, r).getOrElse(p)
      case f @ Filter(cond, r: DataSourceV2Relation)
          if r.table.isInstanceOf[GraftTable] =>
        rewrite(f, cond, r).getOrElse(f)
    }
  }

  /** Index-only scan: when every column the Project and Filter touch
    * is carried by a fresh COVERING index (the indexed column, the
    * base keys, and `include =>` payload columns), the base drops out
    * entirely — the answer is a key-pruned point scan of the index.
    * Output attribute ids are preserved by aliasing the substituted
    * expressions back to the original exprIds, so parent operators are
    * untouched. Exact because the fresh index holds exactly the
    * non-null-c base rows, one entry per row. */
  private def covered(p: Project, list: Seq[NamedExpression],
      cond: Expression, r: DataSourceV2Relation): Option[LogicalPlan] = {
    val table = r.table.asInstanceOf[GraftTable]
    if (table.snapshot.isDefined) return None
    val keySet = table.meta.keyCols.map(_.toLowerCase).toSet
    val atom = splitConjunctivePredicates(cond).iterator.flatMap { e =>
      indexableColumn(e, keySet)
        .flatMap(a => freshIndex(table, a.name).map(d => (a, d)))
    }.nextOption()
    atom.flatMap { case (_, (idxDir, idxMeta)) =>
      val carried = idxMeta.schema.fieldNames.map(_.toLowerCase).toSet
      val needed = (list.flatMap(_.references) ++ cond.references)
        .map(_.asInstanceOf[AttributeReference]).distinct
      if (!needed.forall(a => carried(a.name.toLowerCase))) None
      else {
        val idxTable = new GraftTable(idxDir.getName, idxDir, idxMeta)
        val idxRel = DataSourceV2Relation.create(idxTable, None, None)
        val sub: Map[ExprId, AttributeReference] = needed.map(a =>
          a.exprId -> idxRel.output
            .find(_.name.equalsIgnoreCase(a.name)).get).toMap
        def substitute(e: Expression): Expression = e.transform {
          case a: AttributeReference => sub.getOrElse(a.exprId, a)
        }
        val newList = list.map {
          case a: AttributeReference =>
            Alias(sub(a.exprId), a.name)(exprId = a.exprId,
              qualifier = a.qualifier)
          case ne => substitute(ne).asInstanceOf[NamedExpression]
        }
        Some(Project(newList, Filter(substitute(cond), idxRel)))
      }
    }
  }

  private def rewrite(f: Filter, cond: Expression,
      r: DataSourceV2Relation): Option[LogicalPlan] = {
    val table = r.table.asInstanceOf[GraftTable]
    if (table.snapshot.isDefined) return None // time travel: stale by def
    val meta = table.meta
    val keySet = meta.keyCols.map(_.toLowerCase).toSet
    // every base key column must be available to join on
    val keyAttrs = meta.keyCols.flatMap(k =>
      r.output.find(_.name.equalsIgnoreCase(k)))
    if (keyAttrs.length != meta.keyCols.length) return None

    val atoms = splitConjunctivePredicates(cond)
    val attr = atoms.iterator
      .flatMap(indexableColumn(_, keySet))
      .find(a => freshIndex(table, a.name).isDefined)
    attr.map { a =>
      val (idxDir, idxMeta) = freshIndex(table, a.name).get
      val idxTable = new GraftTable(idxDir.getName, idxDir, idxMeta)
      val idxRel = DataSourceV2Relation.create(idxTable, None, None)
      val probeCol = idxRel.output
        .find(_.name.equalsIgnoreCase(a.name)).get
      val probeKeys = meta.keyCols.map(k =>
        idxRel.output.find(_.name.equalsIgnoreCase(k)).get)
      // every supported atom on the indexed column travels to the
      // probe (a point becomes a point scan, a range a range scan on
      // the index's leading key); a base row satisfying cond satisfies
      // all of them, so its index entry survives — no false negatives
      val probeCond = atoms
        .filter(e => indexableColumn(e, keySet).exists(_.exprId == a.exprId))
        .map(_.transform { case ar: AttributeReference
            if ar.exprId == a.exprId => probeCol })
        .reduce(And)
      val probe = Project(probeKeys, Filter(probeCond, idxRel))
      val joinCond = keyAttrs.zip(probeKeys)
        .map { case (b, p) => EqualTo(b, p): Expression }
        .reduce(And)
      Filter(cond,
        Join(r, probe, LeftSemi, Some(joinCond), JoinHint.NONE))
    }
  }

  /** The non-key column a conjunct constrains with a literal point or
    * range comparison — the shapes the index's leading-key order can
    * serve (region pruning on the index side). */
  private def indexableColumn(e: Expression,
      keySet: Set[String]): Option[AttributeReference] = {
    def ok(a: AttributeReference, l: Literal): Option[AttributeReference] =
      if (l.value != null && !keySet(a.name.toLowerCase)) Some(a) else None
    e match {
      case EqualTo(a: AttributeReference, l: Literal) => ok(a, l)
      case EqualTo(l: Literal, a: AttributeReference) => ok(a, l)
      case GreaterThan(a: AttributeReference, l: Literal) => ok(a, l)
      case GreaterThan(l: Literal, a: AttributeReference) => ok(a, l)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => ok(a, l)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => ok(a, l)
      case LessThan(a: AttributeReference, l: Literal) => ok(a, l)
      case LessThan(l: Literal, a: AttributeReference) => ok(a, l)
      case LessThanOrEqual(a: AttributeReference, l: Literal) => ok(a, l)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => ok(a, l)
      case _ => None
    }
  }

  /** The sibling index table for `col`, iff structurally an index of
    * this base (key = col; base keys) AND fresh (watermark == the
    * base's current commit version — an append since the build would
    * make the index under-deliver, so staleness disables the rewrite
    * rather than risking false negatives). */
  private def freshIndex(table: GraftTable, col: String)
      : Option[(File, TableMeta)] = {
    val dir = new File(table.tableDir.getParentFile,
      s"${table.tableDir.getName}_idx_${col.toLowerCase}")
    if (!TableMeta.exists(dir)) return None
    val m = TableMeta.load(dir)
    val structural = m.properties.contains(TableMeta.IndexOfProp) &&
      m.keyCols.map(_.toLowerCase) ==
        (col.toLowerCase +: table.meta.keyCols.map(_.toLowerCase))
    val fresh = m.properties.get(TableMeta.IndexedVersionProp)
      .flatMap(_.toLongOption)
      .contains(TableMeta.currentVersion(table.tableDir))
    if (structural && fresh) Some((dir, m)) else None
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
    e match {
      case And(l, rr) =>
        splitConjunctivePredicates(l) ++ splitConjunctivePredicates(rr)
      case other => Seq(other)
    }
}
