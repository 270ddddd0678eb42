package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, IntegerLiteral}
import graft.functions.{DistinctGramHashes, DistinctWordHashes, LshBucket, MinHashSig, SharedCount, Shingle3Hashes, SimHash64, VecCosine, VecDot, WinnowKeys, WordHashes, WordTfPairs, WordWindowHashes}

/** Session extension wiring the graft native functions into SQL.
  *
  * The reference extends the session by forking `SparkSession`
  * (/root/reference `HBaseSparkSession.scala:33-47`, a Spark-2 pattern);
  * the Spark-4-sanctioned equivalent is `SparkSessionExtensions`:
  * {{{
  *   spark.sql.extensions = graft.GraftExtensions
  *   spark.sql.catalog.graft = graft.catalog.GraftCatalog
  * }}}
  * after which `vec_cosine`, `vec_dot`, `minhash_sig(arr[, k])`,
  * `simhash64` are plain SQL functions, and the reference's literal
  * `LOAD DATA [LOCAL] INPATH ... INTO TABLE t` statement routes into
  * the graft bulk load ([[graft.catalog.GraftLoadDataRule]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // LOAD DATA INPATH → graft bulk load (the analyzer refuses the
    // stock node for V2 tables before any injected rule runs, so the
    // lowering happens at the parser seam, Delta-style)
    ext.injectParser((session, delegate) =>
      new graft.catalog.GraftSqlParser(session, delegate))
    // point filters on freshly-indexed non-key columns → index-probe
    // semi join (runs once at the pre-CBO seam, before V2 pushdown,
    // so both sides get normal pushdown/pruning afterwards)
    ext.injectPreCBORule(session =>
      new graft.catalog.GraftIndexRewrite(session))
    // re-aggregable GROUP BYs over a base with a FRESH materialized
    // view → re-aggregation over the mview's stored partials
    ext.injectPreCBORule(session =>
      new graft.catalog.GraftMviewRewrite(session))
    // a scan pruned to at most one small region → read on the driver,
    // a small local-relation append → written on the driver; no Spark
    // job either way (a planner strategy: it needs the pushed-down scan)
    ext.injectPlannerStrategy(_ => graft.catalog.GraftLocalRead)
    // stored graft views expand in the resolution fixed point (views
    // over views converge across iterations; cycles die at the
    // analyzer's iteration cap)
    ext.injectResolutionRule(session =>
      new graft.catalog.GraftViewSubstitution(session))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", classOf[VecCosine]),
      (args: Seq[Expression]) => VecCosine(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", classOf[VecDot]),
      (args: Seq[Expression]) => VecDot(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", classOf[MinHashSig]),
      (args: Seq[Expression]) => args match {
        case Seq(a) => MinHashSig(a, 64)
        case Seq(a, IntegerLiteral(k)) => MinHashSig(a, k)
        case _ => throw new IllegalArgumentException(
          "minhash_sig(shingles[, numPerm]) expects a literal numPerm")
      }))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", classOf[SimHash64]),
      (args: Seq[Expression]) => SimHash64(args(0))))
    ext.injectFunction((FunctionIdentifier("lsh_bucket"),
      info("lsh_bucket", classOf[LshBucket]),
      (args: Seq[Expression]) => args match {
        case Seq(a) => LshBucket(a, 16)
        case Seq(a, IntegerLiteral(k)) => LshBucket(a, k)
        case _ => throw new IllegalArgumentException(
          "lsh_bucket(vec[, nPlanes]) expects a literal nPlanes")
      }))
    // the text-kernel family (fused replacements for the HOF chains,
    // value-pinned by KernelEquivalenceSpec) as SQL functions
    ext.injectFunction((FunctionIdentifier("winnow_keys"),
      info("winnow_keys", classOf[WinnowKeys]),
      (args: Seq[Expression]) => args match {
        case Seq(a) => WinnowKeys(a, 8, 4)
        case Seq(a, IntegerLiteral(k), IntegerLiteral(w)) =>
          WinnowKeys(a, k, w)
        case _ => throw new IllegalArgumentException(
          "winnow_keys(text[, k, w]) expects literal k and w")
      }))
    ext.injectFunction((FunctionIdentifier("shingle3_hashes"),
      info("shingle3_hashes", classOf[Shingle3Hashes]),
      (args: Seq[Expression]) => Shingle3Hashes(args(0))))
    ext.injectFunction((FunctionIdentifier("word_hashes"),
      info("word_hashes", classOf[WordHashes]),
      (args: Seq[Expression]) => WordHashes(args(0))))
    ext.injectFunction((FunctionIdentifier("word_window_hashes"),
      info("word_window_hashes", classOf[WordWindowHashes]),
      (args: Seq[Expression]) => args match {
        case Seq(a, IntegerLiteral(w)) => WordWindowHashes(a, w)
        case _ => throw new IllegalArgumentException(
          "word_window_hashes(text, w) expects a literal w")
      }))
    ext.injectFunction((FunctionIdentifier("distinct_word_hashes"),
      info("distinct_word_hashes", classOf[DistinctWordHashes]),
      (args: Seq[Expression]) => DistinctWordHashes(args(0))))
    ext.injectFunction((FunctionIdentifier("distinct_gram_hashes"),
      info("distinct_gram_hashes", classOf[DistinctGramHashes]),
      (args: Seq[Expression]) => args match {
        case Seq(a, IntegerLiteral(k)) => DistinctGramHashes(a, k)
        case _ => throw new IllegalArgumentException(
          "distinct_gram_hashes(text, k) expects a literal k")
      }))
    ext.injectFunction((FunctionIdentifier("shared_count"),
      info("shared_count", classOf[SharedCount]),
      (args: Seq[Expression]) => SharedCount(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("word_tf_pairs"),
      info("word_tf_pairs", classOf[WordTfPairs]),
      (args: Seq[Expression]) => WordTfPairs(args(0))))
    // KLL quantile sketches (the percentile counterpart of the built-in
    // DataSketches hll_* family, which Spark does not ship): build,
    // merge-of-stored-partials, and quantile readout
    // DataSketches KLL accepts 8 <= k <= 65535; validate at registration
    // so a bad k fails analysis with a named error instead of an opaque
    // SketchesArgumentException mid-query
    def kllK(fn: String, k: Int): Int =
      if (k >= 8 && k <= 65535) k
      else throw new IllegalArgumentException(
        s"$fn: k must be an INT literal in [8, 65535], got $k")
    ext.injectFunction((FunctionIdentifier("kll_sketch_agg"),
      info("kll_sketch_agg", classOf[graft.functions.KllSketchAgg]),
      (args: Seq[Expression]) => {
        // numerics implicit-cast to double; a double→double cast is
        // simplified away by the optimizer
        def c(e: Expression) =
          Cast(e, org.apache.spark.sql.types.DoubleType)
        val agg = args match {
          case Seq(a) => graft.functions.KllSketchAgg(c(a), 200)
          case Seq(a, IntegerLiteral(k)) =>
            graft.functions.KllSketchAgg(c(a), kllK("kll_sketch_agg", k))
          case _ => throw new IllegalArgumentException(
            "kll_sketch_agg(x[, k]) expects k as an INT literal in " +
              "[8, 65535], got " + args.drop(1).map(_.sql).mkString(", "))
        }
        agg.toAggregateExpression()
      }))
    ext.injectFunction((FunctionIdentifier("kll_union_agg"),
      info("kll_union_agg", classOf[graft.functions.KllUnionAgg]),
      (args: Seq[Expression]) => {
        val agg = args match {
          // k = -1: adopt the k of the first merged sketch, so stored
          // higher-k partials keep their accuracy without re-passing k
          case Seq(a) => graft.functions.KllUnionAgg(a, -1)
          case Seq(a, IntegerLiteral(k)) =>
            graft.functions.KllUnionAgg(a, kllK("kll_union_agg", k))
          case _ => throw new IllegalArgumentException(
            "kll_union_agg(sketch[, k]) expects k as an INT literal in " +
              "[8, 65535], got " + args.drop(1).map(_.sql).mkString(", "))
        }
        agg.toAggregateExpression()
      }))
    ext.injectFunction((FunctionIdentifier("kll_get_quantile"),
      info("kll_get_quantile", classOf[graft.functions.KllGetQuantile]),
      (args: Seq[Expression]) =>
        // p casts from any numeric: an undecorated 0.5 parses as
        // DECIMAL(1,1) and would otherwise fail the DOUBLE type check
        graft.functions.KllGetQuantile(args(0),
          Cast(args(1), org.apache.spark.sql.types.DoubleType))))
  }
}
