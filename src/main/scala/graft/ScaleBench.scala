package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{T, TextOps}

/** Scaling-curve bench: amplifies the provided sf parquet tables by an
  * integer factor (key-shifted replicas — every value derives from the
  * driver-generated data, no synthesis) into an sf-dir-shaped
  * directory, builds the SAME catalog tables through the same builders
  * the normal queries use, and times the heavy query family at both
  * scales. The point is measured evidence for the 100-TB question:
  * does each plan's runtime grow ~linearly with data (scans, verified
  * near-dup) or stay flat (pruned lookups), and does any shape go
  * super-linear (a shuffle or build that would bite at 1000×)?
  *
  * Usage: `runMain graft.ScaleBench [srcSfDir] [workDir] [factor]`
  * (defaults: /root/testdata/sf0.1, /tmp/graft_sf1, 10 — i.e. an
  * sf≈1 equivalent). Prints one JSON line per measured scale, with each
  * query's seconds and [[Ledger]] row. `SPARK_GRAFT_ONLY` selects queries
  * as in [[Bench]]; `SPARK_GRAFT_SCREEN_ONLY` runs the screen family
  * alone.
  */
object ScaleBench {

  /** Replicate `src` `factor`× with per-replica shifts added to the id
    * columns in `shifts` (column → per-replica stride). Stride choice
    * keeps replicas disjoint: max(id)+1 of the source. */
  private def amplify(s: SparkSession, src: DataFrame, factor: Int,
      shifts: Map[String, Long]): DataFrame = {
    val reps = s.range(factor).select(col("id").as("_rep"))
    val amplified = src.crossJoin(reps)
    val cols = src.columns.map { c =>
      shifts.get(c) match {
        case Some(stride) => (col(c) + col("_rep") * stride).as(c)
        case None => col(c)
      }
    }
    amplified.select(cols.toIndexedSeq: _*)
  }

  private def stride(s: SparkSession, dir: String, table: String,
      col0: String): Long =
    T(s, dir, table)
      .agg(max(col(col0))).head.getLong(0) + 1L

  /** Write the amplified table layout (skips tables already present,
    * so repeated runs pay generation once). */
  def generate(s: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    new File(outDir).mkdirs()
    // strides come from the SOURCE data so foreign keys stay aligned:
    // a replica's lineitem rows reference exactly that replica's
    // orders/part/supplier rows
    lazy val kOrder = stride(s, srcDir, "orders", "o_orderkey")
    lazy val kCust = stride(s, srcDir, "customer", "c_custkey")
    lazy val kPart = stride(s, srcDir, "part", "p_partkey")
    lazy val kSupp = stride(s, srcDir, "supplier", "s_suppkey")
    lazy val kUser = stride(s, srcDir, "events", "user_id")
    lazy val kDoc = stride(s, srcDir, "documents", "doc_id")
    lazy val kVec = stride(s, srcDir, "embeddings", "vec_id")
    lazy val kEvent = stride(s, srcDir, "events", "event_id")
    val plans: Seq[(String, () => Map[String, Long])] = Seq(
      "orders" -> (() => Map("o_orderkey" -> kOrder, "o_custkey" -> kCust)),
      "lineitem" -> (() => Map("l_orderkey" -> kOrder,
        "l_partkey" -> kPart, "l_suppkey" -> kSupp)),
      "customer" -> (() => Map("c_custkey" -> kCust)),
      "supplier" -> (() => Map("s_suppkey" -> kSupp)),
      "part" -> (() => Map("p_partkey" -> kPart)),
      "events" -> (() => Map("event_id" -> kEvent, "user_id" -> kUser)),
      "documents" -> (() => Map("doc_id" -> kDoc)),
      "embeddings" -> (() => Map("vec_id" -> kVec)),
      // dimension tables stay as-is (TPC-H scales facts, not nations)
      "nation" -> (() => Map.empty),
      "region" -> (() => Map.empty))
    plans.foreach { case (t, shifts) =>
      val target = s"$outDir/$t.parquet"
      if (!new File(target).exists()) {
        val src = T(s, srcDir, t)
        val f = if (shifts().isEmpty) 1 else factor
        amplify(s, src, f, shifts()).write.parquet(target)
        System.err.println(s"[scale] generated $t x$f")
      }
    }
  }

  /** The heavy family: every co-partitioned TPC-H shape plus the
    * exchange-free sessionization. `catalog_dedup_minhash` is NOT here
    * — its doc_id<1000 bound (an oracle-tractability parameter) pins
    * the subcorpus size, so it cannot scale by construction. */
  private val Heavy = Seq("catalog_tpch_q3", "catalog_tpch_q5",
    "catalog_tpch_q10", "catalog_tpch_q17", "catalog_tpch_q18",
    "catalog_tpch_q21", "events_session",
    // exchange-free latest-wins read off fixed key splits: with zero
    // key shuffle left, the sort+window should scale ~with data
    "catalog_upsert_latest",
    // WAP preview (main + staged regions off the branch ladder): the
    // branch resolution is O(staged metadata), so the preview should
    // cost the same as the equivalent plain scan at every scale
    "catalog_wap",
    // the metadata-resolved faces: TopN plans only head/tail regions
    // and the CDC delta is a manifest diff — both should stay ~flat
    // while the data scales 10x (the point of resolving them from the
    // manifest rather than the data)
    "catalog_topn", "catalog_changes",
    // materialized-view read: re-aggregates the stored partials (a
    // handful of rows per group), so it should stay flat while the
    // base fact table scales 10x — the summary-table claim itself
    "catalog_mview",
    // bigram-LM scoring: model agg + probe join, both keyed by bigram —
    // replicas multiply counts uniformly, so the workload scales
    // cleanly even on the amplified corpus
    "text_perplexity",
    // DSIR selection: same bigram-model shape as perplexity (two
    // vocab-bounded count aggs + one scoring join) plus a TakeOrdered
    // top-100 — replicas multiply both models' counts uniformly, so
    // the amplified corpus is representative here too
    "pipeline_dsir",
    // sketch-then-verify heavy hitters: replicas multiply every token
    // count uniformly, so the answer set is unchanged while the sketch
    // pass scales with tokens — both passes should grow ~linearly
    "text_heavy_hitters",
    // tf-idf: map-side tf kernel + vocabulary-keyed df + per-doc top-k
    // window; replicas multiply df uniformly and duplicate docs, so
    // output grows xfactor without artifact blow-up
    "text_tfidf",
    // k-bounded per-stratum sample: map-side partial agg forwards <=k
    // pairs per stratum per task — should stay well under data growth
    "pipeline_reservoir",
    // token-budget curation: one global range-partitioned sort over
    // xfactor docs — the sort is the scaling question
    "pipeline_budget",
    // resample is user_id<10-pruned at the scan: the pushed filter
    // should keep it ~flat while events scale 10x
    "events_resample",
    // BM25 retrieval, both faces: the parquet face re-scans the corpus
    // (tf kernel + tiny broadcast stats — should grow ~linearly); the
    // catalog face reads the persisted postings index region-pruned to
    // the query terms, so it should grow only with those terms'
    // posting lists (well under data growth)
    "text_bm25", "catalog_bm25",
    // phrase match, same contrast: scan face re-reads the corpus,
    // index face point-reads the two terms' positional postings
    "text_phrase", "catalog_phrase",
    // A-Res weighted draw: k-bounded partial agg per stratum — the
    // exchange is O(strata·k·tasks), should stay ~flat like reservoir
    "pipeline_weighted",
    // Q4's storage-partitioned semi join + Q7's fact-fact join with
    // two broadcast nation aliases: the round-9 additions to the
    // co-partitioned family
    "catalog_tpch_q4", "catalog_tpch_q7",
    // round-9's late event-analytics faces: funnel/transitions/cohort
    // are one pass + one narrow aggregation over events (the catalog
    // twins ride the (user_id, ts) key layout exchange-free), so all
    // five should grow ~linearly or less with events — amplified
    // replicas are disjoint user populations, so per-user window work
    // is unchanged and only row volume grows
    "events_funnel", "catalog_funnel", "events_transitions",
    "catalog_transitions", "events_cohort",
    // fused lexical+vector retrieval: the parquet face re-scans corpus
    // and embeddings (~linear); the catalog face reads term-pruned
    // postings + the same ANN top-k, so it should grow well under
    // data growth
    "ann_hybrid_rrf", "catalog_hybrid_rrf",
    // the round-13 TPC-H completion (everything the testdata's columns
    // can express exactly): q6 scan+agg, q8/q9 wide stars on the
    // co-partitioned full-width lineitem, q13 left-join histogram,
    // q14 conditional share, q15 top supplier, q22 anti join
    "catalog_tpch_q6", "catalog_tpch_q8", "catalog_tpch_q9",
    "catalog_tpch_q13", "catalog_tpch_q14", "catalog_tpch_q15",
    "catalog_tpch_q22",
    // bitmap exact-distinct + HLL sketch face: replicas key-shift
    // l_partkey/l_orderkey, so the distinct counts (and bitmap bucket
    // counts) genuinely grow ~xfactor — the bucket partials should keep
    // the exchange tiny and the whole face ~linear-or-less
    "agg_approx_distinct",
    // KLL percentile face: the sketch readout is O(partials) like
    // catalog_mview, but the face also recomputes the EXACT gate
    // median over the base (a per-group window sort) — the gate side
    // is the scaling cost, the sketch side is the flat claim
    "catalog_mview_kll",
    // exact percentiles (sketch-bracket-refine): both bounded passes
    // scan the column, so the face should grow ~linearly; the r12/r13
    // fused refine stays engaged at 10x (slice bound 8·(n/acc+1)·|ps|
    // ≈ 96k ≤ the 1M fuse limit at n = 6M) — the distributed branch's
    // equivalence is pinned by QuantilesSpec at fuseLimit = 0
    "agg_percentile_exact")
  // dedup_edit and dedup_incoming are deliberately NOT amplified:
  // key-shifted replicas make every title/document an exact dup
  // family, so their OUTPUT grows ~factor² by construction (same
  // reason catalog_dedup_minhash is excluded) — their scaling evidence
  // is the natural sf0.01 → sf0.1 pair in BASELINE.md instead.

  /** The UNBOUNDED verified near-dup pipeline (idBound=None): whole
    * corpus through signatures → 32-band LSH → exact verify. Measured
    * on the DRIVER-GENERATED corpora at two natural scales
    * (sf0.01 → sf0.1), NOT on the amplified dir: key-shifted replicas
    * carry byte-identical texts, so amplification would make every doc
    * an exact cross-replica duplicate — band buckets densify ×factor
    * and candidate pairs blow up ×factor², a replication artifact, not
    * the corpus's scaling behavior. */
  private val NearDup: (SparkSession, String) => DataFrame = (s, d) =>
    TextOps.minhashVerifiedPairs(
      T(s, d, "documents"), idBound = None)

  /** Exact substring dedup shares NearDup's constraint: byte-identical
    * replicas would make EVERY W-token window corpus-duplicated (count
    * ≥ factor), so the amplified dir measures a replication artifact,
    * not the pipeline. Measured on the natural sf0.01 → sf0.1 corpora
    * instead — window count grows ~10×, so the fingerprint shuffle and
    * run merge should grow ~linearly. */
  private val SubstringDedup: (SparkSession, String) => DataFrame =
    (s, d) => TextOps.substringDedup(
      T(s, d, "documents"))

  /** Winnowing fingerprint extraction, UNBOUNDED: a pure map-side pass
    * (per-document selection, no shuffle at all), so it is safe on the
    * AMPLIFIED corpus — byte-identical replicas change nothing about
    * per-doc work — and should scale ~linearly with wall-clock well
    * under data growth (32 lanes absorb it). */
  private val WinnowFull: (SparkSession, String) => DataFrame = (s, d) =>
    TextOps.winnowFingerprints(T(s, d, "documents"))

  /** MOSS pair detection shares NearDup's replication caveat (replicas
    * share every fingerprint → pairs blow up ×factor², an artifact), so
    * it measures on the natural sf0.01 → sf0.1 corpora. */
  private val WinnowPairs: (SparkSession, String) => DataFrame = (s, d) =>
    TextOps.winnowPairs(T(s, d, "documents"))

  /** Duplication-density-preserving amplifier for the dedup/screen
    * family. Key-shifted replicas carry byte-identical texts, so every
    * doc becomes an exact cross-replica duplicate and pair counts blow
    * up ×factor² — a replication artifact. Instead, each replica gets a
    * per-replica TOKEN BIJECTION: every space-delimited word w becomes
    * w+"~r<rep>". Appending one fixed suffix to all of a replica's
    * words is injective, so within-replica word sets, set sizes, and
    * word-shingle Jaccard are EXACTLY the base corpus's (the pipelines
    * hash whole space-delimited tokens); across replicas the token
    * vocabularies are disjoint, so cross-replica similarity is zero.
    * Net: the true near-dup pair set is exactly factor× the base's —
    * output density per doc is preserved, which is the property the
    * screen/band measurements need. Replica 0 stays verbatim. Only
    * documents is amplified; the other tables symlink to the source
    * (the screen family reads nothing else). */
  def generateRenamedDocs(s: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    new File(outDir).mkdirs()
    val target = s"$outDir/documents.parquet"
    if (!new File(target).exists()) {
      val src = T(s, srcDir, "documents")
      val kDoc = stride(s, srcDir, "documents", "doc_id")
      val reps = s.range(factor).select(col("id").as("_rep"))
      src.crossJoin(reps).select(
        (col("doc_id") + col("_rep") * kDoc).as("doc_id"),
        when(col("_rep") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("~r"), col("_rep").cast("string"))), " "))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
        // many files, like any real corpus layout: the base sf0.1
        // parquet is ONE file, and a single-split amplified corpus
        // serializes the whole map side onto one core (observed: the
        // ×10 ingest screen pinned 1 of 32 lanes for 35+ min) —
        // with `GraftSession`'s 4m maxPartitionBytes the splits
        // actually fan out
        .repartition(32)
        .write.parquet(target)
      System.err.println(s"[scale] generated renamed documents x$factor")
    }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings").foreach { t =>
      val link = java.nio.file.Paths.get(outDir, s"$t.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(srcDir, s"$t.parquet"))
    }
  }

  /** The screen/band family measured on the renamed amplifier: the
    * ingest screen both faces (parquet recompute and persisted band
    * index + stored corpus) and the full-corpus band pipeline through
    * the catalog store (the unbounded twin of catalog_dedup_minhash —
    * its driver face pins doc_id<1000 for oracle tractability, so the
    * face itself cannot scale by construction). */
  private val Screen: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(
      "dedup_incoming" -> SparkEntry.queries("dedup_incoming"),
      "catalog_dedup_incoming" ->
        SparkEntry.queries("catalog_dedup_incoming"),
      "catalog_dedup_minhash_full" ->
        ((s, d) => graft.operators.CatalogQueries
          .dedupMinhashOnStoreFull(s, d)),
      "dedup_minhash_full" -> NearDup)

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder("graft-scalebench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ledger = new Ledger(spark)
    // times `qs` on `d` (min of `timed` passes) and prints one line with
    // each query's seconds and ledger row
    def emit(tag: String, d: String, timed: Int,
        qs: Seq[(String, (SparkSession, String) => DataFrame)])
        : Map[String, Double] = {
      val r = ledger.measure(qs, d, timed)()
      def obj(f: Pass => String) =
        Ledger.jsonObject(r.map { case (k, p) => k -> f(p) })
      if (r.nonEmpty)
        println(s"""{"metric":"scale_$tag","queries":${obj(_.seconds.toString)},""" +
          s""""dir":"$d","ledger":${obj(_.row.json)}}""")
      r.map { case (k, p) => k -> p.seconds }.toMap
    }
    // SPARK_GRAFT_SCREEN_ONLY: a dedicated screen/band-family capture
    // in a fresh JVM — base = the factor-1 renamed corpus so BOTH
    // sides share the 32-file layout (the source sf0.1 corpus is one
    // parquet file = one input split, which serializes the map side
    // and makes base-vs-scaled wall ratios meaningless), and nothing
    // else runs first (a long mixed-section run was observed to
    // degrade late-section times ~4x — heap/GC pollution, not data).
    val screenOnly = sys.env.contains("SPARK_GRAFT_SCREEN_ONLY")
    def picked(qs: Seq[(String, (SparkSession, String) => DataFrame)]) =
      qs.filter(t => !screenOnly && Ledger.selected(t._1))
    val heavy = picked(Heavy.map(n => n -> SparkEntry.queries(n)))
    // winnow extraction on the amplified corpus (map-side; replica-safe)
    val wQ = picked(Seq("text_winnow_full" -> WinnowFull))
    // the key-shifted amplification covers every table — skip it when
    // the filter selects none of its consumers (e.g. a screen-family
    // pass at factor 100 needs only the renamed documents corpus)
    if (heavy.nonEmpty || wQ.nonEmpty) generate(spark, srcDir, workDir, factor)
    val base = emit("base", srcDir, 2, heavy)
    val scaled = emit(s"x$factor", workDir, 2, heavy)
    val wBase = emit("winnow_base", srcDir, 2, wQ)
    val wBig = emit(s"winnow_x$factor", workDir, 2, wQ)
    // near-dup curve on driver corpora (see NearDup); one timed run —
    // the pipeline is tens of seconds, contention noise is <10% there
    val ndQ = picked(Seq("dedup_minhash_full" -> NearDup,
      "dedup_substring_full" -> SubstringDedup,
      "dedup_winnow_full" -> WinnowPairs,
      // the dedup-at-ingest screen, both faces, at natural corpus
      // scales — output (true match pairs) grows ~100× at 10× docs on
      // this corpus, so the cost-per-emitted-match is the honest
      // scaling statistic (BASELINE.md carries it)
      "dedup_incoming" -> SparkEntry.queries("dedup_incoming"),
      "catalog_dedup_incoming" ->
        SparkEntry.queries("catalog_dedup_incoming")))
    val smallDir = srcDir.replace("sf0.1", "sf0.01")
    val ndBase = emit("neardup_base", smallDir, 1, ndQ)
    val ndBig = emit("neardup_x10", srcDir, 1, ndQ)
    // screen/band family on the duplication-density-preserving
    // amplifier (token-bijection replicas, see generateRenamedDocs):
    // base = the source corpus (or, screen-only, its factor-1 renaming),
    // scaled = factor× renamed replicas — true pair output grows exactly
    // ×factor, so time/factor is the honest scaling statistic
    val scrQ = Screen.filter(t => Ledger.selected(t._1))
    val scrDir = s"${workDir}_nd_x1"
    if (screenOnly) generateRenamedDocs(spark, srcDir, scrDir, 1)
    val renamedDir = s"${workDir}_nd_x$factor"
    if (scrQ.nonEmpty) generateRenamedDocs(spark, srcDir, renamedDir, factor)
    val scrBase = emit("screen_base", if (screenOnly) scrDir else srcDir, 1, scrQ)
    val scrBig = emit(s"screen_x$factor", renamedDir, 1, scrQ)
    val all = (base.keys.map(k =>
        k -> (base(k), scaled(k))) ++
      ndQ.map { case (k, _) => k -> (ndBase(k), ndBig(k)) } ++
      scrQ.map { case (k, _) => s"amp_$k" -> (scrBase(k), scrBig(k)) } ++
      wQ.map { case (k, _) => k -> (wBase(k), wBig(k)) })
      .toMap
    val ratios = Ledger.jsonObject(all.toSeq.sortBy(_._1).map {
      case (k, (b, s2)) => k -> (if (b > 0) s2 / b else -1.0).toString })
    println(s"""{"metric":"scale_ratio","factor":$factor,"queries":$ratios}""")
    spark.stop()
  }
}
