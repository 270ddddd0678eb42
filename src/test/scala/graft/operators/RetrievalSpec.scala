package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Semantic gates for the round-9 retrieval / sampling / edit-distance
  * faces: each blocked or kernel-accelerated path must equal an
  * independent brute-force or window formulation recomputed in-suite.
  * (Cross-engine value parity is covered by the DuckDB oracle gate.)
  */
class RetrievalSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  test("dedup_edit equals brute-force levenshtein over all title pairs") {
    val titles = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        concat_ws(" ",
          slice(filter(split(col("text"), " "), w => w =!= ""), 1, 5))
          .as("t"))
    val brute = titles.as("a")
      .crossJoin(titles.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", levenshtein(col("a.t"), col("b.t")))
      .filter(col("dist") <= 2)
      .select(col("a.doc_id"), col("b.doc_id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val blocked = TextOps.dedupEdit(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blocked == brute,
      s"blocked=${blocked.size} brute=${brute.size} " +
        s"missed=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
  }

  test("deletion-variant recall: a 2-edit mutation is always blocked " +
    "with its source") {
    // hand-mutated copies exercising each edit kind: delete, insert,
    // substitute, and a 2-op combination
    val base = "spark scan join"
    val muts = Seq("sprk scan join", "spark sscan join", "spark scan23 join",
      "park scan joinx")
    val rows = (base +: muts).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
    import spark.implicits._
    val df = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = tempDir("graft_editrec").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = TextOps.dedupEdit(spark, tmp)
      .filter(col("da") === 0)
      .collect().map(_.getLong(1)).toSet
    assert(pairs == Set(1L, 2L, 3L, 4L), s"got $pairs")
  }

  test("randomized recall: 300 random <=2-edit mutations are always " +
    "blocked with their source (FastSS pigeonhole, kernel-hashed)") {
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefgh "
    def mutate(s: String, ops: Int): String = {
      var t = s
      (1 to ops).foreach { _ =>
        val kind = rnd.nextInt(3)
        val i = if (t.isEmpty) 0 else rnd.nextInt(t.length)
        val c = alphabet(rnd.nextInt(alphabet.length))
        t = kind match {
          case 0 if t.nonEmpty => t.substring(0, i) + t.substring(i + 1)
          case 1 => t.substring(0, i) + c + t.substring(i)
          case _ if t.nonEmpty =>
            t.substring(0, i) + c + t.substring(i + 1)
          case _ => c.toString
        }
      }
      t
    }
    val cases = (1 to 300).map { _ =>
      val n = 8 + rnd.nextInt(20)
      val base = (1 to n).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
      (base, mutate(base, 1 + rnd.nextInt(2)))
    }
    import spark.implicits._
    val miss = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        size(array_intersect(
          VectorOps.deletionVariantHashes(col("a"), 2),
          VectorOps.deletionVariantHashes(col("b"), 2))).as("shared"),
        levenshtein(col("a"), col("b")).as("d"))
      .filter(col("d") <= 2 && col("shared") === 0)
      .limit(3).collect()
    assert(miss.isEmpty,
      s"mutation not blocked with its source: ${miss.mkString(" | ")}")
  }

  test("prefix-restricted recall: variants of the 15-char prefixes still " +
    "block every <=2-edit pair of FULL strings (SymSpell prefix indexing)") {
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(31)
    val alphabet = "abcdefgh "
    def mutate(s: String, ops: Int): String = {
      var t = s
      (1 to ops).foreach { _ =>
        val kind = rnd.nextInt(3)
        val i = if (t.isEmpty) 0 else rnd.nextInt(t.length)
        val c = alphabet(rnd.nextInt(alphabet.length))
        t = kind match {
          case 0 if t.nonEmpty => t.substring(0, i) + t.substring(i + 1)
          case 1 => t.substring(0, i) + c + t.substring(i)
          case _ if t.nonEmpty =>
            t.substring(0, i) + c + t.substring(i + 1)
          case _ => c.toString
        }
      }
      t
    }
    // strings LONGER than the prefix cut, so edits land on both sides
    // of it; plus targeted boundary cases (indels straddling char 15)
    val cases = (1 to 500).map { _ =>
      val n = 16 + rnd.nextInt(20)
      val base = (1 to n).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
      (base, mutate(base, 1 + rnd.nextInt(2)))
    } ++ Seq(
      ("abcdefghabcdefghabcdefgh", "cdefghabcdefghabcdefgh"),   // 2 dels at front
      ("abcdefghabcdefghabcdefgh", "xyabcdefghabcdefghabcdefgh"), // 2 ins at front
      ("abcdefghabcdefghabcdefgh", "abcdefghabcdefXhabcdefgh"),  // sub at cut
      ("abcdefghabcdefghabcdefgh", "abcdefghabcdefgXhabcdefgh")) // ins at cut
    import spark.implicits._
    val miss = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        size(array_intersect(
          VectorOps.deletionVariantHashes(substring(col("a"), 1, 15), 2),
          VectorOps.deletionVariantHashes(substring(col("b"), 1, 15), 2)))
          .as("shared"),
        levenshtein(col("a"), col("b")).as("d"))
      .filter(col("d") <= 2 && col("shared") === 0)
      .limit(3).collect()
    assert(miss.isEmpty,
      s"prefix cut broke recall: ${miss.mkString(" | ")}")
  }

  test("pipeline_weighted equals the window-rank formulation") {
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("key9").desc, col("doc_id").asc)
      spark.read.parquet(s"$sf/documents.parquet")
        .withColumn("w", (col("n_chars") / 4).cast("long") + 1)
        .withColumn("u",
          (pmod(col("doc_id") * lit(2654435761L), lit(1000000007L)) + 1) /
            lit(1000000008.0))
        .withColumn("key9",
          floor(pow(col("u"), lit(1.0) / col("w")) * 1e9 + 0.5).cast("long"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("doc_id"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    }
    val viaMinK = TextOps.weightedSample(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaMinK == viaWindow)
  }

  test("weighted draw prefers heavy documents: uniform weights change " +
    "the drawn set") {
    // With all weights forced equal the draw must reduce to plain
    // hash-order sampling — i.e. the weight genuinely participates.
    import org.apache.spark.sql.expressions.Window
    def draw(weight: org.apache.spark.sql.Column): Set[Long] = {
      val w = Window.orderBy(col("key9").desc, col("doc_id").asc)
      spark.read.parquet(s"$sf/documents.parquet")
        .withColumn("w", weight)
        .withColumn("u",
          (pmod(col("doc_id") * lit(2654435761L), lit(1000000007L)) + 1) /
            lit(1000000008.0))
        .withColumn("key9",
          floor(pow(col("u"), lit(1.0) / col("w")) * 1e9 + 0.5).cast("long"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10).collect().map(_.getAs[Long]("doc_id")).toSet
    }
    val weighted = draw((col("n_chars") / 4).cast("long") + 1)
    val uniform = draw(lit(1L))
    assert(weighted != uniform)
  }

  test("bm25 kernel tf path equals an explode-based recompute") {
    val qTerms = Seq("vector", "join", "stream")
    val viaExplode = {
      val tok = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"),
          explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
        .filter(col("w").isInCollection(qTerms))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
      tok.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    val viaKernel = {
      val arr = array(qTerms.map(lit): _*)
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"),
          explode(filter(graft.functions.VectorOps.wordTfPairs(col("text")),
            p => array_contains(arr, p.getField("w")))).as("p"))
        .select(col("doc_id"), col("p.w"), col("p.tf").cast("long"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    assert(viaKernel == viaExplode)
  }

  test("bm25 top-10 is deterministic and scored descending; a doc with " +
    "more query-term hits outranks a same-length doc with fewer") {
    val top = TextOps.bm25(spark, sf).collect()
    assert(top.length == 10)
    val scores = top.map(_.getDouble(1))
    assert(scores.sameElements(scores.sortBy(-_)))
    // determinism across two runs
    val again = TextOps.bm25(spark, sf).collect()
    assert(top.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("catalog_bm25 from the persisted postings index equals the " +
    "full-scan parquet face, and the term lookup prunes regions") {
    val viaIndex = CatalogQueries.queries("catalog_bm25")(spark, sf)
    val got = viaIndex.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = TextOps.bm25(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"index=$got full=$want")
    // the 3-term IN-list must reach only the regions holding those
    // terms, not the full 8-region postings table
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p match {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => Seq(b)
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => scans(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(qs.plan)
        case other => other.children.flatMap(scans)
      }
    val postScans = scans(viaIndex.queryExecution.executedPlan)
      .filter(_.toString.contains("documents_t_fts"))
    assert(postScans.nonEmpty, "expected a documents_t_fts scan")
    assert(postScans.head.inputRDD.getNumPartitions < 8,
      s"expected region pruning on the term IN-list, got " +
        s"${postScans.head.inputRDD.getNumPartitions} of 8")
  }

  test("postings index maintained incrementally (insert the delta's " +
    "rows, add the counters) equals the full-scan BM25") {
    import graft.functions.VectorOps
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val hist = all.filter(col("doc_id") < 300)
    val delta = all.filter(col("doc_id") >= 300)
    spark.sql("DROP TABLE IF EXISTS graft.r9inc.postings")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.r9inc")
    spark.sql(
      """CREATE TABLE graft.r9inc.postings (
        |  term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT,
        |  pos ARRAY<INT>)
        |TBLPROPERTIES('keyCols'='term;doc_id', 'numRegions'='4')"""
        .stripMargin)
    // initial build, then the refresh: ONLY the delta is tokenized
    TextOps.postingRows(hist).createOrReplaceTempView("r9inc_hist")
    spark.sql("INSERT INTO graft.r9inc.postings SELECT * FROM r9inc_hist")
    TextOps.postingRows(delta).createOrReplaceTempView("r9inc_delta")
    spark.sql("INSERT INTO graft.r9inc.postings SELECT * FROM r9inc_delta")
    // stats as exact adding counters (what text_stats_c_t persists)
    def cnt(df: org.apache.spark.sql.DataFrame) = df.agg(
      count(lit(1)).as("n"),
      sum(size(filter(split(col("text"), " "), w => w =!= ""))
        .cast("long")).as("t")).collect()(0)
    val (h, dta) = (cnt(hist), cnt(delta))
    val nDocs = h.getLong(0) + dta.getLong(0)
    val totalDl = h.getLong(1) + dta.getLong(1)
    val stats = spark.range(1).select(
      lit(nDocs).as("n_docs"),
      (lit(totalDl).cast("double") / lit(nDocs)).as("avgdl"))
    val posts = spark.table("graft.r9inc.postings")
      .filter(col("term").isin("vector", "join", "stream"))
      .select(col("doc_id"), col("dl"), col("term").as("w"), col("tf"))
    val viaIndex = TextOps.bm25ScoreOf(posts, stats)
      .orderBy(col("score").desc, col("doc_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = TextOps.bm25(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == full, s"incremental=$viaIndex full=$full")
    spark.sql("DROP TABLE graft.r9inc.postings")
  }

  test("leakage-safe split: no near-dup cluster straddles train/test, " +
    "and every verified near-dup pair lands on one side") {
    val assigned = TextOps.splitSafe(spark, sf)
    val straddlers = assigned.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(straddlers.count() == 0)
    // the property the per-doc split CANNOT give: verified pairs stay
    // together
    val side = assigned.select(col("doc_id"), col("split"))
    val pairs = TextOps.queries("dedup_minhash_pairs")(spark, sf)
      .select(col("da"), col("db"))
    val crossSide = pairs
      .join(side.withColumnRenamed("doc_id", "da")
        .withColumnRenamed("split", "sa"), "da")
      .join(side.withColumnRenamed("doc_id", "db")
        .withColumnRenamed("split", "sb"), "db")
      .filter(col("sa") =!= col("sb"))
    assert(crossSide.count() == 0)
    // both sides are non-trivially populated
    val splits = assigned.groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.getOrElse("train", 0L) > 0 &&
      splits.getOrElse("test", 0L) > 0, s"got $splits")
  }

  test("hybrid RRF fuses both arms: every fused score is the exact " +
    "1/(60+rank) sum of the arms' recomputed ranks") {
    // recompute each arm's rank list independently
    val lex = TextOps.bm25Scores(spark, sf)
      .filter(col("doc_id") =!= 0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(50).collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap
    val q = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val vec = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("sim", round(
        graft.functions.VectorOps.cosine(col("embedding"), col("qv")), 4))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(50).collect().map(_.getAs[Long]("vec_id")).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap
    val fused = TextOps.hybridRrf(spark, sf).collect()
    assert(fused.nonEmpty)
    fused.foreach { r =>
      val id = r.getLong(0)
      val expect = lex.get(id).map(rk => 1.0 / (60 + rk)).getOrElse(0.0) +
        vec.get(id).map(rk => 1.0 / (60 + rk)).getOrElse(0.0)
      assert(math.abs(r.getDouble(1) - expect) < 5e-7,
        s"doc $id: got ${r.getDouble(1)}, expect $expect")
    }
  }
}
