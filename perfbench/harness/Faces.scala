package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** A fixed, named list of `graft.SparkEntry.queries` faces in two
  * groups (heavy, floor), run in seed-shuffled sweeps — every face runs
  * before any face repeats — with each result checked against the
  * stored DuckDB-oracle hash in faces.txt. */
object Faces {
  final case class Face(group: String, name: String, rows: Long, sha: String)

  val Sweeps = 3
  /** Timed bulk loads of the `orders` source in set-up; load_rows_per_s
    * is their median. */
  val LoadReps = 3

  /** faces.txt: `<group> <name> <rows> <sha256>` per line, # comments. */
  def load(path: String): Seq[Face] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map { case Array(g, n, r, s) => Face(g, n, r.toLong, s) }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val faces = load(ctx.args.faces)
    val fns = graft.SparkEntry.queries
    val data = ctx.args.data
    var attempted = 0L
    var failed = 0L
    // a face's time covers building its DataFrame (some faces compute
    // eagerly there) and collecting the result
    def exec(f: Face): (Array[Row], Seq[String], Double) = {
      val ((rows, cols), ms) = ctx.time {
        val df = fns(f.name)(spark, data)
        (df.collect(), df.columns.toSeq)
      }
      (rows, cols, ms)
    }
    def check(f: Face, rows: Array[Row], cols: Seq[String]): Unit = {
      attempted += 1
      val sha = Canon.hash(cols, rows)
      if (rows.length != f.rows || sha != f.sha) {
        failed += 1
        System.err.println(s"[perfbench] ${f.name}: ${rows.length} rows $sha, " +
          s"oracle ${f.rows} rows ${f.sha}")
      }
    }

    // warm pass: each face once (builds the catalog fixtures, JIT,
    // codegen)
    faces.foreach { f =>
      try { val (rows, cols, ms) = exec(f); check(f, rows, cols)
        System.err.println(f"[perfbench] warm ${f.name}%-28s $ms%9.1f ms") }
      catch { case e: Exception => attempted += 1; failed += 1
        System.err.println(s"[perfbench] ${f.name} failed in warm-up: $e") }
    }
    // bulk-load throughput: the orders source loaded LoadReps times into
    // a fresh table keyed o_orderkey with lineitem's fixed splits (the
    // same order-key space); the last one stays for stored_bytes_per_row
    val src = spark.read.parquet(s"$data/orders.parquet")
    src.createOrReplaceTempView("orders_src")
    val ddl = src.schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    val table = s"graft.${Lineitem.Ns}.orders_load"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.${Lineitem.Ns}")
    val loadMs = (0 until LoadReps).map { i =>
      if (i > 0) spark.sql(s"DROP TABLE $table")
      spark.sql(s"CREATE TABLE $table ($ddl) TBLPROPERTIES('keyCols'='o_orderkey', " +
        s"'regionSplits'='${Lineitem.Splits}')")
      ctx.time(spark.sql(s"INSERT INTO $table SELECT * FROM orders_src"))._2
    }
    val (bytes, rows) = Storage.bytesAndRows(ctx.tableDir(Lineitem.Ns, "orders_load"))
    attempted += 1
    if (rows != src.count()) {
      failed += 1
      System.err.println(s"[perfbench] orders_load holds $rows rows, source ${src.count()}")
    }
    loadMs.zipWithIndex.foreach { case (ms, i) => ctx.info(s"setup_load_${i}_ms", ms) }
    // the warm pass's garbage is collected before, not inside, the timed window
    System.gc()
    val setupS = ctx.sinceJvmStart()
    ctx.phase("warm")

    val rng = new scala.util.Random(ctx.args.seed)
    val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    faces.foreach(f => times(f.name) = mutable.ArrayBuffer())
    val layers = new FaceLayers(ctx)
    val all = mutable.ArrayBuffer[Double]()
    val gc0 = ctx.gcMs()
    val t0 = System.nanoTime()
    var op = 0
    for (s <- 0 until Sweeps; f <- rng.shuffle(faces)) {
      try {
        val (rows, cols, ms) =
          if (ctx.tracer.on && s % 2 == 0) layers.run(op, f.name, () => fns(f.name)(spark, data))
          else exec(f)
        times(f.name) += ms
        all += ms
        check(f, rows, cols)
      } catch { case e: Exception => attempted += 1; failed += 1
        System.err.println(s"[perfbench] ${f.name} failed: $e") }
      op += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcMs = ctx.gcMs() - gc0
    ctx.phase("timed")
    val med = times.map { case (n, xs) => n -> Stats.median(xs.toSeq) }
    med.foreach { case (n, m) => System.err.println(f"[perfbench] face $n%-28s $m%9.1f ms") }
    val heavy = faces.filter(_.group == "heavy").map(f => med(f.name))
    val heap = ctx.heapLiveMb()
    // faces differ in size, so the cold-start witness is per face: its
    // first timed run over its median, geometric mean over faces
    ctx.info("first_run_over_median", Stats.geomean(times.values.map(xs => xs.head / Stats.median(xs.toSeq)).toSeq))
    ctx.info("face_runs", all.size)

    if (!ctx.args.trace) Result(attempted, failed, Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", Stats.geomean(med.values.toSeq), "ms"),
      ("op_tail_ms", heavy.sum, "ms"),
      ("read_p50_ms", Stats.median(med.values.toSeq), "ms"),
      ("ops_per_s", all.size / wallS, "1/s"),
      ("load_rows_per_s", rows / (Stats.median(loadMs) / 1e3), "rows/s"),
      ("stored_bytes_per_row", bytes.toDouble / rows, "B"),
      ("heap_live_mb", heap, "MB")))
    else {
      // traced sweeps alternate with untraced ones; overhead compares
      // each face's traced and untraced runs
      val ratios = faces.map { f =>
        val xs = times(f.name)
        val tr = xs.indices.filter(_ % 2 == 0).map(xs)
        val un = xs.indices.filter(_ % 2 == 1).map(xs)
        Stats.median(tr) / Stats.median(un)
      }
      Result.layers(attempted, failed, (layers.metrics(faces.map(_.name), med) ++ Seq(
        "jvm.gc_ms" -> gcMs,
        "trace.overhead_pct" -> (Stats.geomean(ratios) - 1) * 100)).toSeq)
    }
  }
}

/** Per-face planning time, jobs and shuffle bytes for traced sweeps. */
final class FaceLayers(ctx: Ctx) {
  private val plan = mutable.ArrayBuffer[Double]()
  private val jobs = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
  private val shuffle = mutable.ArrayBuffer[Double]()

  def run(op: Int, name: String, face: () => org.apache.spark.sql.DataFrame)
      : (Array[Row], Seq[String], Double) = {
    val ((rows, cols), ms) = ctx.time(ctx.tracer.op(op, s"face $name") {
      val df = face()
      plan += ctx.tracer.span("plan")(Plans.planMs(df))
      (df.collect(), df.columns.toSeq)
    })
    val c = ctx.tracer.counters(op)
    jobs.getOrElseUpdate(name, mutable.ArrayBuffer()) += c.jobs
    shuffle += c.shuffleWriteBytes / 1048576.0
    (rows, cols, ms)
  }

  def metrics(names: Seq[String], med: collection.Map[String, Double])
      : Seq[(String, Double)] = {
    val j = names.map(n => n -> Stats.median(jobs(n).toSeq))
    Seq(
      "catalog.plan_ms" -> Stats.median(plan.toSeq),
      "sched.jobs_per_face" -> Stats.mean(j.map(_._2)),
      "exchange.shuffle_mb_per_face" -> Stats.mean(shuffle.toSeq)) ++
      names.map(n => s"operators.face.${n}_ms" -> med(n)) ++
      j.map { case (n, v) => s"sched.face.${n}_jobs" -> v }
  }
}

/** Canonical result hash — the same encoding as tools/check.py's
  * canon_hash, so a stored DuckDB-oracle hash can be compared with a
  * Spark result: values by sorted column name joined by 0x01, rows
  * sorted as UTF-8 bytes, SHA-256 over rows joined by '\n'. */
object Canon {
  private val TsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS")
    .withZone(ZoneOffset.UTC)

  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case c if c < ' ' || ",[]{}=".indexOf(c) >= 0 => f"\\x${c.toInt}%02x"
    case c => c.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "d:NaN"
    else f"d:${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"

  def value(v: Any): String = v match {
    case null => "n:"
    case b: java.lang.Boolean => if (b) "b:true" else "b:false"
    case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
              _: java.lang.Long) => s"i:$n"
    case f: java.lang.Float => dbl(f.toDouble)
    case d: java.lang.Double => dbl(d)
    case d: java.math.BigDecimal => s"D:${d.toPlainString}"
    case d: scala.math.BigDecimal => s"D:${d.bigDecimal.toPlainString}"
    case s: String => s"s:${esc(s)}"
    case d: java.sql.Date => s"dt:$d"
    case d: LocalDate => s"dt:$d"
    case t: java.sql.Timestamp => s"ts:${TsFmt.format(t.toInstant)}"
    case t: Instant => s"ts:${TsFmt.format(t)}"
    case t: LocalDateTime => s"ts:${TsFmt.format(t.atOffset(ZoneOffset.UTC))}"
    case b: Array[Byte] => "x:" + b.map(x => f"$x%02x").mkString
    case a: scala.collection.Seq[_] => a.map(value).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("{", ",", "}")
    case other => s"s:${esc(other.toString)}"
  }

  def hash(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.indices.sortBy(cols)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001").getBytes(UTF_8))
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
    val md = MessageDigest.getInstance("SHA-256")
    lines.zipWithIndex.foreach { case (l, i) => if (i > 0) md.update('\n'.toByte); md.update(l) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
