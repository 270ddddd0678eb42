package graft

import org.apache.spark.sql.SparkSession

/** The one session profile: every entry point (`Bench`, `Verify`, `Shell`,
  * `ScaleBench`, the tests) builds its session from [[builder]].
  * It sets only what differs from Spark's defaults; the defaults the code
  * relies on (AQE, its 1m coalesce floor, storage-partitioned joins with
  * partition-value pushdown) are pinned by `GraftSessionSpec`.
  * `SPARK_GRAFT_CONF` (`k=v;k=v`) is applied last, so any setting can be
  * overridden per run without a rebuild. */
object GraftSession {
  /** Local cores and shuffle width: `SPARK_GRAFT_CPUS`, else 4. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def builder(appName: String, cpus: Int = defaultCpus,
      master: Option[String] = None,
      warehouse: Option[String] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
    settings(appName, cpus, master, warehouse,
      sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** The profile as (key, value) pairs in the order they are applied:
    * a later pair wins, and the `overrides` entries come last. */
  private[graft] def settings(appName: String, cpus: Int,
      master: Option[String], warehouse: Option[String],
      overrides: String): Seq[(String, String)] =
    Seq(
      "spark.master" -> master.getOrElse(s"local[$cpus]"),
      "spark.app.name" -> appName,
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      // events.ts drifts between testdata generations: TIMESTAMP(NANOS)
      // reads only as a long (which `Relational`'s `ev` normalizes), and
      // µs TIMESTAMP with isAdjustedToUTC=false must read as TIMESTAMP,
      // not TIMESTAMP_NTZ (withWatermark rejects NTZ)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      // The sf0.1 tables are single ~10-60 MB parquet files, so the 128 MB
      // default makes every scan 1 partition and serializes scan-side
      // compute (JSON parse, array kernels) on one core. 4 MB splits the
      // corpus to >= 8 tasks per table at sf0.1; a cluster deployment
      // reading >= 128 MB files keeps the default.
      "spark.sql.files.maxPartitionBytes" -> "4m",
      // The JVM-wide generated-code cache defaults to 100 entries, sized
      // for a service re-running one query shape: on the 223-query board
      // every query's stages evicted the previous ones and every pass
      // re-paid codegen + janino compilation (~200-800 ms per stage).
      // 4096 entries hold the whole board (full-board A/B: 86.1 s ->
      // 62.4 s). It bounds compiled-class count, not data.
      "spark.sql.codegen.cache.maxEntries" -> "4096"
    ) ++ warehouse.toSeq.flatMap(w => Seq(
      "spark.sql.catalog.graft" -> "graft.catalog.GraftCatalog",
      "spark.sql.catalog.graft.warehouse" -> w)
    ) ++ overrides.split(';').toSeq.map(_.split("=", 2)).collect {
      case Array(k, v) => k.trim -> v.trim // an entry without `=` is skipped
    }
}
