package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` table.
  *
  * The reference has no streaming surface at all (SURVEY §2.8) — this is
  * the extension goal: watermarked event-time windows, session windows,
  * streaming dedup, and custom state via flatMapGroupsWithState, all
  * expressed so the same code runs on a file stream (tests) or any
  * streaming source at cluster scale (state is partitioned by key;
  * watermarks bound state size).
  */
object EventStreams {

  /** Batch DataFrame → file-backed streaming DataFrame with the same
    * schema (ts normalized to a µs timestamp). The file source reads a
    * directory, so it streams `sfDir` filtered to the one events file. */
  def asStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = graft.operators.T(spark, sfDir, "events").schema
    val df = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // withWatermark refuses TIMESTAMP_NTZ; normalize to session-TZ
        // timestamp (UTC in all graft sessions → identical micros).
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Tumbling 1-hour windowed aggregation with a 2-hour watermark:
    * late data beyond the watermark is dropped; state is bounded. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Sliding window (2h / 1h slide). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"))

  /** Session windows per user with a 30-minute gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming face of the batch dedup operators. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  // ------------------------------------------------ custom state (FMGWS)

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserRun(user_id: Long, n: Long, total: Double)

  /** Custom per-key state: running count/sum per user, emitted on every
    * trigger via flatMapGroupsWithState (the mapGroupsWithState surface
    * of SURVEY §2.8's extension plan). */
  def userRunningTotals(spark: SparkSession, events: DataFrame)
      : Dataset[UserRun] = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRun, UserRun](
        OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[UserRun]) =>
          val prev = state.getOption.getOrElse(UserRun(uid, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { e => n += 1; total += e.value }
          val next = UserRun(uid, n, total)
          state.update(next)
          Iterator(next)
      }
  }

  /** Watermarked stream-stream interval join: every click paired with
    * the same user's views in the preceding 30 minutes. Both sides carry
    * watermarks so join state is bounded (late rows beyond 1 h dropped) —
    * the streaming face of the batch as-of/range joins in
    * [[graft.operators.Extended]]. */
  def clickViewJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id"))
      .withWatermark("c_ts", "1 hour")
    clicks.join(views, expr(
      """c_user = v_user AND
        |v_ts BETWEEN c_ts - INTERVAL 30 MINUTES AND c_ts""".stripMargin))
      .select(col("event_id"), col("c_user").as("user_id"),
        col("c_ts"), col("v_ts"))
  }

  /** Streaming ingest into a graft catalog table: each micro-batch runs
    * the table's shuffled, sorted bulk append (foreachBatch → V2
    * write), i.e. continuous bulk load into the key-sorted store. */
  def streamIntoTable(spark: SparkSession, events: DataFrame,
      tableFqn: String): Unit = {
    val q = events.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.writeTo(tableFqn).append()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Run any of the above to completion against the file-backed stream
    * and return the final result as a batch DataFrame (memory sink). */
  def runToBatch(spark: SparkSession, streamed: DataFrame, name: String,
      outputMode: String = "append"): DataFrame = {
    val q = streamed.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }
}
