package graft.streaming

import graft.functions.ExactNum.cents
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming over the `events` table (SURVEY.md §7.5 — the
  * reference has no streaming; this is the harness-driven extension).
  *
  * Design: the streaming aggregation is the SAME logical shape as the
  * batch query q16_events_hourly — tumbling window + per-type counters —
  * so batch results oracle-check the streaming semantics, and
  * `foreachBatch` lands increments into the curated layer. Watermarking
  * bounds state: late events beyond 30 minutes are dropped, so state
  * size is O(active windows × types), independent of stream length —
  * the property that matters at 100 TB/day.
  */
object EventsStreaming {

  private def eventsPath(dir: String) =
    java.nio.file.Paths.get(dir, "events.parquet").toAbsolutePath

  /** Streaming source over the events parquet (file-stream source; in
    * production this is Kafka/rate — same DataFrame downstream). The
    * FileStreamSource requires a directory of FILES: the driver's
    * testdata lays events out as a single file next to the other
    * tables, while Spark-written benchdata (GenScale) is a directory
    * of part files — and the source does NOT recurse into a linked
    * subdirectory (it would silently discover zero files, run zero
    * micro-batches and leave the sink empty; found at sf1 in round
    * 15). So stage symlinks into a scratch directory: the file itself,
    * or each part file when the source is a directory. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsPath(dir)
    val streamDir = Replay.scratchDir("graft_events_stream")
    if (java.nio.file.Files.isDirectory(src)) {
      var staged = 0L
      val ls = java.nio.file.Files.list(src)
      try ls.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach { p =>
          java.nio.file.Files.createSymbolicLink(
            streamDir.resolve(p.getFileName), p.toAbsolutePath)
          staged += 1
        }
      finally ls.close()
      // A nested/partitioned layout (part files one level down) would
      // recreate the silent zero-file discovery this staging fixes —
      // fail loudly instead of streaming nothing (round-15 ADVICE).
      require(staged > 0,
        s"no first-level *.parquet files to stage under $src — " +
          "unsupported events layout for the file-stream source")
    } else
      java.nio.file.Files.createSymbolicLink(streamDir.resolve("events.parquet"), src)
    val (schema, ts) = Tables.eventsLayout(spark, dir)
    spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", ts)
  }

  /** The events table as its files lay it out (the streams' schema,
    * before ts normalization): the input `Replay.stageChunks` splits
    * into a multi-batch replay that `readChunkDirStream` reads back.
    * The single-file source above degenerates to one micro-batch,
    * which exercises none of the cross-batch machinery; a ts-ordered
    * chunk replay is what proves watermark advance and session merges
    * ACROSS batches. */
  def eventsFile(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Tables.eventsLayout(spark, dir)._1)
      .parquet(eventsPath(dir).toString)

  /** One-micro-batch-per-file reader over events chunks staged from
    * `eventsFile`, with the same ts normalization as the other source.
    * `dir` is the ORIGINAL sf dir — it decides the ts layout the
    * staged chunks inherited. */
  def readChunkDirStream(spark: SparkSession, dir: String,
                         streamDir: java.nio.file.Path): DataFrame = {
    val (schema, ts) = Tables.eventsLayout(spark, dir)
    Replay.readChunks(spark, schema, streamDir).withColumn("ts", ts)
  }

  /** Tumbling 1-hour windowed aggregation with a 30-minute watermark —
    * the streaming twin of q16_events_hourly. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("value_cents"))
      .select(
        col("window.start").as("hour"),
        col("event_type"), col("n_events"), col("value_cents"))

  /** Pre-merge sessions within each input partition before the state
    * shuffle — the session-window analog of map-side partial
    * aggregation (off by default in Spark; measured 2x+ on the q31
    * pipeline, and the win grows with events-per-session at scale).
    * Stream-start confs for `Replay.parquetSink`, so the caller's
    * session keeps its own value. */
  val mergeSessionsLocally: Map[String, String] = Map(
    "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition" -> "true")

  /** Stateful per-user sessionization with built-in session windows:
    * events within `gap` of each other form one session (custom state
    * without custom state code — session_window is Catalyst-native and
    * codegen'd). */
  def userSessions(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents"))
      .select(
        col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("value_cents"))
}
