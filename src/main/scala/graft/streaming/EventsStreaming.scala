package graft.streaming

import graft.functions.ExactNum.cents
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  /** events schema for the legacy TIMESTAMP(NANOS) layout (ts read as
    * nanos long, converted after); see Tables.eventsTsNativeType. */
  private val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // TIMESTAMP(NANOS) surfaced as long
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Same columns with `ts` as a native micros timestamp of the given
    * flavor — TimestampNTZType for the driver's isAdjustedToUTC=false
    * files, TimestampType for Spark-written (GenScale) benchdata. */
  private def eventsNativeSchema(tsType: DataType) = StructType(
    eventsRawSchema.fields.map {
      case f if f.name == "ts" => f.copy(dataType = tsType)
      case f => f
    })

  /** The events files' schema for `dir` and the `ts` normalization the
    * sources apply. readStream requires an explicit schema, so the
    * batch-side schema probe (resolved once per session) decides which
    * ts layout this dir carries (see Tables.events); the cast to session-TZ timestamp is a
    * value-preserving no-op for already-TimestampType files (sessions
    * pin UTC). */
  private def layout(spark: SparkSession, dir: String): (StructType, Column) =
    graft.sources.Tables.eventsTsNativeType(spark, dir) match {
      case Some(tsType) => (eventsNativeSchema(tsType), col("ts").cast("timestamp"))
      case None => (eventsRawSchema, timestamp_micros(expr("ts div 1000")))
    }

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
    val (schema, ts) = layout(spark, dir)
    spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", ts)
  }

  /** The events table as its files lay it out (the streams' schema,
    * before ts normalization): the input `Replay.stageChunks` splits
    * into a multi-batch replay that `readChunkDirStream` reads back.
    * The single-file source above degenerates to one micro-batch,
    * which exercises none of the cross-batch machinery; a ts-ordered
    * chunk replay is what proves watermark advance, session merges
    * ACROSS batches, and carried mapGroupsWithState state. */
  def eventsFile(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(layout(spark, dir)._1).parquet(eventsPath(dir).toString)

  /** One-micro-batch-per-file reader over events chunks staged from
    * `eventsFile`, with the same ts normalization as the other source.
    * `dir` is the ORIGINAL sf dir — it decides the ts layout the
    * staged chunks inherited. */
  def readChunkDirStream(spark: SparkSession, dir: String,
                         streamDir: java.nio.file.Path): DataFrame = {
    val (schema, ts) = layout(spark, dir)
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

  /** Watermarked streaming deduplication: drop events whose event_id
    * reappears within the watermark horizon — the streaming face of the
    * exact-dedup operator (state bounded by the watermark, so memory is
    * O(events per horizon), not O(stream)). Uses
    * dropDuplicatesWithinWatermark so a redelivered id with a restamped
    * timestamp is still deduplicated. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream join: purchases joined to errors of the same user
    * within a ±10-minute event-time band. Both sides watermarked, so
    * join state expires; the time-band condition is what bounds the
    * buffered range. */
  def purchasesNearErrors(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "30 minutes")
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("error_id"))
      .withWatermark("e_ts", "30 minutes")
    purchases.join(errors,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("e_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("purchase_id"), col("error_id"), col("p_user").as("user_id"))
  }

  /** Custom arbitrary state via mapGroupsWithState: per-user running
    * totals (event count + value cents) carried across micro-batches.
    * This is the escape hatch for state machines session_window can't
    * express; here it doubles as the API demonstration, validated in
    * batch-equivalent form by StreamingSpec. */
  case class UserState(userId: Long, nEvents: Long, valueCents: Long)

  def userRunningTotals(spark: SparkSession,
                        events: DataFrame): org.apache.spark.sql.Dataset[UserState] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events
      .select(col("user_id").as("userId"),
        col("event_id"),
        graft.functions.ExactNum.cents(col("value")).as("valueCents"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val prev = state.getOption.getOrElse(UserState(uid, 0L, 0L))
          var n = prev.nEvents
          var v = prev.valueCents
          rows.foreach { r => n += 1; v += r._3 }
          val next = UserState(uid, n, v)
          state.update(next)
          next
      }
  }

  /** flatMapGroupsWithState: zero-or-more outputs per group per batch —
    * here, an alert row the first time a user's running spend crosses
    * the threshold (state remembers both the total and whether the
    * alert already fired, so re-deliveries emit nothing). */
  case class SpendState(totalCents: Long, alerted: Boolean)
  case class SpendAlert(userId: Long, totalCents: Long)

  def spendAlerts(spark: SparkSession, events: DataFrame,
                  thresholdCents: Long): org.apache.spark.sql.Dataset[SpendAlert] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id").as("userId"),
        graft.functions.ExactNum.cents(col("value")).as("valueCents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SpendState, SpendAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[SpendState]) =>
          val prev = state.getOption.getOrElse(SpendState(0L, alerted = false))
          val total = prev.totalCents + rows.map(_._2).sum
          val fire = !prev.alerted && total >= thresholdCents
          state.update(SpendState(total, prev.alerted || fire))
          if (fire) Iterator(SpendAlert(uid, total)) else Iterator.empty
      }
  }

  /** Stateful per-user sessionization via flatMapGroupsWithState-style
    * processing expressed with built-in session windows: events within
    * `gap` of each other form one session (custom state without custom
    * state code — session_window is Catalyst-native and codegen'd). */
  def userSessions(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents"))
      .select(
        col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("value_cents"))
}
