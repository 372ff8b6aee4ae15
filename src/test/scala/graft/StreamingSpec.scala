package graft

import graft.queries.Registry
import graft.sources.Tables
import graft.streaming.{DocsStreaming, EventsStreaming, Replay}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Streaming/batch equivalence (SURVEY.md §7.5): the windowed streaming
  * aggregation over the bounded events file must produce exactly the
  * batch q16_events_hourly result — same grouping, same exact-integer
  * sums. This is what lets the DuckDB oracle vouch for the streaming
  * semantics too. */
class StreamingSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  /** The hourly aggregate over `src` into a parquet sink at `out`,
    * through the runner q29 uses. */
  private def hourlyToParquet(src: String, out: String): Unit =
    Replay.parquetSink(EventsStreaming.hourlyAgg(
      EventsStreaming.readEventsStream(spark, src)), out, "complete", "overwrite")
      .awaitTermination()

  /** The sf0.001 events as a ts-ordered `chunks`-file replay (one
    * micro-batch per chunk). */
  private def chunkedEvents(chunks: Int) = {
    val dir = Replay.scratchDir("graft_events_chunks")
    Replay.stageChunks(EventsStreaming.eventsFile(spark, sfDir), "ts", chunks, dir)
    EventsStreaming.readChunkDirStream(spark, sfDir, dir)
  }

  test("streaming hourly agg == batch q16 on the bounded source") {
    val q = EventsStreaming.hourlyAgg(EventsStreaming.readEventsStream(spark, sfDir))
      .writeStream.outputMode("complete").format("memory")
      .queryName("events_hourly_test")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("events_hourly_test")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = Registry.queries("q16_events_hourly")(spark, sfDir)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("file-stream source discovers a Spark-written events DIRECTORY (multi part-file)") {
    // regression (round 15, found at sf1): the harness's testdata lays
    // events out as one file, but GenScale benchdata is a Spark-written
    // directory of part files — a symlink to the directory made the
    // file source silently discover ZERO files, run zero micro-batches
    // and leave the sink empty. Rewrite the sf0.001 events as a
    // 3-part-file directory and drive the same source + sink over it:
    // the result must equal the batch q16 answer, not be empty.
    val staged = Replay.scratchDir("graft_events_dirsource").toString
    Tables.events(spark, sfDir).repartition(3)
      .write.parquet(s"$staged/events.parquet")
    val sink = Replay.scratchDir("graft_events_dirsource_sink").toString
    hourlyToParquet(staged, sink)
    val streamed = spark.read.parquet(sink)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = Registry.queries("q16_events_hourly")(spark, sfDir)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("foreachBatch parquet sink lands the same hourly aggregate") {
    val out = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    hourlyToParquet(sfDir, out)
    val sunk = spark.read.parquet(out)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = Registry.queries("q16_events_hourly")(spark, sfDir)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(sunk === batch)
  }

  test("session_window assignment == batch Sessionize twin (per-user session sizes)") {
    // session_window merges on diff < gap (an event at exactly
    // last+gap falls outside [start, last+gap)); Sessionize merges on
    // diff <= gap — so the batch twin runs with gap-1µs.
    val gapUs = 10L * 60 * 1000000
    val streamed = EventsStreaming.userSessions(
        Tables.events(spark, sfDir), "10 minutes")
      .collect()
      .groupBy(_.getLong(2))
      .map { case (u, rs) => u -> rs.map(_.getLong(3)).sorted.toSeq }
    val batch = graft.operators.Sessionize.assign(
        Tables.events(spark, sfDir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id")),
        col("user_id"), col("ts_us"), col("event_id"), gapUs - 1)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (u, rs) => u -> rs.map(_.getLong(2)).sorted.toSeq }
    assert(streamed === batch)
  }

  test("multi-batch replay: hourly agg across >=3 micro-batches == batch q16") {
    // round-10 VERDICT item 6: the single-file source runs ONE
    // micro-batch, which is cross-batch-state-trivially correct. The
    // chunked source forces one batch per time-contiguous chunk, so
    // the aggregation state must carry and merge across batches.
    val q = EventsStreaming.hourlyAgg(chunkedEvents(4))
      .writeStream.outputMode("complete").format("memory")
      .queryName("hourly_multibatch")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.map(_.batchId).distinct
    assert(batches.length >= 3, s"expected >=3 micro-batches, got ${batches.toSeq}")
    val streamed = spark.table("hourly_multibatch")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = Registry.queries("q16_events_hourly")(spark, sfDir)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("multi-batch replay: session windows merge across batches == single-batch twin") {
    // a user's session spanning a chunk boundary arrives in TWO
    // micro-batches — the session store must merge them, not emit two
    // half-sessions. Compare against the same session_window plan run
    // in batch mode (proven equal to the Sessionize twin above).
    val out = java.nio.file.Files.createTempDirectory("graft_mb_sessions").toString
    // the session-merge conf binds to this stream only (set around its
    // start), so the shared test session is left as it was
    val q = Replay.parquetSink(EventsStreaming.userSessions(chunkedEvents(4), "10 minutes"),
      out, "complete", "overwrite", confs = EventsStreaming.mergeSessionsLocally)
    q.awaitTermination()
    val batches = q.recentProgress.map(_.batchId).distinct
    assert(batches.length >= 3, s"expected >=3 micro-batches, got ${batches.toSeq}")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val streamed = key(spark.read.parquet(out))
    val batch = key(EventsStreaming.userSessions(
      Tables.events(spark, sfDir), "10 minutes"))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("checkpoint restart: session query resumes mid-stream and converges to the batch twin") {
    // failure-recovery evidence (round-11, VERDICT item 7): run the
    // session-window query over the FIRST TWO chunks to a checkpoint,
    // stop it (the "crash"), stage the remaining chunks, and restart
    // the same query against the SAME checkpoint + sink. The restarted
    // run must resume from the recorded offsets with its session state
    // RESTORED — if state were lost, the complete-mode rewrite after
    // restart would contain only chunk-3/4 sessions and the final
    // equality against the batch twin would fail.
    val streamDir = Replay.scratchDir("graft_ckpt_chunks")
    val pending = Replay.scratchDir("graft_ckpt_pending")
    val all = Replay.stageChunks(EventsStreaming.eventsFile(spark, sfDir), "ts", 4, pending)
    // phase 1: only chunks 1-2 visible
    all.take(2).foreach { p =>
      java.nio.file.Files.move(p, streamDir.resolve(p.getFileName))
    }
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_loc").toString
    def runOnce(): Long = {
      val q = Replay.parquetSink(EventsStreaming.userSessions(
          EventsStreaming.readChunkDirStream(spark, sfDir, streamDir), "10 minutes"),
        out, "complete", "overwrite", checkpoint = Some(ckpt))
      q.awaitTermination()
      q.recentProgress.map(_.batchId).distinct.length.toLong
    }
    val firstBatches = runOnce() // runs chunks 1-2, commits offsets, stops
    assert(firstBatches >= 2, s"expected >=2 micro-batches before the stop, got $firstBatches")
    // phase 2: the rest of the stream arrives; restart from the checkpoint
    all.drop(2).foreach { p =>
      java.nio.file.Files.move(p, streamDir.resolve(p.getFileName))
    }
    val resumedBatches = runOnce()
    assert(resumedBatches >= 1, "restart processed no new micro-batches")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val streamed = key(spark.read.parquet(out))
    val batch = key(EventsStreaming.userSessions(
      Tables.events(spark, sfDir), "10 minutes"))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming exact dedup: cross-batch suppression, first-arrival state, restart") {
    import spark.implicits._
    def dedupInto(chunks: java.nio.file.Path, out: String,
                  ckpt: Option[String]): Unit =
      Replay.parquetSink(DocsStreaming.dedupDocsStream(spark,
          Replay.readChunks(spark, DocsStreaming.docSchema, chunks)),
        out, "append", "append", checkpoint = ckpt).awaitTermination()
    // fixture: form A appears in chunks 1 and 3, form B twice within
    // chunk 2, forms C/D unique — ids chosen so ntile(3) over id order
    // yields chunks [1,2],[3,4],[5,6]
    val docs = Seq(
      (1L, "alpha text"), (2L, "beta text"),     // chunk 1
      (3L, "gamma text"), (4L, "beta text"),     // chunk 2: B dup (in-batch)
      (5L, "alpha text"), (6L, "delta text"))    // chunk 3: A dup (cross-batch)
      .toDF("doc_id", "text")
    val streamDir = Replay.scratchDir("graft_dd_chunks")
    Replay.stageChunks(docs, "doc_id", 3, streamDir)
    val out = java.nio.file.Files.createTempDirectory("graft_dd_sink").toString
    dedupInto(streamDir, out, None)
    val kept = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().sorted.toSeq
    // in-batch dup keeps the min (2 not 4); cross-batch dup suppressed
    // by carried state (5 never emits)
    assert(kept === Seq(1L, 2L, 3L, 6L), s"got $kept")

    // OUT-OF-ORDER replay: reverse the chunk mtimes — chunk 3 replays
    // first, then 2, then 1. First-arrival now keeps 5 (form A,
    // suppressing 1) and 4 (form B — its chunk-2 copy precedes chunk
    // 1's id-2 copy), the documented stream semantics when arrival
    // order is not id order; the REGISTERED q33 stages id-ordered
    // chunks precisely so first-arrival == min id == the batch oracle
    val streamDir2 = Replay.scratchDir("graft_dd_chunks2")
    val staged = Replay.stageChunks(docs, "doc_id", 3, streamDir2)
    staged.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          1500000000000L + (staged.size - i) * 60000L))
    }
    val out2 = java.nio.file.Files.createTempDirectory("graft_dd_sink2").toString
    dedupInto(streamDir2, out2, None)
    val kept2 = spark.read.parquet(out2).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(kept2 === Seq(3L, 4L, 5L, 6L), s"got $kept2")

    // CHECKPOINT RESTART: run chunks 1-2 to a checkpoint, "crash",
    // stage chunk 3, restart — the restored seen-form state must
    // suppress doc 5 (form A was seen before the crash); losing state
    // would re-emit it
    val pending = Replay.scratchDir("graft_dd_pending")
    val live = Replay.scratchDir("graft_dd_live")
    val all = Replay.stageChunks(docs, "doc_id", 3, pending)
    all.take(2).foreach(p =>
      java.nio.file.Files.move(p, live.resolve(p.getFileName)))
    val out3 = java.nio.file.Files.createTempDirectory("graft_dd_sink3").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dd_ckpt").toString
    dedupInto(live, out3, Some(ckpt))
    all.drop(2).foreach(p =>
      java.nio.file.Files.move(p, live.resolve(p.getFileName)))
    dedupInto(live, out3, Some(ckpt))
    val kept3 = spark.read.parquet(out3).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(kept3 === Seq(1L, 2L, 3L, 6L), s"restart lost dedup state: $kept3")
  }

  test("registered streaming queries keep their micro-batch cadence and telemetry keys") {
    // q29/q31 read the single-file testdata as ONE micro-batch; q33
    // replays 4 id-ordered chunks as 4. The `<tag>.*` keys feed
    // perfbench's streaming.* layer metrics, so the set is pinned too.
    val keys = Set("batches", "codegen_compiles", "state_rows", "state_bytes",
      "state_rows_updated",
      "dur_addBatch", "dur_commitOffsets", "dur_getBatch", "dur_latestOffset",
      "dur_queryPlanning", "dur_triggerExecution", "dur_walCommit")
    for (dir <- Seq(sfDir, java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString);
         (name, tag, batches) <- Seq(("q29_events_stream_sink", "q29", 1L),
           ("q31_sessions_stream_sink", "q31", 1L), ("q33_stream_dedup", "q33", 4L))) {
      Telemetry.drain()
      assert(Registry.queries(name)(spark, dir).count() > 0)
      val t = Telemetry.drain().collect {
        case (k, v) if k.startsWith(s"$tag.") => k.stripPrefix(s"$tag.") -> v
      }
      assert(t.keySet === keys, s"$name at $dir")
      assert(t("batches") === batches, s"$name at $dir")
    }
  }

  test("a second q29 run in one session compiles no code") {
    // Spark caches generated classes per class loader: a stream session
    // that loaded classes through a class loader of its own would
    // recompile the whole stream on every run
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def q29() = Registry.queries("q29_events_stream_sink")(spark, sfDir).count()
    assert(q29() > 0)
    Telemetry.drain()
    val before = compiles
    assert(q29() > 0)
    assert(compiles - before === 0)
    assert(Telemetry.drain().get("q29.codegen_compiles") === Some(0L))
  }

  test("q29/q31/q33 read their sink back with the stream's own schema, inferring none") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.GraftColumnBridge
    // a schema-inference job is a `parquet at` job outside any SQL
    // execution; the sink writes and chunk staging run inside one
    val inferred = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.startsWith("parquet at Replay.scala")) &&
            Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          inferred.incrementAndGet()
    }
    val sc = spark.sparkContext
    for (name <- Seq("q29_events_stream_sink", "q31_sessions_stream_sink", "q33_stream_dedup")) {
      assert(GraftColumnBridge.waitListenerBusEmpty(spark, 30000))
      sc.addSparkListener(listener)
      val df =
        try Registry.queries(name)(spark, sfDir)
        finally {
          assert(GraftColumnBridge.waitListenerBusEmpty(spark, 30000))
          sc.removeSparkListener(listener)
        }
      assert(inferred.getAndSet(0) === 0, s"$name inferred its sink's schema")
      // the read-back is the result plan's only leaf
      val Seq(readBack) = df.queryExecution.analyzed.collectLeaves()
      val sinks = df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.toString)
        .distinct.toSeq
      assert(sinks.length === 1, s"$name: $sinks")
      assert(readBack.schema === spark.read.parquet(sinks.head).schema, name)
    }
  }

  test("q31 leaves the caller's session conf as it was; its stream still merges sessions locally") {
    val key = EventsStreaming.mergeSessionsLocally.keys.head
    val before = spark.conf.getOption(key)
    // the query starts its stream internally: catch the handle when the
    // start event is posted (synchronously, while the query is active)
    var started: Option[StreamingQuery] = None
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started = Option(spark.streams.get(e.id))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try Registry.queries("q31_sessions_stream_sink")(spark, sfDir).collect()
    finally spark.streams.removeListener(listener)
    assert(spark.conf.getOption(key) === before)
    val plan = started.get
      .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    // the local pre-merge adds a MergingSessions below the state-store
    // exchange, on top of the one after the state restore
    assert("MergingSessions".r.findAllIn(plan).size === 2, plan)
  }

  test("replay checkpoints keep checksums and leak no checkpoint-manager conf") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val isolation = "spark.sql.artifact.isolation.enabled"
    assert(spark.conf.getOption(key).isEmpty)
    val isolationBefore = spark.conf.getOption(isolation)
    // each registered query starts its stream internally: catch the
    // handles when the start events are posted (synchronously, while
    // the queries are active)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started.add(spark.streams.get(e.id))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try for (name <- Seq("q29_events_stream_sink", "q31_sessions_stream_sink",
                         "q33_stream_dedup")) {
      assert(Registry.queries(name)(spark, sfDir).count() > 0)
      assert(spark.conf.getOption(key).isEmpty, s"$name left $key set")
      assert(spark.conf.getOption(isolation) === isolationBefore, s"$name changed $isolation")
    } finally spark.streams.removeListener(listener)
    // ... and their streams' own sessions ran with the java.nio manager,
    // without artifact isolation
    val sessions = started.asScala.toSeq.map(_.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.sparkSession.conf)
    assert(sessions.map(_.getOption(key)) ===
      Seq.fill(3)(Some("graft.streaming.NioCheckpointFileManager")))
    assert(sessions.map(_.get(isolation)) === Seq.fill(3)("false"))
    // a durable checkpoint written through the runner still carries
    // Spark's own checksum files (`<file>.crc`, not Hadoop's hidden
    // `.<file>.crc`, which the java.nio manager does not write) for its
    // state files
    val ckpt = java.nio.file.Files.createTempDirectory("graft_crc_ckpt")
    val out = java.nio.file.Files.createTempDirectory("graft_crc_sink").toString
    Replay.parquetSink(EventsStreaming.hourlyAgg(
        EventsStreaming.readEventsStream(spark, sfDir)), out, "complete", "overwrite",
      checkpoint = Some(ckpt.toString)).awaitTermination()
    val files = {
      val walk = java.nio.file.Files.walk(ckpt)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(ckpt.relativize(_).toString).toList
      finally walk.close()
    }
    val sparkCrcs = files.filter { f =>
      val name = java.nio.file.Paths.get(f).getFileName.toString
      name.endsWith(".crc") && !name.startsWith(".")
    }
    assert(sparkCrcs.exists(_.startsWith("state/")), files.sorted.mkString("\n"))
    assert(spark.conf.getOption(key).isEmpty)
    assert(spark.conf.getOption(isolation) === isolationBefore)
  }

  test("session windows produce bounded, ordered sessions") {
    val sessions = EventsStreaming.userSessions(
      graft.sources.Tables.events(spark, sfDir), "10 minutes")
    // batch execution of the streaming plan shape: session_window works
    // in batch mode too — validates the operator without a sink
    val rows = sessions.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.getTimestamp(0).after(r.getTimestamp(1)))
      assert(r.getLong(3) >= 1L)
    }
  }
}
