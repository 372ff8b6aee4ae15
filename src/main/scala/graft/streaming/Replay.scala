package graft.streaming

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, ntile}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Bounded replay of a stream through the real Structured Streaming
  * runtime — the one place that decides how the registered streaming
  * queries (q29, q31, q33) stage their input, sink their micro-batches
  * and read the result back:
  *
  *  - `stageChunks` splits a bounded table into time- or id-contiguous
  *    chunk files, and `readChunks` replays them as one micro-batch per
  *    chunk;
  *  - `parquetSink` lands each micro-batch through `foreachBatch` under
  *    an `AvailableNow` trigger (swap the writer for Delta/JDBC in
  *    production);
  *  - `runBounded` runs one such stream into a scratch sink, awaits it,
  *    records its `<tag>.*` state and phase telemetry, and returns the
  *    sink read back as the query result.
  *
  * Trigger, state and sink policy for all three queries change here. */
object Replay {

  /** Scratch directory removed recursively at JVM exit — staged chunks
    * and sinks cannot accumulate across repeated bench/verify runs
    * (each round is its own JVM; within a JVM the sink dir is still
    * live when the lazy read-back executes, so eager deletion is not
    * an option). */
  def scratchDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      if (Files.exists(dir)) {
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    dir
  }

  /** Write `df` as `chunks` single-file parquet chunks, contiguous in
    * `orderCol`, with strictly increasing modification times — the file
    * source dequeues oldest-modified first, so a `maxFilesPerTrigger=1`
    * reader replays them in `orderCol` order. Returns the chunk paths
    * in replay order (specs stage prefixes or permute mtimes).
    *
    * One single-task dynamic-partition write evaluates the upstream
    * plan and the global ntile sort once and emits exactly one file per
    * `__chunk` directory; partitionBy strips `__chunk` from the files. The
    * global sort is test-scale scaffolding: production streams arrive
    * pre-chunked, and nothing downstream depends on how the chunks
    * were made. */
  def stageChunks(df: DataFrame, orderCol: String, chunks: Int,
                  dir: Path): Seq[Path] = {
    require(chunks >= 2, "need at least 2 chunks for a multi-batch replay")
    val stage = scratchDir("graft_chunks_stage").resolve("all")
    df.withColumn("__chunk", ntile(chunks).over(Window.orderBy(col(orderCol))))
      .repartition(1).write.partitionBy("__chunk").parquet(stage.toString)
    (1 to chunks).map { i =>
      val chunkDir = stage.resolve(s"__chunk=$i")
      // an input with fewer rows than chunks leaves high ntile groups
      // EMPTY, with no partition directory to list; fail attributably
      // instead of with an anonymous NoSuchFileException
      require(Files.isDirectory(chunkDir),
        s"stageChunks: chunk $i of $chunks is empty — the input has " +
          "fewer rows than chunks; use fewer chunks or a larger input")
      val part = {
        val ls = Files.list(chunkDir)
        try ls.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally ls.close()
      }
      val target = dir.resolve(f"chunk_$i%03d.parquet")
      Files.move(part, target)
      // strictly increasing mtimes pin the replay order (the source
      // breaks mtime ties by path, but explicit is better than tied)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1500000000000L + i * 60000L))
      target
    }
  }

  /** One-micro-batch-per-file reader over chunks staged by
    * `stageChunks`. One file per micro-batch is the cross-batch
    * contract the chunked replays exercise (fewer batches exercise less
    * of the state machinery, not less data). */
  def readChunks(spark: SparkSession, schema: StructType, dir: Path): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)

  /** Start `stream` into a parquet sink at `outDir`: every micro-batch
    * is written with `saveMode` (complete + overwrite keeps the sink
    * idempotent per batch; append + append accumulates survivors) under
    * an `AvailableNow` trigger, so a bounded source terminates after
    * its last file. `checkpoint` names a durable checkpoint location
    * (restart specs); without one the stream checkpoints to a temporary
    * directory. `confs` are session confs set only around `start()`:
    * the stream clones the session when it starts, so they bind to this
    * stream alone and the caller's values are restored. */
  def parquetSink[T](stream: Dataset[T], outDir: String, outputMode: String,
                     saveMode: String, checkpoint: Option[String] = None,
                     confs: Map[String, String] = Map.empty): StreamingQuery = {
    val writer = stream.writeStream
      .outputMode(outputMode)
      .foreachBatch { (batch: Dataset[T], _: Long) =>
        batch.write.mode(saveMode).parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
    checkpoint.foreach(cp => writer.option("checkpointLocation", cp))
    val conf = stream.sparkSession.conf
    val prev = confs.map { case (k, v) => val p = conf.getOption(k); conf.set(k, v); k -> p }
    try writer.start()
    finally prev.foreach { case (k, p) => p.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Run one bounded stream to completion and return what it sank:
    * `start` receives a fresh scratch sink dir and starts the stream
    * into it; the run is awaited, its telemetry recorded under `tag`,
    * and the sink read back (lazily — the dir lives until JVM exit). */
  def runBounded(spark: SparkSession, tag: String)(
      start: String => StreamingQuery): DataFrame = {
    val sink = scratchDir(s"graft_${tag}_sink").toString
    val q = start(sink)
    q.awaitTermination()
    recordStateTelemetry(tag, q)
    spark.read.parquet(sink)
  }

  /** State-store and phase telemetry for a completed bounded run, into
    * `Telemetry` (which Bench drains into its per-query JSON):
    *  - `<prefix>.state_rows` / `.state_bytes`: the FINAL state size,
    *    i.e. the cross-batch carry;
    *  - `<prefix>.state_rows_updated`: state rows updated across batches;
    *  - `<prefix>.batches`: the data-bearing micro-batch count;
    *  - `<prefix>.dur_<phase>`: each `durationMs` phase (planning,
    *    state commit, sink addBatch, …) summed across micro-batches —
    *    bounded runs are fixed-cost dominated, and these say which
    *    phase carries that cost. */
  private def recordStateTelemetry(prefix: String, q: StreamingQuery): Unit = {
    val ps = q.recentProgress.toSeq
    val withState = ps.filter(_.stateOperators.nonEmpty)
    withState.lastOption.foreach { last =>
      graft.Telemetry.record(s"$prefix.state_rows",
        last.stateOperators.map(_.numRowsTotal).sum)
      graft.Telemetry.record(s"$prefix.state_bytes",
        last.stateOperators.map(_.memoryUsedBytes).sum)
      graft.Telemetry.record(s"$prefix.state_rows_updated",
        withState.flatMap(_.stateOperators).map(_.numRowsUpdated).sum)
    }
    graft.Telemetry.record(s"$prefix.batches", ps.count(_.numInputRows > 0))
    import scala.jdk.CollectionConverters._
    ps.flatMap(_.durationMs.asScala).groupBy(_._1).foreach { case (k, vs) =>
      graft.Telemetry.record(s"$prefix.dur_$k", vs.map(_._2.longValue()).sum)
    }
  }
}
