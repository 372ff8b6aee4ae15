package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Streaming exact deduplication over the documents table — the
  * cross-batch bridge between the streaming family (q29-q31's chunked
  * file-replay harness) and the dedup family (d02/d12's canonical-form
  * exact dedup): a continuously-ingesting corpus keeps ONE copy per
  * canonical text form across micro-batches, with the seen-form set as
  * explicit operator state.
  *
  * Shape (registered as q33): documents replay as id-ordered chunk
  * files (one micro-batch per chunk, the q29 harness pattern), each
  * row keyed by `TextAnalysis.textHash` (md5 of the
  * whitespace-normalized text — the same canonical form every exact
  * dedup in the engine uses), then
  * `groupByKey(canonical).flatMapGroupsWithState`: a batch's rows for
  * an UNSEEN form emit exactly the smallest-id row and mark the form
  * seen; rows for a seen form emit nothing. Because the replay chunks
  * are id-ordered, the first-arriving copy of a form IS its global
  * minimum id, so the bounded run's sink equals the batch
  * `Dedup.dropExactDuplicates` answer row-for-row — which is what
  * gives the STREAMING RUNTIME (state store, cross-batch carry,
  * append-mode emission) an exact DuckDB oracle. StreamingSpec
  * additionally drives an out-of-order replay (where first-arrival ≠
  * min id) and a checkpoint-restart to pin the state semantics
  * themselves.
  *
  * Scale notes: state is one boolean per DISTINCT canonical form —
  * the minimum any exact-dedup-over-a-stream can carry; keys are md5
  * digests so state size is corpus-shaped, not text-shaped. Unlike
  * `dropDuplicatesWithinWatermark` (the EventsStreaming face, state
  * bounded by a time horizon), corpus dedup is exact-forever by
  * contract: bound state at 100 TB by sharding the stream on the key
  * (state partitions by the groupByKey exchange already) and by
  * periodic state-store compaction. The foreachBatch parquet append
  * is at-least-once on retry; production sinks make the append
  * transactional per batchId (the q29 scaladoc's Delta/JDBC swap).
  */
object DocsStreaming {

  case class DocIn(doc_id: Long, text: String, k: String)
  case class DocKept(doc_id: Long, text: String)

  /** Write (doc_id, text) as `chunks` id-contiguous single-file parquet
    * chunks with strictly increasing mtimes — the documents twin of
    * `EventsStreaming.stageEventChunks` (ntile over a global id sort:
    * test-scale scaffolding; production streams arrive pre-chunked).
    * Exposed so specs can stage prefixes / permuted orders. */
  def stageDocChunks(spark: SparkSession, docs: DataFrame, chunks: Int,
                     streamDir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    require(chunks >= 2, "need at least 2 chunks for a multi-batch replay")
    val scratch = EventsStreaming.tempDirDeletedOnExit("graft_doc_chunks_stage")
    // ONE partitioned write instead of one filter+write job per chunk
    // (round-19, same change as stageEventChunks): the per-chunk loop
    // re-executed the upstream pipeline (for q33 that is the 3-branch
    // injection union) AND the global ntile sort once per chunk; a
    // single-task dynamic-partition write evaluates both once and
    // emits exactly one file per __chunk directory. Chunk contents are
    // identical; partitionBy strips __chunk from the files like the
    // old drop("__chunk").
    val chunked = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .withColumn("__chunk", ntile(chunks).over(Window.orderBy(col("doc_id"))))
    val stage = scratch.resolve("all")
    chunked.repartition(1).write.partitionBy("__chunk").parquet(stage.toString)
    (1 to chunks).map { i =>
      val chunkDir = stage.resolve(s"__chunk=$i")
      // same empty-chunk guard as stageEventChunks (ADVICE round-19):
      // rows < chunks leaves high ntile groups without a partition
      // directory — fail attributably, not with NoSuchFileException
      require(java.nio.file.Files.isDirectory(chunkDir),
        s"stageDocChunks: chunk $i of $chunks is empty — the input has " +
          "fewer rows than chunks; use fewer chunks or a larger input")
      val part = {
        val ls = java.nio.file.Files.list(chunkDir)
        try ls.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally ls.close()
      }
      val target = streamDir.resolve(f"chunk_$i%03d.parquet")
      java.nio.file.Files.move(part, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1500000000000L + i * 60000L))
      target
    }
  }

  /** One-micro-batch-per-file reader over staged (doc_id, text) chunks.
    * One file per micro-batch is the cross-batch-suppression contract
    * the q33 oracle pin exercises (fewer batches exercise less of the
    * state machinery, not less data). */
  def readDocChunkStream(spark: SparkSession,
                         streamDir: java.nio.file.Path): DataFrame =
    spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)

  /** Cross-batch exact dedup: emit the smallest-id row the FIRST time a
    * canonical form appears (within-batch minimum via one pass over the
    * group's rows); suppress every later copy via the carried seen
    * state. Append-mode emission — survivors stream out as they are
    * decided, nothing is retracted. */
  def dedupDocsStream(spark: SparkSession, docs: DataFrame): Dataset[DocKept] = {
    import spark.implicits._
    docs
      .select(col("doc_id"), col("text"),
        TextAnalysis.textHash(col("text")).as("k"))
      .as[DocIn]
      .groupByKey(_.k)
      .flatMapGroupsWithState[Boolean, DocKept](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[DocIn], seen: GroupState[Boolean]) =>
          if (seen.exists) Iterator.empty
          else {
            val first = rows.minBy(_.doc_id)
            seen.update(true)
            Iterator.single(DocKept(first.doc_id, first.text))
          }
      }
  }

  /** Stage + replay + dedup into a parquet sink (q33's runtime path).
    * Append per micro-batch: survivors accumulate across batches; the
    * bounded AvailableNow run terminates after the last chunk. */
  def runDedupToParquetSink(spark: SparkSession, docs: DataFrame,
                            outDir: String, chunks: Int): StreamingQuery = {
    val streamDir = EventsStreaming.tempDirDeletedOnExit("graft_doc_chunks")
    stageDocChunks(spark, docs, chunks, streamDir)
    runDedupFromChunkDir(spark, streamDir, outDir, None)
  }

  /** The replay half, over an already-staged chunk dir — exposed so the
    * checkpoint-restart spec can stop after a prefix and resume. */
  def runDedupFromChunkDir(spark: SparkSession,
                           streamDir: java.nio.file.Path, outDir: String,
                           checkpointDir: Option[String]): StreamingQuery = {
    val writer = dedupDocsStream(spark, readDocChunkStream(spark, streamDir))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[DocKept], _: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
    checkpointDir.foreach(cp => writer.option("checkpointLocation", cp))
    writer.trigger(Trigger.AvailableNow()).start()
  }
}
