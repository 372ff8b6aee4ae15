package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Streaming exact deduplication over the documents table — the
  * cross-batch bridge between the streaming family (q29-q31's chunked
  * file-replay harness) and the dedup family (d02/d12's canonical-form
  * exact dedup): a continuously-ingesting corpus keeps ONE copy per
  * canonical text form across micro-batches, with the seen-form set as
  * explicit operator state.
  *
  * Shape (registered as q33): documents replay as id-ordered chunk
  * files through `Replay` (one micro-batch per chunk), each
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
  * a watermarked `dropDuplicatesWithinWatermark` (state bounded by a
  * time horizon), corpus dedup is exact-forever by
  * contract: bound state at 100 TB by sharding the stream on the key
  * (state partitions by the groupByKey exchange already) and by
  * periodic state-store compaction. The foreachBatch parquet append
  * is at-least-once on retry; production sinks make the append
  * transactional per batchId (`Replay.parquetSink`'s Delta/JDBC swap).
  */
object DocsStreaming {

  case class DocIn(doc_id: Long, text: String, k: String)
  case class DocKept(doc_id: Long, text: String)

  /** The (doc_id, text) layout q33 stages with `Replay.stageChunks`
    * and replays with `Replay.readChunks`. */
  val docSchema: StructType = StructType.fromDDL("doc_id LONG, text STRING")

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
}
