package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end training-data curation: the composition a 100 TB corpus
  * actually runs, as one lazy plan —
  *
  *   exact dedup (canonical-hash survivor)
  *     → fuzzy near-dup drop (df-capped shingle Jaccard)
  *     → language + quality gate
  *     → deterministic train/val/test split
  *
  * Every stage is an existing operator (Dedup / TextAnalysis), so the
  * whole pass inherits their scale properties: narrow per-row
  * transforms, one hash shuffle for exact dedup, a bounded
  * inverted-index join for near-dups (never all-pairs, hot shingles
  * capped), zero RNG state anywhere.
  *
  * Materialization policy (round-11 REVERSAL, measured): the
  * exact-dedup survivor set is consumed by TWO branches (the
  * shingle/near-dup pipeline and the anti-join's left side), and
  * exchange reuse does NOT reliably cover the shared subtree — the
  * same failure class the round-10 Components fix closed. A
  * four-rung same-window A/B (benchlogs_r11/d12ckpt.log +
  * d12ckpt_small.log, runs 2-3 per stage) measured persisting the
  * survivors at MEMORY_AND_DISK vs recomputing:
  *   sf0.1  wall −5%  (CPU +41% — cache-build overhead dominates)
  *   sf1    wall −25% (CPU −2%)
  *   sf10   wall −7%  (CPU −34%)
  *   sf30   wall −30% (CPU −25%)
  * Persist never loses wall across a 300× scale span and wins CPU
  * from sf10 up, so `curate` always persists (the round-8 "4 s recompute
  * vs 11 s persisted" sf0.1 reading did not reproduce under the
  * hardened same-JVM protocol). The cache is corpus-survivor-sized,
  * spills under memory pressure by construction, and is released by
  * `spark.catalog.clearCache()` or session end.
  *
  * Near-dup drop policy: a document is dropped iff it is Jaccard-similar
  * (≥ threshold over the capped shingle universe) to ANY smaller-id
  * document, surviving or not — the deterministic keep-smallest rule
  * (doc_id2-side of every pair), not transitive clustering and not
  * survivor chaining, so the result is order-independent and exactly
  * mirrorable in SQL.
  */
object CorpusPipeline {

  private[operators] val DefaultMinQuality = 0.3

  def curate(docs: DataFrame,
             jaccardThreshold: Double = 0.6,
             maxDocFreq: Int = 100,
             minQuality: Double = DefaultMinQuality): DataFrame = {
    val exact = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nearDupIds = Dedup
      .jaccardPairs(Dedup.postings(exact, "doc_id", "text"),
        jaccardThreshold, maxDocFreq)
      .select(col("doc_id2").as("doc_id"))
      .distinct()
    // merge hint: the drop list is Θ(duplicate docs) — linear in corpus
    // size at constant dup density — and its static size estimate is
    // post-aggregation (unreliably small), so without the hint the
    // planner commits it to a broadcast that AQE can never demote
    // (same failure class as the jaccardPairs cardinality joins,
    // which died on the 8 GiB broadcast limit at sf3). Sort-merge
    // degrades linearly instead of erroring at some corpus size.
    // Round-9 note: hint("shuffle_hash") was A/B-measured here as a
    // sort-free alternative and is 3-4× SLOWER at both bench decades
    // (benchlogs_r9/d12_shufflehash.log vs d12_stages.log s5) — the
    // single-partition hash build of the whole drop list loses to the
    // sort AQE can split — so merge stays.
    gate(exact.hint("merge").join(nearDupIds, Seq("doc_id"), "left_anti"),
      "text", minQuality)
  }

  /** The tail every curation ends with, over the near-dup survivors:
    * keep English documents (`langIdHeuristic`) scoring at least
    * `minQuality`, then tag each with its deterministic `hashSplit`.
    * `PairIndex.curateFromIndex` runs the same gate over the index's
    * survivors, which is what keeps the two row-identical. */
  private[operators] def gate(survivors: DataFrame, textCol: String,
                              minQuality: Double): DataFrame =
    survivors
      .filter(TextAnalysis.langIdHeuristic(col(textCol)) === "en")
      .filter(TextAnalysis.qualityScore(col(textCol)) >= minQuality)
      .withColumn("split",
        TextAnalysis.hashSplit(TextAnalysis.textHash(col(textCol))))
}
