package graft.operators

import graft.Telemetry
import graft.etl.Layout
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Materialized candidate-pair index — the compute-once/join-many
  * protocol a 100 TB dedup run actually uses (round-11, VERDICT item
  * 2).
  *
  * In the per-query registry, d12/d13/d18/d21 (and e07 on the vector
  * side) each re-run candidate-pair generation from the raw corpus —
  * correct and self-contained, but pair generation is 96-98% of each
  * query's wall, so the suite pays the same dominant stage four times.
  * At corpus scale nobody does that: the shingle→Jaccard pair index is
  * computed ONCE per corpus snapshot, written bucketed, and every
  * downstream consumer (drop-list curation, cluster assignment,
  * cluster-best selection, incremental dedup) JOINS the artifact.
  *
  * Four artifacts per generation, as a real pipeline maintains
  * between runs, all bucketed with the same count:
  *  - `survivorsTable`: exact-dedup survivors, bucketed+sorted by the
  *    doc id. (Pair generation runs over survivors — clustering exact
  *    duplicates is pointless, and their identical shingle sets would
  *    only inflate per-shingle document frequencies toward the df-cap.)
  *  - `postingsTable`: `Dedup.postings` (doc_id, s: long) of the
  *    survivors, bucketed by `s`. They make EXACT incremental
  *    advance possible (`advanceDocIndex`): without them, a batch that
  *    moves a shingle's df across the cap would need the whole corpus
  *    re-shingled to rescore the affected pairs.
  *  - `dfTable`: per-shingle df DELTA rows (s: long, cnt: long),
  *    bucketed by `s`; a shingle's df is `sum(cnt)`. Advances append
  *    ±counts instead of rewriting, and reading it is a bucket-local
  *    aggregation over ~|distinct shingles| rows, not a recount of the
  *    postings.
  *  - `pairsTable`: `Dedup.jaccardPairs` over the written
  *    postings (the exact universe d07/d12 pin against DuckDB),
  *    bucketed+sorted by `doc_id2` — the key the hottest consumer (the
  *    curation drop list → anti join) probes with.
  *
  * Because survivors and pairs are bucketed with the SAME bucket count
  * on their join keys, the drop-list consumer plans with ZERO exchanges:
  * the bucketed scans already satisfy the distinct's and the anti
  * join's distribution requirements (asserted by PairIndexSpec). At
  * 1000 executors that is the difference between re-shuffling the
  * corpus per consumer and a per-bucket local merge.
  *
  * Consumers mirror the registered queries' semantics over the
  * survivor universe; `curateFromIndex` is hash-pinned against the
  * d12 DuckDB oracle end-to-end via the registered
  * `d28_pair_index_curation` query.
  */
object PairIndex {

  /** A set of standing catalog tables materialized together. */
  sealed trait Artifact { def tables: Seq[String] }

  /** Catalog table names of one index generation: the four artifacts
    * above, every one always present. */
  final case class DocIndex(survivorsTable: String, pairsTable: String,
                            postingsTable: String, dfTable: String) extends Artifact {
    def tables: Seq[String] = Seq(survivorsTable, pairsTable, postingsTable, dfTable)
  }

  val SurvivorsBase = "graft_pair_survivors"
  val PairsBase = "graft_pair_index"
  val PostingsBase = "graft_pair_postings"
  val DfBase = "graft_pair_df"
  val CorpusHashesBase = "graft_corpus_hashes"
  val CorpusPostingsBase = "graft_corpus_postings"

  /** Canonical-hash column stored IN the survivors artifact (round-15,
    * VERDICT item 5): the advance's exact-dedup decision probes the
    * corpus by canonical hash, and deriving that hash at advance time
    * meant re-reading and re-hashing every survivor's TEXT on every
    * daily advance — measured as the single biggest corpus-coupled
    * advance phase at sf30 (~4 s of md5 over 1.5M docs per advance; at
    * 100 TB it is a full corpus text scan per day for a value that
    * never changes). Stored once at materialize, the probe reads a
    * 32-byte column with the text pruned out of the scan entirely. */
  val HashCol = "graft_h"

  // per-JVM tag + per-call counter: two concurrent consumers in one
  // session get distinct generations from the counter; two sessions
  // sharing a warehouse get distinct generations from the pid
  private val jvmTag: String = s"p${ProcessHandle.current().pid()}"
  private val gen = new java.util.concurrent.atomic.AtomicLong(0)

  /** Fresh per-invocation catalog table name (round-12, VERDICT item
    * 1). The previous FIXED default names made any two concurrent
    * materialize+consume flows — d28 and d29 in one bench session, or
    * two corpus snapshots in a long-lived cluster session — race on
    * writeBucketed's drop/delete/rewrite while the other side was
    * mid-read. Every generation now gets its own tables; callers that
    * WANT a shared standing artifact pass explicit names. */
  def freshName(prefix: String): String =
    s"${prefix}_${jvmTag}_g${gen.incrementAndGet()}"

  /** The name prefixes of every generation `freshName` makes here. */
  private val Reserved = Seq("graft_pair_", "graft_corpus_")

  /** Garbage-collect generations left by DEAD JVMs: drop the catalog
    * tables and delete the orphaned warehouse directories whose name
    * starts with a reserved prefix, lacks this JVM's tag, and whose
    * `_p<pid>_` owner is not a live process on this host — one catalog
    * listing and one warehouse listing for all six artifact kinds. The
    * liveness check means a second JVM sharing the warehouse never has
    * its live index dropped mid-read, and this JVM's own generations
    * are never touched. A name without a parseable pid tag is stale, so
    * explicit standing-artifact names MUST NOT start with a reserved
    * prefix. Liveness is host-local: on a multi-host cluster sharing a
    * metastore, gate sweeps on artifact age instead. The standing
    * fixtures sweep before they materialize. */
  def sweepStale(spark: SparkSession): Unit = {
    def stale(n: String) =
      Reserved.exists(n.startsWith) && !n.contains(s"_${jvmTag}_") &&
        graft.LocalCatalog.liveOwner(n).isEmpty
    spark.catalog.listTables().collect().map(_.name).filter(stale)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh))
      fs.listStatus(wh).foreach { st =>
        val n = st.getPath.getName
        if (stale(n) && !spark.catalog.tableExists(n)) fs.delete(st.getPath, true)
      }
  }

  /** Storage-level clone of one table — how an advance gets a copy of
    * an input table it appends to (`writeDelta`): catalog-metadata copy
    * (schema + bucket spec + graft.* TBLPROPERTIES in one
    * SessionCatalog call — SQL round-trips dominated the first
    * implementation at 1.8 s for ~15 MB) plus a parallel byte-copy of
    * the bucket files between the CATALOG-resolved locations (the
    * former warehouse-dir string convention silently produced an
    * empty clone under a non-default database). Bucket file names are
    * preserved, so the clone's bucket layout (and every exchange-free
    * consumer plan) is identical. On a snapshotting table format
    * (Iceberg/Delta) this is a metadata-only operation; on bare
    * bucketed parquet it is one file copy (measured at sf0.1: ~0.3 s
    * for the four tables vs ~4.7 s to rebuild the index). */
  private def cloneTableWithData(spark: SparkSession, src: String,
                                 dst: String): String = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val (sloc, dloc) = org.apache.spark.sql.GraftColumnBridge
      .cloneTableDefinition(spark, src, dst)
    val fs = sloc.getFileSystem(hconf)
    if (!fs.exists(dloc)) fs.mkdirs(dloc)
    // parallel copy: a bucketed index is numBuckets small files per
    // table, and a serial per-file copy (open/stream/close each) was
    // the measured bulk of the clone (~1.1 s for 132 files); the
    // common FJ pool overlaps the per-file I/O latency
    java.util.Arrays.stream(fs.listStatus(sloc)).parallel()
      .filter(_.isFile).forEach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new org.apache.hadoop.fs.Path(dloc, st.getPath.getName),
          false, hconf)
      }
    dst
  }

  /** Drop one generation's tables (call after the consuming action when
    * the index is no longer needed — e.g. specs and one-shot flows). */
  def dropDocIndex(spark: SparkSession, idx: DocIndex): Unit =
    idx.tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  // ---- own-JVM generation bound (round-13, VERDICT item 4) ----
  // The registered queries (d28-d32) materialize a fresh generation per
  // invocation; sweepStale deliberately spares the own JVM, so a
  // long-lived bench/verify session used to accumulate one full index
  // copy per run — unbounded warehouse growth AND Derby metastore DDL
  // bloat that measurably slowed UNRELATED queries (round-12 NOTES:
  // 13.3 s vs 4.2 s for the same materialize).
  //
  // Concurrency contract (round-14, ADVICE): keepLatest is called at
  // query-CONSTRUCTION time, before the driver consumes the returned
  // DataFrame, so "drop the previous generation immediately" would race
  // a re-entrant invocation of the same registered query (B's
  // registration dropping genA under A's still-running action). The
  // ring therefore retains ONE grace generation per key: registering
  // gen_k drops gen_{k-2}, never gen_{k-1}. A single in-flight overlap
  // — the realistic re-entrancy (two concurrent invocations of one
  // query id) — is safe by construction; deeper same-key concurrency
  // (≥3 simultaneous invocations) is outside the contract and needs
  // caller-owned generation names. The session bound becomes ≤2 live
  // generations per key mid-run; mains call `flushKeepLatest` after
  // their last consuming action to end the run at ≤1.
  private val lastTablesByKey =
    new java.util.concurrent.ConcurrentHashMap[String, List[Seq[String]]]()

  def keepLatest(spark: SparkSession, key: String, tables: Seq[String]): Unit = {
    var evicted: Seq[String] = Nil
    var kept: List[Seq[String]] = Nil
    lastTablesByKey.compute(key, (_, prev) => {
      val hist = tables :: (if (prev == null) Nil else prev)
      val (keep, drop) = hist.splitAt(2)
      evicted = drop.flatten
      kept = keep
      keep
    })
    // two registered generations may name the same table — never drop
    // a table any retained generation still names
    val live = kept.flatten.toSet
    evicted.filterNot(live).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  /** Drop every grace generation, keeping only the newest per key —
    * call from a main after its LAST consuming action, restoring the
    * ≤1-live-generation end state the scratch-footprint bound wants. */
  def flushKeepLatest(spark: SparkSession): Unit = {
    val it = lastTablesByKey.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      var evicted: Seq[String] = Nil
      var kept: Set[String] = Set.empty
      lastTablesByKey.compute(e.getKey, (_, prev) => {
        if (prev == null || prev.isEmpty) prev
        else {
          evicted = prev.tail.flatten
          kept = prev.head.toSet
          List(prev.head)
        }
      })
      evicted.filterNot(kept).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  def keepLatest(spark: SparkSession, key: String, a: Artifact): Unit =
    keepLatest(spark, key, a.tables)

  /** Bucket count for a corpus artifact set when the caller doesn't
    * pin one: Catalyst's pre-scan size estimate of the input divided by
    * a per-bucket input target, floored at the session's shuffle-
    * partition count and capped at 4096 (the cap applies last).
    * Buckets are simultaneously the parallelism floor and the per-task
    * sort/memory unit of every downstream no-shuffle join, so a FIXED
    * count fails at one end or the other: 32 buckets over a multi-TB
    * corpus means ~100 GB bucket sorts (the sf10 ladder's OOM mode),
    * while 4096 buckets over 60k docs is file-count overhead. The
    * 128 MB input target assumes the ~10x text→posting expansion of the
    * shingle pipeline, i.e. ~1 GB of postings per bucket — comfortably
    * inside one executor task's memory.
    *
    * The floor is `spark.sql.shuffle.partitions` (SQLConf's
    * `defaultNumShufflePartitions`), so a small index stays
    * bucket-compatible with the shuffles that meet it, and it has as
    * many scan tasks as the session has shuffle parallelism — no more.
    * It is deliberately not `numShufflePartitions`: with AQE coalescing
    * on, that getter returns `adaptive.coalescePartitions.initialPartitionNum`,
    * which `graft.Session` scales with the input directory's size (about
    * 20 at sf1, 600 at sf30), and which AQE coalesces back down after
    * the map side — a bucket count cannot be coalesced, so a floor
    * taken from it would leave a small index with hundreds of files and
    * scan tasks. `graft.Session` sets `spark.sql.shuffle.partitions` to
    * the core count: local[4] gets 4 buckets, local[32] 32. A floor
    * above the core count only adds scan tasks whose deserialization
    * outweighs their work. Bucket count is layout, not result:
    * consumers give the same rows at any count. The stats read costs
    * no job.
    *
    * Unknown stats: a non-file-backed input (an in-memory relation
    * after joins, a view without stats) can report Catalyst's
    * `defaultSizeInBytes` SENTINEL instead of a real estimate —
    * trusting it would silently clamp tiny data to 4096 buckets (4096
    * files per artifact, 4096-task jobs). Any estimate at or beyond the
    * sentinel falls back to the same shuffle-partition floor; pin
    * `numBuckets` explicitly for non-file sources that are genuinely
    * large.
    *
    * The per-bucket input target is the session conf
    * `spark.graft.autoBuckets.targetBytes` (default 128 MB), so tests
    * and deployments can tune it without threading a parameter through
    * every call site. */
  def autoBuckets(df: DataFrame): Int = {
    val target = df.sparkSession.conf
      .get("spark.graft.autoBuckets.targetBytes", (128L << 20).toString).toLong
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // the sentinel and the floor come from THIS DataFrame's session
    // conf, not the thread-local SQLConf.get: in a multi-session or
    // background-thread context the thread-local can belong to a
    // different session
    val conf = df.sparkSession.sessionState.conf
    val floor = conf.defaultNumShufflePartitions
    val sentinel = BigInt(conf.defaultSizeInBytes)
    // >= (not ==): any plan whose summed stats INCLUDE one sentinel-
    // sized leaf (a union with an unknown-stats child) is equally
    // untrustworthy. Log the degradation so a floor-sized index over a
    // genuinely large non-file input is attributable from the run log
    // rather than discovered as an undersized-parallelism mystery.
    val wanted =
      if (bytes >= sentinel) {
        graft.Log.warn(
          s"[PairIndex.autoBuckets] size estimate $bytes >= unknown-stats " +
            s"sentinel $sentinel — falling back to the shuffle-partition floor " +
            s"($floor buckets); pin numBuckets explicitly if this input is " +
            "genuinely large")
        BigInt(floor)
      } else (bytes / target).max(BigInt(floor))
    wanted.min(BigInt(4096)).toInt
  }

  /** The `graft.*` TBLPROPERTIES stamp on a pairs table: the semantics
    * the index was materialized with (`advanceDocIndex` reads them, so
    * an advance never runs with a different cap/threshold than the
    * index it extends) and the survivor count the advance's economy
    * guard compares against. The stamp also records the shingle width
    * (`graft.shingleK`, always `Dedup.ShingleK`): `readStamp` rejects an
    * index stamped with another width, whose stored postings no
    * advance could extend. Other `graft.*` keys on an older index (the
    * former `graft.drift.*` counters) are ignored. */
  private[graft] final case class Stamp(threshold: Double, maxDocFreq: Int,
                                        numBuckets: Int, nDocs: Long)

  private def writeStamp(spark: SparkSession, table: String, s: Stamp): Unit = {
    val kv = Seq("threshold" -> s.threshold, "maxDocFreq" -> s.maxDocFreq,
      "shingleK" -> Dedup.ShingleK, "numBuckets" -> s.numBuckets, "nDocs" -> s.nDocs)
    spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES(" +
      kv.map { case (k, v) => s"'graft.$k'='$v'" }.mkString(",") + ")")
  }

  private[graft] def readStamp(spark: SparkSession, table: String): Stamp = {
    val props = spark.sql(s"SHOW TBLPROPERTIES `$table`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def prop(k: String): String = props.getOrElse(s"graft.$k",
      throw new IllegalArgumentException(
        s"$table lacks TBLPROPERTY graft.$k — not a materializeDocIndex artifact"))
    val k = prop("shingleK").toInt
    if (k != Dedup.ShingleK)
      throw new IllegalArgumentException(
        s"$table is stamped graft.shingleK=$k, but postings are ${Dedup.ShingleK}-token " +
          "shingles — rematerialize the index")
    Stamp(prop("threshold").toDouble, prop("maxDocFreq").toInt,
      prop("numBuckets").toInt, prop("nDocs").toLong)
  }

  /** Compute the four artifacts once and write them bucketed.
    * `numBuckets` sizes the co-location unit — pass 0 (the default)
    * to derive it from the input size, floored at the session's
    * shuffle-partition count (`autoBuckets`): buckets are the
    * parallelism of every downstream no-shuffle join, so a small index
    * gets one bucket per shuffle partition and a large one one per
    * 128 MB of input.
    * Default table names are per-invocation-unique (`freshName`);
    * pass explicit names for a standing artifact consumed across
    * sessions. */
  def materializeDocIndex(docs: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.6, maxDocFreq: Int = 100,
                          numBuckets: Int = 0,
                          survivorsTable: String = freshName(SurvivorsBase),
                          pairsTable: String = freshName(PairsBase),
                          postingsTable: String = freshName(PostingsBase),
                          dfTable: String = freshName(DfBase)): DocIndex = {
    val spark = docs.sparkSession
    val buckets = if (numBuckets > 0) numBuckets else autoBuckets(docs)
    val idx = DocIndex(survivorsTable, pairsTable, postingsTable, dfTable)
    // nDocs (survivor count) is a parquet metadata read of the written
    // survivors; it feeds the advance's economy guard
    writeIndex(Dedup.dropExactDuplicates(docs, idCol, textCol)
        .withColumn(HashCol, TextAnalysis.textHash(col(textCol))),
      idCol, textCol, idx, buckets,
      Stamp(threshold, maxDocFreq, buckets,
        spark.table(survivorsTable).count()))
    idx
  }

  /** The one writer of a full generation, for `materializeDocIndex` and
    * the advance's fallback: survivors, then postings from the written
    * survivors, then df and pairs from the written postings (a bucketed
    * scan clustered by `s`: the count, the df-cap window and the
    * posting aggregation run with no exchange), then the stamp. `stamp`
    * is evaluated once, after the survivors write, so it may count them. */
  private def writeIndex(survivors: DataFrame, idCol: String, textCol: String,
                         to: DocIndex, buckets: Int, stamp: => Stamp): Unit = {
    val spark = survivors.sparkSession
    Layout.writeBucketed(survivors, to.survivorsTable, idCol, buckets)
    val st = stamp
    Layout.writeBucketed(Dedup.postings(spark.table(to.survivorsTable), idCol, textCol),
      to.postingsTable, "s", buckets)
    val postings = spark.table(to.postingsTable)
    Layout.writeBucketed(postings.groupBy(col("s")).agg(count(lit(1)).as("cnt")),
      to.dfTable, "s", buckets)
    Layout.writeBucketed(
      Dedup.jaccardPairs(postings, st.threshold, st.maxDocFreq),
      to.pairsTable, "doc_id2", buckets)
    writeStamp(spark, to.pairsTable, st)
  }

  /** Outcome of one `advanceDocIndex` call. `idx` names tables the
    * call wrote; none of them is a table of the input index, so the
    * input can be released with `dropDocIndex` once its readers are
    * done. */
  final case class AdvanceResult(idx: DocIndex, newDocs: Long, evicted: Long,
                                 affectedOld: Long,
                                 capFlips: Long = 0L, flipHolders: Long = 0L)

  /** Advance a standing doc index with a new batch without full
    * rematerialization — what a daily pipeline does between corpus
    * snapshots. The post-advance index is row-identical to
    * `materializeDocIndex` on corpus ∪ batch (PairIndexSpec pins all
    * four tables on every write case; the registered d31/d39 queries
    * pin the curation consumer against the d12 oracle end-to-end).
    *
    * Why append-only is not exact, and what is: pair scores are
    * Jaccard over the df-CAPPED shingle universe, and the batch moves
    * document frequencies. A shingle crossing the cap (either way —
    * batch postings push it over, an eviction pulls it back under)
    * changes intersection counts AND per-doc cardinalities of OLD
    * pairs; shrinking a pair's union can even lift a sub-threshold pair
    * above threshold. The exact affected set is
    *
    *   A = batch survivors ∪ evicted corpus docs
    *       ∪ old docs holding any shingle whose cap status changed
    *
    * — a pair with both endpoints outside A is unchanged. So the
    * advance rescores exactly the pairs touching A, over the candidate
    * shingles of A's docs, with cardinalities recomputed over the full
    * capped combined universe.
    *
    * Phases, in order (private steps below; `AdvanceRun` runs each
    * one under the job description `advanceDocIndex:<phase>` and
    * records its wall as `pairindex.advance_ms_<phase>`). Frames are
    * materialized one way — eager local checkpoints (`ckpt_*`), each
    * read by more than one consumer, every count observed on the job
    * that materializes the frame it counts:
    *  1. decide (`decideBatch`): exact-dedup the batch (`ckpt_batch`,
    *     its row count) and probe the survivors' stored canonical hash
    *     (`ckpt_decided`) → new survivors and evicted corpus docs,
    *     both counted on that checkpoint.
    *  2. cap status (`capStatus`): the batch's postings (`ckpt_shb`),
    *     ONE combined per-shingle cap-status relation off the df
    *     artifact and the df delta of batch and evictions
    *     (`ckpt_dfcomb`, the advance's only corpus-scale frame, with
    *     the flip scalars observed on it) and the affected old docs
    *     (`ckpt_affected`, counted).
    *  3. economy guard (`rematerialize`): when new + evicted + affected
    *     docs exceed `economyGuard` × corpus docs (the stamped
    *     `graft.nDocs`), the delta path cannot beat a rebuild; the
    *     advance writes fresh generations from the decided survivors
    *     instead — row-identical either way, telemetry
    *     `pairindex.advance_fallback` records it. Pass
    *     `Double.PositiveInfinity` to force the delta path.
    *  4. delta rescore (`rescoreDelta`): pairs touching A, over
    *     batch-scale checkpoints; the scoring join runs in the pairs
    *     write, its one consumer.
    *  5. write (`writeDelta`), by case:
    *     - no evictions: no existing survivor, posting or df row
    *       changes, so those three tables are CLONED (phase
    *       `clone_index`: a storage-level file copy, metadata-only on
    *       a snapshotting table format) and the batch rows APPENDED to
    *       the clones; the pairs table is cloned and appended too when
    *       no old doc is affected (the delta is then exactly the new
    *       cross+within pairs), else rewritten to a fresh generation
    *       (copy-forward of pairs not touching A, plus the delta). The
    *       cap cascade makes the rewrite the normal daily case at
    *       scale — any large corpus has a band of shingles near the
    *       df-cap and any batch flips some.
    *     - evictions: all four tables get a fresh generation with
    *       copy-forward of live rows. Still no pair regeneration.
    *  6. finish: outcome telemetry.
    *
    * Physical shape: doc-keyed access goes through `survivorsTable`
    * (bucketed by the id), shingle-keyed access through the postings
    * and df tables (bucketed by `s`); nothing shuffles the full index.
    * What stays corpus-coupled is forced by the cap cascade: the
    * affected set grows with the corpus for a fixed batch fraction
    * (measured 27.7k affected docs at sf1 → 277k at sf10 for the same
    * 1.6% batch), so the exact advance lands at ~1.0-1.3× a full
    * rematerialization (BENCH_decades_r13.json) — the AUDITED path,
    * not the daily one.
    *
    * `frozenCaps = true` is the daily mode (0.38× rebuild wall at sf1 →
    * 0.27× at sf10): NEW pairs are scored over the current capped
    * universe exactly as above, but existing pairs KEEP their birth
    * scores — no flip rescore, no pairs copy-forward, so a no-eviction
    * frozen advance is batch-scale compute plus four clone-and-appends.
    * Flip-free, frozen and exact are row-identical; otherwise old-pair
    * scores drift until a rematerialization absorbs them (the
    * `pairindex.advance_cap_flips`/`_flip_holders` telemetry counts
    * the flips). `assertNoCapFlips` makes a frozen advance fail with
    * an attributable message when the batch flips any cap status — for
    * callers (d32) whose correctness pin assumes it does not.
    *
    * The input index is never written: every case writes its result
    * to tables the call creates (a clone is ~0.3 s vs ~3.5 s for a
    * four-table copy-forward at sf0.1), so the result shares no table
    * with the input and several consumers can advance one standing
    * base (the registered d31/d32/d39 do). Release the input with
    * `dropDocIndex` once its readers are done.
    *
    * Release and failure: every checkpoint is released on every exit
    * (a no-eviction advance releases `ckpt_dfcomb` before its writes,
    * which do not read it), so an advance leaves no persisted RDD
    * behind; a throw in any phase also drops every table this call
    * created (clones and fresh generations). The input index is left
    * as it was.
    *
    * Preconditions: the index carries its `graft.*` stamp — semantics
    * are read from it, so an advance never runs with different
    * threshold/cap/k/buckets than the index it extends; batch ids are
    * distinct from surviving corpus ids; the batch schema matches the
    * corpus schema. */
  def advanceDocIndex(spark: SparkSession, idx: DocIndex, batch: DataFrame,
                      idCol: String, textCol: String,
                      frozenCaps: Boolean = false,
                      economyGuard: Double = 0.3,
                      assertNoCapFlips: Boolean = false): AdvanceResult = {
    val in = new AdvanceInput(spark, idx, idCol, textCol)
    val run = new AdvanceRun(spark)
    val (result, fallback) = run.guarded {
      val d = decideBatch(in, run, batch)
      val cs = capStatus(in, run, d, frozenCaps, assertNoCapFlips)
      if (!frozenCaps &&
          (d.nNew + d.nEvicted + cs.nAffected).toDouble > economyGuard * in.stamp.nDocs)
        (rematerialize(in, run, d, cs), true)
      else (writeDelta(in, run, d, cs, rescoreDelta(in, run, d, cs)), false)
    }
    finish(result, fallback, frozenCaps)
  }

  /** The one runner of an advance's phases, and the owner of what they
    * leave behind: every checkpoint and every table the call creates is
    * registered here, and `guarded` releases the checkpoints on every
    * exit and drops the created tables on a throw. */
  private final class AdvanceRun(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val checkpoints = scala.collection.mutable.Buffer.empty[DataFrame]
    private val created = scala.collection.mutable.Buffer.empty[String]

    /** One named phase: its jobs carry the description
      * `advanceDocIndex:<name>` (the caller's description is restored
      * after; its job group is never touched), and its wall is always
      * exported to Telemetry so a bench regression in the advance is
      * attributable without a debug rerun. */
    def phase[T](name: String)(body: => T): T = {
      val callerDescription = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"advanceDocIndex:$name")
      try {
        val t0 = System.nanoTime()
        val r = body
        Telemetry.record(s"pairindex.advance_ms_$name", (System.nanoTime() - t0) / 1000000L)
        r
      } finally sc.setJobDescription(callerDescription)
    }

    /** The advance's one way to materialize a frame: an eager
      * localCheckpoint at `level`, run as phase `name`. A lazy advance
      * DAG grows multiplicatively — every downstream plan embeds the
      * full upstream tree, and Catalyst re-analyzing thousands of nodes
      * per action measured ~half the advance wall at sf0.1 — so a frame
      * with more than one consumer is materialized once and read as a
      * flat block scan. `metrics` (named aggregates) ride the same job
      * through `Dataset.observe` and come back by name, null (a sum over
      * no rows) as 0. The checkpoint lives until `guarded` exits or
      * `release`; a released one fails when read (it is never
      * recomputed), and none survives executor loss — rerun the
      * advance. */
    def checkpoint(name: String, level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
                  (df: => DataFrame, metrics: Column*): (DataFrame, Map[String, Long]) =
      phase(name) {
        val obs = new Observation()
        val out = (if (metrics.isEmpty) df else df.observe(obs, metrics.head, metrics.tail: _*))
          .localCheckpoint(true, level)
        checkpoints += out
        (out, if (metrics.isEmpty) Map.empty[String, Long]
              else obs.get.map { case (k, v) => k -> Option(v).fold(0L)(_.asInstanceOf[Long]) })
      }

    /** Release a checkpoint (`guarded` releases the rest at exit);
      * nothing may read it after. */
    def release(df: DataFrame): Unit = {
      GraftColumnBridge.unpersistCheckpointed(df)
      checkpoints -= df
    }

    /** A fresh generation name owned by this call. */
    def fresh(prefix: String): String = {
      val t = freshName(prefix)
      created += t
      t
    }

    /** A fresh four-table generation owned by this call. */
    def freshIndex(): DocIndex = DocIndex(fresh(SurvivorsBase), fresh(PairsBase),
      fresh(PostingsBase), fresh(DfBase))

    def cloneTable(src: String, prefix: String): String =
      cloneTableWithData(spark, src, fresh(prefix))

    def guarded[T](body: => T): T = {
      var completed = false
      try {
        val r = body
        completed = true
        r
      } finally {
        checkpoints.toList.foreach(release)
        // created names are fresh generations, never the input's tables
        if (!completed)
          created.foreach(t => scala.util.Try(spark.sql(s"DROP TABLE IF EXISTS `$t`")))
      }
    }
  }

  /** What every advance step reads: the input index's tables and the
    * semantics stamped on it. */
  private final class AdvanceInput(val spark: SparkSession, val idx: DocIndex,
                                   val idCol: String, val textCol: String) {
    val stamp: Stamp = readStamp(spark, idx.pairsTable)
    val survivors: DataFrame = spark.table(idx.survivorsTable)
    val stored: DataFrame = spark.table(idx.postingsTable)
    val survCols = survivors.columns.toIndexedSeq.map(col)
  }

  /** Step 1 output: the batch's survivors (with their canonical hash)
    * and the corpus docs they evict. */
  private final case class Decision(newSurv: DataFrame, evictedIds: DataFrame,
                                    nNew: Long, nEvicted: Long)

  // evictions are bounded by the batch's duplicate count — broadcast
  // the anti side only when the measured count says it fits, else a
  // plain equi anti join (AQE may still promote it at runtime)
  private def evictedSide(in: AdvanceInput, d: Decision): DataFrame = {
    val e = d.evictedIds.select(col(in.idCol).as("__eid"))
    if (d.nEvicted <= 5000000L) broadcast(e) else e
  }

  private def decideBatch(in: AdvanceInput, run: AdvanceRun, batch: DataFrame): Decision = {
    import in._
    // Corpus survivors are unique per canonical hash, so the left join
    // fans out at most 1:1; the decision relation is batch-scale and is
    // checkpointed so every downstream plan reads the decided state
    // instead of replaying the join. Each count rides the checkpoint
    // job of the frame it counts.
    val (batchD, nb) = run.checkpoint("ckpt_batch")(
      Dedup.dropExactDuplicates(batch, idCol, textCol)
        .withColumn("__h", TextAnalysis.textHash(col(textCol))),
      count(lit(1)).as("n"))
    val nBatch = nb("n")
    // Batch ≪ corpus is the daily regime, so the decision is a PROBE of
    // the corpus, not a merge with it: the merge plan shuffled and
    // sorted the full survivors relation by hash every advance (~5 s of
    // a 23.5 s warm frozen advance at sf30 for a 23.7k-row batch).
    // Instead semi-join the survivors' stored hash column (a pruned
    // two-column scan — no text read, no re-hash) against the broadcast
    // batch hashes, then left-join the batch against the broadcast
    // matches; both broadcasts are batch-scale. Above the broadcast
    // budget the merge plan stays (specs pin row identity on both).
    val probeMax = spark.conf
      .get("spark.graft.advance.broadcastProbeMaxBatch", "5000000").toLong
    val survHashed = survivors.select(col(idCol).as("__cid"), col(HashCol).as("__h"))
    val evicts = col("__cid").isNotNull && col(idCol) < col("__cid")
    val keeps = col("__cid").isNull || col(idCol) < col("__cid")
    val (decided, cnts) = run.checkpoint("ckpt_decided")(
      if (nBatch <= probeMax) {
        val matched = survHashed.join(
          broadcast(batchD.select(col("__h"))), Seq("__h"), "left_semi")
        batchD.join(broadcast(matched), Seq("__h"), "left")
      } else
        batchD.join(survHashed.hint("merge"), Seq("__h"), "left"),
      count(when(evicts, true)).as("e"), count(when(keeps, true)).as("n"))
    Decision(
      newSurv = decided.filter(keeps)
        .withColumn(HashCol, col("__h")).drop("__h", "__cid"),
      evictedIds = decided.filter(evicts).select(col("__cid").as(idCol)),
      nNew = cnts("n"), nEvicted = cnts("e"))
  }

  /** Step 2 output. `dfB` is the batch's per-shingle df; `dfCombFull`
    * the combined cap-status relation (s, __dfo0 = df before, __dfc =
    * df after). */
  private final case class CapStatus(shB: DataFrame, dfB: DataFrame,
                                     dfCombFull: DataFrame,
                                     affectedOld: DataFrame, nAffected: Long,
                                     nFlips: Long, flipHolders: Long)

  private def capStatus(in: AdvanceInput, run: AdvanceRun, d: Decision,
                        frozenCaps: Boolean, assertNoCapFlips: Boolean): CapStatus = {
    import in._
    val cap = stamp.maxDocFreq
    val (shB, _) = run.checkpoint("ckpt_shb")(Dedup.postings(d.newSurv, idCol, textCol))
    val dfB = shB.groupBy(col("s")).agg(count(lit(1)).as("__dfb"))
    // per-shingle df deltas: batch additions minus eviction removals —
    // df can only change for shingles present in one of these
    val dfDelta =
      if (d.nEvicted == 0) dfB.withColumn("__dfe", lit(0L))
      else dfB.join(
          Dedup.postings(survivors.join(d.evictedIds, Seq(idCol), "left_semi"),
              idCol, textCol)
            .groupBy(col("s")).agg(count(lit(1)).as("__dfe")),
          Seq("s"), "full_outer")
        .select(col("s"), coalesce(col("__dfb"), lit(0L)).as("__dfb"),
          coalesce(col("__dfe"), lit(0L)).as("__dfe"))
    // shingles whose cap status changes AND that some old doc holds:
    // only these can perturb old pairs. A flip requires a df change, and
    // rows absent from dfDelta have __dfc == __dfo0, so no key-set join
    // is needed.
    val flipCond = col("__dfo0") >= 1 &&
      ((col("__dfo0") <= cap) =!= (col("__dfc") <= cap))
    // ONE corpus-wide df pass per advance: a bucketed scan + bucket-
    // local sum over the df artifact's ~|distinct shingles| delta rows,
    // computed once and probed by every consumer (three separate
    // full-postings aggregations measured 2.6-6.6× a rematerialization
    // at sf0.1-sf1). Serialized storage: this is the advance's one
    // corpus-scale frame, and deserialized storage starved the bucketed
    // sorts to OOM at sf10. Its job also yields the flip count and the
    // flip HOLDER mass (Σ per flipped shingle of its smaller-side df):
    // frozen mode skips the rescore by definition, but exports how far
    // its scores drift as telemetry.
    val (dfCombFull, flips) = run.checkpoint("ckpt_dfcomb", StorageLevel.MEMORY_AND_DISK_SER)(
      spark.table(idx.dfTable).groupBy(col("s")).agg(sum(col("cnt")).as("__dfo"))
        .join(dfDelta, Seq("s"), "full_outer")
        .select(col("s"), coalesce(col("__dfo"), lit(0L)).as("__dfo0"),
          (coalesce(col("__dfo"), lit(0L)) - coalesce(col("__dfe"), lit(0L))
            + coalesce(col("__dfb"), lit(0L))).as("__dfc")),
      count(when(flipCond, true)).as("f"),
      sum(when(flipCond, least(col("__dfo0"), col("__dfc")))).as("h"))
    val nFlips = flips("f")
    val flipHolders = if (frozenCaps) flips("h") else 0L
    if (frozenCaps && assertNoCapFlips && nFlips > 0)
      throw new IllegalStateException(
        s"frozen-cap advance precondition violated: $nFlips shingle cap-status " +
          "flip(s) occurred, so frozen scores will drift from the exact " +
          "universe — this is a property of the batch/fixture (regenerate the " +
          "fixture or re-pin the oracle), not an advance bug. Run with " +
          "frozenCaps=false (exact) if the batch must be absorbed exactly.")
    val nChanged = if (frozenCaps) 0L else nFlips
    val (affectedOld, nAffected) =
      if (nChanged == 0) (d.newSurv.select(col(idCol)).limit(0), 0L)
      else {
        val (affected, m) = run.checkpoint("ckpt_affected")(
          stored.join(dfCombFull.filter(flipCond).select(col("s")), Seq("s"), "left_semi")
            .select(col("doc_id").as(idCol)).distinct(),
          count(lit(1)).as("n"))
        (affected, m("n"))
      }
    CapStatus(shB, dfB, dfCombFull, affectedOld, nAffected, nFlips, flipHolders)
  }

  /** Step 3, the economy-guard fallback: the delta path's cost scales
    * with the touched set (new + evicted + affected docs drive the
    * re-shingles, the rescore and the copy-forward rewrites); once that
    * set is a sizable fraction of the corpus, from-scratch pair
    * generation is cheaper. Reuses the survivor DECISIONS (no second
    * exact-dedup window) and writes a fresh generation through
    * `writeIndex`, the writer `materializeDocIndex` uses. */
  private def rematerialize(in: AdvanceInput, run: AdvanceRun, d: Decision,
                            cs: CapStatus): AdvanceResult = {
    import in._
    val to = run.freshIndex()
    run.phase("fallback_rematerialize") {
      val combinedSurv = liveSurvivors(in, d).select(survCols: _*)
        .unionByName(d.newSurv.select(survCols: _*))
      // the fallback replaces ALL four tables, so the bucket count is
      // re-derived from the combined survivors — an index born small
      // that grew 10× through appends must not keep its birth count;
      // max() with it so an unknown-stats estimate (autoBuckets' floor)
      // never SHRINKS a large index's parallelism
      val fbBuckets = math.max(stamp.numBuckets, autoBuckets(combinedSurv))
      writeIndex(combinedSurv, idCol, textCol, to, fbBuckets, stamp.copy(
        numBuckets = fbBuckets, nDocs = stamp.nDocs + d.nNew - d.nEvicted))
    }
    AdvanceResult(to, d.nNew, d.nEvicted, cs.nAffected, cs.nFlips, 0L)
  }

  private def liveSurvivors(in: AdvanceInput, d: Decision): DataFrame =
    if (d.nEvicted == 0) in.survivors
    else in.survivors.join(evictedSide(in, d), in.survivors(in.idCol) === col("__eid"), "left_anti")

  /** Step 4 output: the rescored pairs touching A (a scoring join over
    * checkpoints, run by the pairs write) and A's ids. */
  private final case class Delta(pairs: DataFrame, aIds: DataFrame)

  private def rescoreDelta(in: AdvanceInput, run: AdvanceRun, d: Decision,
                           cs: CapStatus): Delta = {
    import in._
    val (threshold, cap) = (stamp.threshold, stamp.maxDocFreq)
    // merge hints, not broadcast, on the cap-status probes: at corpus
    // scale a key set can outgrow any broadcast limit (AQE still
    // upgrades small ones at runtime from real sizes)
    def cappedKeys(keys: DataFrame): DataFrame =
      keys.hint("merge").join(cs.dfCombFull, Seq("s"), "left")
        .filter(coalesce(col("__dfc"), lit(0L)) <= cap).select(col("s"))
    // evicted docs carry no postings → no pairs; A's old side is the
    // affected set
    val aOldDocs = cs.affectedOld
    val shAOld =
      if (cs.nAffected == 0) cs.shB.limit(0)
      else Dedup.postings(survivors.join(
        aOldDocs.select(col(idCol)), Seq(idCol), "left_semi"), idCol, textCol)
    val candKeys = cs.dfB.select(col("s"))
      .unionByName(shAOld.select(col("s"))).distinct()
    // batch-scale key set, re-walked by aPart (twice: A-B join and A-A
    // kernel) and bPart — checkpointed so the cap-status probe runs once
    val (cappedCandKeys, _) = run.checkpoint("ckpt_capped_cand")(cappedKeys(candKeys))
    val storedCand = {
      val sc = stored.join(cappedCandKeys, Seq("s"), "left_semi")
      if (d.nEvicted == 0) sc
      else sc.join(evictedSide(in, d), sc("doc_id") === col("__eid"), "left_anti")
    }
    // Pairs touching A, built ASYMMETRICALLY by provenance: the capped
    // candidate postings split into aPart (batch postings + affected-old
    // stored postings: exactly A's docs) and bPart (every other stored
    // holder). A×B intersections are one linear join (≤ |aPart| × cap
    // rows); A×A runs the shared `Dedup.pairsWithin` kernel over
    // batch-scale postings only. Generate-all-then-filter pays df² per
    // candidate shingle for B×B pairs it discards — measured 7× slower
    // at sf0.01, growing with near-dup density.
    val shBCap = cs.shB.join(cappedCandKeys, Seq("s"), "left_semi")
    val (aPart0, bPart) =
      if (cs.nAffected == 0) (shBCap, storedCand.select(col("doc_id"), col("s")))
      else {
        val sc = storedCand.select(col("doc_id"), col("s"))
        val aOldSet = aOldDocs.select(col(idCol).as("__aoid"))
        (shBCap.unionByName(
           sc.join(aOldSet, sc("doc_id") === col("__aoid"), "left_semi")),
         sc.join(aOldSet, sc("doc_id") === col("__aoid"), "left_anti"))
      }
    // batch-scale postings, consumed by the A-B join, the A-A kernel
    // and the naA cardinalities
    val (aPart, _) = run.checkpoint("ckpt_apart")(aPart0)
    // candidate keys cover every pair-touching-A intersection: a shared
    // shingle of any such pair is held by its A-side doc
    val interAB = aPart.select(col("s"), col("doc_id").as("__a"))
      .join(bPart.select(col("s"), col("doc_id").as("__b")), Seq("s"))
      .groupBy(least(col("__a"), col("__b")).as("doc_id1"),
        greatest(col("__a"), col("__b")).as("doc_id2"))
      .agg(count(lit(1)).as("n_inter"))
    val (aIds, _) = run.checkpoint("ckpt_aids")(d.newSurv.select(col(idCol).as("__aid"))
      .unionByName(aOldDocs.select(col(idCol).as("__aid"))))
    val interAA = Dedup.pairsWithin(aPart, col("s"), col("doc_id"))
      .groupBy(col("d1").as("doc_id1"), col("d2").as("doc_id2"))
      .agg(count(lit(1)).as("n_inter"))
    val interA = interAA.unionByName(interAB)
    // A-side capped cardinalities come free from aPart: an A doc's
    // aPart rows are exactly its capped shingle set
    val (naA, _) = run.checkpoint("ckpt_naa")(
      aPart.groupBy(col("doc_id")).agg(count(lit(1)).as("__na")))
    // Exact length-bound prune: interA holds every pair sharing >=1
    // capped candidate shingle — overwhelmingly n_inter=1-2 junk from
    // common shingles, connecting the batch to a large fraction of the
    // corpus (at sf0.1 the participants were ~corpus-sized, making the
    // cardinality stage re-shingle most of the corpus). A qualifying
    // pair needs i/(n1+n2-i) >= t, and n2 >= i forces i >= t*n1 for
    // EACH endpoint, so dropping a pair with i < t*na on a known
    // (A-side) endpoint is exact. The epsilon keeps FP rounding from
    // dropping an exactly-boundary pair (the scorer re-filters anyway).
    val (interPruned, _) = run.checkpoint("ckpt_inter_pruned")(interA
      .join(naA.select(col("doc_id").as("doc_id1"), col("__na").as("__na1")),
        Seq("doc_id1"), "left")
      .join(naA.select(col("doc_id").as("doc_id2"), col("__na").as("__na2")),
        Seq("doc_id2"), "left")
      .filter(
        (col("__na1").isNull ||
          col("n_inter").cast("double") >= lit(threshold) * col("__na1") - lit(1e-9)) &&
        (col("__na2").isNull ||
          col("n_inter").cast("double") >= lit(threshold) * col("__na2") - lit(1e-9)))
      .select(col("doc_id1"), col("doc_id2"), col("n_inter")))
    // cardinalities for the pruned pairs' B-side participants only,
    // re-shingled via the survivors bucketing (never a doc-keyed pass
    // over the s-bucketed posting table) — delta-scale after the prune
    val bParticipants = interPruned.select(col("doc_id1").as("__pid"))
      .unionByName(interPruned.select(col("doc_id2").as("__pid"))).distinct()
      .join(aIds, col("__pid") === col("__aid"), "left_anti")
    val (bSh, _) = run.checkpoint("ckpt_bsh")(Dedup.postings(survivors.join(
      bParticipants.select(col("__pid").as(idCol)), Seq(idCol), "left_semi"),
      idCol, textCol))
    val (card, _) = run.checkpoint("ckpt_card")(
      bSh.join(cappedKeys(bSh.select(col("s")).distinct()), Seq("s"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        .unionByName(naA.select(col("doc_id"), col("__na").as("n"))))
    // the pairs write is the scored pairs' one consumer: it does the
    // scoring under its own phase
    Delta(Dedup.scoreJaccardPairs(interPruned, "doc_id1", card, "doc_id2", card, threshold),
      aIds)
  }

  /** Step 5: the write cases of the scaladoc above. Every frame written
    * reads checkpoints (or the old tables), so the writes never replay
    * the candidate pipeline. */
  private def writeDelta(in: AdvanceInput, run: AdvanceRun, d: Decision,
                         cs: CapStatus, delta: Delta): AdvanceResult = {
    import in._
    val nb = stamp.numBuckets
    val dfRows = cs.dfB.select(col("s"), col("__dfb").as("cnt"))
    if (d.nEvicted == 0) {
      val appendPairs = cs.nAffected == 0
      // clone exactly the tables about to be appended; a rewritten
      // pairs table — the largest artifact — is never cloned
      val target = run.phase("clone_index")(DocIndex(
        run.cloneTable(idx.survivorsTable, SurvivorsBase),
        if (appendPairs) run.cloneTable(idx.pairsTable, PairsBase) else idx.pairsTable,
        run.cloneTable(idx.postingsTable, PostingsBase),
        run.cloneTable(idx.dfTable, DfBase)))
      // the corpus-scale frame is read by nothing below: release it
      // before the writes instead of at exit
      run.release(cs.dfCombFull)
      val pairsTable =
        if (appendPairs) {
          run.phase("append_pairs")(
            Layout.appendBucketed(delta.pairs, target.pairsTable, "doc_id2", nb))
          target.pairsTable
        } else {
          val pTab = run.fresh(PairsBase)
          val keptPairs = spark.table(idx.pairsTable)
            .join(delta.aIds, col("doc_id1") === col("__aid"), "left_anti")
            .join(delta.aIds, col("doc_id2") === col("__aid"), "left_anti")
          run.phase("rewrite_pairs")(Layout.writeBucketed(
            keptPairs.unionByName(delta.pairs), pTab, "doc_id2", nb))
          pTab
        }
      run.phase("append_postings")(
        Layout.appendBucketed(cs.shB, target.postingsTable, "s", nb))
      run.phase("append_survivors")(
        Layout.appendBucketed(d.newSurv.select(survCols: _*), target.survivorsTable, idCol, nb))
      run.phase("append_df")(
        Layout.appendBucketed(dfRows, target.dfTable, "s", nb))
      writeStamp(spark, pairsTable, stamp.copy(nDocs = stamp.nDocs + d.nNew))
      AdvanceResult(target.copy(pairsTable = pairsTable),
        d.nNew, 0L, cs.nAffected, cs.nFlips, cs.flipHolders)
    } else {
      val to = run.freshIndex()
      run.phase("rewrite_survivors")(Layout.writeBucketed(
        liveSurvivors(in, d).select(survCols: _*).unionByName(d.newSurv.select(survCols: _*)),
        to.survivorsTable, idCol, nb))
      val livePost = stored.join(evictedSide(in, d), stored("doc_id") === col("__eid"), "left_anti")
      run.phase("rewrite_postings")(Layout.writeBucketed(
        livePost.select(col("doc_id"), col("s")).unionByName(cs.shB),
        to.postingsTable, "s", nb))
      val removal = delta.aIds.unionByName(d.evictedIds.select(col(idCol).as("__aid")))
      val keptPairs = spark.table(idx.pairsTable)
        .join(removal, col("doc_id1") === col("__aid"), "left_anti")
        .join(removal, col("doc_id2") === col("__aid"), "left_anti")
      run.phase("rewrite_pairs")(Layout.writeBucketed(
        keptPairs.unionByName(delta.pairs), to.pairsTable, "doc_id2", nb))
      writeStamp(spark, to.pairsTable, stamp.copy(nDocs = stamp.nDocs + d.nNew - d.nEvicted))
      // a fresh COMPACTED df generation straight off the checkpointed
      // cap-status relation; net-zero shingles (all holders evicted)
      // drop out
      run.phase("rewrite_df")(Layout.writeBucketed(
        cs.dfCombFull.filter(col("__dfc") > 0).select(col("s"), col("__dfc").as("cnt")),
        to.dfTable, "s", nb))
      AdvanceResult(to, d.nNew, d.nEvicted, cs.nAffected, cs.nFlips, cs.flipHolders)
    }
  }

  /** Step 6: outcome telemetry, describing the RETURNED result. */
  private def finish(r: AdvanceResult, fallback: Boolean,
                     frozenCaps: Boolean): AdvanceResult = {
    def flag(b: Boolean) = if (b) 1L else 0L
    Seq("fallback" -> flag(fallback),
      "frozen" -> flag(frozenCaps), "new_docs" -> r.newDocs,
      "evicted" -> r.evicted, "affected_old" -> r.affectedOld,
      "cap_flips" -> r.capFlips, "flip_holders" -> r.flipHolders)
      .foreach { case (k, v) => Telemetry.record(s"pairindex.advance_$k", v) }
    r
  }

  /** Near-dup drop list from the index: distinct doc_id2. Rides the
    * pairs table's bucketing — no exchange for the distinct, none for
    * a subsequent join on the id (PairIndexSpec asserts both). */
  def droplist(spark: SparkSession, idx: DocIndex, idCol: String): DataFrame =
    spark.table(idx.pairsTable)
      .select(col("doc_id2").as(idCol))
      .distinct()

  /** d12's curation tail reading the index: survivors anti-join the
    * drop list (bucket-co-located, zero shuffles until the caller's
    * aggregation), then `CorpusPipeline.curate`'s lang/quality/split
    * gate at its default quality floor. Result is row-identical to
    * running `curate` on the raw docs — pinned by the d28 oracle
    * entry. */
  def curateFromIndex(spark: SparkSession, idx: DocIndex,
                      idCol: String, textCol: String): DataFrame =
    // the stored canonical-hash helper column is artifact-internal —
    // dropping it keeps this row-identical (schema included) to
    // CorpusPipeline.curate over the raw docs
    CorpusPipeline.gate(
      spark.table(idx.survivorsTable).drop(HashCol)
        .join(droplist(spark, idx, idCol), Seq(idCol), "left_anti"),
      textCol, CorpusPipeline.DefaultMinQuality)

  /** d18's cluster assignment reading the index (survivor universe):
    * connected components over the materialized pairs plus the size
    * join — pair generation is a parquet scan here, not a recompute.
    * Components' per-round snapshots follow the session: reliable when
    * the context has a checkpoint dir (set `spark.checkpoint.dir` to a
    * shared-store path on a real cluster, so an executor loss
    * mid-clustering resumes from the snapshot), local otherwise. */
  def clustersFromIndex(spark: SparkSession, idx: DocIndex): DataFrame = {
    val cc = Components.connectedComponents(
      spark.table(idx.pairsTable), "doc_id1", "doc_id2")
    cc.hint("merge")
      .join(cc.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size")), "lbl")
      .select(col("v").as("doc_id"), col("lbl").as("cluster_rep"),
        col("cluster_size"))
  }

  /** Standing-corpus artifacts for INCREMENTAL dedup — what
    * `Dedup.dedupIncrement`'s scaladoc promises a 100 TB pipeline
    * maintains between daily runs: the corpus canonical-hash set and
    * the corpus `Dedup.postings`, so a new batch is deduplicated
    * without re-hashing or re-shingling the corpus. The postings cover
    * EVERY corpus document, exact duplicates included: d13's df-cap is
    * defined over the combined batch+corpus universe, where a
    * duplicate's shingles count toward df, so the survivor postings of
    * a `DocIndex` are not the same relation and cannot stand in. The
    * from-index consumer feeds `crossJaccardPairs` the exact relation
    * the recompute path builds — results are row-identical by
    * construction (pinned by the d30 oracle entry and PairIndexSpec).
    *
    * Stored as hashed postings bucketed by `s`, so the consumer's
    * corpus side is a bucketed scan of two long columns: no shingling,
    * no hashing, no distinct and no exchange (the union with the
    * batch's postings keeps the bucketing when the session's shuffle
    * width equals the bucket count). Measured at sf0.1 (`graft.Bench`,
    * 4 cores, 5 interleaved windows against the raw-string index it
    * replaced): d30 median 2.14 s wall and 6.1 CPU-s vs 2.40 s and
    * 6.9 (d13, which re-shingles the corpus, 2.49 s); the postings
    * table is 803 KB on disk vs 743 KB of dictionary-encoded strings,
    * and the index builds in 2.5 s vs 2.7 s. The per-window spread
    * (d30 1.9-2.5 s) covers the difference at this scale. */
  final case class CorpusIndex(hashesTable: String, postingsTable: String)
      extends Artifact {
    def tables: Seq[String] = Seq(hashesTable, postingsTable)
  }

  /** Materialize the standing corpus's hash set (bucketed by the hash —
    * the batch anti-join key) and postings (bucketed by the shingle
    * hash — the key every downstream aggregation and semi-join
    * clusters on). Run once per corpus snapshot; consumed by every
    * incoming batch until the corpus advances. Default table names are
    * per-invocation-unique (`freshName`). */
  def materializeCorpusIndex(corpus: DataFrame, idCol: String, textCol: String,
                             numBuckets: Int = 0,
                             hashesTable: String = freshName(CorpusHashesBase),
                             postingsTable: String = freshName(CorpusPostingsBase))
      : CorpusIndex = {
    val buckets = if (numBuckets > 0) numBuckets else autoBuckets(corpus)
    Layout.writeBucketed(
      corpus.select(TextAnalysis.textHash(col(textCol)).as("__h")).distinct(),
      hashesTable, "__h", buckets)
    Layout.writeBucketed(Dedup.postings(corpus, idCol, textCol),
      postingsTable, "s", buckets)
    CorpusIndex(hashesTable, postingsTable)
  }

  /** `Dedup.dedupIncrement` reading the materialized corpus artifacts:
    * same three-stage contract (within-batch exact dedup → corpus-hash
    * anti join → cross-corpus df-capped Jaccard drop), with the corpus
    * side a bucketed parquet scan instead of a recompute. */
  def dedupIncrementFromIndex(spark: SparkSession, idx: CorpusIndex,
                              incoming: DataFrame,
                              idCol: String, textCol: String): DataFrame =
    Dedup.dedupIncrementAgainst(spark.table(idx.hashesTable),
      spark.table(idx.postingsTable), incoming, idCol, textCol)
}
