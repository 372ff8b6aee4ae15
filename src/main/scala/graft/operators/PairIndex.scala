package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Two artifacts, as a real pipeline maintains between runs:
  *  - `survivorsTable`: exact-dedup survivors, bucketed+sorted by the
  *    doc id. (Pair generation runs over survivors — clustering exact
  *    duplicates is pointless, and their identical shingle sets would
  *    only inflate per-shingle document frequencies toward the df-cap.)
  *  - `pairsTable`: `Dedup.jaccardPairs` over the survivors (the exact
  *    universe d07/d12 pin against DuckDB), bucketed+sorted by
  *    `doc_id2` — the key the hottest consumer (the curation drop list
  *    → anti join) probes with.
  *
  * Because both tables are bucketed with the SAME bucket count on
  * their join keys, the drop-list consumer plans with ZERO exchanges:
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

  /** Catalog table names of one materialized index generation.
    * `postingsTable` (present when materialized with
    * `keepPostings = true`) is the hashed shingle posting relation
    * (doc_id, s: long) bucketed by `s` — the third standing artifact
    * that makes EXACT incremental advance possible
    * (`advanceDocIndex`): without it, a batch that pushes a shingle's
    * document frequency across the df-cap would require re-shingling
    * the whole corpus to rescore the affected pairs.
    *
    * `dfTable` (round-13) is the FOURTH standing artifact: per-shingle
    * document-frequency DELTA rows (s: long, cnt: long), bucketed by
    * `s`. The current df of a shingle is `sum(cnt)` over its rows —
    * append-only by construction (a batch appends +counts, an eviction
    * appends −counts), so every advance maintains it with a bucketed
    * append instead of a rewrite, and reading it costs a bucket-local
    * aggregation over ~|distinct shingles| rows instead of re-counting
    * the full posting relation (~|doc,shingle| rows) — the dominant
    * advance overhead the round-12 measurements flagged. */
  final case class DocIndex(survivorsTable: String, pairsTable: String,
                            postingsTable: Option[String] = None,
                            dfTable: Option[String] = None)

  val SurvivorsBase = "graft_pair_survivors"
  val PairsBase = "graft_pair_index"
  val PostingsBase = "graft_pair_postings"
  val DfBase = "graft_pair_df"
  val CorpusHashesBase = "graft_corpus_hashes"
  val CorpusShinglesBase = "graft_corpus_shingles"

  /** Canonical-hash column stored IN the survivors artifact (round-15,
    * VERDICT item 5): the advance's exact-dedup decision probes the
    * corpus by canonical hash, and deriving that hash at advance time
    * meant re-reading and re-hashing every survivor's TEXT on every
    * daily advance — measured as the single biggest corpus-coupled
    * advance phase at sf30 (~4 s of md5 over 1.5M docs per advance; at
    * 100 TB it is a full corpus text scan per day for a value that
    * never changes). Stored once at materialize, the probe reads a
    * 32-byte column with the text pruned out of the scan entirely.
    * Advances of a pre-round-15 index (no such column) fall back to
    * deriving the hash — back-compat, at the old cost. */
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

  /** Garbage-collect index generations left by DEAD JVMs: drops
    * catalog tables and deletes orphaned warehouse directories whose
    * name starts with `prefix`, does not carry this JVM's tag, AND
    * whose embedded `_p<pid>_` owner is no longer a live process on
    * this host (round-13, ADVICE: a liveness check, so a second
    * concurrently running JVM sharing the warehouse — the very
    * scenario the pid-tagged naming exists for — never has its live
    * index dropped mid-read). A name without a parseable pid tag is
    * treated as stale; for that reason explicit standing-artifact
    * names passed by callers MUST NOT start with the reserved
    * `graft_pair_*` / `graft_corpus_*` prefixes. Liveness is
    * host-local — on a multi-host cluster sharing a metastore, gate
    * sweeps on artifact age instead (don't call this blindly).
    * Registered queries call this before materializing, so a shared
    * warehouse (./spark-warehouse across bench runs) holds at most the
    * live JVMs' generations. Never touches this JVM's own live
    * generations — a concurrent flow in this session is safe. */
  def sweepStale(spark: SparkSession, prefix: String): Unit = {
    val lower = prefix.toLowerCase
    val pidTag = "_p([0-9]+)_".r
    // unparseable pid tags (e.g. a >19-digit run of digits overflowing
    // Long) are treated as STALE, never as a crash: sweepStale runs at
    // the top of every registered query, so a single weird directory
    // name in a shared warehouse must not take the whole suite down
    // (round-14, ADVICE)
    def ownerAlive(n: String): Boolean = pidTag.findFirstMatchIn(n) match {
      case Some(m) =>
        scala.util.Try(ProcessHandle.of(m.group(1).toLong)).toOption
          .exists(o => o.isPresent && o.get.isAlive)
      case None => false
    }
    def stale(n: String) =
      n.startsWith(lower) && !n.contains(s"_${jvmTag}_") && !ownerAlive(n)
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

  /** Storage-level snapshot CLONE of a doc index (round-19,
    * optimization): fresh catalog tables with the source's schema and
    * bucket spec whose data files are byte-copied — the cheap snapshot
    * a pipeline takes before exercising an in-place-append advance
    * against a shared standing base. On a snapshotting table format
    * (Iceberg/Delta) this is a metadata-only operation; on bare
    * bucketed parquet it is one file copy of the index — still far
    * cheaper than recomputing survivors/shingles/pairs from text
    * (measured at sf0.1: ~0.3 s copy vs ~4.7 s rebuild). Bucket file
    * names are preserved, so the clone's bucket layout (and every
    * exchange-free consumer plan) is identical; graft.* TBLPROPERTIES
    * are copied so `advanceDocIndex` reads the same semantics. */
  def cloneDocIndex(spark: SparkSession, idx: DocIndex): DocIndex =
    DocIndex(
      cloneTableWithData(spark, idx.survivorsTable, SurvivorsBase),
      cloneTableWithData(spark, idx.pairsTable, PairsBase),
      idx.postingsTable.map(cloneTableWithData(spark, _, PostingsBase)),
      idx.dfTable.map(cloneTableWithData(spark, _, DfBase)))

  /** One table of the storage-level clone: catalog-metadata copy
    * (schema + bucket spec + graft.* TBLPROPERTIES in one
    * SessionCatalog call — SQL round-trips dominated the first
    * implementation at 1.8 s for ~15 MB) plus a parallel byte-copy of
    * the bucket files between the CATALOG-resolved locations (the
    * former warehouse-dir string convention silently produced an
    * empty clone under a non-default database). */
  private def cloneTableWithData(spark: SparkSession, src: String,
                                 prefix: String): String = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dst = freshName(prefix)
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
    (Seq(idx.survivorsTable, idx.pairsTable)
      ++ idx.postingsTable ++ idx.dfTable)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

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
    // a generation may REUSE tables of an earlier one (partial-rewrite
    // advances keep the survivors/postings/df tables) — never drop a
    // table any retained generation still names
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

  def keepLatest(spark: SparkSession, key: String, idx: DocIndex): Unit =
    keepLatest(spark, key,
      Seq(idx.survivorsTable, idx.pairsTable) ++ idx.postingsTable ++ idx.dfTable)

  def dropCorpusIndex(spark: SparkSession, idx: CorpusIndex): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `${idx.hashesTable}`")
    spark.sql(s"DROP TABLE IF EXISTS `${idx.shinglesTable}`")
  }

  /** Bucket count for a corpus artifact set when the caller doesn't
    * pin one (round-13): Catalyst's pre-scan size estimate of the
    * input divided by a per-bucket input target, clamped to
    * [32, 4096]. Buckets are simultaneously the parallelism floor and
    * the per-task sort/memory unit of every downstream no-shuffle
    * join, so a FIXED count fails at one end or the other: 32 buckets
    * over a multi-TB corpus means ~100 GB bucket sorts (the sf10
    * ladder's OOM mode), while 4096 buckets over 60k docs is file-
    * count overhead. The 128 MB input target assumes the ~10x
    * text→posting expansion of the shingle pipeline, i.e. ~1 GB of
    * postings per bucket — comfortably inside one executor task's
    * memory. The floor keeps every driver-verified SF at the pinned
    * 32 (bucket-compatible with the bench's
    * spark.sql.shuffle.partitions=32), so small-scale plans are
    * unchanged; the stats read costs no job.
    *
    * Unknown stats (round-14, ADVICE): a non-file-backed input (an
    * in-memory relation after joins, a view without stats) can report
    * Catalyst's `defaultSizeInBytes` SENTINEL instead of a real
    * estimate — trusting it would silently clamp tiny data to 4096
    * buckets (4096 files per artifact, 4096-task jobs). Any estimate
    * at or beyond the sentinel falls back to the 32-bucket floor; pin
    * `numBuckets` explicitly for non-file sources that are genuinely
    * large.
    *
    * `targetInputBytesPerBucket = 0` (the default) reads the session
    * conf `spark.graft.autoBuckets.targetBytes` (falling back to
    * 128 MB) so tests and deployments can tune the per-bucket input
    * target without threading a parameter through every call site. */
  def autoBuckets(df: DataFrame, targetInputBytesPerBucket: Long = 0L): Int = {
    val target =
      if (targetInputBytesPerBucket > 0) targetInputBytesPerBucket
      else df.sparkSession.conf
        .get("spark.graft.autoBuckets.targetBytes", (128L << 20).toString).toLong
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // the sentinel comes from THIS DataFrame's session conf, not the
    // thread-local SQLConf.get (round-15, ADVICE): in a multi-session
    // or background-thread context the thread-local can belong to a
    // different session, making the comparison use the wrong sentinel
    val sentinel = BigInt(
      df.sparkSession.sessionState.conf.defaultSizeInBytes)
    // >= (not ==): any plan whose summed stats INCLUDE one sentinel-
    // sized leaf (a union with an unknown-stats child) is equally
    // untrustworthy. Log the degradation so a 32-bucket index over a
    // genuinely large non-file input is attributable from the run log
    // rather than discovered as an undersized-parallelism mystery.
    if (bytes >= sentinel) {
      System.err.println(
        s"[PairIndex.autoBuckets] size estimate $bytes >= unknown-stats " +
          s"sentinel $sentinel — falling back to the 32-bucket floor; pin " +
          "numBuckets explicitly if this input is genuinely large")
      32
    }
    else (bytes / target).min(BigInt(4096)).max(BigInt(32)).toInt
  }

  /** Compute survivors + pair index once and write both bucketed.
    * `numBuckets` sizes the co-location unit — pass 0 (the default)
    * to derive it from the input size (`autoBuckets`); at corpus
    * scale it should track executor count × a small factor (buckets
    * are the parallelism floor of every downstream no-shuffle join).
    * Default table names are per-invocation-unique (`freshName`);
    * pass explicit names for a standing artifact consumed across
    * sessions. */
  def materializeDocIndex(docs: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.6, maxDocFreq: Int = 100,
                          shingleK: Int = 3, numBuckets: Int = 0,
                          survivorsTable: String = freshName(SurvivorsBase),
                          pairsTable: String = freshName(PairsBase),
                          keepPostings: Boolean = false,
                          postingsTable: String = freshName(PostingsBase),
                          dfTable: String = freshName(DfBase)): DocIndex = {
    val spark = docs.sparkSession
    val buckets = if (numBuckets > 0) numBuckets else autoBuckets(docs)
    graft.etl.Layout.writeBucketed(
      Dedup.dropExactDuplicates(docs, idCol, textCol)
        .withColumn(HashCol, TextAnalysis.textHash(col(textCol))),
      survivorsTable, idCol, buckets)
    // pair generation reads the WRITTEN survivors artifact (not the
    // lazy dedup plan): the exact-dedup window runs once at write time,
    // and the shingle pipeline scans bucketed parquet — on a cluster
    // that read is the cheap, re-runnable part
    val survivors = spark.table(survivorsTable)
    val pairsDf =
      if (!keepPostings)
        Dedup.jaccardPairs(
          Dedup.shingles(survivors, idCol, textCol, shingleK),
          threshold, maxDocFreq)
      else {
        // standing-artifact mode: persist the hashed posting relation
        // first and score pairs FROM the written table — the bucketed
        // scan already clusters by `s`, so the df-cap window and the
        // posting aggregation plan with no exchange, and the same
        // artifact later feeds advanceDocIndex's delta rescore
        graft.etl.Layout.writeBucketed(
          Dedup.shingles(survivors, idCol, textCol, shingleK)
            .select(col("doc_id"), xxhash64(col("s")).as("s"))
            .distinct(),
          postingsTable, "s", buckets)
        // fourth standing artifact: per-shingle df delta rows, derived
        // from the freshly written postings (bucketed scan → bucket-
        // local count → bucketed write, no exchange). Advances append
        // ±delta rows; consumers read sum(cnt) per shingle.
        graft.etl.Layout.writeBucketed(
          spark.table(postingsTable).groupBy(col("s"))
            .agg(count(lit(1)).as("cnt")),
          dfTable, "s", buckets)
        Dedup.jaccardPairsHashed(spark.table(postingsTable), threshold, maxDocFreq)
      }
    graft.etl.Layout.writeBucketed(pairsDf, pairsTable, "doc_id2", buckets)
    // record the materialization parameters on the artifact itself:
    // advanceDocIndex derives its semantics from these, so an advance
    // can never silently run with a different cap/threshold than the
    // index it extends. nDocs (survivor count — a parquet metadata
    // read) feeds the advance's economy guard.
    val nDocs = spark.table(survivorsTable).count()
    spark.sql(
      s"ALTER TABLE `$pairsTable` SET TBLPROPERTIES(" +
        s"'graft.threshold'='$threshold','graft.maxDocFreq'='$maxDocFreq'," +
        s"'graft.shingleK'='$shingleK','graft.numBuckets'='$buckets'," +
        s"'graft.nDocs'='$nDocs'," +
        // fresh exact scores → zeroed drift accumulators (driftEstimate)
        "'graft.drift.advances'='0','graft.drift.flips'='0'," +
        "'graft.drift.holders'='0','graft.drift.contrib_nano'='0'," +
        "'graft.drift.untracked'='0')")
    DocIndex(survivorsTable, pairsTable,
      if (keepPostings) Some(postingsTable) else None,
      if (keepPostings) Some(dfTable) else None)
  }

  /** Outcome of one `advanceDocIndex` call. `appended == true` means
    * all standing tables were extended in place; `false` means
    * at least the pairs table is a new generation (`idx` names the
    * live tables — some may be REUSED from the input index, so release
    * the superseded ones via `dropSuperseded`, not a blind drop of the
    * old index). */
  final case class AdvanceResult(idx: DocIndex, appended: Boolean,
                                 newDocs: Long, evicted: Long,
                                 affectedOld: Long,
                                 capFlips: Long = 0L, flipHolders: Long = 0L)

  /** Drop the tables of a superseded generation that the advanced
    * index does NOT reuse (a partial rewrite keeps the old survivors,
    * postings and df tables live inside `advanced`). Call once the old
    * generation's readers are done. */
  def dropSuperseded(spark: SparkSession, old: DocIndex, advanced: DocIndex): Unit = {
    val live = Set(advanced.survivorsTable, advanced.pairsTable) ++
      advanced.postingsTable ++ advanced.dfTable
    (Seq(old.survivorsTable, old.pairsTable) ++ old.postingsTable ++ old.dfTable)
      .filterNot(live).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  /** Advance a standing doc index with a new batch WITHOUT full
    * rematerialization (round-12, VERDICT item 2) — what a daily
    * 100 TB pipeline does between corpus snapshots. The post-advance
    * index is row-identical to `materializeDocIndex` on corpus ∪ batch
    * (PairIndexSpec pins all three tables on both code paths; the
    * registered d31 query pins the curation consumer against the d12
    * oracle end-to-end).
    *
    * Why append-only is NOT exact, and what is: the pair scores are
    * Jaccard over the df-CAPPED shingle universe, and the batch moves
    * document frequencies. A shingle crossing the cap (either way —
    * batch postings push it over, an eviction pulls it back under)
    * changes the capped universe, which changes intersection counts
    * AND per-doc cardinalities of OLD pairs; shrinking a pair's union
    * can even lift a previously sub-threshold pair above threshold, so
    * the delta is not purely additive. The exact affected set is
    *
    *   A = batch survivors ∪ evicted corpus docs
    *       ∪ old docs holding any shingle whose cap status changed
    *
    * — every pair with BOTH endpoints outside A is unchanged (its
    * shared shingles kept their status, and each endpoint's
    * cardinality is a function of its own shingles' statuses alone).
    * So the advance rescores exactly the pairs touching A, over the
    * candidate shingles SA = shingles of A docs (any pair touching A
    * shares only shingles its A-endpoint holds, so SA covers every
    * intersection it needs), with cardinalities recomputed for the
    * delta-pair participants over the full capped combined universe.
    *
    * Physical shape (nothing here shuffles the full index):
    *  - every doc-keyed access goes through `survivorsTable` (bucketed
    *    by the id: affected/participant docs are re-shingled from a
    *    bucket-co-located semi join + the native shingle kernel, never
    *    by re-keying the posting table);
    *  - every shingle-keyed access goes through `postingsTable` /
    *    `dfTable` (bucketed by `s`: the candidate semi joins and the
    *    df aggregation ride the bucketing with no exchange);
    *  - the combined per-shingle cap-status relation is computed in
    *    ONE pass per advance — off the standing df artifact
    *    (~|distinct shingles| delta rows) when present, off a single
    *    postings aggregation otherwise — persisted, and probed by all
    *    three key sets. (Round 12 shipped this as three separate
    *    full-postings aggregations; measured at 2.6-6.6× the cost of
    *    rematerialization at sf0.1-sf1, which round 13 exists to fix.)
    *  - everything else is batch- or delta-scale, EXCEPT what the
    *    cap-cascade forces: the affected set scales with the CORPUS
    *    for a fixed batch fraction (shingles sit in a band near the
    *    df-cap and any batch flips some; measured 27.7k affected docs
    *    at sf1 → 277k at sf10 for the same 1.6% batch), so the
    *    rescore + the copy-forward pairs rewrite are an irreducible
    *    corpus-coupled tax of EXACT global-df-cap semantics. Honest,
    *    measured cost model (BENCH_decades_r13.json): the exact
    *    advance lands at ~1.0-1.3× a full rematerialization at every
    *    decade tried — use it as the AUDITED path (and after
    *    eviction-heavy batches), not the daily one. The daily path is
    *    `frozenCaps` below (0.38× rebuild wall at sf1 → 0.27× at
    *    sf10, growing with scale); the economy guard turns the
    *    stress case into plain rebuild cost automatically.
    *
    * Write strategy, chosen from two scalar counts:
    *  - no evictions, no cap crossings → all four artifacts APPENDED
    *    in place (`Layout.appendBucketed`); the delta is purely the
    *    new cross+within pairs.
    *  - no evictions, cap crossings (the NORMAL daily case at scale —
    *    every large corpus has a band of shingles near the df-cap and
    *    any batch flips some) → survivors, postings and df still
    *    append in place (no existing row of any changes), and only the
    *    PAIRS table is rewritten to a fresh generation (copy-forward
    *    of pairs not touching A, plus the delta).
    *  - evictions → all four tables get a fresh generation with
    *    copy-forward of live rows. Still no pair regeneration.
    *  - economy guard (`economyGuard`, round-13): when
    *    nNew + nEvicted + nAffected exceeds `economyGuard` × corpus
    *    docs (from the stamped `graft.nDocs`), the delta path cannot
    *    beat a rebuild — the advance INTERNALLY rematerializes fresh
    *    generations instead (reusing the already-made survivor
    *    decisions), so callers get the same row-identical result
    *    either way; telemetry `pairindex.advance_fallback` records it.
    *    Pass `Double.PositiveInfinity` to force the delta path (specs
    *    pinning the delta algebra do).
    *
    * `frozenCaps = true` selects the cheap daily mode (round-13): NEW
    * pairs are scored over the CURRENT capped universe exactly as the
    * exact mode scores them, but existing pairs KEEP their birth
    * scores — the cap-flip detection, affected-set rescore and the
    * pairs copy-forward are all skipped, so a no-eviction frozen
    * advance is pure batch-scale compute + four bucketed appends.
    * When no shingle's cap status actually flips, frozen and exact
    * advances are ROW-IDENTICAL (PairIndexSpec pins this); when flips
    * occur, old-pair scores drift from the exact universe until the
    * next rematerialization absorbs them — run exact advances (or
    * periodic rebuilds) on an audit cadence and frozen advances
    * day-to-day.
    *
    * Snapshot isolation is per-TABLE, scoped to what a path rewrites:
    * a partial rewrite leaves the old PAIRS generation intact for
    * concurrent readers but appends to the survivors/postings/df
    * tables the superseded DocIndex shares, so a reader of the OLD
    * index can observe appended survivor/posting rows with no
    * corresponding pairs. Readers needing a full-index snapshot must
    * read a generation that is not being advanced (the full-rewrite
    * and fallback paths provide exactly that). Release superseded
    * tables with `dropSuperseded` (NOT a blind `dropDocIndex(old)` —
    * a partial rewrite REUSES the old survivors/postings/df tables in
    * the advanced index).
    *
    * Semantics parameters (threshold/cap/k/buckets) are read from the
    * TBLPROPERTIES `materializeDocIndex` stamped on the pairs table —
    * an advance can never run with different semantics than the index
    * it extends. Preconditions: the index was materialized with
    * `keepPostings = true`; batch ids are distinct from surviving
    * corpus ids; batch schema matches the corpus schema.
    *
    * Append-path atomicity caveat: in-place appends are sequenced and
    * each append's plan reads only pre-append table state, but a
    * concurrent reader of the SAME DocIndex can observe a partially
    * advanced index.
    *
    * `preserveInput = true` (round-19; reshaped round-20) selects
    * COPY-ON-WRITE: every artifact of the RESULT is a fresh generation
    * and the input index is never mutated — full snapshot isolation
    * for concurrent readers of the old generation, and the property
    * that lets several consumers advance the SAME standing base (the
    * suite's shared fixture; see queries.StandingFixtures). Round 19
    * implemented it by redirecting the append and partial-rewrite
    * paths to the full-rewrite branch — an O(index) copy-forward
    * (shuffle + parquet re-encode of all four tables) per advance,
    * the round-19 VERDICT's top scale problem. Round 20: the paths
    * keep their own write shapes and the tables they would mutate
    * in place are CLONED first (`cloneDocIndex` — a storage-level
    * file copy, metadata-only on a snapshotting table format), so a
    * preserved advance costs one index file copy plus the same
    * batch-scale appends as the default mode; the partial-rewrite
    * path clones only the three appended tables (the pairs table is
    * rewritten fresh either way). Row-identical to the default mode
    * by construction — the clone is byte-identical and the append
    * algebra is unchanged (PairIndexSpec pins all three shapes). */
  def advanceDocIndex(spark: SparkSession, idx: DocIndex, batch: DataFrame,
                      idCol: String, textCol: String,
                      frozenCaps: Boolean = false,
                      economyGuard: Double = 0.3,
                      assertNoCapFlips: Boolean = false,
                      driftStats: Boolean = true,
                      autoCompactMaxFiles: Double = 0.0,
                      preserveInput: Boolean = false): AdvanceResult = {
    import org.apache.spark.storage.StorageLevel
    // per-phase wall is ALWAYS exported to Telemetry (round-13, VERDICT
    // item 7) so a bench regression in the advance is attributable from
    // BENCH_wall.json without a debug rerun
    def ph[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      val ms = (System.nanoTime() - t0) / 1000000L
      graft.Telemetry.record(s"pairindex.advance_ms_$name", ms)
      r
    }
    val postingsTable = idx.postingsTable.getOrElse(throw new IllegalArgumentException(
      s"advanceDocIndex needs the postings artifact: materialize ${idx.pairsTable} " +
        "with keepPostings = true"))
    val props = spark.sql(s"SHOW TBLPROPERTIES `${idx.pairsTable}`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def prop(k: String): String = props.getOrElse(s"graft.$k",
      throw new IllegalArgumentException(
        s"${idx.pairsTable} lacks TBLPROPERTY graft.$k — not a materializeDocIndex artifact"))
    val threshold = prop("threshold").toDouble
    val cap = prop("maxDocFreq").toInt
    val shingleK = prop("shingleK").toInt
    val numBuckets = prop("numBuckets").toInt

    val survivors = spark.table(idx.survivorsTable)
    val stored = spark.table(postingsTable)
    def hashedPostings(docs: DataFrame): DataFrame =
      Dedup.shingles(docs, idCol, textCol, shingleK)
        .select(col("doc_id"), xxhash64(col("s")).as("s"))
        .distinct()

    // ---- exact-dedup advance (eviction-aware) ----
    // Corpus survivors are unique per canonical hash, so the left join
    // fans out at most 1:1; the decision relation is batch-scale and is
    // persisted so every downstream plan (counts, three writes) reads
    // the decided state instead of replaying the join against a table
    // that later appends mutate.
    val batchD = Dedup.dropExactDuplicates(batch, idCol, textCol)
      .withColumn("__h", TextAnalysis.textHash(col(textCol)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nBatch = ph("count_batch")(batchD.count())
    // Batch ≪ corpus is the daily regime, so the exact-dedup decision
    // is a PROBE of the corpus, not a merge with it (round-15, VERDICT
    // item 5): the old merge-hinted plan shuffled AND sorted the full
    // survivors relation by canonical hash every advance — measured as
    // ~5 s of the 23.5 s warm frozen advance at sf30 for a 23.7k-row
    // batch. Instead: (1) semi-join the survivors scan against the
    // broadcast batch-hash set — one corpus scan, no shuffle, no sort,
    // output ≤ |batch| rows (survivors are unique per hash); (2) left-
    // join the batch against the broadcast matches. Both broadcasts are
    // batch-scale. Falls back to the merge plan when the batch exceeds
    // the broadcast budget (conf-tunable; specs pin row-identity on
    // both plans).
    val probeMax = spark.conf
      .get("spark.graft.advance.broadcastProbeMaxBatch", "5000000").toLong
    // the stored canonical-hash column (HashCol, round-15) turns the
    // corpus side of the probe into a pruned two-column scan — no text
    // read, no per-advance re-hash; pre-round-15 artifacts derive it
    val hasStoredHash = survivors.columns.contains(HashCol)
    val survHashed =
      if (hasStoredHash)
        survivors.select(col(idCol).as("__cid"), col(HashCol).as("__h"))
      else survivors.select(col(idCol).as("__cid"),
        TextAnalysis.textHash(col(textCol)).as("__h"))
    val decided = (
      if (nBatch <= probeMax) {
        val matched = survHashed.join(
          broadcast(batchD.select(col("__h"))), Seq("__h"), "left_semi")
        batchD.join(broadcast(matched), Seq("__h"), "left")
      } else
        batchD.join(survHashed.hint("merge"), Seq("__h"), "left")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    val newSurv0 = decided
      .filter(col("__cid").isNull || col(idCol) < col("__cid"))
    val newSurv =
      if (hasStoredHash) newSurv0.withColumn(HashCol, col("__h"))
        .drop("__h", "__cid")
      else newSurv0.drop("__h", "__cid")
    val evictedIds = decided
      .filter(col("__cid").isNotNull && col(idCol) < col("__cid"))
      .select(col("__cid").as(idCol))
    // both decision counts in ONE action over the persisted relation —
    // each count() here is a full multi-stage job at small batch sizes
    val cnts = ph("count_new_evicted")(decided.agg(
      sum(when(col("__cid").isNotNull && col(idCol) < col("__cid"), 1L)
        .otherwise(0L)).as("e"),
      sum(when(col("__cid").isNull || col(idCol) < col("__cid"), 1L)
        .otherwise(0L)).as("n")).head())
    val nEvicted = if (cnts.isNullAt(0)) 0L else cnts.getLong(0)
    val nNew = if (cnts.isNullAt(1)) 0L else cnts.getLong(1)

    // Batch-scale waypoints are EAGERLY localCheckpoint'd, not
    // persisted (round-13): the advance's lazy DAG grew multiplicative
    // — every downstream plan embedded the full upstream tree, so
    // Catalyst re-analyzed thousands of nodes per action (a
    // driver-serial cost measured as ~half the advance wall at sf0.1,
    // and an explain-string heap blowout in long sessions). Each
    // checkpoint is a small eager job whose output the rest of the
    // advance consumes as a flat block scan; blocks are released by
    // ContextCleaner (set spark.cleaner.periodicGC.interval low on
    // long-lived sessions). Same executor-loss caveat as the write
    // checkpoints below: advance-internal state is not recoverable
    // mid-call — rerun the advance on failure.
    val shB = ph("ckpt_shb")(hashedPostings(newSurv).localCheckpoint(true))
    val dfB = shB.groupBy(col("s")).agg(count(lit(1)).as("__dfb"))
    // per-shingle df deltas: batch additions minus eviction removals —
    // df can only change for shingles present in one of these
    val dfDelta = ph("ckpt_dfdelta")(
      (if (nEvicted == 0) dfB.withColumn("__dfe", lit(0L))
       else dfB.join(
           hashedPostings(survivors.join(evictedIds, Seq(idCol), "left_semi"))
             .groupBy(col("s")).agg(count(lit(1)).as("__dfe")),
           Seq("s"), "full_outer")
         .select(col("s"), coalesce(col("__dfb"), lit(0L)).as("__dfb"),
           coalesce(col("__dfe"), lit(0L)).as("__dfe")))
      .localCheckpoint(true))
    // ---- ONE corpus-wide df pass per advance (round-13, VERDICT 1a).
    // The df source is the standing df artifact when present — a
    // bucketed scan + bucket-local sum over ~|distinct shingles| delta
    // rows — with a single postings aggregation as back-compat for
    // pre-round-13 indexes. The combined cap-status relation is
    // computed once, persisted, and PROBED by every consumer; round 12
    // instead re-ran the full postings aggregation under each of three
    // key sets, the measured dominant overhead of the whole advance.
    val dfAgg = idx.dfTable match {
      case Some(t) =>
        spark.table(t).groupBy(col("s")).agg(sum(col("cnt")).as("__dfo"))
      case None => stored.groupBy(col("s")).agg(count(lit(1)).as("__dfo"))
    }
    // serialized storage: this is the advance's one corpus-scale cache
    // (~|distinct shingles| rows) — serialized columnar batches keep it
    // 2-3x smaller so it doesn't squeeze execution memory out of the
    // unified pool under full task concurrency (measured at sf10:
    // deserialized caching starved the bucketed sorts to OOM)
    val dfCombFull = dfAgg
      .join(dfDelta, Seq("s"), "full_outer")
      .select(col("s"), coalesce(col("__dfo"), lit(0L)).as("__dfo0"),
        (coalesce(col("__dfo"), lit(0L)) - coalesce(col("__dfe"), lit(0L))
          + coalesce(col("__dfb"), lit(0L))).as("__dfc"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // merge hints, not broadcast, on the probes: at corpus scale a key
    // set can outgrow any broadcast limit (AQE still upgrades small
    // ones at runtime from real sizes)
    def dfComb(keys: DataFrame): DataFrame =
      keys.hint("merge").join(dfCombFull, Seq("s"), "left")
        .select(col("s"), coalesce(col("__dfo0"), lit(0L)).as("__dfo0"),
          coalesce(col("__dfc"), lit(0L)).as("__dfc"))

    // shingles whose cap status changes AND that some old doc holds:
    // only these can perturb old-old pairs / old cardinalities. Comes
    // straight off the persisted relation — a flip requires a df
    // change, and rows absent from dfDelta have __dfc == __dfo0, so no
    // key-set join is needed at all. frozenCaps skips flip detection
    // by definition (existing pairs keep their birth scores).
    val changedKeys = dfCombFull
      .filter(col("__dfo0") >= 1 &&
        ((col("__dfo0") <= cap) =!= (col("__dfc") <= cap)))
      .select(col("s"))
    // `assertNoCapFlips` (round-14, ADVICE): a frozen advance whose
    // correctness gate pins it to the EXACT oracle (d32) is only valid
    // under the data-dependent precondition that the batch flips no
    // shingle's cap status. Asserting the precondition here makes a
    // violated fixture fail with an ATTRIBUTABLE message instead of an
    // anonymous hash mismatch that reads as an advance bug. The count
    // runs off the already-persisted cap-status relation — it does not
    // change the advance's semantics, only adds one aggregation (so the
    // daily production path leaves it off).
    // Frozen-mode drift accounting (round-15, VERDICT item 1): ONE
    // fused pass over the already-persisted cap-status relation yields
    // the flip count, the flip HOLDER mass (Σ per flipped shingle of
    // its smaller-side df — the docs whose capped shingle sets the flip
    // perturbs), and the current capped posting mass (→ mean capped
    // per-doc cardinality c̄, the score-granularity scale). These three
    // scalars are what `driftEstimate` accumulates — the cheap online
    // stand-in for the DriftLadder's exact-reference drift measurement.
    // `driftStats = false` skips the aggregation for a rung that wants
    // the bare advance wall.
    val flipCond = col("__dfo0") >= 1 &&
      ((col("__dfo0") <= cap) =!= (col("__dfc") <= cap))
    val (nFlips, flipHolders, cappedPostCur) =
      if (!frozenCaps) (ph("count_changed")(changedKeys.count()), 0L, 0L)
      else if (driftStats || assertNoCapFlips) {
        val r = ph("count_changed")(dfCombFull.agg(
          sum(when(flipCond, 1L).otherwise(0L)).as("f"),
          sum(when(flipCond, least(col("__dfo0"), col("__dfc")))
            .otherwise(0L)).as("h"),
          sum(when(col("__dfc") >= 1 && col("__dfc") <= cap, col("__dfc"))
            .otherwise(0L)).as("p")).head())
        def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
        (l(0), l(1), l(2))
      } else (0L, 0L, 0L)
    if (frozenCaps && assertNoCapFlips && nFlips > 0) {
      dfCombFull.unpersist(); decided.unpersist(); batchD.unpersist()
      throw new IllegalStateException(
        s"frozen-cap advance precondition violated: $nFlips shingle cap-status " +
          "flip(s) occurred, so frozen scores will drift from the exact " +
          "universe — this is a property of the batch/fixture (regenerate the " +
          "fixture or re-pin the oracle), not an advance bug. Run with " +
          "frozenCaps=false (exact) if the batch must be absorbed exactly.")
    }
    val nChanged = if (frozenCaps) 0L else nFlips
    val affectedOld =
      if (nChanged == 0) newSurv.select(col(idCol)).limit(0)
      else ph("ckpt_affected")(stored.join(changedKeys, Seq("s"), "left_semi")
        .select(col("doc_id").as(idCol)).distinct()
        .localCheckpoint(true))
    val nAffected = ph("count_affected")(if (nChanged == 0) 0L else affectedOld.count())

    // evictions are bounded by the batch's duplicate count — broadcast
    // the anti side only when the measured count says it fits, else a
    // plain equi anti join (AQE may still promote it at runtime)
    def evictedSide: DataFrame = {
      val e = evictedIds.select(col(idCol).as("__eid"))
      if (nEvicted <= 5000000L) broadcast(e) else e
    }
    val survCols = spark.table(idx.survivorsTable).columns.toIndexedSeq.map(col)
    // ---- accumulated drift counters (round-15, VERDICT item 1) ----
    // A frozen advance's drift contribution is normalized AT ADVANCE
    // TIME (when the corpus statistics it depends on are current) and
    // accumulated on the artifact, so reading the estimate later is a
    // pure TBLPROPERTIES lookup — O(1), no job. Model (validated
    // against the DriftLadder's measured drift, both shapes):
    //   - a flip perturbs the capped shingle sets of its ~h holder docs
    //     (h = the flip's smaller-side df — the docs that gain/lose the
    //     shingle from their capped universe);
    //   - each perturbed doc's pairs move by ~one shingle out of a
    //     ~ū-shingle union, ū ≈ 4c̄/(3+t) (n1≈n2≈c̄ and J≈(t+1)/2 give
    //     u = 2c/(1+J)), so the |ΔJ| mass added per flip is
    //     ~h·d̄·(1/ū) over d̄·nDocs/2 = nPairs pairs;
    //   - mean-over-all-pairs contribution per advance therefore
    //     collapses to Σh·(3+t)/(2·Σ_capped df) — nDocs and nPairs both
    //     cancel, leaving exactly the two scalars the fused flip
    //     aggregation above computed.
    // Stored in nano-units as a long (TBLPROPERTIES are strings; a
    // float accumulator would invite rounding-format drift).
    val drift0 = Seq("advances", "flips", "holders", "contrib_nano",
      "untracked").map(k => props.getOrElse(s"graft.drift.$k", "0").toLong)
    val contribNano =
      if (frozenCaps && flipHolders > 0 && cappedPostCur > 0)
        math.round(flipHolders.toDouble * (3.0 + threshold)
          / (2.0 * cappedPostCur) * 1e9)
      else 0L
    val driftAdv: Seq[Long] =
      if (frozenCaps)
        Seq(drift0(0) + 1, drift0(1) + nFlips, drift0(2) + flipHolders,
          drift0(3) + contribNano,
          drift0(4) + (if (driftStats || assertNoCapFlips) 0L else 1L))
      else drift0 // exact advance: rescores pairs touching A, but pairs
                  // outside A keep their (possibly drifted) scores, so
                  // accumulated frozen drift CARRIES — only a full
                  // rematerialization (fallback / materialize) resets it
    def driftProps(d: Seq[Long]): String =
      Seq("advances", "flips", "holders", "contrib_nano", "untracked")
        .zip(d).map { case (k, v) => s"'graft.drift.$k'='$v'" }.mkString(",")
    def stampProps(tab: String, n: Long): Unit = spark.sql(
      s"ALTER TABLE `$tab` SET TBLPROPERTIES(" +
        s"'graft.threshold'='$threshold','graft.maxDocFreq'='$cap'," +
        s"'graft.shingleK'='$shingleK','graft.numBuckets'='$numBuckets'," +
        s"'graft.nDocs'='$n',${driftProps(driftAdv)})")
    def finish(result: AdvanceResult, fallback: Boolean): AdvanceResult = {
      graft.Telemetry.record("pairindex.advance_appended",
        if (result.appended) 1L else 0L)
      graft.Telemetry.record("pairindex.advance_fallback", if (fallback) 1L else 0L)
      graft.Telemetry.record("pairindex.advance_frozen", if (frozenCaps) 1L else 0L)
      graft.Telemetry.record("pairindex.advance_new_docs", result.newDocs)
      graft.Telemetry.record("pairindex.advance_evicted", result.evicted)
      graft.Telemetry.record("pairindex.advance_affected_old", result.affectedOld)
      graft.Telemetry.record("pairindex.advance_cap_flips", result.capFlips)
      graft.Telemetry.record("pairindex.advance_flip_holders", result.flipHolders)
      result
    }

    // ---- economy guard (round-13, VERDICT item 1b) ----
    // The delta path's cost scales with the touched set (new + evicted
    // + affected docs drive the re-shingles, the rescore and the
    // copy-forward rewrites); once that set approaches a sizable
    // fraction of the corpus, from-scratch pair generation is cheaper
    // than grinding through a losing delta. The three scalars are
    // already counted, the corpus size is stamped on the artifact —
    // compare and fall back BEFORE any delta work. The fallback reuses
    // the survivor DECISIONS made above (no second exact-dedup window)
    // and writes fresh generations exactly like materializeDocIndex,
    // so the result is row-identical to the delta path either way.
    val nCorpus = props.get("graft.nDocs").map(_.toLong)
      .getOrElse(ph("count_corpus")(survivors.count()))
    if (!frozenCaps &&
        (nNew + nEvicted + nAffected).toDouble > economyGuard * nCorpus) {
      val sTab = freshName(SurvivorsBase); val pTab = freshName(PairsBase)
      val postTab = freshName(PostingsBase); val dTab = freshName(DfBase)
      ph("fallback_rematerialize") {
        val liveSurv =
          if (nEvicted == 0) survivors
          else survivors.join(evictedSide,
            survivors(idCol) === col("__eid"), "left_anti")
        val combinedSurv = liveSurv.select(survCols: _*)
          .unionByName(newSurv.select(survCols: _*))
        // the fallback replaces ALL four tables, so nothing downstream
        // requires bucket compatibility with the superseded generation
        // — re-derive the count from the combined survivors (round-14,
        // VERDICT item 3): an index born small that grew 10× through
        // appends would otherwise keep its birth bucket count through
        // a full internal rematerialization, exactly the fixed-bucket
        // failure autoBuckets exists to prevent. max() with the birth
        // count so an unknown-stats estimate (autoBuckets' 32-floor
        // fallback) can never SHRINK a large index's parallelism.
        val fbBuckets = math.max(numBuckets, autoBuckets(combinedSurv))
        graft.etl.Layout.writeBucketed(combinedSurv, sTab, idCol, fbBuckets)
        graft.etl.Layout.writeBucketed(
          hashedPostings(spark.table(sTab)), postTab, "s", fbBuckets)
        graft.etl.Layout.writeBucketed(
          spark.table(postTab).groupBy(col("s")).agg(count(lit(1)).as("cnt")),
          dTab, "s", fbBuckets)
        graft.etl.Layout.writeBucketed(
          Dedup.jaccardPairsHashed(spark.table(postTab), threshold, cap),
          pTab, "doc_id2", fbBuckets)
        // full rematerialization: every pair rescored exactly over the
        // combined capped universe — accumulated frozen drift RESETS
        spark.sql(
          s"ALTER TABLE `$pTab` SET TBLPROPERTIES(" +
            s"'graft.threshold'='$threshold','graft.maxDocFreq'='$cap'," +
            s"'graft.shingleK'='$shingleK','graft.numBuckets'='$fbBuckets'," +
            s"'graft.nDocs'='${nCorpus + nNew - nEvicted}'," +
            s"${driftProps(Seq(0L, 0L, 0L, 0L, 0L))})")
      }
      dfCombFull.unpersist(); decided.unpersist(); batchD.unpersist()
      return finish(AdvanceResult(
        DocIndex(sTab, pTab, Some(postTab), Some(dTab)),
        appended = false, nNew, nEvicted, nAffected, nFlips, 0L), fallback = true)
    }

    // ---- delta pair rescore over candidate shingles SA ----
    val aOldDocs = affectedOld // evicted docs carry no postings → no pairs
    val shAOld =
      if (nAffected == 0) shB.limit(0)
      else hashedPostings(survivors.join(
        aOldDocs.select(col(idCol)), Seq(idCol), "left_semi"))
    val candKeys = dfB.select(col("s"))
      .unionByName(shAOld.select(col("s"))).distinct()
    // batch-scale key set, re-walked by aPart (twice: A-B join and
    // A-A kernel) and bPart — persist so the dfComb probe runs once
    val cappedCandKeys = ph("ckpt_capped_cand")(dfComb(candKeys)
      .filter(col("__dfc") <= cap).select(col("s"))
      .localCheckpoint(true))
    val storedCand = {
      val sc = stored.join(cappedCandKeys, Seq("s"), "left_semi")
      if (nEvicted == 0) sc
      else sc.join(evictedSide, sc("doc_id") === col("__eid"), "left_anti")
    }
    // Pairs touching A, built ASYMMETRICALLY by provenance rather than
    // generate-all-then-filter: the capped candidate postings split
    // into disjoint halves — aPart (batch postings + affected-old
    // stored postings: exactly A's docs) and bPart (every other stored
    // holder). A×B intersections are one linear join (≤ |aPart| × cap
    // rows — batch-scale × cap, the true output bound); A×A runs the
    // shared pairIntersections kernel over batch-scale postings only.
    // The symmetric alternative (pairIntersections over ALL candidate
    // holders, then semi-join to A) pays df² per candidate shingle for
    // B×B pairs it immediately discards — measured 7× slower at
    // sf0.01, and the gap grows with near-dup density since a batch
    // shingle's holders are mostly old docs.
    val shBCap = shB.join(cappedCandKeys, Seq("s"), "left_semi")
    val (aPart0, bPart) =
      if (nAffected == 0) (shBCap, storedCand.select(col("doc_id"), col("s")))
      else {
        val sc = storedCand.select(col("doc_id"), col("s"))
        val aOldSet = aOldDocs.select(col(idCol).as("__aoid"))
        (shBCap.unionByName(
           sc.join(aOldSet, sc("doc_id") === col("__aoid"), "left_semi")),
         sc.join(aOldSet, sc("doc_id") === col("__aoid"), "left_anti"))
      }
    // batch-scale postings, consumed by the A-B join, the A-A kernel
    // and the naA cardinalities — one evaluation, flat thereafter
    val aPart = ph("ckpt_apart")(aPart0.localCheckpoint(true))
    // candidate keys cover every pair-touching-A intersection: a shared
    // shingle of any such pair is held by its A-side doc, and candKeys
    // = dfB ∪ shAOld = all shingles of all A docs
    val interAB = aPart.select(col("s"), col("doc_id").as("__a"))
      .join(bPart.select(col("s"), col("doc_id").as("__b")), Seq("s"))
      .groupBy(least(col("__a"), col("__b")).as("doc_id1"),
        greatest(col("__a"), col("__b")).as("doc_id2"))
      .agg(count(lit(1)).as("n_inter"))
    val aIds = ph("ckpt_aids")(newSurv.select(col(idCol).as("__aid"))
      .unionByName(aOldDocs.select(col(idCol).as("__aid")))
      .localCheckpoint(true))
    val interA = Dedup.pairIntersections(aPart).unionByName(interAB)
    // A-side capped-universe cardinalities come FREE from aPart: an A
    // doc's shingles are all in candKeys by construction, so its aPart
    // rows are exactly its capped shingle set — no re-shingle, no df
    // probe, batch-scale
    val naA = ph("ckpt_naa")(
      aPart.groupBy(col("doc_id")).agg(count(lit(1)).as("__na"))
        .localCheckpoint(true))
    // ---- exact length-bound prune (round-13, the advance's real
    // scale fix). interA holds every ordered pair sharing >=1 capped
    // candidate shingle — overwhelmingly n_inter=1-2 junk from common
    // shingles sitting under the df-cap, connecting the batch to a
    // large fraction of the corpus (measured at sf0.1: participants
    // ~ corpus-sized, making the cardinality stage re-shingle most of
    // the corpus — the dominant advance cost). But a qualifying pair
    // needs j = i/(n1+n2-i) >= t, and n2 >= i forces i >= t*n1 for
    // EACH endpoint — so any pair with i < t*na on a known (A-side)
    // endpoint can never pass, and dropping it is exact. Survivors of
    // the prune are true near-dup candidates: batch-scale, so the
    // B-side cardinality stage below touches only them. The epsilon
    // keeps FP rounding from dropping an exactly-boundary pair (the
    // exact scorer re-filters anyway).
    val interPruned = ph("ckpt_inter_pruned")(interA
      .join(naA.select(col("doc_id").as("doc_id1"), col("__na").as("__na1")),
        Seq("doc_id1"), "left")
      .join(naA.select(col("doc_id").as("doc_id2"), col("__na").as("__na2")),
        Seq("doc_id2"), "left")
      .filter(
        (col("__na1").isNull ||
          col("n_inter").cast("double") >= lit(threshold) * col("__na1") - lit(1e-9)) &&
        (col("__na2").isNull ||
          col("n_inter").cast("double") >= lit(threshold) * col("__na2") - lit(1e-9)))
      .select(col("doc_id1"), col("doc_id2"), col("n_inter"))
      .localCheckpoint(true))
    // cardinalities for the pruned pairs' B-side participants only
    // (A-side is naA): re-shingled via the survivors bucketing (never
    // a doc-keyed pass over the s-bucketed posting table), then df
    // probed — all delta-scale after the prune
    val bParticipants = interPruned.select(col("doc_id1").as("__pid"))
      .unionByName(interPruned.select(col("doc_id2").as("__pid"))).distinct()
      .join(aIds, col("__pid") === col("__aid"), "left_anti")
    val bSh = ph("ckpt_bsh")(hashedPostings(survivors.join(
      bParticipants.select(col("__pid").as(idCol)), Seq(idCol), "left_semi"))
      .localCheckpoint(true))
    val cappedBKeys = dfComb(bSh.select(col("s")).distinct())
      .filter(col("__dfc") <= cap).select(col("s"))
    val card = ph("ckpt_card")(bSh.join(cappedBKeys, Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .unionByName(naA.select(col("doc_id"), col("__na").as("n")))
      .localCheckpoint(true))
    // the delta itself is checkpointed too: every write below then
    // reads flat blocks, and — since the write plans reference no
    // catalog table — they are structurally immune to the CacheManager
    // refresh storm that in-place appends trigger on plans reading the
    // mutated tables
    val delta = ph("force_delta")(
      Dedup.scoreJaccardPairs(interPruned, card, threshold)
        .localCheckpoint(true))
    // remaining write inputs: delta and shB are already checkpointed;
    // newSurv reads the decided cache (about to be released) so it
    // gets its own flat copy, and the df maintenance rows are a flat
    // scan+agg off the shB checkpoint (no catalog refs — immune to
    // the CacheManager refresh storm in-place appends trigger)
    val (deltaCk, shBCk) = (delta, shB)
    val newSurvCk = ph("checkpoint_writes")(
      newSurv.select(survCols: _*).localCheckpoint(true))
    val dfBCk = idx.dfTable.map(_ =>
      dfB.select(col("s"), col("__dfb").as("cnt")))

    // ---- write ----
    def unpersistAll(): Unit = {
      dfCombFull.unpersist()
      decided.unpersist()
      batchD.unpersist()
    }
    val result =
      if (nEvicted == 0 && nAffected == 0) {
        // pure append: A == batch, so the delta is exactly the new
        // cross+within pairs and no existing row changes. The caches
        // are released BEFORE the tables they read are mutated —
        // an insert RE-EXECUTES every registered cache entry whose
        // plan contains the table (CacheManager refresh), which
        // replayed the whole candidate pipeline per append before the
        // round-12 fix (a measured 10× CPU storm at sf0.01). The
        // appends themselves write the CHECKPOINTED frames, whose
        // plans reference no catalog table, so they can run in any
        // order relative to the mutations.
        //
        // preserveInput (round-20): the appends land on a storage-level
        // CLONE of the index instead of redirecting to the full-rewrite
        // branch — round-19 shipped copy-on-write as "take the
        // copy-forward rewrite of all four tables", i.e. O(index)
        // shuffle+rewrite compute per advance; the clone is a plain
        // file copy (metadata-only on Iceberg/Delta), after which the
        // advance is the same batch-scale append as the default mode
        // (measured at sf0.1: ~0.3 s clone vs ~3.5 s four-table
        // copy-forward). The input index is never touched either way.
        val target =
          if (!preserveInput) idx
          else ph("clone_index")(cloneDocIndex(spark, idx))
        unpersistAll()
        ph("append_pairs")(graft.etl.Layout.appendBucketed(deltaCk, target.pairsTable, "doc_id2", numBuckets))
        ph("append_postings")(graft.etl.Layout.appendBucketed(shBCk, target.postingsTable.get, "s", numBuckets))
        ph("append_survivors")(graft.etl.Layout.appendBucketed(newSurvCk,
          target.survivorsTable, idCol, numBuckets))
        target.dfTable.foreach(t => ph("append_df")(
          graft.etl.Layout.appendBucketed(dfBCk.get, t, "s", numBuckets)))
        stampProps(target.pairsTable, nCorpus + nNew)
        AdvanceResult(target, appended = !preserveInput, nNew, 0L, 0L,
          nFlips, flipHolders)
      } else if (nEvicted == 0) {
        // partial rewrite (the common cap-cascade case): with no
        // evictions, NO existing survivor or posting row changes —
        // affected-old docs keep their rows; only their PAIR scores
        // move. So survivors, postings and df append in place exactly
        // like the pure-append path, and only the pairs table gets the
        // copy-forward rewrite (drop pairs touching A, add the delta).
        // This matters at scale: the cap cascade is inherent — any
        // large corpus has a band of shingles sitting near the df-cap,
        // and ANY batch flips some of them, each flip touching up to
        // `cap` docs — so nAffected>0 is the NORMAL daily outcome, and
        // before this split the advance paid a full three-table
        // copy-forward (I/O ≈ a rematerialization) for it. The pairs
        // rewrite reads the OLD pairs table and writes a fresh
        // generation, so it runs before the cache release; the
        // appends write checkpointed frames afterwards.
        //
        // preserveInput clones only the three appended tables — the
        // pairs table is rewritten to a fresh generation either way,
        // and it is the LARGEST artifact, so cloning it would be pure
        // wasted I/O.
        val target =
          if (!preserveInput) idx
          else ph("clone_index")(DocIndex(
            cloneTableWithData(spark, idx.survivorsTable, SurvivorsBase),
            idx.pairsTable, // read-only below; replaced by pTab in the result
            idx.postingsTable.map(cloneTableWithData(spark, _, PostingsBase)),
            idx.dfTable.map(cloneTableWithData(spark, _, DfBase))))
        val pTab = freshName(PairsBase)
        val keptPairs = spark.table(idx.pairsTable)
          .join(aIds, col("doc_id1") === col("__aid"), "left_anti")
          .join(aIds, col("doc_id2") === col("__aid"), "left_anti")
        ph("rewrite_pairs")(graft.etl.Layout.writeBucketed(
          keptPairs.unionByName(deltaCk), pTab, "doc_id2", numBuckets))
        stampProps(pTab, nCorpus + nNew)
        unpersistAll()
        ph("append_postings")(graft.etl.Layout.appendBucketed(shBCk, target.postingsTable.get, "s", numBuckets))
        ph("append_survivors")(graft.etl.Layout.appendBucketed(newSurvCk,
          target.survivorsTable, idCol, numBuckets))
        target.dfTable.foreach(t => ph("append_df")(
          graft.etl.Layout.appendBucketed(dfBCk.get, t, "s", numBuckets)))
        AdvanceResult(DocIndex(target.survivorsTable, pTab,
            target.postingsTable, target.dfTable),
          appended = false, nNew, 0L, nAffected, nFlips, flipHolders)
      } else {
        // full rewrite: evictions delete rows from all four tables, so
        // each gets a fresh generation with copy-forward of live rows
        // (the df table is compacted from the persisted cap-status
        // relation below rather than copy-forwarded)
        val sTab = freshName(SurvivorsBase)
        val pTab = freshName(PairsBase)
        val postTab = freshName(PostingsBase)
        val liveSurv =
          if (nEvicted == 0) survivors
          else survivors.join(evictedSide, survivors(idCol) === col("__eid"), "left_anti")
        ph("rewrite_survivors")(graft.etl.Layout.writeBucketed(
          liveSurv.select(survCols: _*).unionByName(newSurvCk),
          sTab, idCol, numBuckets))
        val livePost =
          if (nEvicted == 0) stored
          else stored.join(evictedSide, stored("doc_id") === col("__eid"), "left_anti")
        ph("rewrite_postings")(graft.etl.Layout.writeBucketed(
          livePost.select(col("doc_id"), col("s")).unionByName(shBCk),
          postTab, "s", numBuckets))
        val removal = aIds.unionByName(evictedIds.select(col(idCol).as("__aid")))
        val oldPairs = spark.table(idx.pairsTable)
        val keptPairs = oldPairs
          .join(removal, col("doc_id1") === col("__aid"), "left_anti")
          .join(removal, col("doc_id2") === col("__aid"), "left_anti")
        ph("rewrite_pairs")(graft.etl.Layout.writeBucketed(
          keptPairs.unionByName(deltaCk), pTab, "doc_id2", numBuckets))
        stampProps(pTab, nCorpus + nNew - nEvicted)
        // fresh COMPACTED df generation straight off the persisted
        // cap-status relation (so it must be written before the
        // unpersist); net-zero shingles (all holders evicted) drop out
        val newDf = idx.dfTable.map { _ =>
          val dTab = freshName(DfBase)
          ph("rewrite_df")(graft.etl.Layout.writeBucketed(
            dfCombFull.filter(col("__dfc") > 0)
              .select(col("s"), col("__dfc").as("cnt")),
            dTab, "s", numBuckets))
          dTab
        }
        unpersistAll()
        AdvanceResult(DocIndex(sTab, pTab, Some(postTab), newDf),
          appended = false, nNew, nEvicted, nAffected, nFlips, flipHolders)
      }
    // ---- self-triggered file hygiene (round-16, VERDICT item 3) ----
    // The drift estimator already makes the REBUILD decision adaptive;
    // this makes the FILE decision adaptive too: once any artifact's
    // files/bucket exceeds the caller's bound, compact the advanced
    // generation before handing it back, so a long frozen-advance
    // chain keeps its consumers at bounded read amplification with no
    // manual compactDocIndex call. The check is a pure FS listing per
    // table (no job); compaction cost is the zero-shuffle per-bucket
    // rewrite. Intermediate tables the compaction supersedes are
    // released here — EXCEPT any still shared with the caller's input
    // index (the append path reuses all of them), whose release stays
    // the caller's dropSuperseded decision. Runs BEFORE finish() so
    // the telemetry counters describe the RETURNED result (an
    // auto-compacted append must not record advance_appended=1 for a
    // result whose tables are a fresh generation).
    val compactedResult =
      if (autoCompactMaxFiles > 0 &&
          compactDue(spark, result.idx, autoCompactMaxFiles)) {
        val compacted = ph("auto_compact")(compactDocIndex(spark, result.idx, idCol))
        graft.Telemetry.record("pairindex.advance_autocompact", 1L)
        val callerLive = (Seq(idx.survivorsTable, idx.pairsTable) ++
          idx.postingsTable ++ idx.dfTable).toSet ++
          (Seq(compacted.survivorsTable, compacted.pairsTable) ++
            compacted.postingsTable ++ compacted.dfTable)
        (Seq(result.idx.survivorsTable, result.idx.pairsTable) ++
          result.idx.postingsTable ++ result.idx.dfTable)
          .filterNot(callerLive)
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
        result.copy(idx = compacted, appended = false)
      } else result
    finish(compactedResult, fallback = false)
  }

  /** Files-per-bucket hygiene check for a standing index: true when
    * any artifact's per-bucket data-file count exceeds
    * `maxFilesPerBucket` — the trigger advances consult for
    * self-compaction (`advanceDocIndex(autoCompactMaxFiles = …)`), or
    * callers poll between advances. Pure filesystem listings, no
    * Spark job. */
  def compactDue(spark: SparkSession, idx: DocIndex,
                 maxFilesPerBucket: Double): Boolean =
    (Seq(idx.survivorsTable, idx.pairsTable) ++ idx.postingsTable ++ idx.dfTable)
      .exists(t => filesPerBucket(spark, t) > maxFilesPerBucket)

  // ---- online drift estimator (round-15, VERDICT item 1) ----
  // Calibration constants for the closed-form drift model documented at
  // the accumulation site (stampProps): the model is dimensionally
  // right (drift ∝ flip-holder mass / capped posting mass) but carries
  // an O(1) constant absorbing holder overlap, the |ΔJ|-per-perturbed-
  // pair distribution (most perturbed pairs move far less than the 1/ū
  // upper bound — the flipped shingle is often outside the pair's
  // intersection, and cardinality shifts partially cancel in J) and
  // the near-threshold score density. Fitted ONCE against the sf1
  // mod-64 daily DriftLadder (raw-model-vs-measured ×15.5 for the
  // mean, stable to ±2% across all 7 chained batches — the shape is
  // right, only the constant was off; spurious geomean ×59.5 over the
  // raw model) and then VALIDATED — not refitted — at every k of both
  // ladder shapes and at sf10 (benchlogs_r15/drift_ladder_*.json emit
  // est_vs_measured_* per step; the contract is est within ~2× of
  // measured everywhere).
  val DriftKappaMean = 1.0 / 15.5
  val DriftKappaSpurious = 0.4 / 23.8

  /** The cheap online drift estimate of a standing index: a pure
    * TBLPROPERTIES read (no job) of the counters every frozen advance
    * accumulates, turned into the two numbers the rebuild decision
    * needs. This is what replaces the fixture-derived fixed cadence
    * ("rebuild every ~ε/0.004 batches") with an adaptive trigger:
    * `rebuildDue(ε)` per advance, where ε is the consumer's mean score
    * tolerance (presence-grade consumers instead budget on
    * `estSpuriousFrac` — `pairs_missing` is structurally 0 in frozen
    * mode, the ladder-proved superset property). The estimator is
    * VALIDATED against measured drift by `tools.DriftLadder`, which
    * builds the exact reference this estimator exists to avoid. */
  final case class DriftEstimate(
      frozenAdvances: Long, untrackedAdvances: Long,
      capFlips: Long, flipHolders: Long,
      estMeanScoreDrift: Double, estSpuriousFrac: Double) {
    def rebuildDue(meanScoreTolerance: Double): Boolean =
      estMeanScoreDrift >= meanScoreTolerance
    /** Conservative presence-grade trigger: rebuild when the estimated
      * over-drop (spurious-pair) fraction exceeds the budget. */
    def rebuildDueSpurious(spuriousFracBudget: Double): Boolean =
      estSpuriousFrac >= spuriousFracBudget
  }

  def driftEstimate(spark: SparkSession, idx: DocIndex): DriftEstimate = {
    val props = spark.sql(s"SHOW TBLPROPERTIES `${idx.pairsTable}`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def p(k: String) = props.getOrElse(s"graft.drift.$k", "0").toLong
    val threshold = props.getOrElse("graft.threshold", "0.6").toDouble
    val contrib = p("contrib_nano") / 1e9
    DriftEstimate(p("advances"), p("untracked"), p("flips"), p("holders"),
      estMeanScoreDrift = DriftKappaMean * contrib,
      estSpuriousFrac = DriftKappaSpurious * contrib / (1.0 - threshold))
  }

  // ---- artifact compaction (round-15, VERDICT item 2) ----

  /** Per-bucket data-file count of a catalog table — the read
    * amplification every bucketed-scan consumer pays (each bucket's
    * files are unioned and re-sorted locally). 1.0 after a fresh
    * `writeBucketed`; +1 per `appendBucketed`. */
  def filesPerBucket(spark: SparkSession, table: String): Double = {
    val cat = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val loc = new org.apache.hadoop.fs.Path(cat.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(loc).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val buckets = cat.bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(s"$table is not bucketed"))
    files.toDouble / buckets
  }

  /** Rewrite every artifact of a standing index in place — same rows,
    * same bucketing, fresh generation names — restoring one file per
    * bucket. Decouples FILE HYGIENE from the exactness audit: before
    * this, only the (expensive) exact rebuild compacted the append-
    * accumulated file sets, so a ~30-frozen-advance audit cadence meant
    * every consumer paid up to ~30 files/bucket of read amplification
    * between audits. Compaction is pure I/O + one batch-scale-free
    * shuffle per table (the writeBucketed pre-repartition) — no
    * shingling, no pair scoring, no score changes: TBLPROPERTIES
    * (semantics AND accumulated drift counters) carry over verbatim,
    * so `driftEstimate` is unaffected. Generation semantics match
    * `advanceDocIndex`'s rewrite paths: the old generation stays live
    * for concurrent readers; release it with `dropSuperseded` once its
    * readers are done. */
  def compactDocIndex(spark: SparkSession, idx: DocIndex,
                      idCol: String): DocIndex = {
    val props = spark.sql(s"SHOW TBLPROPERTIES `${idx.pairsTable}`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      .filter(_._1.startsWith("graft."))
    val numBuckets = props.getOrElse("graft.numBuckets",
      throw new IllegalArgumentException(
        s"${idx.pairsTable} lacks graft.numBuckets — not a doc-index artifact"))
      .toInt
    // FORCE the bucketed scan for the duration of the rewrites: without
    // it the planner reads a write-only query one-task-per-FILE
    // ("Bucketed: false (disabled by query planner)"), elides the
    // writeBucketed repartition as redundant against the matching
    // bucket spec, and each input file re-emerges as one output file —
    // a compaction that compacts nothing (measured: N file sets in, N
    // out). With the bucketed scan each task IS one bucket (all its
    // file sets together), so the rewrite is a zero-shuffle per-bucket
    // read→sort→write — the cheapest possible compaction plan.
    val scanConf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevScan = spark.conf.getOption(scanConf)
    spark.conf.set(scanConf, "false")
    try compactRewrites(spark, idx, idCol, numBuckets, props)
    finally prevScan match {
      case Some(v) => spark.conf.set(scanConf, v)
      case None => spark.conf.unset(scanConf)
    }
  }

  private def compactRewrites(spark: SparkSession, idx: DocIndex,
                              idCol: String, numBuckets: Int,
                              props: Map[String, String]): DocIndex = {
    def rewrite(label: String, old: String, fresh: String,
                bucketCol: String): String = {
      val t0 = System.nanoTime()
      graft.etl.Layout.writeBucketed(spark.table(old), fresh, bucketCol, numBuckets)
      graft.Telemetry.record(s"pairindex.compact_ms_$label",
        (System.nanoTime() - t0) / 1000000L)
      fresh
    }
    val sTab = rewrite("survivors", idx.survivorsTable, freshName(SurvivorsBase), idCol)
    val pTab = rewrite("pairs", idx.pairsTable, freshName(PairsBase), "doc_id2")
    val postTab = idx.postingsTable.map(t =>
      rewrite("postings", t, freshName(PostingsBase), "s"))
    // the df artifact is append-only ±delta rows by design — compaction
    // additionally COLLAPSES each shingle's delta rows to its net df
    // (net-zero shingles drop out), which is row-count hygiene the
    // plain rewrite wouldn't buy
    val dTab = idx.dfTable.map { t =>
      val fresh = freshName(DfBase)
      val t0 = System.nanoTime()
      graft.etl.Layout.writeBucketed(
        spark.table(t).groupBy(col("s")).agg(sum(col("cnt")).as("cnt"))
          .filter(col("cnt") > 0),
        fresh, "s", numBuckets)
      graft.Telemetry.record("pairindex.compact_ms_df",
        (System.nanoTime() - t0) / 1000000L)
      fresh
    }
    spark.sql(s"ALTER TABLE `$pTab` SET TBLPROPERTIES(" +
      props.map { case (k, v) => s"'$k'='$v'" }.mkString(",") + ")")
    DocIndex(sTab, pTab, postTab, dTab)
  }

  /** Drift of one index relative to an exact reference — the
    * measurement contract behind the frozen-cap (d32) daily mode
    * (round-14, VERDICT item 1). A frozen advance keeps existing pairs'
    * birth scores, so after cap flips its pairs table DRIFTS from what
    * an exact rebuild of the same corpus produces, in three ways a
    * 100 TB operator needs numbers for before committing to a rebuild
    * cadence:
    *  - score drift: pairs present in both whose jaccard differs
    *    (`nScoreDrifted`, `maxAbsJaccardDelta`) — affects any consumer
    *    that reads scores;
    *  - missing pairs: in the exact universe but not the frozen index
    *    (`nPairsMissing`) — near-dups the frozen index under-reports;
    *  - spurious pairs: in the frozen index but no longer qualifying
    *    exactly (`nPairsSpurious`) — over-aggressive drops.
    * Presence drift (missing/spurious) is what moves END answers: the
    * curation consumers use pair PRESENCE only (droplist = distinct
    * doc_id2), so `droplistDrift`/the d12-tail diff below quantify the
    * survivor-set delta directly. All counts come from ONE full-outer
    * merge of the two bucketed pairs tables (same-key bucketing → no
    * exchange) and one aggregation. */
  final case class DriftReport(
      nPairsExact: Long, nPairsFrozen: Long, nPairsCommon: Long,
      nScoreDrifted: Long, maxAbsJaccardDelta: Double,
      meanAbsJaccardDelta: Double, p99AbsJaccardDelta: Double,
      nPairsMissing: Long, nPairsSpurious: Long) {
    def fracPairsDrifted: Double =
      (nScoreDrifted + nPairsMissing + nPairsSpurious).toDouble /
        math.max(nPairsExact, 1L)
  }

  def pairDrift(spark: SparkSession, frozen: DocIndex, exact: DocIndex): DriftReport = {
    val f = spark.table(frozen.pairsTable)
      .select(col("doc_id1"), col("doc_id2"), col("jaccard_r4").as("__jf"))
    val e = spark.table(exact.pairsTable)
      .select(col("doc_id1"), col("doc_id2"), col("jaccard_r4").as("__je"))
    val both = col("__je").isNotNull && col("__jf").isNotNull
    // mean/p99 are over ALL common pairs (drifted or not), so they
    // answer the score consumer's real question — "how wrong is a
    // score I read, typically / in the tail" — rather than "how wrong
    // are the wrong ones". p99 uses percentile_approx (the metric is
    // a contract threshold, not an oracle-pinned result; the default
    // accuracy's error bound is far below the 1e-4 score grid).
    val dAbs = when(both, abs(col("__jf") - col("__je"))).otherwise(lit(null))
    val r = f.join(e, Seq("doc_id1", "doc_id2"), "full_outer").agg(
      sum(when(col("__je").isNotNull, 1L).otherwise(0L)).as("ne"),
      sum(when(col("__jf").isNotNull, 1L).otherwise(0L)).as("nf"),
      sum(when(both, 1L).otherwise(0L)).as("nc"),
      sum(when(both && col("__je") =!= col("__jf"), 1L).otherwise(0L)).as("nd"),
      max(coalesce(dAbs, lit(0.0))).as("mx"),
      avg(dAbs).as("mean"),
      percentile_approx(dAbs, lit(0.99), lit(10000)).as("p99"),
      sum(when(col("__jf").isNull, 1L).otherwise(0L)).as("nm"),
      sum(when(col("__je").isNull, 1L).otherwise(0L)).as("ns")).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    def d(i: Int) = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    DriftReport(l(0), l(1), l(2), l(3), d(4), d(5), d(6), l(7), l(8))
  }

  /** End-answer drift of the curation consumer: full-outer merge of
    * `curateFromIndex` over the two indexes on the id — (nExact,
    * nFrozen, nSymmetricDiff). The symmetric difference IS the
    * survivor-set delta a frozen cadence trades for its speed. */
  def curationDrift(spark: SparkSession, frozen: DocIndex, exact: DocIndex,
                    idCol: String, textCol: String,
                    lang: String = "en", minQuality: Double = 0.3): (Long, Long, Long) = {
    val f = curateFromIndex(spark, frozen, idCol, textCol, lang, minQuality)
      .select(col(idCol), lit(1L).as("__f"))
    val e = curateFromIndex(spark, exact, idCol, textCol, lang, minQuality)
      .select(col(idCol), lit(1L).as("__e"))
    val r = f.join(e, Seq(idCol), "full_outer").agg(
      sum(when(col("__e").isNotNull, 1L).otherwise(0L)),
      sum(when(col("__f").isNotNull, 1L).otherwise(0L)),
      sum(when(col("__e").isNull || col("__f").isNull, 1L).otherwise(0L))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (l(0), l(1), l(2))
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
    * aggregation), then the same lang/quality/split gates as
    * `CorpusPipeline.curate`. Result is row-identical to running
    * `curate` on the raw docs — pinned by the d28 oracle entry. */
  def curateFromIndex(spark: SparkSession, idx: DocIndex,
                      idCol: String, textCol: String,
                      lang: String = "en", minQuality: Double = 0.3): DataFrame =
    // the stored canonical-hash helper column is artifact-internal —
    // dropping it keeps this row-identical (schema included) to
    // CorpusPipeline.curate over the raw docs
    spark.table(idx.survivorsTable).drop(HashCol)
      .join(droplist(spark, idx, idCol), Seq(idCol), "left_anti")
      .filter(TextAnalysis.langIdHeuristic(col(textCol)) === lang)
      .filter(TextAnalysis.qualityScore(col(textCol)) >= minQuality)
      .withColumn("split",
        TextAnalysis.hashSplit(TextAnalysis.textHash(col(textCol))))

  /** d18's cluster assignment reading the index (survivor universe):
    * connected components over the materialized pairs plus the size
    * join — pair generation is a parquet scan here, not a recompute.
    * `checkpointDir` selects Components' per-round snapshot durability
    * (round-12, VERDICT item 5): pass a shared-store path on a real
    * cluster so an executor loss mid-clustering resumes from the
    * reliable checkpoint instead of killing the job. */
  def clustersFromIndex(spark: SparkSession, idx: DocIndex,
                        checkpointDir: Option[String] = None): DataFrame = {
    val cc = Components.connectedComponents(
      spark.table(idx.pairsTable), "doc_id1", "doc_id2",
      checkpointDir = checkpointDir)
    cc.hint("merge")
      .join(cc.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size")), "lbl")
      .select(col("v").as("doc_id"), col("lbl").as("cluster_rep"),
        col("cluster_size"))
  }

  /** Standing-corpus artifacts for INCREMENTAL dedup — what
    * `Dedup.dedupIncrement`'s scaladoc promises a 100 TB pipeline
    * maintains between daily runs: the corpus canonical-hash set and
    * the corpus shingle index, so a new batch is deduplicated without
    * re-hashing or re-shingling the corpus. Shingles are stored as the
    * RAW strings `Dedup.shingles` emits (not pre-hashed), so the
    * from-index consumer feeds `crossJaccardPairs` the exact relation
    * the recompute path does — results are row-identical by
    * construction (pinned by the d30 oracle entry).
    *
    * Measured caveat (benchlogs_r11/pairidx_sf01_r2.log): unlike the
    * pair index — a 4.7x suite win at sf10 — the SHINGLE index is a
    * measured LOSS at sf0.1 (consumer 3.75 s vs 3.30 s recompute,
    * before materialize cost): the native codegen shingle kernel
    * (plans.ShinglesExpr) makes corpus re-shingling a cheap byte scan,
    * while the expanded raw-string index is ~10x the text in parquet
    * I/O. A hashed, pre-capped posting list would be far smaller, but
    * d13's df-cap is defined over the COMBINED batch+corpus universe,
    * so pre-capping the corpus side would change the semantics — the
    * raw index is what preserves exactness. Use this artifact when the
    * corpus text itself is expensive to re-read (remote store, wide
    * rows); with cheap local text scans, recompute and keep only the
    * hash-set artifact. */
  final case class CorpusIndex(hashesTable: String, shinglesTable: String)

  /** Materialize the standing corpus's hash set (bucketed by the hash —
    * the batch anti-join key) and shingle index (bucketed by the
    * shingle — the key every downstream aggregation and semi-join
    * clusters on). Run once per corpus snapshot; consumed by every
    * incoming batch until the corpus advances. Default table names are
    * per-invocation-unique (`freshName`). */
  def materializeCorpusIndex(corpus: DataFrame, idCol: String, textCol: String,
                             shingleK: Int = 3, numBuckets: Int = 0,
                             hashesTable: String = freshName(CorpusHashesBase),
                             shinglesTable: String = freshName(CorpusShinglesBase))
      : CorpusIndex = {
    val buckets = if (numBuckets > 0) numBuckets else autoBuckets(corpus)
    graft.etl.Layout.writeBucketed(
      corpus.select(TextAnalysis.textHash(col(textCol)).as("__h")).distinct(),
      hashesTable, "__h", buckets)
    graft.etl.Layout.writeBucketed(
      Dedup.shingles(corpus, idCol, textCol, shingleK),
      shinglesTable, "s", buckets)
    CorpusIndex(hashesTable, shinglesTable)
  }

  /** `Dedup.dedupIncrement` reading the materialized corpus artifacts:
    * same three-stage contract (within-batch exact dedup → corpus-hash
    * anti join → cross-corpus df-capped Jaccard drop), with the corpus
    * side a bucketed parquet scan instead of a recompute. */
  def dedupIncrementFromIndex(spark: SparkSession, idx: CorpusIndex,
                              incoming: DataFrame,
                              idCol: String, textCol: String,
                              jaccardThreshold: Double = 0.6,
                              maxDocFreq: Int = 100,
                              shingleK: Int = 3): DataFrame = {
    val batch = Dedup.dropExactDuplicates(incoming, idCol, textCol)
    // merge, not broadcast, for the same cliff reasons as the recompute
    // path (Dedup.dedupIncrement scaladoc)
    val fresh = batch
      .withColumn("__h", TextAnalysis.textHash(col(textCol)))
      .join(spark.table(idx.hashesTable).hint("merge"), Seq("__h"), "left_anti")
      .drop("__h")
    val nearIds = Dedup.crossJaccardPairs(
        Dedup.shingles(fresh, idCol, textCol, shingleK),
        spark.table(idx.shinglesTable),
        jaccardThreshold, maxDocFreq)
      .select(col("inc_id").as(idCol))
      .distinct()
    fresh.join(nearIds.hint("merge"), Seq(idCol), "left_anti")
  }

  /** d21's keep-best-per-cluster reading the index: components over the
    * materialized pairs, LM-quality best pick (lowest mean neg-log-prob,
    * id tie-break), singletons unioned back — all over the survivor
    * universe the index governs. */
  def clusterCurationFromIndex(spark: SparkSession, idx: DocIndex,
                               idCol: String, textCol: String,
                               checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val survivors = spark.table(idx.survivorsTable)
    val cc = Components.connectedComponents(
      spark.table(idx.pairsTable), "doc_id1", "doc_id2",
      checkpointDir = checkpointDir)
    val scores = LmScore.score(survivors, idCol, textCol)
      .select(col(idCol), (col("sum_nlp_micro").cast("double")
        / col("n_tokens").cast("double")).as("__score"))
    val sized = cc.hint("merge")
      .join(cc.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size")), "lbl")
    val best = sized.join(scores, sized("v") === scores(idCol))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("lbl")).orderBy(col("__score"), col("v"))))
      .filter(col("__rk") === 1)
      .select(col("v").as(idCol), col("lbl").as("cluster_rep"),
        col("cluster_size"), lit("best_in_cluster").as("kept_reason"))
    val singletons = survivors.select(col(idCol))
      .join(cc, survivors(idCol) === cc("v"), "left_anti")
      .select(col(idCol), col(idCol).as("cluster_rep"),
        lit(1L).as("cluster_size"), lit("singleton").as("kept_reason"))
    best.unionByName(singletons)
  }
}
