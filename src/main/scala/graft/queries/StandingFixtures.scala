package graft.queries

import graft.operators.PairIndex
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-run standing-artifact fixtures for the registered query suite
  * (round-19, VERDICT item 4): the d28 compute-once/join-many contract
  * applied to the SUITE itself. Six registered queries consume a
  * standing index — d28/d29 the full-corpus doc index, d30 the 4/5
  * corpus index, d31/d32/d39 the 63/64 base index they advance — and
  * before this round each invocation REBUILT its index from scratch
  * (~48 s of the 134 s round-18 suite wall), which is exactly the
  * anti-pattern the standing-artifact protocol exists to avoid: a
  * daily pipeline materializes the index once per corpus snapshot and
  * every consumer joins the artifact.
  *
  * The memo is per-JVM and keyed by the corpus directory; entries are
  * validated against the live session's catalog before reuse (a test
  * JVM cycles sessions, and `keepLatest` rings / warehouse resets can
  * drop a memoized generation) and rebuilt when stale. Build cost is
  * surfaced loudly via `Telemetry` (`fixture.*_build_ms`) so the bench
  * attributes it instead of burying it in whichever query ran first.
  *
  * SHARING CONTRACT for the advanced base (d31/d32/d39): an advance
  * leaves its input index INTACT only when it writes fresh
  * generations (the preserveInput copy-on-write mode d31/d39 use);
  * the append/partial-rewrite paths extend the base tables in place.
  * The in-place consumer (d32) therefore advances a storage-level
  * CLONE (`consumableBaseDocIndex` — file-copy snapshot, round-19)
  * so the shared base stays pristine and is built exactly once per
  * run; `advanceConsumed` remains the safety net for the preserved
  * consumers — it inspects every advance outcome and INVALIDATES the
  * shared base the moment an advance appended to it or the advanced
  * generation still references a base table, so the next consumer
  * rebuilds rather than advancing an already-advanced base.
  * Correctness never depends on the memo: each consumer's result is
  * pinned by its own oracle whichever path the fixture takes.
  */
object StandingFixtures {

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def timed[T](key: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    graft.Telemetry.record(s"fixture.${key}_build_ms",
      (System.nanoTime() - t0) / 1000000L)
    r
  }

  private def cachedDocIndex(s: SparkSession, key: String)
                            (build: => PairIndex.DocIndex): PairIndex.DocIndex =
    synchronized {
      memo.get(key) match {
        case idx: PairIndex.DocIndex
            if idx.tables.forall(s.catalog.tableExists) => idx
        case _ =>
          val idx = timed(key.takeWhile(_ != ':'))(build)
          memo.put(key, idx)
          idx
      }
    }

  /** Full-corpus doc index (survivors + pairs) — consumed read-only by
    * d28's curation and d29's clustering. */
  def fullDocIndex(s: SparkSession, dir: String): PairIndex.DocIndex =
    cachedDocIndex(s, s"full_doc_index:$dir") {
      PairIndex.sweepStale(s, PairIndex.SurvivorsBase)
      PairIndex.sweepStale(s, PairIndex.PairsBase)
      val idx = PairIndex.materializeDocIndex(
        Tables.documents(s, dir), "doc_id", "text")
      PairIndex.keepLatest(s, "fx_full_doc_index", idx)
      idx
    }

  /** 63/64-corpus base index with postings + df (the advance family's
    * standing input) — shared by d31/d32/d39, each of which advances
    * it with the mod-64 batch. Consumers MUST report their advance
    * outcome through `advanceConsumed`. */
  def baseDocIndex(s: SparkSession, dir: String): PairIndex.DocIndex =
    cachedDocIndex(s, s"base63_doc_index:$dir") {
      PairIndex.sweepStale(s, PairIndex.SurvivorsBase)
      PairIndex.sweepStale(s, PairIndex.PairsBase)
      PairIndex.sweepStale(s, PairIndex.PostingsBase)
      PairIndex.sweepStale(s, PairIndex.DfBase)
      val idx = PairIndex.materializeDocIndex(
        Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(64)) =!= 0), "doc_id", "text",
        keepPostings = true)
      PairIndex.keepLatest(s, "fx_base63_doc_index", idx)
      idx
    }

  /** Storage-level CLONE of the shared 63/64 base for a consumer that
    * advances IN PLACE (d32's append path) — round-19 optimization.
    * Before this, d32's append consumed the shared base every run and
    * the next consumer (d39, alphabetically) paid a full ~4.7 s
    * rebuild in EVERY bench window; a file-copy snapshot of the
    * bucketed index costs ~0.3 s, preserves bucket layout and
    * TBLPROPERTIES (`PairIndex.cloneDocIndex`), and leaves the shared
    * base pristine, so it is built exactly once per JVM run. The clone
    * is the caller's to register under ITS keepLatest ring (the
    * advance mutates it in place, so the advanced index IS the clone).
    * This mirrors production: the append path is exercised against a
    * storage snapshot, not against the live shared artifact. */
  def consumableBaseDocIndex(s: SparkSession, dir: String): PairIndex.DocIndex = {
    val base = baseDocIndex(s, dir)
    timed("base63_clone")(PairIndex.cloneDocIndex(s, base))
  }

  /** Post-advance bookkeeping for a shared-base consumer: registers
    * the advanced generation under the CONSUMER's keepLatest ring and
    * invalidates the shared base if the advance mutated or still
    * references it (see the sharing contract above). Never calls
    * `dropSuperseded` — the base generation stays live for the next
    * consumer and is bounded by its own fixture ring. */
  def advanceConsumed(s: SparkSession, dir: String, consumerKey: String,
                      base: PairIndex.DocIndex,
                      adv: PairIndex.AdvanceResult): Unit = {
    val baseTabs = base.tables.toSet
    val entangled = adv.appended || adv.idx.tables.exists(baseTabs)
    if (entangled) synchronized {
      memo.remove(s"base63_doc_index:$dir"); ()
    }
    // an entangled advanced generation shares tables with the base —
    // registering it under the consumer ring would eventually DROP
    // base tables out from under the fixture ring, so only the
    // disjoint (full-rewrite) generations enter the consumer ring;
    // entangled ones stay owned by the fixture ring until its next
    // rebuild supersedes them
    if (!entangled) PairIndex.keepLatest(s, consumerKey, adv.idx)
    graft.Telemetry.record("fixture.base63_invalidated",
      if (entangled) 1L else 0L)
  }

  /** 4/5-corpus hash + shingle index — d30's standing corpus side. */
  def corpusIndex(s: SparkSession, dir: String): PairIndex.CorpusIndex =
    synchronized {
      val key = s"corpus45_index:$dir"
      memo.get(key) match {
        case idx: PairIndex.CorpusIndex
            if s.catalog.tableExists(idx.hashesTable) &&
               s.catalog.tableExists(idx.shinglesTable) => idx
        case _ =>
          PairIndex.sweepStale(s, PairIndex.CorpusHashesBase)
          PairIndex.sweepStale(s, PairIndex.CorpusShinglesBase)
          val idx = timed("corpus45_index") {
            PairIndex.materializeCorpusIndex(
              Tables.documents(s, dir)
                .filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")
          }
          PairIndex.keepLatest(s, "fx_corpus45_index",
            Seq(idx.hashesTable, idx.shinglesTable))
          memo.put(key, idx)
          idx
      }
    }
}
