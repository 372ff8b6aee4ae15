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
  * SHARING CONTRACT for the advanced base (d31/d32/d39): each consumer
  * advances the shared base directly. `advanceDocIndex` never writes
  * its input — every write case lands in tables the call creates — so
  * the base is built once per run and every consumer advances the same
  * rows. A consumer registers its advanced generation under its OWN
  * `keepLatest` ring; the base stays owned by the fixture ring. If a
  * base table is dropped anyway (a warehouse reset, a session change),
  * the memo's table-existence check rebuilds it.
  * Correctness never depends on the memo: each consumer's result is
  * pinned by its own oracle.
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
    * it with the mod-64 batch and registers the result under its own
    * `keepLatest` ring. */
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
