package graft.queries

import graft.operators.PairIndex
import graft.sources.Tables
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import scala.reflect.ClassTag

/** Per-run standing-artifact fixtures for the registered query suite:
  * the compute-once/join-many contract applied to the suite itself.
  * Six registered queries consume a standing index — d28/d29 the
  * full-corpus doc index, d30 the 4/5 corpus index, d31/d32/d39 the
  * 63/64 base index they advance — and each is built once per run
  * instead of once per invocation (rebuilding was ~48 s of a 134 s
  * suite wall).
  *
  * One memo, keyed by fixture and corpus directory, holds all three. An
  * entry is reused only while every table it names exists in the live
  * session's catalog (a test JVM cycles sessions, and `keepLatest`
  * rings / warehouse resets can drop a generation), and is rebuilt
  * otherwise. A build sweeps dead JVMs' generations
  * (`PairIndex.sweepStale`), materializes, registers the result under
  * its `fx_<fixture>` ring and records `fixture.<fixture>_build_ms`, so
  * the bench attributes build cost instead of burying it in whichever
  * query ran first.
  *
  * SHARING CONTRACT for the advanced base (d31/d32/d39): each consumer
  * advances the shared base directly. `advanceDocIndex` never writes
  * its input, so every consumer advances the same rows, and registers
  * its result under its OWN `keepLatest` ring. Correctness never
  * depends on the memo: each consumer's result is pinned by its own
  * oracle.
  */
object StandingFixtures {

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, PairIndex.Artifact]()

  /** The memoized artifact `name` over `dir`, built (and timed) when
    * absent or when any of its tables is gone. */
  private def cached[A <: PairIndex.Artifact : ClassTag](s: SparkSession, name: String,
                                                         dir: String)(build: => A): A =
    synchronized {
      memo.get(s"$name:$dir") match {
        case a: A if a.tables.forall(s.catalog.tableExists) => a
        case _ =>
          val t0 = System.nanoTime()
          PairIndex.sweepStale(s)
          val a = build
          PairIndex.keepLatest(s, s"fx_$name", a)
          graft.Telemetry.record(s"fixture.${name}_build_ms",
            (System.nanoTime() - t0) / 1000000L)
          memo.put(s"$name:$dir", a)
          a
      }
    }

  /** The doc index over the corpus rows `keep` selects. */
  private def docIndex(s: SparkSession, name: String, dir: String,
                       keep: Column): PairIndex.DocIndex =
    cached(s, name, dir) {
      PairIndex.materializeDocIndex(
        Tables.documents(s, dir).filter(keep), "doc_id", "text")
    }

  /** Full-corpus doc index — consumed read-only by d28's curation and
    * d29's clustering. */
  def fullDocIndex(s: SparkSession, dir: String): PairIndex.DocIndex =
    docIndex(s, "full_doc_index", dir, lit(true))

  /** 63/64-corpus base index (the advance family's standing input) —
    * shared by d31/d32/d39, each of which advances it with the mod-64
    * batch and registers the result under its own `keepLatest` ring. */
  def baseDocIndex(s: SparkSession, dir: String): PairIndex.DocIndex =
    docIndex(s, "base63_doc_index", dir, pmod(col("doc_id"), lit(64)) =!= 0)

  /** 4/5-corpus hash set + shingle postings — d30's standing corpus side. */
  def corpusIndex(s: SparkSession, dir: String): PairIndex.CorpusIndex =
    cached(s, "corpus45_index", dir) {
      PairIndex.materializeCorpusIndex(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text")
    }
}
