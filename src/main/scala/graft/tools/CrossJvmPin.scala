package graft.tools

import org.apache.spark.sql.functions._
import graft.Session
import graft.operators.{PairIndex, TextAnalysis}
import graft.sources.Tables

/** Cross-JVM persisted-index pin (round-13, VERDICT item 6): proves a
  * DocIndex materialized by ONE JVM is consumable — and ADVANCEABLE —
  * by a FRESH JVM purely through the catalog (bucketed-table metadata
  * plus the TBLPROPERTIES semantics stamp), with results row-identical
  * to same-JVM computation. This is the property a real pipeline
  * leans on daily: the materialize job and the consume/advance jobs
  * are different cluster applications.
  *
  * Protocol (tools/run_crossjvm_pin.sh):
  *  1. `write <sfDir>`: materialize the four-artifact index with
  *     EXPLICIT names (outside the reserved graft_pair_* prefixes, as
  *     sweepStale's contract requires of standing artifacts) on the
  *     mod-16 corpus split; print the curation consumer's aggregate.
  *  2. `read <sfDir>`: in a fresh JVM, first CONSUME the persisted
  *     index (the printed aggregate must equal the writer's), then
  *     ADVANCE it with the mod-16 batch — threshold/cap/k/buckets all
  *     come from the TBLPROPERTIES round-trip — and print both the
  *     advanced index's curation and a from-scratch full-corpus
  *     reference computed in this same JVM. The script diffs
  *     writer-vs-reader consumption and advanced-vs-scratch. */
object CrossJvmPin {
  private val Surv = "xjvm_pair_survivors"
  private val Pairs = "xjvm_pair_index"
  private val Post = "xjvm_pair_postings"
  private val Df = "xjvm_pair_df"

  def main(args: Array[String]): Unit = {
    val Array(mode, sfDir) = args
    // Hive catalog, not the in-memory default: the whole point is a
    // catalog that OUTLIVES the JVM (bucket spec + TBLPROPERTIES
    // recovered from the metastore by a different application) — the
    // embedded Derby metastore_db in cwd plays the served metastore a
    // real cluster shares between jobs
    val spark = Session.builder(8, sfDir)
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir)
    def show(tag: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.collect().map(_.toString).sorted.foreach(r => println(s"XJVM $tag $r"))
    def curate(idx: PairIndex.DocIndex) =
      PairIndex.curateFromIndex(spark, idx, "doc_id", "text")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("sum_tokens"))
    mode match {
      case "write" =>
        val idx = PairIndex.materializeDocIndex(
          docs.filter(pmod(col("doc_id"), lit(16)) =!= 0), "doc_id", "text",
          keepPostings = true,
          survivorsTable = Surv, pairsTable = Pairs,
          postingsTable = Post, dfTable = Df)
        show("corpus80", curate(idx))
      case "read" =>
        val idx = PairIndex.DocIndex(Surv, Pairs, Some(Post), Some(Df))
        show("corpus80", curate(idx))
        val adv = PairIndex.advanceDocIndex(spark, idx,
          docs.filter(pmod(col("doc_id"), lit(16)) === 0), "doc_id", "text",
          economyGuard = Double.PositiveInfinity)
        show("advanced", curate(adv.idx))
        val scratch = PairIndex.materializeDocIndex(docs, "doc_id", "text",
          keepPostings = true)
        show("fullscratch", curate(scratch))
        PairIndex.dropDocIndex(spark, scratch)
        PairIndex.dropSuperseded(spark, idx, adv.idx)
        PairIndex.dropDocIndex(spark, adv.idx)
    }
    spark.stop()
  }
}
