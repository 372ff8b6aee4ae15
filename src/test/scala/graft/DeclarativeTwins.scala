package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interpreted reference implementations of native kernels — the
  * equivalence baselines the specs compare the codegen expressions
  * against. Too slow for any hot path, so they live with the specs. */
object DeclarativeTwins {

  /** Interpreted reference implementation of `Similarity.dotE12`. */
  def dotE12Declarative(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        round(x.cast("double") * y.cast("double") * lit(1.0e12), 0).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Interpreted reference implementation of `Dedup.winnowFingerprints`.
    * Every array feeding a lambda is materialized as a column
    * first: lambdas re-evaluate non-attribute operands per element (no
    * CSE through lambda bodies), so inlining the token array would
    * re-split per k-gram and inlining the hash array would re-md5 per
    * window — each a quadratic blowup (the un-materialized form
    * measured >10 min vs ~2 s at sf0.1). */
  def winnowFingerprintsDeclarative(df: DataFrame, idCol: String, textCol: String,
                                    k: Int = 3, w: Int = 4): DataFrame = {
    val withGrams = df.select(col(idCol).as("doc_id"),
      TextAnalysis.shinglesCol(col(textCol), k).as("__g"))
    val hashed = withGrams.select(col("doc_id"),
      transform(col("__g"), g =>
        conv(substring(md5(g), 1, 8), 16, 10).cast("long")).as("__h"))
    val nh = size(col("__h"))
    // fewer than w hashes: the whole doc is one window
    val mins = when(nh === 0, array().cast("array<long>"))
      .otherwise(transform(
        sequence(lit(1), greatest(nh - (w - 1), lit(1))),
        j => array_min(slice(col("__h"), j, least(lit(w), nh)))))
    hashed.select(col("doc_id"), explode(array_distinct(mins)).as("fingerprint"))
  }
}
