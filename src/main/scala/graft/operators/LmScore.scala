package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-unigram language-model scoring — the CCNet-style quality
  * signal (Wenzek et al., "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data", 2020, uses a KenLM; the unigram
  * variant keeps the same cross-entropy contract with no external
  * model): score each document by its mean negative log-probability
  * under the corpus's own unigram distribution. Natural prose made of
  * common tokens scores low; rare-token gibberish, encoding junk, and
  * boilerplate-free ID strings score high — a standard
  * filter-by-threshold or sort-into-quality-buckets input.
  *
  * Scale shape: two passes. Pass 1 builds the vocabulary —
  * explode(tokens) → partial-aggregated count per token — one shuffle
  * whose output is the DISTINCT vocabulary, vastly smaller than the
  * corpus (Heaps' law), so pass 2 broadcasts it back onto the exploded
  * tokens (no second shuffle of the corpus; the per-doc regroup is the
  * only other shuffle). The global token total rides along as a
  * broadcast single-row cross join, never a driver collect.
  *
  * Determinism contract: per-token cost is pre-scaled to integer
  * micro-nats (round(ln(total/cnt) * 1e6) as long) BEFORE the per-doc
  * sum, so aggregation is associative integer math — partition- and
  * engine-order-proof; only the final display average divides doubles,
  * from exactly equal integer inputs.
  *
  * The `ln` link is handled by MATERIALIZATION, not by assuming
  * bit-identical libm: Math.log is specified to 1 ulp, not correctly
  * rounded, so an external oracle's libm could in principle round a
  * half-micro-nat cost one unit differently. The gate therefore
  * writes this table (and the d23 idf twin) ONCE per verify run
  * (graft.Verify → /tmp/graft_shared_oracle/) and the DuckDB mirrors
  * consume the SAME table, so every downstream comparison is exact
  * integer math with no floating-point trust link. The mirrors still
  * validate the shared table independently — per-token counts must
  * match DuckDB's exactly and the micro-nat cost must agree with
  * DuckDB's own ln within 1 (any deviation empties the gated CTE and
  * fails the row-count gate loudly) — so materialization removes the
  * bit-identity assumption without weakening the oracle to a rubber
  * stamp. Contrast sqrt (used by the mixing weights), which IEEE 754
  * requires to be correctly rounded and needs no such treatment.
  */
object LmScore {

  /** Fixed location where graft.Verify materializes the shared
    * micro-nat tables for the DuckDB mirrors (overwritten per verify
    * run, so the artifact always corresponds to the sfDir under
    * test; concurrent gates on different corpora would race — run
    * one verify at a time, as the driver does). */
  val SharedDir = "/tmp/graft_shared_oracle"
  val SharedLmCostsDir = s"$SharedDir/lm_costs"
  val SharedIdfCostsDir = s"$SharedDir/idf_costs"
  val SharedDsirCostsDir = s"$SharedDir/dsir_costs"
  val SharedDsirBigramCostsDir = s"$SharedDir/dsir_bigram_costs"

  /** Vocabulary with integer micro-nat costs: (tok, cnt, nlp_micro)
    * where nlp_micro = round(1e6 * ln(total / cnt)). */
  def unigramCosts(docs: DataFrame, textCol: String): DataFrame = {
    val counts = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("tok"), col("cnt"),
        round(log(col("total").cast("double") / col("cnt").cast("double")) * 1e6)
          .cast("long").as("nlp_micro"))
  }

  /** Integer micro-nat idf table (the d23 twin of `unigramCosts`):
    * (tok, df, idf_micro) where df is the number of documents
    * containing the token and idf_micro = round(1e6 * ln(n_docs/df)).
    * Same scale shape as unigramCosts: the distinct vocabulary is the
    * only shuffle output, the corpus-count rides as a broadcast
    * single-row cross join. */
  def idfCosts(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    dfreq.crossJoin(broadcast(nDocs))
      .select(col("tok"), col("df"),
        round(log(col("n_docs").cast("double") / col("df").cast("double")) * 1e6)
          .cast("long").as("idf_micro"))
  }

  /** Per-document LM score: (doc_id, n_tokens, sum_nlp_micro,
    * avg_neglogp_r4). sum_nlp_micro is exact; the average is the one
    * derived double, rounded to 4 decimals. */
  def score(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    toks.join(broadcast(unigramCosts(docs, textCol)), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nlp_micro")).as("sum_nlp_micro"))
      .select(col("doc_id"), col("n_tokens"), col("sum_nlp_micro"),
        // exact integer half-up rounding (ExactNum.roundRatio4): the
        // average is a rational of the exact sums, so round(double, 4)
        // would be exposed to cross-engine half-boundary divergence
        graft.functions.ExactNum.roundRatio4(
          col("sum_nlp_micro"), col("n_tokens") * lit(1000000L))
          .as("avg_neglogp_r4"))
  }

  // ---------------- DSIR importance weights (round-15) ----------------

  /** DSIR cost table (Xie et al., "Data Selection for Language Models
    * via Importance Resampling", NeurIPS 2023 — the hashed-n-gram
    * feature space specialized to unigrams): per-token log-probability
    * under the TARGET domain and under the raw corpus, both with
    * add-one (Laplace) smoothing over the raw vocabulary so
    * target-unseen tokens get a finite penalty instead of −∞.
    * Output: (tok, cnt_t, cnt_r, lpt_micro, lpr_micro) where
    * lpX_micro = round(1e6 · ln((cnt_X + 1) / (total_X + V))).
    *
    * Scale shape is `unigramCosts`': one shuffle whose output is the
    * distinct vocabulary; the two totals and V ride as one broadcast
    * single-row cross join. Determinism contract is d19's: integer
    * micro-nats materialized once and shared with the oracle (the
    * mirrors re-validate counts exactly and the ln link within 1
    * micro-nat — see the class scaladoc). */
  def dsirCosts(docs: DataFrame, textCol: String,
                isTarget: Column): DataFrame =
    dsirCostTable(docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"),
        isTarget.as("__t")), "tok")

  /** The DSIR cost body shared by d33 (feature `tok`) and d34 (feature
    * `b`): `feats` holds one row per feature occurrence, (f, __t). */
  private def dsirCostTable(feats: DataFrame, f: String): DataFrame = {
    val counts = feats.groupBy(col(f)).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("cnt_t"),
      count(lit(1)).as("cnt_r"))
    val tot = counts.agg(
      sum(col("cnt_t")).as("__tt"), sum(col("cnt_r")).as("__tr"),
      count(lit(1)).as("__v"))
    counts.crossJoin(broadcast(tot)).select(
      col(f), col("cnt_t"), col("cnt_r"),
      round(log((col("cnt_t") + 1L).cast("double") /
        (col("__tt") + col("__v")).cast("double")) * 1e6)
        .cast("long").as("lpt_micro"),
      round(log((col("cnt_r") + 1L).cast("double") /
        (col("__tr") + col("__v")).cast("double")) * 1e6)
        .cast("long").as("lpr_micro"))
  }

  /** Per-document DSIR importance weight:
    * w(doc) = Σ_tok [ln p_target(tok) − ln p_raw(tok)]  (micro-nats),
    * summed over token OCCURRENCES (multiplicity matters — a doc
    * repeating a target-loved token twice is twice the evidence).
    * Documents that read like the target domain score high; generic or
    * off-domain documents score near zero or negative. Output:
    * (doc_id, n_tokens, weight_micro) — exact integer math after the
    * shared cost table, so ranking is engine-exact. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column): DataFrame =
    dsirWeighted(docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok")),
      dsirCosts(docs, textCol, isTarget), "tok", "n_tokens")

  /** The per-doc weight body shared by d33 and d34: `feats` (doc_id, f)
    * holds one row per feature occurrence; the cost table over `f` is
    * the broadcast side. Output: (doc_id, <nCol>, weight_micro). */
  private def dsirWeighted(feats: DataFrame, costs: DataFrame, f: String,
                           nCol: String): DataFrame =
    feats.join(broadcast(costs), f)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as(nCol),
        sum(col("lpt_micro") - col("lpr_micro")).as("weight_micro"))

  /** DSIR selection: every document's weight plus a `selected` flag
    * marking the top-`k` by (weight desc, doc_id) — the deterministic
    * resampling-free variant (top-k of the importance ranking). The
    * top-k runs as orderBy+limit (Spark plans TakeOrderedAndProject —
    * a distributed per-partition top-k merged on the driver, never a
    * global sort or a single-partition window), then broadcasts the
    * k-row id set back as the flag join — the shape that survives a
    * billion-document weight table. */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, k: Int): DataFrame =
    flagTopK(dsirWeights(docs, idCol, textCol, isTarget), "n_tokens", k)

  /** The top-k flag shared by d33 and d34, over (doc_id, <nCol>,
    * weight_micro). */
  private def flagTopK(w: DataFrame, nCol: String, k: Int): DataFrame = {
    val top = w.orderBy(col("weight_micro").desc, col("doc_id"))
      .limit(k).select(col("doc_id").as("__sid"))
    w.join(broadcast(top), w("doc_id") === col("__sid"), "left")
      .select(col("doc_id"), col(nCol), col("weight_micro"),
        col("__sid").isNotNull.cast("int").as("selected"))
  }

  // ------------- DSIR over hashed bigrams (round-16, d34) -------------

  /** Feature bucket of one bigram: `rollingHash(bigram) mod buckets`
    * via the native codegen fold (plans.RollingHashExpr — no per-char
    * array); upstream, plans.ShinglesExpr emits the 2-token shingles
    * as zero-copy byte spans, so the per-row cost is two byte scans.
    * Docs with fewer than 2 tokens contribute no features
    * (ShinglesExpr yields an empty array, and the explode must sit in
    * its own projection — generators don't nest in expressions). */
  private def bucketOf(bg: Column, buckets: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.RollingHashExpr(
      GraftColumnBridge.expression(bg))) % buckets
  }

  /** DSIR cost table over HASHED BIGRAM features — the paper's actual
    * feature space (Xie et al. hash n-grams into a fixed bucket count;
    * `dsirCosts` above is the unigram specialization): per-bucket
    * log-probability under the target domain and under the raw corpus,
    * add-one smoothed over the OCCUPIED buckets. Output: (b, cnt_t,
    * cnt_r, lpt_micro, lpr_micro), b in [0, buckets). Scale shape is
    * `dsirCosts`': one shuffle whose output is at most `buckets` rows
    * (bounded regardless of corpus size — the hashing's point), totals
    * as a broadcast single-row cross join. Shares the d33 cost-table
    * determinism protocol. */
  def dsirCostsBigram(docs: DataFrame, textCol: String, isTarget: Column,
                      buckets: Int): DataFrame = {
    require(buckets > 0, s"bad bucket count $buckets")
    dsirCostTable(docs
      .select(explode(TextAnalysis.shinglesCol(col(textCol), 2)).as("bg"),
        isTarget.as("__t"))
      .select(bucketOf(col("bg"), buckets).as("b"), col("__t")), "b")
  }

  /** DSIR selection over hashed bigrams (d34): same contract as
    * `dsirSelect` — every document's importance weight in integer
    * micro-nats plus a `selected` flag on the top-`k` by (weight desc,
    * doc_id) — with the bigram feature space of `dsirCostsBigram`.
    * Documents with fewer than 2 tokens carry no features and are
    * absent from the output (they carry no importance evidence either
    * way). The cost table is bucket-bounded so its join side is always
    * a broadcast; top-k runs as TakeOrderedAndProject + broadcast flag
    * join — never a global window. */
  def dsirSelectBigram(docs: DataFrame, idCol: String, textCol: String,
                       isTarget: Column, buckets: Int, k: Int): DataFrame = {
    val feats = docs
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.shinglesCol(col(textCol), 2)).as("bg"))
      .select(col("doc_id"), bucketOf(col("bg"), buckets).as("b"))
    flagTopK(dsirWeighted(feats, dsirCostsBigram(docs, textCol, isTarget, buckets),
      "b", "n_bigrams"), "n_bigrams", k)
  }
}
