package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, stopword/quality scoring, heuristic language ID, and
  * document fingerprinting. All pure built-in `Column` expressions —
  * codegen-friendly, no UDFs, safe to run over 100 TB of documents
  * (narrow per-row transforms; the only shuffles are the aggregations
  * callers add on top).
  *
  * Determinism contract: every function here is reproducible bit-for-bit
  * across engines (md5-based hashing, integer counts, single-IEEE-op
  * ratios) so results can be oracle-checked externally.
  */
object TextAnalysis {

  /** Function words used by the stopword/lang-ID heuristics. */
  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** Whitespace tokenization. Documents are single-space normalized; for
    * raw text call `normalizeText` first. */
  def tokens(text: Column): Column = split(text, " ")

  /** Native codegen count (plans.TokenCountExpr): spaces+1 in one
    * allocation-free byte scan — exactly size(split(text,' ')) for all
    * inputs, without materializing the token array per row. */
  def tokenCount(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.TokenCountExpr(
      GraftColumnBridge.expression(text.cast("string"))))
  }

  /** Native k-token shingle array (plans.ShinglesExpr) as a Column. */
  def shinglesCol(text: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.ShinglesExpr(
      GraftColumnBridge.expression(text.cast("string")), k))
  }

  /** Native max shingle multiplicity (plans.TopShingleCountExpr): the
    * most-repeated-k-gram count in one byte scan — 0 for docs with
    * fewer than k tokens. */
  def topShingleCountCol(text: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.TopShingleCountExpr(
      GraftColumnBridge.expression(text.cast("string")), k))
  }

  /** Native overlapping token-window chunks (plans.ChunksExpr). */
  def chunksCol(text: Column, size: Int, stride: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.ChunksExpr(
      GraftColumnBridge.expression(text.cast("string")), size, stride))
  }

  def uniqueTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  /** Stopword occurrences (with multiplicity). Native codegen scan
    * (plans.StopwordCountExpr): the declarative filter() HOF is
    * interpreted and breaks the codegen span per token. */
  def stopwordCount(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.StopwordCountExpr(
      GraftColumnBridge.expression(text.cast("string")), DefaultStopwords))
  }

  /** stop/total as double — exact integer inputs, one IEEE division. */
  def stopwordRatio(text: Column): Column =
    stopwordCount(text).cast("double") / tokenCount(text).cast("double")

  /** Whitespace collapse + trim + lowercase: the canonical form for
    * exact deduplication. Collapse BEFORE trim: Spark trim
    * strips only 0x20 spaces, so collapsing first guarantees edge
    * tabs/newlines become plain spaces that trim removes — keeps the
    * form idempotent and byte-identical to the DuckDB oracle mirrors. */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Exact-dedup key: md5 of the canonical form. */
  def textHash(text: Column): Column = md5(normalizeText(text))

  /** Bag-of-words fingerprint: md5 over the sorted distinct token set.
    * Invariant to token order and repetition — catches shuffled /
    * re-sampled near-duplicates that exact hashing misses. */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** BPE-ish subword-unit count: letter runs, digit runs, and single
    * punctuation marks each count as one unit — the regex shape of a
    * byte-pair pre-tokenizer, cheap enough to run inline over a corpus. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      .cast("long")

  /** Polynomial rolling-hash fingerprint (Karp-Rabin style): per char
    * h = (h*31 + code) mod 1e9+7. Order-sensitive — complements the
    * order-invariant bagFingerprint. Pure integer folds: engine-exact.
    *
    * Domain note: equivalent to the native `graft_rolling_hash`
    * expression (the production path, graft.plans.RollingHashExpr) on
    * the FULL Unicode domain — Spark 4's `split(text, "")` yields
    * codepoint-wise pieces and `ascii()` returns the first codepoint,
    * matching the native expression's codePointAt walk even for
    * supplementary characters (pinned in RollingHashExprSpec's non-BMP
    * test). Kept only as the equivalence baseline: the native form is
    * the hot-path implementation (no per-char array allocation). */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(filter(split(text, ""), c => length(c) > 0),
        c => ascii(c).cast("long")),
      lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L)

  /** N-gram-free heuristic language ID: function-word density — "en"
    * at a stopword ratio of at least 0.05. Real pipelines plug a model
    * here; the operator shape (per-row scalar, no shuffle) is what
    * matters at scale. */
  def langIdHeuristic(text: Column): Column =
    when(stopwordRatio(text) >= 0.05, lit("en"))
      .otherwise(lit("unknown"))

  /** PII redaction patterns — the Stack/StarCoder-style scrub step
    * before text ships into a training corpus. Deliberately
    * lookaround-free and backreference-free so the same patterns run
    * identically under Java regex (Spark, backtracking) and RE2-family
    * engines (leftmost-longest): for pure greedy quantifiers with no
    * ambiguous alternation the two match the same spans. */
  val EmailRe: String = graft.plans.GraftPii.EmailRe
  val Ipv4Re: String = graft.plans.GraftPii.Ipv4Re
  val PhoneRe: String = graft.plans.GraftPii.PhoneRe

  /** Replace emails, IPv4s, and international-format phone numbers
    * with typed placeholder tags. Order matters and is part of the
    * contract: emails first (their local part could contain digit runs
    * a later pass would chew on), then IPs (dotted quads must not be
    * half-eaten as phone digits), then phones. Narrow per-row
    * transform — no shuffle, codegen-friendly. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Matches of `re` in `text` as a count (full-match group). */
  def piiCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0))).cast("long")

  /** Native single-kernel PII stats (plans.PiiStatsExpr):
    * struct(n_emails, n_ips, n_phones, redacted) — counts over the
    * original text, sequential email→IP→phone redaction, in 5 regex
    * passes with no per-match array allocation. Equivalent to the
    * piiCount/redactPii composition (property-pinned). */
  def piiStats(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.PiiStatsExpr(
      GraftColumnBridge.expression(text.cast("string"))))
  }

  /** Deterministic dataset splitting for training pipelines: assign
    * each document to train/val/test by a content-hash bucket —
    * reproducible across runs, engines, and partitionings (no RNG, no
    * sampling state), and stable under re-sharding of the corpus.
    * Buckets: md5 first byte (0..255); val = [0, 25), test = [25, 50),
    * train = rest — a ~10/10/80 split the oracle SQL of d11, d12 and
    * d42 spells out. */
  def hashSplit(keyCol: Column): Column = {
    val bucket = conv(substring(md5(keyCol), 1, 2), 16, 10).cast("int")
    when(bucket < 25, lit("val"))
      .when(bucket < 50, lit("test"))
      .otherwise(lit("train"))
  }

  /** Composite quality score in [0,1]: length credit (saturating at 100
    * tokens) + stopword-density credit. Deterministic: exact ints into
    * a fixed IEEE expression tree. */
  def qualityScore(text: Column): Column = {
    val lenCredit = least(tokenCount(text), lit(100L)).cast("double") / 100.0
    lenCredit * 0.7 + stopwordRatio(text) * 0.3
  }
}
