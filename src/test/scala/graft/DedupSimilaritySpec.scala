package graft

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  /** Deterministic ~1/4 sample predicate: keeps a row iff the first hex
    * digit of md5(id as string) is below 4. */
  private def hashCoin(id: org.apache.spark.sql.Column) =
    substring(md5(id.cast("string")), 1, 1) < lit("4")

  /** Decoded-media metadata rows as `resizeMeta` reads them. */
  private def mediaMeta(rows: (Long, Int, Int)*) =
    rows.map { case (id, w, h) => (id, "img", 0L, w, h, 1, "f") }
      .toDF("media_id", "kind", "n_bytes", "width", "height", "n_frames", "fingerprint")

  private val sfDir = "/root/testdata/sf0.001"

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),   // near dup
    (4L, "completely different text about spark engines here"))
    .toDF("doc_id", "text")

  test("exact dedup keeps the smallest id per canonical form") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L))
  }

  test("minhash LSH surfaces exact and near dups, not unrelated docs") {
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val sig = Dedup.minhashSignature(sh, 8)
    val pairs = Dedup.lshCandidatePairs(sig, 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))     // identical -> all bands collide
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }) // unrelated
  }

  test("jaccard pairs: exact dup = 1.0, near dup high, threshold filters") {
    // doc 3 differs from 1/2 in one word of nine: 4 shared shingles of
    // 7+7 -> jaccard 4/10 = 0.4
    val sh = Dedup.postings(docs, "doc_id", "text")
    val pairs = Dedup.jaccardPairs(sh, 0.35)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 3L)) === 0.4)
    assert(pairs((2L, 3L)) === 0.4)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
    // threshold excludes the near-dups
    assert(Dedup.jaccardPairs(sh, 0.5).count() === 1L)
  }

  test("jaccard df-cap bounds hot-shingle pair fan-out") {
    // 50 docs all share one hot shingle ("hot hot hot") and otherwise
    // have unique shingles; docs 100/101 additionally share a rare one.
    val hot = (1L to 50L).map(i => (i, s"hot hot hot uniq$i"))
    val rare = Seq((100L, "alpha beta gamma x"), (101L, "alpha beta gamma y"))
    val sh = Dedup.postings((hot ++ rare).toDF("doc_id", "text"), "doc_id", "text")
    // uncapped: the hot shingle alone fans out to C(50,2) pairs
    assert(Dedup.jaccardPairs(sh, 0.0).count() === 50L * 49L / 2L + 1L)
    // capped: the hot shingle is dropped, so only the rare-shingle pair
    // survives — per-shingle pair fan-out is bounded by maxDocFreq²
    val capped = Dedup.jaccardPairs(sh, 0.0, maxDocFreq = 10).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((100L, 101L)))
  }

  test("simhash: identical docs share a fingerprint") {
    val sim = Dedup.simhash64(docs, "doc_id", "text")
    val byId = sim.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) === byId(2L))
  }

  test("winnowing: shared runs >= w+k-1 share a fingerprint; compression holds") {
    import graft.operators.Dedup
    // k=3, w=4: any common run of >= 6 tokens guarantees a shared
    // fingerprint (the windows over the run select the same minimum)
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"one two three $shared four five six seven eight"),
      (2L, s"nine ten eleven twelve $shared thirteen fourteen"),
      (3L, "totally disjoint vocabulary with no overlap whatsoever here"))
      .toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fp(1L) intersect fp(2L)).nonEmpty, "6-token shared run must collide")
    assert((fp(1L) intersect fp(3L)).isEmpty, "no shared 3-gram -> no shared fingerprint")
    assert((fp(2L) intersect fp(3L)).isEmpty)
    // selection stores far fewer than all k-gram hashes (~2/(w+1))
    val doc1Kgrams = Dedup.shingles(df.filter(col("doc_id") === 1), "doc_id", "text").count()
    assert(fp(1L).size < doc1Kgrams,
      s"winnowing must compress: ${fp(1L).size} fingerprints vs $doc1Kgrams k-grams")
  }

  test("d16: per-row max-run bigram stats match the explode/groupBy reference") {
    import graft.operators.TextAnalysis
    import graft.functions.ExactNum.roundRatio4
    import graft.queries.Registry
    val dir = "/root/testdata/sf0.001"
    // the registered query computes top-bigram multiplicity narrowly
    // (sorted array + max equal run, zero shuffles); this reference is
    // the old distributed shape — explode every bigram, two shuffled
    // aggregations — which is definitionally correct
    val ref = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"),
        size(array_distinct(TextAnalysis.tokens(col("text")))).cast("long")
          .as("n_uniq"),
        explode(TextAnalysis.shinglesCol(col("text"), 2)).as("bg"))
      .groupBy(col("doc_id"), col("n_tok"), col("n_uniq"), col("bg"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"), col("n_tok"), col("n_uniq"))
      .agg(sum(col("n")).as("n_bigrams"), max(col("n")).as("top_bigram_n"))
      .select(col("doc_id"),
        roundRatio4(col("n_tok") - col("n_uniq"), col("n_tok"))
          .as("dup_token_frac_r4"),
        col("n_bigrams"), col("top_bigram_n"),
        roundRatio4(col("top_bigram_n"), col("n_bigrams"))
          .as("top_bigram_frac_r4"))
    val got = Registry.queries("d16_repetition_signals")(spark, dir)
    assert(got.collect().toSet === ref.collect().toSet)
    assert(got.count() === ref.count())
  }

  test("incremental dedup: batch survivors vs a standing corpus") {
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely separate corpus document about databases"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "THE quick brown fox jumps over the lazy  dog"), // exact dup of corpus 1 (canonical form)
      (11L, "the quick brown fox leaps over the lazy dog"),  // near dup of corpus 1 (jaccard 0.4)
      (12L, "brand new content that matches nothing else at all"),
      (13L, "brand new content that matches nothing else at all"), // within-batch exact dup of 12
      (14L, "the quick brown fox leaps over the lazy dog"))  // within-batch exact dup of 11
      .toDF("doc_id", "text")
    // default threshold 0.6: near dup 11 (0.4) survives
    val keep = Dedup.dedupIncrement(corpus, incoming, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(keep === Set(11L, 12L))
    // threshold 0.35 additionally drops the near dup — and its
    // within-batch twin 14 was already folded into 11 by stage 1
    val strict = Dedup.dedupIncrement(corpus, incoming, "doc_id", "text",
      jaccardThreshold = 0.35)
      .select("doc_id").as[Long].collect().toSet
    assert(strict === Set(12L))
    // corpus is never modified/returned: survivors are batch rows only
    assert(!keep.contains(1L) && !keep.contains(2L))
  }

  test("incremental dedup is idempotent once survivors merge into the corpus") {
    import graft.operators.Dedup
    // the daily-pipeline invariant: after a batch's survivors are
    // appended to the corpus, re-presenting the SAME batch must yield
    // zero survivors — exact dups of their own prior selves (or of the
    // docs that shadowed them on the first pass)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely separate corpus document about databases"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "THE quick brown fox jumps over the lazy  dog"),
      (11L, "the quick brown fox leaps over the lazy dog"),
      (12L, "brand new content that matches nothing else at all"),
      (13L, "brand new content that matches nothing else at all"),
      (14L, "the quick brown fox leaps over the lazy dog"))
      .toDF("doc_id", "text")
    val survivors = Dedup.dedupIncrement(corpus, incoming, "doc_id", "text")
    val merged = corpus.unionByName(survivors)
    assert(Dedup.dedupIncrement(merged, incoming, "doc_id", "text").count() === 0L)
  }

  test("token-budget shard packing: exclusive prefix sum, append-stable") {
    import graft.operators.Packing
    val docs = Seq(
      ("a", 1L, 4L), ("a", 2L, 4L), ("a", 3L, 4L), // prefixes 0,4,8 → shard 0
      ("a", 4L, 4L),                               // prefix 12 → shard 1
      ("b", 1L, 25L),                              // prefix 0 → shard 0 (oversized doc still starts a shard)
      ("b", 2L, 1L))                               // prefix 25 → shard 2
      .toDF("source", "doc_id", "n_tokens")
    def shards(df: org.apache.spark.sql.DataFrame) =
      Packing.assignShards(df, "source", "doc_id", "n_tokens", 10L)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    val got = shards(docs)
    assert(got === Map(("a", 1L) -> 0L, ("a", 2L) -> 0L, ("a", 3L) -> 0L,
      ("a", 4L) -> 1L, ("b", 1L) -> 0L, ("b", 2L) -> 2L))
    // append-stable: adding higher-id docs never moves existing shards
    val more = docs.unionByName(Seq(("a", 9L, 7L), ("b", 9L, 7L))
      .toDF("source", "doc_id", "n_tokens"))
    val grown = shards(more)
    assert(got.forall { case (k, v) => grown(k) == v })
  }

  test("hash-coin sampling: deterministic, growth-stable, rate-accurate") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val w = Map("src0" -> 1.0, "src1" -> 0.0)
    def kept(df: org.apache.spark.sql.DataFrame) =
      Sampling.sampleBySource(df, "source", "doc_id", w, defaultWeight = 0.5)
        .select("doc_id").as[Long].collect().toSet
    val full = kept(docs)
    // weight 1.0 keeps everything, 0.0 keeps nothing
    val bySource = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bySource.collect { case (id, "src0") => id }.forall(full.contains))
    assert(!bySource.exists { case (id, s) => s == "src1" && full.contains(id) })
    // growth-stable: decisions on a subset are the subset of decisions
    // (each coin depends only on the row's id — adding docs flips nothing)
    val subset = kept(docs.filter(col("doc_id") % 2 === 0))
    assert(subset === full.filter(_ % 2 == 0))
    // rate-accurate: default-weight sources keep ~50% (binomial band)
    val defaultIds = bySource.collect { case (id, s) if s != "src0" && s != "src1" => id }
    val rate = defaultIds.count(full.contains).toDouble / defaultIds.size
    assert(rate > 0.4 && rate < 0.6, f"default 0.5 rate off: $rate%.3f")
  }

  test("temperature mixing: sqrt flattens the head, budget floors sum within range") {
    import graft.operators.Sampling
    val docs = Seq(("big", 1L, 900L), ("big", 2L, 700L),
                   ("small", 3L, 100L))
      .toDF("source", "doc_id", "n")
    val rows = Sampling.temperatureMixWeights(docs, "source", col("n"), 100000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    // alpha=0.5 lifts the tail: small's share of the budget (1/5 by
    // raw volume) exceeds 1/5 under sqrt scaling (sqrt(100)/(sqrt(1600)+sqrt(100)) = 0.2)
    assert(rows("big")._1 === 1600L && rows("small")._1 === 100L)
    assert(rows("small")._3 > 100.0 / 1700.0)
    assert(rows("big")._2 === math.round(math.sqrt(1600.0) * 1e6))
    // integer floors can undershoot but never overshoot the budget
    val total = rows.values.map(_._4).sum
    assert(total <= 100000L && total > 99990L)
  }

  test("temperature mixing survives w_micro*budget past 2^63 (decimal floor)") {
    import graft.operators.Sampling
    // 1e10 tokens -> w_micro = 1e11; budget 1e9 -> product 1e20 > Long.Max
    val docs = Seq(("huge", 1L, 10000000000L), ("tiny", 2L, 1L))
      .toDF("source", "doc_id", "n")
    val rows = Sampling.temperatureMixWeights(docs, "source", col("n"), 1000000000L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val wHuge = math.round(math.sqrt(1e10) * 1e6)  // 1e11
    val wTiny = math.round(math.sqrt(1.0) * 1e6)   // 1e6
    val expectHuge = (BigInt(wHuge) * 1000000000L / (BigInt(wHuge) + wTiny)).toLong
    assert(rows("huge") === expectHuge)
    assert(rows.values.forall(_ >= 0L), s"long overflow leaked through: $rows")
  }

  test("ANN recall vs exact kNN on real embeddings (sf0.001)") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.knnExact(emb, col("vec_id") < 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.annLsh(emb, col("vec_id") < 10, 5, planes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 was $recall") // 3 planes + multi-probe: 0.68 measured
    // cosine agreement where both found the same neighbor
    val exactCos = Similarity.knnExact(emb, col("vec_id") < 10, 5)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val annCos = Similarity.annLsh(emb, col("vec_id") < 10, 5, planes = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    (exactCos.keySet intersect annCos.keySet).foreach { k =>
      assert(exactCos(k) === annCos(k)) // same exact-integer dot product
    }
  }

  test("IVF ANN: probing more cells increases recall; cos values exact") {
    import graft.operators.Ivf
    val emb = Tables.embeddings(spark, sfDir)
    val index = Ivf.build(emb, k = 8, iters = 2)
    // every vector lands in exactly one cell
    assert(index.assigned.count() === emb.count())
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.knnExact(emb, col("vec_id") < 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallAt(nprobe: Int): Double = {
      val got = Ivf.search(index, queries, k = 5, nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val r1 = recallAt(1); val r4 = recallAt(4); val r8 = recallAt(8)
    assert(r4 >= r1, s"recall@nprobe4 $r4 < @1 $r1")
    assert(r8 >= 0.999, s"probing all cells must be exhaustive, got $r8")
    assert(r1 > 0.0)
  }

  test("int8 quantized kNN: high top-k agreement with full precision") {
    val emb = Tables.embeddings(spark, sfDir)
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) -> r.getLong(2)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exact = topk(Similarity.knnExact(emb, col("vec_id") < 10, 5))
    val int8 = topk(Similarity.knnInt8(emb, col("vec_id") < 10, 5))
    val recall = exact.map { case (q, s) => (s intersect int8(q)).size }.sum.toDouble /
      exact.values.map(_.size).sum
    info(f"int8 recall@5 = $recall%.2f")
    // ~0.4% max per-component error (1/254 of max-abs) barely perturbs
    // cosines: near-perfect neighbor agreement expected
    assert(recall >= 0.9, f"int8 quantization lost too much recall: $recall%.2f")
    // all-zero vector guard: dequantized passes it through unchanged
    import graft.operators.Similarity.{dequantized, quantScale}
    val z = Seq((1L, Array.fill(4)(0.0f)), (2L, Array(1.0f, -2.0f, 0.5f, 0.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        dequantized(col("embedding"), quantScale(col("embedding"))).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(z(1L).forall(_ == 0.0f))
    assert(math.abs(z(2L)(1) - (-2.0f)) < 1e-6) // max component exact
  }

  test("paragraph dedup: shared paragraphs drop at non-canonical occurrences") {
    // doc 1 owns "shared block one"; doc 2 re-uses it once, doc 3 twice
    // (both of doc 3's copies are non-canonical — owner is (1, 1))
    val docs = Seq(
      (1L, "alpha beta\n\nshared block one\n\ntail one"),
      (2L, "shared block one\n\nunique two"),
      (3L, "unique three\n\nshared block one\n\nshared block one"))
      .toDF("doc_id", "text")
    val got = Dedup.paragraphDedupStats(docs, "doc_id", "text",
        delimiter = Some("\n\n"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((3L, 3L, 0L)))
    assert(got(2L) === ((2L, 1L, 1L)))
    assert(got(3L) === ((3L, 1L, 2L)))
  }

  test("paragraph dedup token-block fallback: an exact dup doc keeps nothing") {
    val text = (1 to 100).map(i => s"tok$i").mkString(" ")
    val docs = Seq((10L, text), (20L, text)).toDF("doc_id", "text")
    val got = Dedup.paragraphDedupStats(docs, "doc_id", "text",
        delimiter = None, paraTokens = 40)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 100 tokens → 3 blocks (40/40/20); doc 10 canonical for all three
    assert(got(10L) === ((3L, 3L, 0L)))
    assert(got(20L) === ((3L, 0L, 3L)))
  }

  test("sequence packing: spans, boundaries, and two-phase == global prefix sum") {
    import graft.operators.Packing
    // tokens: 10, 250, 300, 8, 512 at seqLen 256 — exercises a doc
    // ending exactly at a boundary (10+250-1 ends475... see below), a
    // doc spanning 2 and 3 sequences, and an exact multi-seq doc
    val docs = Seq((1L, 10L), (2L, 246L), (3L, 300L), (4L, 8L), (5L, 512L))
      .toDF("doc_id", "n_tokens")
    val got = Packing.packSequences(docs, "doc_id", "n_tokens", seqLen = 256L,
        buckets = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // offsets: d1 o=0 n=10; d2 o=10 n=246 (fills seq 0 exactly to 256);
    // d3 o=256 n=300 (seq 1 full 256 + seq 2 first 44); d4 o=556 n=8;
    // d5 o=564 n=512 (seq 2 remaining 204 + seq 3 full + seq 4 last 52)
    assert(got === Set(
      (0L, 1L, 0L, 0L, 10L),
      (0L, 2L, 0L, 10L, 246L),
      (1L, 3L, 0L, 0L, 256L),
      (2L, 3L, 256L, 0L, 44L),
      (2L, 4L, 0L, 44L, 8L),
      (2L, 5L, 0L, 52L, 204L),
      (3L, 5L, 204L, 0L, 256L),
      (4L, 5L, 460L, 0L, 52L)), s"got $got")
    // per-sequence token budget holds: every sequence except the last
    // sums to exactly seqLen
    val bySeq = got.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(bySeq === Map(0L -> 256L, 1L -> 256L, 2L -> 256L, 3L -> 256L, 4L -> 52L))
    // two-phase distributed prefix == plain global window at any
    // bucket count, including buckets with no rows (sparse ids)
    val sparse = Seq(1L, 2L, 900L, 901L, 5000L).zipWithIndex
      .map { case (id, i) => (id, (i * 37 + 5).toLong) }
      .toDF("doc_id", "n_tokens")
    val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = sparse
      .withColumn("__o", coalesce(sum(col("n_tokens")).over(wAll), lit(0L)))
      .select("doc_id", "__o").as[(Long, Long)].collect().toMap
    for (b <- Seq(1, 2, 7, 64)) {
      val two = Packing.packSequences(sparse, "doc_id", "n_tokens",
          seqLen = 16L, buckets = b)
        .filter(col("doc_off") === 0)
        .select(col("doc_id"), col("seq_id") * 16 + col("seq_off"))
        .as[(Long, Long)].collect().toMap
      assert(two === ref, s"two-phase offsets diverged at buckets=$b")
    }
    // span contract enforced, not just documented (round-18 ADVICE): a
    // key span whose bucket arithmetic would overflow 2⁶³ fails LOUDLY
    // instead of silently emitting negative bucket ids
    val wide = Seq((0L, 5L), (Long.MaxValue / 3, 7L)).toDF("doc_id", "n_tokens")
    val e = intercept[Exception] {
      Packing.packSequences(wide, "doc_id", "n_tokens", seqLen = 16L,
        buckets = 1024).collect()
    }
    assert(e.getMessage.contains("overflows"),
      s"expected the span-overflow raise_error, got: ${e.getMessage}")
  }

  test("hash-coin sample is deterministic and near the nominal rate") {
    val emb = Tables.embeddings(spark, sfDir)
    val keep = hashCoin(col("vec_id")) // ¼
    val n1 = emb.filter(keep).count()
    val n2 = emb.filter(keep).count()
    assert(n1 === n2, "hash-coin must be deterministic across runs")
    val rate = n1.toDouble / emb.count()
    assert(rate > 0.15 && rate < 0.35, f"¼-coin kept $rate%.2f of rows")
  }

  test("near-dup cells sizing: √N default + recall at two cell counts (sampled universe)") {
    // recall methodology as at corpus scale: the exact all-pairs
    // baseline runs on the deterministic hash-coin sample (the e03
    // universe — full-corpus all-pairs is the quadratic plan this
    // repo refuses to register), and the blocked path is measured on
    // the SAME sampled universe.
    val emb = Tables.embeddings(spark, sfDir)
      .filter(hashCoin(col("vec_id")))
    val n = emb.count()
    assert(Similarity.cellsFor(n) === math.round(math.sqrt(n.toDouble)).toInt)
    assert(Similarity.cellsFor(1L) === 1)
    // √N is clamped to MaxCells: the Lloyd loop collects the centroid
    // table to the driver, so the cell count must bound driver memory
    // no matter how large the corpus claims to be
    assert(Similarity.cellsFor((1L << 32) + 7L) === Similarity.MaxCells)
    assert(Similarity.cellsFor(Long.MaxValue) === Similarity.MaxCells)
    val exactTop = Similarity.topSimilarPairs(emb, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(cells: Int): Double = {
      val got = Similarity.nearDupBlocked(emb, 20, cells)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exactTop intersect got).size.toDouble / exactTop.size
    }
    val atSqrtN = recall(Similarity.cellsFor(n)) // ~√140 ≈ 12
    val atCoarse = recall(4)                     // 3× fewer cells, ~3× cost
    info(f"recall@sqrtN=$atSqrtN%.2f recall@4=$atCoarse%.2f")
    // the documented trade, measured: recall decays gracefully as cells
    // rise (cost decays as 1/c), and the degenerate single cell IS the
    // exact all-pairs plan — recall exactly 1 by construction, which
    // pins that blocked scoring is a pure candidate-set restriction of
    // the exact path, not a different computation. Pointwise
    // monotonicity between two arbitrary cell counts is NOT asserted:
    // k-means cell shapes make recall locally non-monotone on small
    // samples (0.40 @ √N vs 0.35 @ 4 here).
    assert(recall(1) === 1.0, "one cell = all pairs: recall must be exact")
    assert(atSqrtN >= 0.05, f"√N-cell recall collapsed: $atSqrtN%.2f")
    assert(atCoarse >= 0.2, f"coarse-cell recall collapsed: $atCoarse%.2f")
  }

  test("LSH near-dup: integer-exact adaptive planes + unique pairs + recall") {
    // planesFor = ceil(log2(ceil(n/occ))) clamped [1,16], computed by
    // bit-length so no floating log can mis-ceil at a power of two
    assert(Similarity.planesFor(50) === 1)
    assert(Similarity.planesFor(64) === 1)   // k=1 → clamp up to 1
    assert(Similarity.planesFor(128) === 1)  // k=2 → 1
    assert(Similarity.planesFor(129) === 2)  // k=3 → 2
    assert(Similarity.planesFor(500) === 3)  // k=8 → exactly 3
    assert(Similarity.planesFor(5000) === 7)
    assert(Similarity.planesFor(500000) === 13)
    assert(Similarity.planesFor(Long.MaxValue / 4) === 16) // cap
    // recall methodology as for the IVF-blocked path: exact all-pairs
    // on the hash-coin sampled universe, LSH-blocked on the same
    val emb = Tables.embeddings(spark, sfDir)
      .filter(hashCoin(col("vec_id")))
    val exactTop = Similarity.topSimilarPairs(emb, 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val got = Similarity.nearDupLsh(emb, 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    // each qualifying pair must join exactly once (probe buckets are
    // distinct and the build side carries only its own bucket)
    assert(got.map(_._1).distinct.length === got.length,
      "duplicate candidate pairs escaped the probe join")
    val overlap = got.filter { case (p, _) => exactTop.contains(p) }
    val recall = overlap.size.toDouble / exactTop.size
    info(f"lsh near-dup recall=$recall%.2f (planes adaptive)")
    assert(recall >= 0.3, f"LSH-blocked recall collapsed: $recall%.2f")
    // scoring is a pure candidate-set restriction of the exact path:
    // cosines agree exactly wherever the pair sets overlap
    overlap.foreach { case (p, c) => assert(c === exactTop(p)) }
  }

  test("maxBucketOcc drops over-cap buckets from the pair join key, both orientations") {
    // planted hot orthant (round-17 VERDICT item 1): with 2 md5
    // planes, A=(h0+h1)/8 lands in bucket 3, C=-A in bucket 0, and
    // D=(h0-h1)/8 in bucket 1 (hamming 1 from A). 10 copies of A make
    // bucket 3 hot at cap 8.
    val h0 = Similarity.hyperplane(0)
    val h1 = Similarity.hyperplane(1)
    def mix(a: Double, b: Double): Array[Float] =
      h0.zip(h1).map { case (x, y) => ((a * x + b * y) / 8.0).toFloat }
    val a = mix(1, 1); val c = mix(-1, -1); val d = mix(1, -1)
    val emb = ((0L, d) +: (1L to 10L).map(i => (i, a)) :+
      (21L, c) :+ (22L, c) :+ (30L, d))
      .toDF("vec_id", "embedding")
    def pairs(cap: Int): Set[(Long, Long)] =
      Similarity.nearDupLshThreshold(emb, minCos = -2.0, planes = 2,
        maxBucketOcc = cap)
        .select("v1", "v2").as[(Long, Long)].collect().toSet
    val capped = pairs(8)
    // a pair joins on the HIGHER id's own bucket, so every A-A pair
    // (key = hot bucket 3) drops, and (0=D, A_i) drops TOO even though
    // both members could meet in non-hot bucket 1 — while (A_i, 30=D)
    // survives through D's own non-hot bucket. The orientation
    // asymmetry is the contract the oracles mirror.
    val aa = for (i <- 1L to 10L; j <- (i + 1) to 10L) yield (i, j)
    assert(aa.forall(p => !capped.contains(p)), s"hot-bucket pair survived: $capped")
    assert((1L to 10L).forall(i => !capped.contains((0L, i))),
      s"(D0, A_i) must drop — its only join key is the hot bucket: $capped")
    assert((1L to 10L).forall(i => capped.contains((i, 30L))),
      s"hot-bucket members must still pair through non-hot flip probes: $capped")
    assert(capped.contains((21L, 22L)) && capped.contains((0L, 30L)),
      s"non-hot buckets must be untouched: $capped")
    assert(capped.size === 16, s"expected 16 capped pairs: $capped")
    // uncapped keeps everything the probes reach
    assert(pairs(Int.MaxValue).size === capped.size + 45 + 10)
    // the telemetry report counts exactly the planted hot bucket
    val rep = Similarity.lshCapReport(emb, planes = 2, maxBucketOcc = 8)
      .select("planes", "n_buckets", "max_occ", "buckets_over_cap",
        "rows_in_over_cap")
      .as[(Int, Long, Long, Long, Long)].collect().head
    assert(rep === ((2, 3L, 10L, 1L, 10L)), s"got $rep")
  }

  test("banded OR-construction: recall >= 0.9 vs the exact eps-universe, unique sound pairs") {
    val emb = Tables.embeddings(spark, sfDir)
    val eps = 0.42
    // exact ε-universe: all-pairs integer-cosine (affordable at the
    // 500-vector gate corpus)
    val exact = Similarity.topSimilarPairs(emb, topN = 1000000, minCos = eps)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture lost its ε-pairs — re-derive eps")
    // single-signature multi-probe (the e10 generator) vs 8 bands
    val single = Similarity.nearDupLshThreshold(emb, eps)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val bandedRows = Similarity.nearDupLshBanded(emb, eps)
      .select("v1", "v2").as[(Long, Long)].collect().toSeq
    // first-match-band guard ⇒ each pair exactly once, no distinct pass
    assert(bandedRows.size === bandedRows.toSet.size,
      "banded generator emitted a duplicate pair")
    val banded = bandedRows.toSet
    // sound: only the blocking approximates — every reported pair is a
    // true ε-pair (cosines are exact on both paths)
    assert(banded.subsetOf(exact), s"unsound pairs: ${banded -- exact}")
    assert(single.subsetOf(exact))
    val rb = banded.size.toDouble / exact.size
    val rs = single.size.toDouble / exact.size
    info(f"banded recall = $rb%.3f (multi-probe single-signature: $rs%.3f)")
    assert(rb >= 0.9, f"banded recall floor broken: $rb%.3f")
    assert(rb >= rs, "banding lost recall vs the single-signature floor")
  }

  test("lshRecallReport: generator counts bound the ε-universe; banded default wins; flip wired") {
    val emb = Tables.embeddings(spark, sfDir)
    val r = Similarity.lshRecallReport(emb, minCos = 0.42).collect().head
    val (rows, eps, banded, probe) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(rows === math.min(500L, emb.count()))
    // both generators emit SUBSETS of the exact ε-universe (same
    // threshold tail over a candidate subset) — counts can never
    // exceed it, and the banded OR-construction dominates the
    // single-signature generator by construction
    assert(banded <= eps && probe <= eps)
    assert(banded >= probe,
      s"banding lost recall vs single-signature: $banded < $probe")
    assert(eps > 0, "fixture ε-universe is empty — the report is vacuous")
    // the round-19 default flip: the epsilon entry point's default
    // generator IS the banded one (bands = 0 selects single-signature)
    val docs = Tables.documents(spark, sfDir)
    val viaDefault = Similarity.semDedupCurationThreshold(
      docs, emb, "doc_id", "text", minCos = 0.42,
      sizeHint = emb.count()).orderBy(col("doc_id"))
    val viaBanded = Similarity.semDedupCurationBanded(
      docs, emb, "doc_id", "text", minCos = 0.42,
      sizeHint = emb.count()).orderBy(col("doc_id"))
    assert(viaDefault.exceptAll(viaBanded).isEmpty &&
      viaBanded.exceptAll(viaDefault).isEmpty,
      "default epsilon entry point must ride the banded generator")
  }

  test("parquetRowCount reads the exact count from footers; LSH plan construction runs zero jobs") {
    // footer metadata equals count() on both a single file and a
    // Spark-written directory
    val single = Tables.parquetRowCount(spark, s"$sfDir/embeddings.parquet")
    assert(single === Tables.embeddings(spark, sfDir).count())
    val tmp = java.nio.file.Files.createTempDirectory("rc").toString + "/t.parquet"
    spark.range(0, 1234).repartition(3).write.parquet(tmp)
    assert(Tables.parquetRowCount(spark, tmp) === 1234L)
    // partitioned/nested layouts are counted RECURSIVELY (round-18
    // ADVICE: the top-level-only listing silently under-counted them),
    // and hidden entries (_SUCCESS and friends) stay skipped
    val part = java.nio.file.Files.createTempDirectory("rcp").toString + "/p.parquet"
    spark.range(0, 300).withColumn("k", col("id") % 3)
      .write.partitionBy("k").parquet(part)
    assert(Tables.parquetRowCount(spark, part) === 300L)
    // with the size hint threaded, building the operator plan over an
    // already-constructed scan must launch no Spark job (round-17
    // VERDICT item 6: the count() pre-action was one job per query
    // before any execution; spark.read.parquet's own footer/schema
    // job is the scan's, not the operator's, so the scan is built
    // outside the listener window)
    val scan = Tables.embeddings(spark, sfDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Similarity.nearDupLsh(scan, 20, sizeHint = single)
      org.apache.spark.sql.GraftColumnBridge.waitListenerBusEmpty(
        spark, 10000L)
      assert(jobs.get() === 0,
        s"plan construction launched ${jobs.get()} job(s)")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("hashSample: deterministic, fixed-size, subset-stable across corpus growth") {
    val emb = Tables.embeddings(spark, sfDir)
    val s1 = Similarity.hashSample(emb, "vec_id", 50)
      .select("vec_id").as[Long].collect().toSet
    val s2 = Similarity.hashSample(emb, "vec_id", 50)
      .select("vec_id").as[Long].collect().toSet
    assert(s1 === s2, "fixed-size sample must be deterministic")
    assert(s1.size === 50)
    // the fixed-SIZE property that makes e03 non-quadratic: growing the
    // corpus cannot grow the sample (a smaller corpus's sample is a
    // superset-ordering prefix, so the 50 smallest hashes of a half
    // corpus are ⊇-consistent with the full corpus's 50 smallest)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val sHalf = Similarity.hashSample(half, "vec_id", 50)
      .select("vec_id").as[Long].collect().toSet
    assert(sHalf.size === 50)
    // full-corpus winners that survive the half filter must all appear
    // in the half sample (prefix-of-ordering consistency)
    assert((s1.filter(_ % 2 == 0) -- sHalf).isEmpty)
    // n larger than the table: whole table, no padding
    assert(Similarity.hashSample(emb, "vec_id", 1000000).count() === emb.count())
  }

  test("e08 SQL plane formula: double CEIL(LOG2) agrees with integer planesFor at boundaries") {
    // the e08 oracle derives planes as CEIL(LOG2(k)) in doubles; the
    // engine uses integer bit-length. Pin their agreement at every
    // power-of-two boundary of k (where a libm ulp error would
    // mis-ceil) across the full clamp range — the oracle-side twin of
    // this check runs in tools/oracle_check.py against DuckDB itself.
    val ks = (1 to 30).flatMap(p => Seq((1L << p) - 1, 1L << p, (1L << p) + 1)) ++
      Seq(1L, 3L, 5L, 100L)
    ks.foreach { k =>
      val viaDouble = math.min(16, math.max(1,
        math.ceil(math.log(k.toDouble) / math.log(2.0)).toInt))
      val viaBits = Similarity.planesFor(k * Similarity.TargetOccupancy) // → this k
      assert(viaDouble === viaBits, s"k=$k double=$viaDouble bits=$viaBits")
    }
  }

  test("e05/e08 cross-check: both blockings vs the exact top-20 at sf0.1") {
    // e05 is the trained-cell O(N^1.5) variant, e08 the linear scale
    // twin. Cross-reference both against the EXACT full-corpus top-20
    // (2000 vectors → 2M pairs, affordable here) rather than against
    // each other: two approximate blockings can each recover different
    // true pairs, so pairwise overlap alone conflates their recalls.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val exact = Similarity.topSimilarPairs(emb, 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val e05 = Similarity.nearDupBlocked(emb, 20, cells = 0) // registered config: √N
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val e08 = Similarity.nearDupLsh(emb, 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val r05 = (exact.keySet intersect e05.keySet).size
    val r08 = (exact.keySet intersect e08.keySet).size
    val both = e05.keySet intersect e08.keySet
    info(s"recall vs exact top-20: e05=$r05/20 e08=$r08/20; e05∩e08=${both.size}")
    // measured at the registered configurations: e05 (cost-optimal
    // √N ≈ 45 trained cells, round-9) recovers 2/20 true top pairs,
    // e08 (adaptive planes + multi-probe) 11/20. On these UNIFORM
    // synthetic embeddings boundary pairs split across fine cells
    // easily (real near-dup corpora cluster much harder), so the
    // trained-cell blocking is weaker on quality here as well as
    // super-linear on cost — both reasons e08 is the documented scale
    // twin. Floors pin against regression, not parity.
    assert(r05 >= 2, s"e05 recall regressed below measured floor: $r05/20")
    assert(r08 >= 8, s"e08 recall regressed below measured floor: $r08/20")
    // wherever any two of the three agree on a pair, the exact integer
    // rescoring must produce the identical cosine — blocking restricts
    // the candidate set, never changes the computation
    (exact.keySet intersect e05.keySet).foreach(k => assert(exact(k) === e05(k)))
    (exact.keySet intersect e08.keySet).foreach(k => assert(exact(k) === e08(k)))
    both.foreach(k => assert(e05(k) === e08(k)))
  }

  test("blocked near-dup overlaps exact top pairs with exact cosines") {
    val emb = Tables.embeddings(spark, sfDir)
      .filter(hashCoin(col("vec_id")))
    val exact = Similarity.topSimilarPairs(emb, 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val blocked = Similarity.nearDupBlocked(emb, 20, cells = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val overlap = exact.keySet intersect blocked.keySet
    assert(overlap.nonEmpty, "blocked candidates should find some true top pairs")
    overlap.foreach(k => assert(exact(k) === blocked(k))) // exact re-rank
  }

  test("corpus curation composes dedup, near-dup drop, gates, and split") {
    import graft.operators.CorpusPipeline
    // doc 2 = exact dup of 1 (dropped by canonical hash); doc 3 = near
    // dup of 1 (jaccard 0.4 < 0.6 survives at default threshold, but a
    // 0.35 threshold drops it); doc 4 has no stopwords (fails lang
    // gate). minQuality lowered: 9-token toy docs score ~0.13 on the
    // length-saturating quality formula.
    val curated = CorpusPipeline.curate(docs, minQuality = 0.1)
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(curated.keySet === Set(1L, 3L))
    assert(curated.values.forall(Set("train", "val", "test")))
    val strict = CorpusPipeline
      .curate(docs, jaccardThreshold = 0.35, minQuality = 0.1)
      .select("doc_id").as[Long].collect().toSet
    assert(strict === Set(1L)) // keep-first: smaller id 1 survives, 3 drops
  }

  test("curate persists survivors: both consumers read the cache") {
    import graft.operators.CorpusPipeline
    // round-11 policy (see CorpusPipeline scaladoc for the four-rung
    // A/B): the survivor set feeds two consumers (shingle pipeline +
    // anti-join left side) and exchange reuse does not reliably cover
    // the shared subtree, so the plan must surface the cache boundary
    // as InMemoryTableScan on BOTH reads
    val plan = CorpusPipeline.curate(docs, minQuality = 0.1)
      .queryExecution.executedPlan.toString
    val scans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(scans >= 2, s"expected both consumers to read the cache, got $scans:\n$plan")
  }

  test("e05 plan is cartesian-free (the point of blocking)") {
    // the registered scale-safe near-dup must never plan an all-pairs
    // join: pairing is an equi-join on cell_id, centroid scoring a
    // literal-explode Generate
    val plan = graft.queries.Registry.queries("e05_neardup_blocked")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in e05 plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in e05 plan:\n$plan")
  }

  test("multimodal resize: fit-within integer scaling incl. 1px clamp") {
    val meta = mediaMeta(
      (1L, 100, 50),   // fits → unchanged
      (2L, 512, 256),  // wider → clamp width
      (3L, 300, 600),  // taller → clamp height
      (4L, 2000, 1)    // extreme aspect → floor hits 0, clamps to 1
    )
    val out = Multimodal.resizeMeta(meta, 256, 256)
      .collect().map(r => r.getLong(0) -> (r.getInt(3), r.getInt(4))).toMap
    assert(out(1L) === (100, 50))
    assert(out(2L) === (256, 128))
    assert(out(3L) === (128, 256))
    assert(out(4L) === (256, 1))
  }

  test("resizeMeta is exact past the 2^53 double-mantissa boundary") {
    // w*maxH = 36028794854703104 = q*h - 1 with h = 2^31-1 (constructed
    // via w ≡ -inv(2^24) mod h): exact integral division yields q-1 =
    // 16777214, while the pre-fix double division rounds the 2^55-sized
    // product and truncates to q = 16777215 — off by one. Pins that the
    // plan uses IntegralDivide, not Divide-then-cast.
    val out = Multimodal.resizeMeta(mediaMeta((1L, 2147483519, 2147483647)),
      16777216, 16777216)
      .collect().map(r => r.getLong(0) -> (r.getInt(3), r.getInt(4))).toMap
    assert(out(1L) === (16777214, 16777216))
  }

  test("multimodal packers are byte-faithful on non-ASCII text; requireAscii fails loudly") {
    // round-17 VERDICT item 7: the packers' own arithmetic is UTF-8
    // bytes end to end, so multi-byte corpora pack and round-trip
    // exactly (the driver-side mirror evidence is the staged pin,
    // tools/pin_multimodal_nonascii.py)
    val docs = Seq(
      (1L, "café über 日本語 😀 mixed bytes"),
      (2L, "数据管道测试 πρόβλημα Київ"),
      (3L, "plain ascii row")).toDF("doc_id", "text")
    val byId = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8")).toMap
    val wav = Multimodal.extractMetaWav(spark,
      Multimodal.packWavPayload(spark, docs, "doc_id", "text"),
      "doc_id", "payload").toDF().collect()
    assert(wav.length === 3)
    wav.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val raw = byId(id)
      val ba = 2 * (1 + (id % 2).toInt)
      val plen = (raw.length + ba - 1) / ba * ba
      assert(r.getAs[Long]("n_bytes") === plen.toLong)
      val padded = java.util.Arrays.copyOf(raw, plen)
      java.util.Arrays.fill(padded, raw.length, plen, ' '.toByte)
      assert(r.getAs[Long]("byte_sum") ===
        padded.map(b => (b & 0xff).toLong).sum)
      val md = java.security.MessageDigest.getInstance("MD5")
      assert(r.getAs[String]("fingerprint") ===
        md.digest(padded).map("%02x".format(_)).mkString)
    }
    // varied-width BMP dims follow BYTE length, not char length
    val bmp = Multimodal.extractMetaBmp(spark,
      Multimodal.packBmpPayloadVaried(spark, docs, "doc_id", "text"),
      "doc_id", "payload").collect()
    bmp.foreach { m =>
      val w = 17 + math.floorMod(m.media_id, 97L).toInt
      assert(m.width === w)
      assert(m.height ===
        math.max(1L, (byId(m.media_id).length + w * 3 - 1) / (w * 3)))
    }
    // the char-mirrored callers' compatibility check stays loud
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.packBmpPayload(spark, docs, "doc_id", "text",
        requireAscii = true).collect()
    }
    assert(err.getMessage.contains("non-ASCII payload") ||
      Option(err.getCause).exists(_.getMessage.contains("non-ASCII payload")))
  }

  test("multimodal: binary plumbing end-to-end through the REAL codecs") {
    // decodeStub is retired (round-15 VERDICT item 4): the manifest
    // fan-out runs over real AVI-demuxed frame counts, and the varied-
    // width BMP packer gives resize a real 2-D dims spread.
    val docs = Tables.documents(spark, sfDir)
    val meta = Multimodal.extractMetaAvi(spark,
      Multimodal.packAviPayload(spark, docs, "doc_id", "text",
        rowsPerFrame = 1),
      "doc_id", "payload").toDF()
    val byId = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = meta.collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val nf = r.getAs[Long]("n_frames")
      assert(nf === math.max(1L, (byId(id) + 50) / 51)) // 51 B/frame
      assert(r.getAs[String]("fingerprint").length === 32)
    }
    // stride-2 manifest: sum of ceil(nf/2) rows, metadata-only
    val frames = Multimodal.sampleFrames(meta, stride = 2)
    val expected = rows.map(r => (r.getAs[Long]("n_frames") + 1) / 2).sum
    assert(frames.count() === expected)
    // varied-width BMP: real decoded widths sweep 17 + (id mod 97)
    val bmpMeta = Multimodal.extractMetaBmp(spark,
      Multimodal.packBmpPayloadVaried(spark, docs, "doc_id", "text"),
      "doc_id", "payload")
    bmpMeta.collect().foreach { m =>
      assert(m.width === 17 + math.floorMod(m.media_id, 97L).toInt)
      assert(m.height === math.max(1L, (byId(m.media_id) + m.width * 3 - 1)
        / (m.width * 3)))
    }
  }

  // ---------------- real BMP codec (round-14, VERDICT item 7) -------

  test("BMP codec round-trips arbitrary pixel bytes through a padded container") {
    // width 3 → 9-byte rows → 3 pad bytes per row: the decoder must
    // strip padding AND restore top-down row order. Pixel values cover
    // the signed-byte range to catch sign-extension bugs.
    val pixels = Array.tabulate(3 * 4 * 3)(i => ((i * 37 + 200) % 256).toByte)
    val bmp = Multimodal.encodeBmp24(3, 4, pixels)
    assert(bmp.length === 54 + 12 * 4) // stride (9+3) x 4 rows
    val dec = Multimodal.decodeBmp24(bmp)
    assert(dec.width === 3 && dec.height === 4)
    assert(dec.pixels.toSeq === pixels.toSeq)
  }

  test("BMP encoder lays out headers and bottom-up padded rows byte-for-byte") {
    // hand-pinned 1x2: top-down payload rows [1,2,3] and [4,5,6] must
    // land bottom-up ([4,5,6] first), each padded to 4 bytes
    val bmp = Multimodal.encodeBmp24(1, 2, Array[Byte](1, 2, 3, 4, 5, 6))
    assert(bmp(0) === 'B'.toByte && bmp(1) === 'M'.toByte)
    def u32(off: Int) = (bmp(off) & 0xffL) | ((bmp(off + 1) & 0xffL) << 8) |
      ((bmp(off + 2) & 0xffL) << 16) | ((bmp(off + 3) & 0xffL) << 24)
    assert(u32(2) === bmp.length)   // file size
    assert(u32(10) === 54L)         // data offset
    assert(u32(14) === 40L)         // BITMAPINFOHEADER
    assert(u32(18) === 1L && u32(22) === 2L)
    assert((bmp(28) & 0xff) === 24) // bpp
    assert(u32(30) === 0L)          // BI_RGB
    assert(bmp.slice(54, 62).toSeq ===
      Seq[Byte](4, 5, 6, 0, 1, 2, 3, 0))
  }

  test("BMP decoder rejects malformed containers loudly") {
    val good = Multimodal.encodeBmp24(1, 1, Array[Byte](9, 8, 7))
    intercept[IllegalArgumentException] { // bad magic
      val b = good.clone(); b(0) = 'X'.toByte; Multimodal.decodeBmp24(b)
    }
    intercept[IllegalArgumentException] { // 8 bpp
      val b = good.clone(); b(28) = 8; Multimodal.decodeBmp24(b)
    }
    intercept[IllegalArgumentException] { // compressed
      val b = good.clone(); b(30) = 1; Multimodal.decodeBmp24(b)
    }
    intercept[IllegalArgumentException] { // truncated pixel data
      Multimodal.decodeBmp24(good.take(55))
    }
    intercept[IllegalArgumentException] { // not even a header
      Multimodal.decodeBmp24(Array[Byte](1, 2, 3))
    }
  }

  // ---------------- real RIFF/WAV parser (round-15) ----------------

  test("WAV codec round-trips arbitrary PCM bytes through the chunked container") {
    val data = Array.tabulate(24)(i => ((i * 41 + 190) % 256).toByte) // 6 stereo frames
    val wav = Multimodal.encodeWavPcm16(16000, 2, data)
    assert(wav.length === 56 + 24)
    val dec = Multimodal.decodeWavPcm16(wav)
    assert(dec.sampleRate === 16000 && dec.channels === 2)
    assert(dec.data.toSeq === data.toSeq)
  }

  test("WAV encoder lays out RIFF chunks byte-for-byte, with an odd JUNK chunk") {
    val wav = Multimodal.encodeWavPcm16(8000, 1, Array[Byte](1, 2))
    def u32(off: Int) = (wav(off) & 0xffL) | ((wav(off + 1) & 0xffL) << 8) |
      ((wav(off + 2) & 0xffL) << 16) | ((wav(off + 3) & 0xffL) << 24)
    def id(off: Int) = new String(wav, off, 4, "US-ASCII")
    assert(id(0) === "RIFF" && u32(4) === wav.length - 8 && id(8) === "WAVE")
    assert(id(12) === "JUNK" && u32(16) === 3L) // odd size → 1 pad byte
    assert(id(24) === "fmt " && u32(28) === 16L)
    assert((wav(32) & 0xff) === 1 && (wav(34) & 0xff) === 1) // PCM, mono
    assert(u32(36) === 8000L && u32(40) === 16000L)          // rate, byte rate
    assert((wav(44) & 0xff) === 2 && (wav(46) & 0xff) === 16) // block, bits
    assert(id(48) === "data" && u32(52) === 2L)
    assert(wav.slice(56, 58).toSeq === Seq[Byte](1, 2))
  }

  test("WAV parser rejects malformed containers loudly") {
    val good = Multimodal.encodeWavPcm16(8000, 1, Array[Byte](1, 2, 3, 4))
    intercept[IllegalArgumentException] { // bad RIFF magic
      val b = good.clone(); b(0) = 'X'.toByte; Multimodal.decodeWavPcm16(b)
    }
    intercept[IllegalArgumentException] { // not a WAVE form
      val b = good.clone(); b(8) = 'A'.toByte; Multimodal.decodeWavPcm16(b)
    }
    intercept[IllegalArgumentException] { // non-PCM format code
      val b = good.clone(); b(32) = 3; Multimodal.decodeWavPcm16(b)
    }
    intercept[IllegalArgumentException] { // 8-bit samples
      val b = good.clone(); b(46) = 8; Multimodal.decodeWavPcm16(b)
    }
    intercept[IllegalArgumentException] { // inconsistent blockAlign
      val b = good.clone(); b(44) = 6; Multimodal.decodeWavPcm16(b)
    }
    intercept[IllegalArgumentException] { // data chunk overruns the file
      val b = good.clone(); b(52) = 99; Multimodal.decodeWavPcm16(b)
    }
    intercept[IllegalArgumentException] { // truncated mid-header
      Multimodal.decodeWavPcm16(good.take(40))
    }
    intercept[IllegalArgumentException] { // fmt chunk never arrives
      val b = good.clone(); b(25) = 'X'.toByte; Multimodal.decodeWavPcm16(b)
    }
  }

  test("multimodal: REAL WAV parse recovers format and payload end-to-end") {
    // ids chosen to hit every (channels, rate) combination the packer
    // derives: id%2 -> 1 or 2 channels, id%3 -> 8000/16000/44100
    val texts = Seq(
      (0L, "mono 8k with some text"),   // 1ch 8000
      (1L, "stereo 16k"),               // 2ch 16000
      (2L, "mono 44k1 content here"),   // 1ch 44100
      (3L, "x" * 40),                   // 2ch 8000, exact frames
      (4L, "y" * 41),                   // 1ch 16000, needs 1 pad byte
      (5L, ""))                         // 2ch 44100, zero frames
    import spark.implicits._
    val packed = Multimodal.packWavPayload(
      spark, texts.toDF("doc_id", "text"), "doc_id", "text")
    packed.collect().foreach { r =>
      val b = r.getAs[Array[Byte]]("payload")
      assert(new String(b, 0, 4, "US-ASCII") === "RIFF")
    }
    val meta = Multimodal.extractMetaWav(spark, packed, "doc_id", "payload")
      .collect().map(m => m.media_id -> m).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, t) =>
      val channels = 1 + (id % 2).toInt
      val rate = (id % 3) match { case 0 => 8000; case 1 => 16000; case _ => 44100 }
      val ba = channels * 2
      val plen = ((t.length + ba - 1) / ba) * ba
      val padded = t.padTo(plen, ' ')
      val m = meta(id)
      assert(m.channels === channels && m.sample_rate === rate && m.bits === 16)
      assert(m.n_bytes === plen.toLong && m.n_frames === (plen / ba).toLong)
      assert(m.duration_ms === (plen / ba).toLong * 1000L / rate)
      assert(m.byte_sum === padded.map(_.toLong).sum)
      md.reset()
      val fp = md.digest(padded.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(m.fingerprint === fp,
        s"doc $id: parser did not recover the original payload")
    }
  }

  test("multimodal: REAL BMP decode recovers the packed payload end-to-end") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // < one row
      (2L, "x" * 51),                                      // exactly one row
      (3L, "y" * 52),                                      // spills into row 2
      (4L, ""))                                            // degenerate: 1 empty row
    import spark.implicits._
    val df = texts.toDF("doc_id", "text")
    val packed = Multimodal.packBmpPayload(spark, df, "doc_id", "text")
    // the payload really is a BMP container, bigger than the text
    packed.collect().foreach { r =>
      val b = r.getAs[Array[Byte]]("payload")
      assert(b(0) === 'B'.toByte && b(1) === 'M'.toByte)
    }
    val meta = Multimodal.extractMetaBmp(spark, packed, "doc_id", "payload")
      .collect().map(m => m.media_id -> m).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, t) =>
      val h = math.max(1, (t.length + 50) / 51)
      val padded = t.padTo(51 * h, ' ')
      val m = meta(id)
      assert(m.width === 17 && m.height === h && m.n_bytes === 51L * h)
      assert(m.pixel_sum === padded.map(_.toLong).sum)
      md.reset()
      val fp = md.digest(padded.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(m.fingerprint === fp,
        s"doc $id: decoder did not recover the original payload")
    }
  }

  // ---------------- real RIFF/AVI codec (round-15) ----------------

  test("AVI codec round-trips frames through the full container tree") {
    // width 3 → 9-byte rows → 3 stride pad bytes per row, two frames:
    // the demuxer must strip per-row padding, restore top-down order
    // AND split frame boundaries correctly
    val f0 = Array.tabulate(3 * 2 * 3)(i => ((i * 37 + 11) % 256).toByte)
    val f1 = Array.tabulate(3 * 2 * 3)(i => ((i * 53 + 200) % 256).toByte)
    val avi = Multimodal.encodeAvi(3, 2, 1, 25, Seq(f0, f1))
    val dec = Multimodal.decodeAvi(avi)
    assert(dec.width === 3 && dec.height === 2)
    assert(dec.scale === 1 && dec.rate === 25)
    assert(dec.frames.length === 2)
    assert(dec.frames(0).toSeq === f0.toSeq)
    assert(dec.frames(1).toSeq === f1.toSeq)
  }

  test("AVI encoder lays out the RIFF tree byte-for-byte") {
    // 1x1 single frame: every header offset is hand-pinned
    val avi = Multimodal.encodeAvi(1, 1, 1, 10, Seq(Array[Byte](7, 8, 9)))
    def u32(off: Int) = (avi(off) & 0xffL) | ((avi(off + 1) & 0xffL) << 8) |
      ((avi(off + 2) & 0xffL) << 16) | ((avi(off + 3) & 0xffL) << 24)
    def id(off: Int) = new String(avi, off, 4, "US-ASCII")
    assert(id(0) === "RIFF" && u32(4) === avi.length - 8 && id(8) === "AVI ")
    assert(id(12) === "LIST" && u32(16) === 192L && id(20) === "hdrl")
    assert(id(24) === "avih" && u32(28) === 56L)
    assert(u32(32) === 100000L)            // µs per frame at 10 fps
    assert(u32(48) === 1L)                 // totalFrames
    assert(u32(56) === 1L)                 // streams
    assert(u32(64) === 1L && u32(68) === 1L) // dims
    assert(id(88) === "LIST" && u32(92) === 116L && id(96) === "strl")
    assert(id(100) === "strh" && id(108) === "vids" && id(112) === "DIB ")
    assert(u32(128) === 1L && u32(132) === 10L) // scale, rate
    assert(u32(140) === 1L)                // strh length
    assert(id(164) === "strf" && u32(172) === 40L)
    assert((avi(186) & 0xff) === 24 && u32(188) === 0L) // 24bpp BI_RGB
    assert(u32(192) === 4L)                // biSizeImage: stride 4 × 1 row
    assert(id(212) === "JUNK" && u32(216) === 5L) // odd → 1 pad byte
    assert(id(226) === "LIST" && id(234) === "movi")
    assert(id(238) === "00db" && u32(242) === 4L)
    assert(avi.slice(246, 250).toSeq === Seq[Byte](7, 8, 9, 0)) // padded row
    assert(id(250) === "idx1" && u32(254) === 16L)
    assert(id(258) === "00db" && u32(266) === 4L && u32(270) === 4L)
  }

  test("AVI demuxer rejects malformed containers loudly") {
    val good = Multimodal.encodeAvi(1, 1, 1, 10,
      Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5, 6)))
    intercept[IllegalArgumentException] { // bad RIFF magic
      val b = good.clone(); b(0) = 'X'.toByte; Multimodal.decodeAvi(b)
    }
    intercept[IllegalArgumentException] { // not an AVI form
      val b = good.clone(); b(8) = 'W'.toByte; Multimodal.decodeAvi(b)
    }
    intercept[IllegalArgumentException] { // avih/strh frame-count skew
      val b = good.clone(); b(48) = 9; Multimodal.decodeAvi(b)
    }
    intercept[IllegalArgumentException] { // fps inconsistent with µspf
      val b = good.clone(); b(132) = 20; Multimodal.decodeAvi(b)
    }
    intercept[IllegalArgumentException] { // not a video stream
      val b = good.clone(); b(108) = 'a'.toByte; Multimodal.decodeAvi(b)
    }
    intercept[IllegalArgumentException] { // 8 bpp
      val b = good.clone(); b(186) = 8; Multimodal.decodeAvi(b)
    }
    intercept[IllegalArgumentException] { // compressed
      val b = good.clone(); b(188) = 1; Multimodal.decodeAvi(b)
    }
    intercept[IllegalArgumentException] { // frame chunk wrong size
      val b = good.clone(); b(242) = 3; Multimodal.decodeAvi(b)
    }
    intercept[IllegalArgumentException] { // idx1 entry count skew
      // 2-frame container: movi LIST spans 226..262, idx1 size field
      // at 266 is 32 (two 16-byte entries) — shrink it to one entry
      val b = good.clone(); b(266) = 16; Multimodal.decodeAvi(b)
    }
    intercept[IllegalArgumentException] { // truncated mid-tree
      Multimodal.decodeAvi(good.take(240))
    }
  }

  test("multimodal: REAL AVI demux recovers frames and payload end-to-end") {
    // ids hit all three fps arms; lengths hit exact-frame, pad-within-
    // frame, multi-frame and degenerate-empty
    val texts = Seq(
      (0L, "ten fps doc"),            // 10 fps, 1 frame
      (1L, "x" * 204),                // 20 fps, exactly one frame
      (2L, "y" * 205),                // 25 fps, spills into frame 2
      (3L, "z" * 900),                // 10 fps, 5 frames
      (4L, ""))                       // 20 fps, degenerate: 1 space frame
    import spark.implicits._
    val packed = Multimodal.packAviPayload(
      spark, texts.toDF("doc_id", "text"), "doc_id", "text")
    packed.collect().foreach { r =>
      val b = r.getAs[Array[Byte]]("payload")
      assert(new String(b, 0, 4, "US-ASCII") === "RIFF")
      assert(new String(b, 8, 4, "US-ASCII") === "AVI ")
    }
    val meta = Multimodal.extractMetaAvi(spark, packed, "doc_id", "payload")
      .collect().map(m => m.media_id -> m).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, t) =>
      val fps = (id % 3) match { case 0 => 10; case 1 => 20; case _ => 25 }
      val nf = math.max(1, (t.length + 203) / 204)
      val padded = t.padTo(nf * 204, ' ')
      val m = meta(id)
      assert(m.width === 17 && m.height === 4 && m.fps === fps)
      assert(m.n_frames === nf.toLong && m.n_bytes === nf * 204L)
      assert(m.duration_ms === nf.toLong * 1000L / fps)
      assert(m.byte_sum === padded.map(_.toLong).sum)
      md.reset()
      val fp = md.digest(padded.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(m.fingerprint === fp,
        s"doc $id: demuxer did not recover the original payload")
    }
    // real frame sampling: every 2nd frame of the 5-frame doc, each
    // frame's md5 matching the equivalent slice of the padded text
    val sampled = Multimodal.sampleFramesAvi(
      spark, packed.filter(col("doc_id") === 3L), "doc_id", "payload",
      stride = 2).collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(sampled.keySet === Set(0L, 2L, 4L))
    val padded3 = ("z" * 900).padTo(5 * 204, ' ')
    sampled.foreach { case (idx, h) =>
      md.reset()
      val exp = md.digest(padded3.slice(idx.toInt * 204, idx.toInt * 204 + 204)
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(h === exp, s"frame $idx: wrong recovered bytes")
    }
  }

  // ---------------- exact-substring matches (d35, round-17) ----------------

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def tokRange(prefix: String, from: Int, to: Int): String =
    (from to to).map(i => s"$prefix$i").mkString(" ")

  test("exact substrings: maximal runs localized with exact positions and lengths") {
    // A carries the 20-token run r1..r20 at positions 5..24; B the same
    // run at 3..22; F exactly the first 15 run tokens (the at-threshold
    // case); C only 14 of them (below minTokens -> excluded); D shares
    // nothing. k=5-gram chains, minTokens=15.
    val fix = Seq(
      (1L, tokRange("x", 1, 4) + " " + tokRange("r", 1, 20) + " " + tokRange("y", 1, 6)),
      (2L, "z1 z2 " + tokRange("r", 1, 20) + " z3 z4"),
      (3L, "c1 c2 " + tokRange("r", 1, 14) + " c3"),
      (4L, tokRange("d", 1, 25)),
      (6L, tokRange("r", 1, 15))).toDF("doc_id", "text")
    val m = Dedup.exactSubstringMatches(fix, "doc_id", "text",
      minTokens = 15, k = 5, maxOcc = 100)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(m === Set(
      (1L, 2L, 5L, 3L, 20L),   // the full shared run, both starts exact
      (1L, 6L, 5L, 1L, 15L),   // exactly-at-threshold run kept
      (2L, 6L, 3L, 1L, 15L)),  // ...and found against B's copy too
      s"got $m")
  }

  test("exact substrings: intra-doc repetition is not a match; sub-gram docs are inert") {
    val fix = Seq(
      (1L, tokRange("e", 1, 3) + " " + tokRange("m", 1, 16) + " e4 " +
        tokRange("m", 1, 16) + " e5"), // 16-token run repeated WITHIN one doc
      (2L, tokRange("w", 1, 30)),
      (3L, "only four tokens here"))   // < k tokens after w3's 4 -> no grams
    .toDF("doc_id", "text")
    assert(Dedup.exactSubstringMatches(fix, "doc_id", "text",
      minTokens = 15, k = 5).count() === 0L)
  }

  test("exact substrings: the occurrence cap bounds hot grams, mirrored semantics") {
    // three identical 20-token docs: every gram occurs 3 times. At
    // maxOcc >= 3 all three pairs report the full run; at maxOcc = 2
    // the entire gram universe is over-cap -> empty (exact over the
    // CAPPED universe, the documented contract)
    val t = tokRange("h", 1, 20)
    val fix = Seq((1L, t), (2L, t), (3L, t)).toDF("doc_id", "text")
    val full = Dedup.exactSubstringMatches(fix, "doc_id", "text",
      minTokens = 15, k = 5, maxOcc = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(full === Set((1L, 2L, 20L), (1L, 3L, 20L), (2L, 3L, 20L)))
    assert(Dedup.exactSubstringMatches(fix, "doc_id", "text",
      minTokens = 15, k = 5, maxOcc = 2).count() === 0L)
  }

  test("exact substrings: two disjoint shared runs report as two islands") {
    // B shares A's r-run AND A's s-run, separated on both sides by
    // non-matching filler -> two distinct diagonals, two rows
    val fix = Seq(
      (1L, tokRange("r", 1, 15) + " " + tokRange("g", 1, 6) + " " + tokRange("s", 1, 15)),
      (2L, tokRange("s", 1, 15) + " " + tokRange("q", 1, 9) + " " + tokRange("r", 1, 15)))
      .toDF("doc_id", "text")
    val m = Dedup.exactSubstringMatches(fix, "doc_id", "text",
      minTokens = 15, k = 5)
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(m === Set((1L, 25L, 15L), (22L, 1L, 15L)), s"got $m")
  }

  test("contamination sweep: probe-vs-corpus runs only, both spans exact") {
    // probe doc 5 carries corpus doc 1's r-run (contaminated) and
    // shares a 16-token run with FELLOW PROBE doc 10 — the probe-probe
    // run must NOT report (the sweep is cross-side only); corpus docs
    // 1 and 2 share their own run — corpus-corpus must not report
    // either (that is d35's job)
    val corpus = Seq(
      (1L, tokRange("x", 1, 4) + " " + tokRange("r", 1, 20)),
      (2L, tokRange("r", 1, 20) + " " + tokRange("w", 1, 3)),
      (4L, tokRange("d", 1, 25))).toDF("doc_id", "text")
    val probe = Seq(
      (5L, "p1 p2 " + tokRange("r", 1, 16) + " " + tokRange("m", 1, 16)),
      (10L, tokRange("m", 1, 16) + " p9")).toDF("doc_id", "text")
    val got = Dedup.exactSubstringContamination(corpus, probe,
      "doc_id", "text", minTokens = 15, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === Set(
      (5L, 1L, 3L, 5L, 16L),   // probe 5 contaminated by corpus 1
      (5L, 2L, 3L, 1L, 16L)),  // ...and by corpus 2's copy
      s"got $got")
  }

  test("excision: overlapping spans union, untouched docs pass through, full cover empties") {
    val probe = Seq(
      (5L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (10L, "u1 u2 u3 u4"),
      (15L, "v1 v2 v3")).toDF("doc_id", "text")
    // doc 5: spans [2..5] (start 2 len 4) and [4..8] (start 4 len 5)
    // overlap -> covered 2..8, kept t1 t9 t10; doc 15: one span covers
    // everything; doc 10: untouched
    val spans = Seq(
      (5L, 2L, 4L), (5L, 4L, 5L), (15L, 1L, 3L))
      .toDF("probe_id", "probe_pos", "match_tokens")
    val got = Dedup.exciseSpans(probe, "doc_id", "text", spans)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === Set(
      (5L, md5hex("t1 t9 t10"), 3L, 7L, 2L),
      (10L, md5hex("u1 u2 u3 u4"), 4L, 0L, 0L),
      (15L, md5hex(""), 0L, 3L, 1L)), s"got $got")
  }

  test("excision accepts a probe whose own idCol is probe_id (chaining case)") {
    // the natural chain feeds exciseSpans a frame keyed exactly like
    // the sweep's output (`probe_id`) — the join against the span
    // aggregate must not be ambiguous (round-17 ADVICE)
    val probe = Seq(
      (5L, "t1 t2 t3 t4 t5"),
      (10L, "u1 u2 u3")).toDF("probe_id", "text")
    val spans = Seq((5L, 2L, 3L)).toDF("probe_id", "probe_pos", "match_tokens")
    val got = Dedup.exciseSpans(probe, "probe_id", "text", spans)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === Set(
      (5L, md5hex("t1 t5"), 2L, 3L, 1L),
      (10L, md5hex("u1 u2 u3"), 3L, 0L, 0L)), s"got $got")
  }

  test("decontaminate: sweep + excision end-to-end cuts exactly the matched spans") {
    // probe doc 5 carries corpus doc 1's r1..r16 at positions 3..18;
    // the m-run is probe-internal only (no corpus copy) and must stay
    val corpus = Seq(
      (1L, tokRange("x", 1, 4) + " " + tokRange("r", 1, 20)),
      (4L, tokRange("d", 1, 25))).toDF("doc_id", "text")
    val probe = Seq(
      (5L, "p1 p2 " + tokRange("r", 1, 16) + " " + tokRange("m", 1, 16)),
      (10L, tokRange("m", 1, 16) + " p9")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, probe, "doc_id", "text",
      minTokens = 15, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === Set(
      (5L, md5hex("p1 p2 " + tokRange("m", 1, 16)), 18L, 16L, 1L),
      (10L, md5hex(tokRange("m", 1, 16) + " p9"), 17L, 0L, 0L)), s"got $got")
  }

  test("contamination-aware split: contaminated docs quarantine, others keep their hash split") {
    import graft.operators.TextAnalysis
    // corpus doc 1 carries the probe's r-run (contaminated); docs 2/4
    // are clean and must keep exactly their content-hash splits
    val corpus = Seq(
      (1L, tokRange("x", 1, 4) + " " + tokRange("r", 1, 20)),
      (2L, tokRange("c", 1, 25)),
      (4L, tokRange("d", 1, 25))).toDF("doc_id", "text")
    val probe = Seq(
      (5L, "p1 p2 " + tokRange("r", 1, 16))).toDF("doc_id", "text")
    val got = Dedup.contaminationAwareSplit(corpus, probe,
        "doc_id", "text", minTokens = 15, k = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2))))
      .toMap
    val expectSplit = corpus
      .select(col("doc_id"), TextAnalysis.hashSplit(
        TextAnalysis.textHash(col("text"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === (("quarantined", true)), s"got $got")
    assert(got(2L) === ((expectSplit(2L), false)), s"got $got")
    assert(got(4L) === ((expectSplit(4L), false)), s"got $got")
  }

  test("repetition removal: repeats drop, first occurrence and order survive") {
    val fix = Seq(
      (1L, "alpha\n\nbeta\n\nalpha\n\ngamma\n\nbeta"), // two repeats drop
      (2L, "one\n\ntwo\n\nthree"),                     // untouched
      (3L, "x\n\nx\n\nx\n\nx"))                        // all but first drop
      .toDF("doc_id", "text")
    val got = Dedup.dropRepeatedParagraphs(fix, "doc_id", "text",
      delimiter = Some("\n\n"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      (1L, md5hex("alpha\n\nbeta\n\ngamma"), 3L, 2L),
      (2L, md5hex("one\n\ntwo\n\nthree"), 3L, 0L),
      (3L, md5hex("x"), 1L, 3L)), s"got $got")
    // token-block fallback (no delimiter): blocks of 2 tokens; the
    // repeated "a b" block drops, the distinct tail stays
    val fix2 = Seq((9L, "a b a b c d")).toDF("doc_id", "text")
    val got2 = Dedup.dropRepeatedParagraphs(fix2, "doc_id", "text",
      delimiter = None, paraTokens = 2)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3))).head
    assert(got2 === ((md5hex("a b c d"), 2L, 1L)), s"got $got2")
  }

  test("contamination sweep: a doc on BOTH sides never matches itself (probe ⊆ corpus misuse)") {
    // the natural misuse: sweep an eval split against the FULL corpus
    // without excluding the eval rows — doc 5 appears verbatim on both
    // sides and must NOT self-match (which would erase it in
    // decontaminate); its genuine cross-doc contamination still reports
    val shared = "e1 e2 " + tokRange("r", 1, 16)
    val corpus = Seq(
      (5L, shared),                          // the probe doc itself
      (1L, tokRange("r", 1, 20)),            // a real contaminating doc
      (4L, tokRange("d", 1, 25))).toDF("doc_id", "text")
    val probe = Seq((5L, shared)).toDF("doc_id", "text")
    val got = Dedup.exactSubstringContamination(corpus, probe,
      "doc_id", "text", minTokens = 15, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(got === Set((5L, 1L, 16L)), s"got $got")
    // and decontaminate keeps the non-matched prefix instead of
    // erasing the whole doc
    val cleaned = Dedup.decontaminate(corpus, probe, "doc_id", "text",
      minTokens = 15, k = 5).collect().head
    assert(cleaned.getString(1) === md5hex("e1 e2"), "prefix must survive")
    assert(cleaned.getLong(2) === 2L && cleaned.getLong(3) === 16L)
  }

  test("e10 recall: threshold-LSH pairs are a sound, high-recall subset of the exact ε-universe") {
    // the threshold form's quality contract: every reported pair
    // genuinely clears the epsilon (soundness — the cosine is exact,
    // only the BLOCKING is approximate), and the one-bit multi-probe
    // recovers most of the true ε-pairs on the gate corpus
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val eps = 0.40
    val got = Similarity.nearDupLshThreshold(emb, eps)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.topSimilarPairs(emb, topN = Int.MaxValue,
        minCos = eps)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture has no exact ε-pairs — lower eps")
    assert(got.subsetOf(exact),
      s"unsound pairs reported: ${got -- exact}")
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.5,
      s"recall $recall below floor: got ${got.size} of ${exact.size}")
  }

  test("exact substrings: parameter validation") {
    val fix = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.exactSubstringMatches(fix, "doc_id", "text", minTokens = 3, k = 5)
    }
    intercept[IllegalArgumentException] {
      Dedup.exactSubstringMatches(fix, "doc_id", "text", minTokens = 5, k = 5,
        maxOcc = 1)
    }
  }

  test("semDedup keep-set contract holds under BOTH candidate generators " +
      "on a fixture where they disagree") {
    val rnd = new scala.util.Random(42)
    def randVec(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val planted = randVec()
    // ids 10/11/12: identical vectors — same LSH bucket AND same IVF
    // cell by construction, so both generators connect the planted
    // cluster; ids 1..9 and 13..16: independent noise, where the two
    // generators' top-10 pair sets diverge (LSH with 1 derived plane
    // multi-probes everything; IVF blocks by trained cell)
    val vecs = ((1 to 9) ++ (13 to 16)).map(i => (i.toLong, randVec())) ++
      Seq(10L, 11L, 12L).map(i => (i, planted.clone()))
    val emb = vecs.toDF("vec_id", "embedding")
    // LM quality: doc 11 uses only corpus-common tokens -> lowest mean
    // neg-log-prob -> must be the kept copy of the planted cluster
    val docTexts = vecs.map(_._1).sorted.map { id =>
      val text =
        if (id == 11L) "common common common common common common"
        else if (id == 10L || id == 12L) s"common rare$id common rare${id}b common"
        else s"common tok${id}a tok${id}b tok${id}c common common"
      (id, text)
    }
    val docFix = docTexts.toDF("doc_id", "text")
    val pairsLsh = Similarity.nearDupLsh(emb, 10)
      .select(col("v1"), col("v2"))
    val pairsBlk = Similarity.nearDupBlocked(emb, 10, cells = 4)
      .select(col("v1"), col("v2"))
    val setLsh = pairsLsh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val setBlk = pairsBlk.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(setLsh !== setBlk,
      "fixture no longer distinguishes the generators — rebuild it")
    val plantedPairs = Set((10L, 11L), (10L, 12L), (11L, 12L))
    assert(plantedPairs.subsetOf(setLsh) && plantedPairs.subsetOf(setBlk),
      s"planted identical-vector cluster not fully connected: lsh=$setLsh blk=$setBlk")
    // independent expectation: union-find over the generator's pairs +
    // LmScore-derived per-doc quality -> expected keep rows
    val scores = graft.operators.LmScore.score(docFix, "doc_id", "text")
      .select(col("doc_id"), (col("sum_nlp_micro").cast("double")
        / col("n_tokens").cast("double")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def expected(pairs: Set[(Long, Long)]): Set[(Long, Long, Long, String)] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
      val members = pairs.flatMap(p => Seq(p._1, p._2))
      val clusters = members.groupBy(find)
      val best = clusters.map { case (_, ms) =>
        val rep = ms.min
        val keep = ms.minBy(m => (scores(m), m))
        (keep, rep, ms.size.toLong, "best_in_cluster")
      }.toSet
      val singles = docTexts.map(_._1).filterNot(members.contains)
        .map(id => (id, id, 1L, "singleton")).toSet
      best ++ singles
    }
    for ((pairs, set, tag) <- Seq((pairsLsh, setLsh, "lsh"),
        (pairsBlk, setBlk, "blocked"))) {
      val got = Similarity.semDedupCurationWith(docFix, "doc_id", "text", pairs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got === expected(set), s"[$tag] keep-set contract broken")
      assert(got.exists(r => r._1 == 11L && r._4 == "best_in_cluster"),
        s"[$tag] planted cluster did not keep the best-LM copy")
    }
  }
}
