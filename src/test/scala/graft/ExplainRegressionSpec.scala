package graft

import graft.queries.Registry
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate: pins the physical-plan properties the
  * 100 TB story depends on, so a refactor that silently un-pushes a
  * filter, de-broadcasts a dim join, or splits a shared Exchange fails
  * CI instead of surfacing as a bench regression three rounds later.
  */
class ExplainRegressionSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  /** Initial physical plan (pre-execution) — where static properties
    * (pushdown, pruning, broadcast hints, top-k fusion) live. */
  private def plan(name: String): String =
    Registry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** Post-execution plan — AQE rewrites (exchange reuse surfaces as
    * reused query stages) only exist in the finalized adaptive plan. */
  private def executedPlan(name: String): String = {
    val df = Registry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q01: shipdate predicate is pushed to the parquet scan; unused columns pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"l_shipdate filter not pushed:\n$p")
    assert(!p.contains("l_comment"), s"scan reads pruned column l_comment:\n$p")
  }

  test("q02: ORDER BY + LIMIT fuses into TakeOrderedAndProject (no global sort)") {
    val p = plan("q02_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fusion lost:\n$p")
  }

  test("q04: nation and region dims join as broadcasts") {
    val p = plan("q04_nation_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 2, s"expected >=2 broadcast dim joins, got $broadcasts:\n$p")
  }

  test("q32: salted hot-key join stays a shuffle join on (key, salt)") {
    // the whole point of q32 is measuring the skew-mitigation path: the
    // salted dim must NOT silently broadcast (which would bypass the
    // salt), and the join key must include the salt column so each hot
    // key spreads across reducers
    val p = plan("q32_salted_join")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"salted join is not a shuffle join:\n$p")
    assert(p.contains("__salt"), s"salt column missing from plan:\n$p")
  }

  test("d06: minhash band self-join computes the signature subtree once") {
    val p = executedPlan("d06_minhash_candidates")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"no exchange reuse in d06 final plan:\n$p")
  }

  test("d07: carded pair kernel — no joins, pinned pair shuffles, single complete-mode agg") {
    // round-16 shape: per-doc cardinalities ride the posting structs,
    // so the pair stream is born scored — the plan must contain NO
    // join of any kind (the former tail sort-merge-joined the ~440M-row
    // pair stream twice at sf10); the two pair-volume exchanges are
    // numbered repartitions (exempt from AQE coalescing, which sizes
    // from pre-explosion map bytes); and the pair aggregation runs
    // after the numbered exchange (partial+final fuse into ONE stage —
    // no map-side hash pass over the pre-shuffle exploded stream, so
    // the explode streams straight into the exchange writer).
    val p = plan("d07_jaccard_pairs")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("ShuffledHashJoin"),
      s"a join crept back into the carded d07 plan:\n$p")
    assert("REPARTITION_BY_NUM".r.findAllIn(p).size >= 2,
      s"pair-volume shuffles lost their pinned partition counts:\n$p")
    // the pair aggregation must ride the numbered repartition, not add
    // its own ENSURE_REQUIREMENTS exchange on the grouping keys — and
    // no partial aggregate may sit BELOW the exchange (that would be
    // the full-stream map-side hash pass this plan exists to avoid)
    // (plan text prints top-down, so "below the exchange" = partial
    // appearing AFTER the first numbered exchange line)
    assert(!p.matches("(?s).*REPARTITION_BY_NUM.*partial_count.*"),
      s"a partial pair aggregate moved below the pair exchange:\n$p")
    // key-prefix match, no trailing anchor: the regression exchange
    // EnsureRequirements would insert carries ALL four grouping keys
    // (doc_id1, doc_id2, n1, n2) — a `, \d+\)` right after doc_id2
    // could never match it and made this tripwire vacuous (round-16
    // review)
    assert("Exchange hashpartitioning\\(doc_id1#\\d+L, doc_id2#\\d+L[^)]*\\), ENSURE_REQUIREMENTS".r
      .findFirstIn(p).isEmpty,
      s"the pair aggregation re-shuffled instead of riding the numbered exchange:\n$p")
  }

  test("d13: incremental cross-join is an equi-join sharing the union Exchange") {
    val p = executedPlan("d13_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in d13 plan:\n$p")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"incoming/corpus sides don't share the shingle-union Exchange:\n$p")
  }

  test("d30 reads the corpus index as bigint postings") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
    // the standing corpus side is stored hashed: its scan reads the two
    // long columns, and no shingle generator runs over it — every
    // shingle generator in the plan belongs to the incoming batch
    val p = Registry.queries("d30_incremental_from_index")(spark, sfDir)
      .queryExecution.sparkPlan
    def indexScans(t: SparkPlan): Seq[FileSourceScanExec] = t.collect {
      case s: FileSourceScanExec
          if s.tableIdentifier.exists(_.table.startsWith(
            graft.operators.PairIndex.CorpusPostingsBase)) => s
    }
    val scans = indexScans(p)
    assert(scans.nonEmpty, s"no corpus postings scan in d30:\n$p")
    scans.foreach(s => assert(s.requiredSchema.simpleString === "struct<doc_id:bigint,s:bigint>",
      s"corpus postings scan reads ${s.requiredSchema.simpleString}:\n$p"))
    val shinglers = p.collect {
      case g: GenerateExec if g.generator.toString.contains("graft_shingles") => g
    }
    assert(shinglers.nonEmpty, s"no incoming-side shingle generator in d30:\n$p")
    shinglers.foreach(g => assert(indexScans(g).isEmpty,
      s"a shingle generator runs over the corpus postings in d30:\n$p"))
  }

  test("d07/d13: cardinality joins stay sort-merge — the pair side must never broadcast") {
    // Catalyst's static estimate of the posting-list pair aggregate
    // shrinks below the broadcast threshold, and AQE cannot demote a
    // statically planned broadcast join — at sf3 the planner built the
    // 10 GiB pair table as a broadcast and died on the 8 GiB hard
    // limit. The merge hints pin both inner cardinality joins to
    // sort-merge (the left-semi prune in d13 MAY broadcast: its build
    // side is the incoming batch's distinct keys, bounded by design).
    // d07 left this list in round-16: its carded kernel carries the
    // cardinalities through the posting structs and has no such joins
    // (see the carded-kernel test above).
    for (q <- Seq("d13_incremental_dedup")) {
      val p = plan(q)
      assert("BroadcastHashJoin .*, Inner".r.findFirstIn(p).isEmpty,
        s"$q: an inner join planned as broadcast despite the merge hint:\n$p")
      assert("SortMergeJoin .*, Inner".r.findAllIn(p).size >= 2,
        s"$q: expected both cardinality joins as sort-merge:\n$p")
    }
  }

  test("d16: repetition stats compute per-row — no bigram shuffle") {
    val p = plan("d16_repetition_signals")
    // the explicit fanOutForCompute doc-row exchange (REPARTITION_BY_NUM)
    // is allowed — the claim is that no AGGREGATION forces a shuffle of
    // exploded bigrams (an ENSURE_REQUIREMENTS hash exchange)
    val aggExchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(aggExchanges.isEmpty,
      s"per-doc stats must not shuffle bigrams; agg hash exchange in d16:\n$p")
  }

  test("d19: vocabulary joins back as a broadcast — the corpus is never re-shuffled") {
    val p = plan("d19_lm_quality")
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept into d19:\n$p")
  }

  test("d33: top-k selection fuses to TakeOrderedAndProject; cost table broadcasts; no global window") {
    val p = plan("d33_dsir_selection")
    assert(p.contains("TakeOrderedAndProject"),
      s"dsir top-k lost its distributed fusion:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dsir cost join not broadcast:\n$p")
    assert(!p.contains("Window"),
      s"a global window crept into the dsir selection:\n$p")
  }

  test("d33: the weights subtree is computed once — the flag join reuses its stages") {
    // the static plan holds the weights aggregation twice (once for
    // the full output, once under the top-k); AQE must dedupe the
    // identical exchanges at runtime or the corpus pays double
    val p = executedPlan("d33_dsir_selection")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"no stage reuse between the weights output and the top-k side:\n$p")
  }

  test("d34: bigram top-k fuses to TakeOrderedAndProject; bucket-bounded cost table broadcasts; no global window") {
    val p = plan("d34_dsir_bigram")
    assert(p.contains("TakeOrderedAndProject"),
      s"bigram dsir top-k lost its distributed fusion:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bigram dsir cost join not broadcast:\n$p")
    assert(!p.contains("Window"),
      s"a global window crept into the bigram dsir selection:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in d34:\n$p")
  }

  test("d34: the bigram weights subtree is computed once — the flag join reuses its stages") {
    // same contract as the d33 twin: the static plan holds the weights
    // aggregation twice (full output + under the top-k); AQE must
    // dedupe the identical exchanges at runtime or the corpus-wide
    // shingle scan runs twice more than it has to
    val p = executedPlan("d34_dsir_bigram")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"no stage reuse between the bigram weights output and the top-k side:\n$p")
  }

  test("d21/e07/e09: cluster compositions stay equi-join only (no cartesian)") {
    for (q <- Seq("d21_cluster_curation", "e07_embed_dup_clusters",
        "e09_semdedup_curation")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian in $q:\n$p")
      // the only BroadcastNestedLoopJoin allowed is the single-row
      // total/nDocs cross join (inner, one row); a non-broadcast NLJ
      // or a second one means a real pair blowup
      val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(nlj <= 1, s"$nlj nested-loop joins in $q:\n$p")
    }
  }

  test("e08: LSH pair generation is an equi-join on the bucket — no cartesian") {
    val p = plan("e08_neardup_lsh")
    assert(!p.contains("CartesianProduct"), s"cartesian in e08:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in e08 — bucket blocking lost:\n$p")
  }

  test("d35: exact-substring chain join is equi-join only; pair stages run at pinned width") {
    val p = plan("d35_exact_substring")
    assert(!p.contains("CartesianProduct"), s"cartesian in d35:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in d35 — gram blocking lost:\n$p")
    // two pair-volume shuffles are pinned (gram-key posting stage and
    // the per-pair diagonal island stage): both must be numbered
    // repartitions, exempt from AQE's map-byte coalescing — the d07
    // lesson applied at birth (round-16 "hold the line" item 8)
    assert("REPARTITION_BY_NUM".r.findAllIn(p).size >= 2,
      s"pair-volume stages lost their pinned width in d35:\n$p")
  }

  test("d35: island window and run aggregation share the one diagonal Exchange") {
    // the numbered (doc_id1, doc_id2, diag) repartition must satisfy
    // BOTH the gaps-and-islands window and the per-island aggregation
    // (whose key set extends the partition keys) — a second exchange
    // over the pair stream would double the operator's largest shuffle
    val p = plan("d35_exact_substring")
    assert(!"Exchange hashpartitioning\\(doc_id1#\\d+L, doc_id2#\\d+L[^)]*\\), ENSURE_REQUIREMENTS".r
      .findFirstIn(p).isDefined,
      s"an ENSURE_REQUIREMENTS exchange re-shuffles the d35 pair stream:\n$p")
  }

  test("e10: threshold SemDeDup keeps e09's join discipline and drops the global pair sort") {
    val p = plan("e10_semdedup_threshold")
    assert(!p.contains("CartesianProduct"), s"cartesian in e10:\n$p")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 1, s"$nlj nested-loop joins in e10:\n$p")
    // the operator-level contract: unlike the top-N form, the epsilon
    // filter needs NO global sort — the only global Sort allowed in
    // the registered plan is the presentation orderBy(doc_id)
    val globalSorts = "Sort \\[doc_id1?#[^\\]]*\\], true".r.findAllIn(p).size +
      "Sort \\[cos[^\\]]*\\], true".r.findAllIn(p).size
    assert(!"Sort \\[cos[^\\]]*\\], true".r.findFirstIn(p).isDefined,
      s"a global cosine sort crept into the threshold pair stage:\n$p")
    assert(globalSorts <= 1, s"unexpected global sorts in e10:\n$p")
  }

  test("e11: banded SemDeDup stays sort-free with no cartesian; dedup is the row-local guard") {
    val p = plan("e11_semdedup_banded")
    assert(!p.contains("CartesianProduct"), s"cartesian in e11:\n$p")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 1, s"$nlj nested-loop joins in e11:\n$p")
    // the epsilon filter is stage-local (no global cosine sort), and
    // pair uniqueness comes from the first-match-band lambda — a
    // HashAggregate/distinct over the (v1, v2) pair stream would mean
    // the row-local guard regressed into a corpus-scale dedup shuffle
    assert(!"Sort \\[cos[^\\]]*\\], true".r.findFirstIn(p).isDefined,
      s"a global cosine sort crept into the banded pair stage:\n$p")
    assert(!"Exchange hashpartitioning\\(v1#\\d+L, v2#\\d+L[^)]*\\)".r
      .findFirstIn(p).isDefined,
      s"a pair-stream dedup shuffle crept into e11:\n$p")
  }

  test("d36: contamination sweep prunes corpus grams probe-side before any posting state") {
    val p = plan("d36_contamination_sweep")
    assert(!p.contains("CartesianProduct"), s"cartesian in d36:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in d36 — gram blocking lost:\n$p")
    // the probe-key prune must stay a SHUFFLED hash semi join (a
    // statically committed broadcast of the probe keys is the 8 GiB
    // cliff class; a sort-merge would sort the whole corpus gram
    // stream) and run BEFORE the posting aggregation, else the
    // collect_list state covers the entire corpus index (the d13
    // regression shape). The optimizer pushes it through the side
    // union, so one semi join per branch is the expected shape.
    assert("ShuffledHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftSemi".r
      .findFirstIn(p).isDefined,
      s"probe-key prune is not a shuffled hash semi join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join crept into d36 (sorts the corpus gram stream):\n$p")
    // the diagonal island stage keeps its pinned width (the gram-side
    // pin is legitimately absorbed by Spark 4's union partitioning
    // propagation — see exactSubstringContamination's width note)
    assert("REPARTITION_BY_NUM".r.findAllIn(p).size >= 1,
      s"the island stage lost its pinned width in d36:\n$p")
  }

  test("d37: decontamination composition stays equi-join only; excision is one narrow pass") {
    val p = plan("d37_decontaminate")
    assert(!p.contains("CartesianProduct"), s"cartesian in d37:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in d37:\n$p")
    // the excision itself must stay row-local: no generator explode of
    // tokens or covered positions — the indexed filter lambda rewrites
    // each doc in place. The sweep owns exactly 6 Generates (2 pair
    // explodes + the probe/corpus gram posexplodes + the probe-key
    // subtree's gram explode duplicated per union branch by the
    // semi-join pushdown). The intent is asserted directly — no
    // generator over the excision's token/kept arrays or span list —
    // rather than pinning a total Generate count, which tracked an
    // optimizer artifact (how many times the pushdown duplicates the
    // probe-gram subtree) and would flip on a benign Spark change
    // (round-17 ADVICE).
    assert(!"Generate [a-z]*explode\\((__toks|__kept|__spans)".r
      .findFirstIn(p).isDefined,
      s"the excision exploded a row-local array:\n$p")
  }

  test("d41: the only unpartitioned window is the bounded per-bucket base cumsum") {
    val p = plan("d41_sequence_packing")
    // every corpus-scale window must carry a partition spec (the
    // within-bucket cumsum partitions by __b); an ordered window with
    // NO partition list funnels the whole corpus through one task —
    // the exact trap packSequences exists to avoid. The one allowed
    // unpartitioned window is the per-bucket base cumsum, whose input
    // is the <=1024-row bucket-totals aggregate, identifiable by its
    // __tot input column. A window with a partition list prints three
    // bracket groups (exprs, partition, order); two groups = no
    // partition list — the wins/noPart classification below encodes
    // exactly that.
    val wins = "Window \\[[^\\]]*\\](, \\[[^\\]]*\\])*".r.findAllIn(p).toList
    val noPart = wins.filterNot(_.matches(
      "Window \\[[^\\]]*\\], \\[[^\\]]*\\], \\[[^\\]]*\\]"))
    assert(noPart.forall(_.contains("__tot")),
      s"an unpartitioned window runs over corpus-scale input:\n$noPart\n$p")
    assert(noPart.size <= 1, s"extra unpartitioned windows:\n$noPart\n$p")
  }

  test("d38: repetition removal is one narrow pass — zero exchanges, zero generators") {
    val p = plan("d38_repetition_removal")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a shuffle crept into the row-local rewrite:\n$p")
    assert(!p.contains("Generate "),
      s"a generator explode crept into the row-local rewrite:\n$p")
  }

  test("c2: junction distinct and dims keep the canonical join shape") {
    val p = plan("c2_movies_by_genre")
    // the transliterated junction (distinct lineitem x supplier pairs)
    // must join supplier/nation/part without a cartesian; the genre
    // filter must reach the nation scan (partition-pruning class)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in c2:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(n_name), EqualTo(n_name,NATION_3)]") ||
      p.contains("EqualTo(n_name,NATION_3)"),
      s"genre predicate not pushed to the nation scan:\n$p")
  }

  test("e13: cluster sample assigns against a broadcast centroid table, ranks per cell") {
    val p = plan("e13_cluster_sample")
    // the IVF assignment must not shuffle the corpus against the
    // centroids (the centroid table is driver-local metadata inlined
    // as literals/broadcast), and the rank window partitions by cell
    assert(!p.contains("SortMergeJoin"),
      s"IVF assignment regressed to a corpus shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in e13:\n$p")
  }

  test("d40: cap report keeps the sweep's shuffled-hash probe prune") {
    val p = plan("d40_gram_cap_report")
    assert("ShuffledHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftSemi".r
      .findFirstIn(p).isDefined,
      s"probe-key prune is not a shuffled hash semi join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join crept into d40 (sorts the gram stream):\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in d40:\n$p")
  }

  test("q30: session windows and the regroup share one user_id Exchange") {
    val p = plan("q30_sessionization")
    // both lag/sum windows and the final (user_id, session_seq) aggregate
    // are satisfied by hash(user_id): exactly one shuffle in the plan
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$p")
  }
}
