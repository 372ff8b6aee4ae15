package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Observation}
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the "cluster the near-dup
  * pairs, keep one document per cluster" step that follows MinHash /
  * Jaccard / SimHash candidate generation in corpus dedup (pairwise
  * drop rules like CorpusPipeline's are order-independent but can drop
  * both endpoints of a chain; cluster-then-keep-representative retains
  * exactly one per group).
  *
  * One loop over (v, lbl) labels. Every vertex starts labeled with the
  * minimum of itself and its neighbors; each round lowers labels until
  * they stop changing, and the fixpoint is each component uniformly
  * carrying its minimum vertex id. Two kinds of round:
  *
  *  - plain min-label rounds (rounds 2..`PlainRounds`): a vertex takes
  *    the minimum label among itself and its neighbors. Rounds needed =
  *    graph diameter, and dedup graphs are near-cliques (a duplicated
  *    document pairs with most of its copies), so 2-5 rounds are
  *    typical. Each round is one shuffle-join on the vertex id plus a
  *    partial-aggregated min — no driver-side graph state.
  *  - hook-and-shortcut rounds, only for graphs still unsettled after
  *    `PlainRounds` (long chains): each directed edge (s, d) offers
  *    L(s) both to d and to the vertex L(d) (the hook), then each
  *    vertex takes its label's label (the shortcut) — the hooking and
  *    pointer-jumping steps of Shiloach and Vishkin's algorithm, which
  *    fold a chain in O(log n) rounds instead of O(n). They continue
  *    from the current labels; nothing restarts.
  *
  * Labels only fall, and each stays a vertex of its own component, so
  * the label sum strictly falls on every round but the last: an
  * unchanged sum IS the fixpoint, and the loop needs no round budget.
  * The sum is read off each round's own checkpoint job through
  * `Dataset.observe` (a new `Observation` per round), not by a separate
  * aggregate job. A stage retry cannot double-count it: the
  * `CollectMetricsExec` is the top of the checkpointed plan, so it runs
  * in the checkpoint job's result stage, and Spark merges a result
  * task's accumulator updates once per partition; retried map stages
  * hold no metrics node.
  *
  * Lineage is truncated with an eager checkpoint per round: without it
  * the iterated self-join doubles the plan each round. Durability
  * follows the session: reliable `checkpoint()` when the context has a
  * checkpoint dir (`spark.checkpoint.dir`, which should be on the
  * cluster's shared store, surviving executor loss), executor-local
  * `localCheckpoint` otherwise. Each round's snapshot is released (its
  * reliable files too) once the next round materializes, the edges' at
  * the end, so checkpoint usage is O(1) in the round count.
  */
object Components {

  /** Plain min-label rounds (the fused first round included) before
    * the loop adds hooking and shortcutting. Above every registered
    * query's measured round count (2-5 at sf0.1 through sf10), so those
    * never reach a hook round. */
  val PlainRounds = 8

  /** (v, lbl) for every vertex appearing in `edges`, where lbl is the
    * minimum vertex id of v's component. Vertices with no edges are
    * absent (a singleton is its own representative — union them in if
    * needed). Deterministic for any partitioning of the input. Records
    * the executed round count as `components.min_label_rounds`. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // per-phase wall attribution: every materialization here is EAGER,
    // so inline timers are exact — decade runs read these from Bench's
    // telemetry map to see WHICH phase grew
    def timed[T](metric: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      val ms = (System.nanoTime() - t0) / 1000000
      graft.Telemetry.record(metric,
        graft.Telemetry.snapshot().getOrElse(metric, 0L) + ms)
      r
    }
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    def ck(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // checkpoint one round's labels and read their sum off the same job;
    // decimal: immune to overflow at any vertex-id scale. The sum over
    // no labels (no edges at all) is null — fold it to zero.
    def ckSum(labels: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = new Observation()
      val out = ck(labels.observe(obs, sum(col("lbl").cast("decimal(38,0)")).as("s")))
      (out, Option(obs.get("s").asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO))
    }
    // Materialize the edge list once — every round joins against it.
    // Two snapshots so the telemetry attributes honestly: first the
    // projected (src, dst) pairs at the upstream's own width
    // (pairgen_ms = the caller's whole upstream pipeline, e.g. d18's
    // Jaccard pair generation), then an edge-byte-sized repartition
    // (edges_ckpt_ms = the components machinery's own edge-scale
    // shuffle; inheriting the pair stages' scale-proportional width
    // made every round run far more tasks than the edge list needs).
    // The first is released, files included, once the second exists.
    // Only the ONE-directional list is checkpointed and symmetrized
    // lazily on top: checkpointing the union re-ran the upstream once
    // per union branch at decade scale (2.2× wall at sf30,
    // benchlogs_r10/ccab.log).
    val raw = timed("components.pairgen_ms")(ck(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))))
    val onedir = timed("components.edges_ckpt_ms")(ck(
      raw.repartition(col("src"))))
    GraftColumnBridge.unpersistCheckpointed(raw)
    GraftColumnBridge.removeCheckpointFiles(raw)
    val sym = onedir.unionByName(
      onedir.select(col("dst").as("src"), col("src").as("dst")))

    def plainRound(labels: DataFrame): DataFrame =
      sym.as("e")
        .join(labels.as("l"), col("e.src") === col("l.v"))
        .select(col("e.dst").as("v"), col("l.lbl").as("lbl"))
        .unionByName(labels)
        .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))

    // each (s, d) offers L(s) to d and to L(d) (the hook), then each
    // vertex takes its label's label (the shortcut); every label is a
    // vertex of the edge list, so the shortcut join drops no vertex
    def hookRound(labels: DataFrame): DataFrame = {
      val offers = sym
        .join(labels.select(col("v").as("src"), col("lbl").as("ls")), "src")
        .join(labels.select(col("v").as("dst"), col("lbl").as("ld")), "dst")
        .select(explode(array(col("dst"), col("ld"))).as("v"), col("ls").as("lbl"))
      val hooked = offers.unionByName(labels)
        .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))
      hooked.as("a").join(hooked.as("b"), col("a.lbl") === col("b.v"))
        .select(col("a.v"), col("b.lbl"))
    }

    // round 1 fused with the initial labeling: min(v, min neighbor) is
    // exactly what a round over the identity labeling would produce
    var (labels, prevSum) = timed("components.init_ms")(ckSum(sym
      .select(col("dst").as("v"), least(col("src"), col("dst")).as("lbl"))
      .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))))
    var rounds = 1
    var converged = false
    while (!converged) {
      val (next, nextSum) = timed("components.round_ms")(ckSum(
        if (rounds < PlainRounds) plainRound(labels) else hookRound(labels)))
      converged = nextSum.compareTo(prevSum) == 0
      // the checkpoint above is eager, so `next` no longer reads the old
      // snapshot — release it, files included, instead of holding one
      // per round
      GraftColumnBridge.unpersistCheckpointed(labels)
      GraftColumnBridge.removeCheckpointFiles(labels)
      labels = next
      prevSum = nextSum
      rounds += 1
    }
    GraftColumnBridge.unpersistCheckpointed(onedir)
    GraftColumnBridge.removeCheckpointFiles(onedir)
    graft.Log.info(s"[components] converged in $rounds rounds")
    graft.Telemetry.record("components.min_label_rounds", rounds.toLong)
    labels
  }
}
