package graft

import graft.operators.Components
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class ComponentsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, Long] =
    Components.connectedComponents(
        edges.toDF("a", "b").repartition(parts), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The labels and `components.min_label_rounds` of one call on `edges`. */
  private def rounds(edges: Seq[(Long, Long)]): (Map[Long, Long], Long) = {
    Telemetry.drain()
    val got = cc(edges)
    (got, Telemetry.drain()("components.min_label_rounds"))
  }

  /** The round bound of the loop on an n-vertex graph. */
  private def roundBound(n: Int): Int =
    Components.PlainRounds + 2 * (32 - Integer.numberOfLeadingZeros(n - 1))

  /** Runs `body` with the context's checkpoint dir set — to a fresh
    * temp root if the context has none, unset again after, so later
    * specs keep local snapshots. */
  private def withContextCheckpointDir[T](body: String => T): T = {
    val sc = spark.sparkContext
    val preset = sc.getCheckpointDir
    if (preset.isEmpty)
      sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft_cc_ctx").toString)
    try body(sc.getCheckpointDir.get)
    finally if (preset.isEmpty) sc.setCheckpointDir(null)
  }

  /** Reliable checkpoints are FILES named rdd-* under the dir;
    * localCheckpoint writes none. */
  private def wroteSnapshots(dir: String): Boolean = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(new java.net.URI(dir)))
    try walk.anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
    finally walk.close()
  }

  test("two disjoint cliques get their min-id representatives") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a chain converges across multiple propagation rounds") {
    // path 9-8-7-6-5-4-3-2-1: min label 1 must travel 8 hops
    val edges = (1L to 8L).map(i => (i + 1, i))
    val got = cc(edges)
    assert(got === (1L to 9L).map(_ -> 1L).toMap)
  }

  test("edge direction and duplicates don't matter") {
    val got = cc(Seq((5L, 2L), (2L, 5L), (5L, 2L), (7L, 5L)))
    assert(got === Map(2L -> 2L, 5L -> 2L, 7L -> 2L))
  }

  test("result is partition-invariant") {
    val edges = Seq((1L, 2L), (3L, 2L), (9L, 4L), (4L, 8L), (6L, 7L))
    assert(cc(edges, parts = 1) === cc(edges, parts = 7))
  }

  test("an empty edge list yields an empty result, not a crash") {
    assert(cc(Seq.empty[(Long, Long)]) === Map.empty[Long, Long])
  }

  test("cliques, chains, mixed graphs and a self-loop-only vertex get their minimum") {
    val expected = Seq(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)) ->
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L),
      (1L to 8L).map(i => (i + 1, i)) -> (1L to 9L).map(_ -> 1L).toMap,
      Seq((5L, 2L), (2L, 5L), (5L, 2L), (7L, 5L)) -> Map(2L -> 2L, 5L -> 2L, 7L -> 2L),
      Seq((1L, 2L), (3L, 2L), (9L, 4L), (4L, 8L), (6L, 7L)) ->
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 8L -> 4L, 9L -> 4L, 6L -> 6L, 7L -> 6L),
      Seq((4L, 4L)) -> Map(4L -> 4L), // a self-loop-only vertex stays a singleton
      Seq.empty[(Long, Long)] -> Map.empty[Long, Long])
    expected.foreach { case (g, want) => assert(cc(g) === want, s"edges: $g") }
  }

  test("a 40-hop chain resolves in one loop") {
    // diameter 40 > PlainRounds: the loop hooks and shortcuts from the
    // labels it has, with no second algorithm and no restart
    val edges = (1L to 40L).map(i => (i + 1, i))
    val (got, n) = rounds(edges)
    assert(got === (1L to 41L).map(_ -> 1L).toMap)
    assert(n > Components.PlainRounds && n <= roundBound(41), s"$n rounds")
  }

  test("1,000-vertex paths resolve within PlainRounds + 2 log2 n rounds") {
    // plain min-label propagation needs a round per hop on these; the
    // hook-and-shortcut rounds fold them logarithmically
    val n = 1000
    val sorted = (1L to n.toLong).toIndexedSeq
    val shuffled = new scala.util.Random(7).shuffle(sorted)
    // minimum in the middle, ids growing toward both ends
    val middle = (0 until n).map { i =>
      val d = i - n / 2
      if (d >= 0) 2L * d + 1 else -2L * d
    }
    for ((name, ids) <- Seq("sorted" -> sorted, "shuffled" -> shuffled, "middle" -> middle)) {
      val (got, r) = rounds(ids.zip(ids.tail))
      assert(got === (1L to n.toLong).map(_ -> 1L).toMap, name)
      assert(r <= roundBound(n), s"$name path took $r rounds")
    }
  }

  test("a 6-clique runs no standalone aggregate job per round") {
    // one call runs one Dataset action per checkpoint — two edge
    // snapshots and one per round — and no other: the label sum rides
    // on the round's own checkpoint
    val clique = for (i <- 1L to 6L; j <- (i + 1) to 6L) yield (i, j)
    val edges = clique.toDF("a", "b").repartition(4)
    Telemetry.drain()
    val jobs = Jobs.during(spark)(Components.connectedComponents(edges, "a", "b"))
    val rounds = Telemetry.drain()("components.min_label_rounds")
    assert(rounds === 2L)
    assert(jobs.forall(_.sqlExecution.isDefined), jobs)
    assert(jobs.flatMap(_.sqlExecution).distinct.size === 2 + rounds, jobs)
  }

  test("reliable checkpointDir produces the identical result as localCheckpoint") {
    val edges = Seq((1L, 2L), (3L, 2L), (9L, 4L), (4L, 8L), (6L, 7L), (8L, 1L))
    val local = cc(edges)
    withContextCheckpointDir { dir =>
      def snapshots(): Set[String] = {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(new java.net.URI(dir)))
        try walk.iterator().asScala.map(_.toString)
          .filter(_.split('/').last.startsWith("rdd-")).toSet
        finally walk.close()
      }
      val before = snapshots()
      val labels = Components.connectedComponents(
        edges.toDF("a", "b").repartition(3), "a", "b")
      // superseded rounds and the edge snapshots are deleted as the call
      // goes: only the returned labels' snapshot remains, and it reads
      val left = snapshots() -- before
      assert(left.size === 1, s"expected only the result's snapshot, found $left")
      assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === local)
      assert(wroteSnapshots(dir), s"no reliable checkpoint written under $dir")
    }
  }

  test("a checkpoint dir taken from the context is reused, not nested") {
    // the context's spark.checkpoint.dir selects reliable snapshots;
    // Components never sets it, which would move the context's
    // checkpoint root into a new subdirectory
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 4L))
    val local = cc(edges)
    withContextCheckpointDir { root =>
      assert(cc(edges) === local)
      assert(spark.sparkContext.getCheckpointDir === Some(root))
      assert(wroteSnapshots(root), s"no reliable checkpoint written under $root")
    }
  }

  test("clustersFromIndex threads checkpointDir through to reliable snapshots") {
    // the index consumers follow the same rule: an executor loss
    // mid-clustering on a real cluster survives only if Components
    // snapshots into shared store. Results must be identical to local
    // mode.
    import graft.operators.PairIndex
    val idx = PairIndex.materializeDocIndex(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"),
      "doc_id", "text", numBuckets = 4,
      survivorsTable = "ccs_pi_survivors", pairsTable = "ccs_pi_pairs")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val local = rows(PairIndex.clustersFromIndex(spark, idx))
    withContextCheckpointDir { dir =>
      val reliable = rows(PairIndex.clustersFromIndex(spark, idx))
      assert(reliable === local)
      assert(reliable.nonEmpty)
      assert(wroteSnapshots(dir), s"no reliable checkpoint written under $dir")
    }
  }

  test("iteration telemetry: near-clique graphs converge in few rounds") {
    val clique = for (i <- 1L to 6L; j <- (i + 1) to 6L) yield (i, j)
    val (got, n) = rounds(clique)
    assert(got.values.forall(_ == 1L))
    assert(n <= 3, s"clique took $n rounds")
  }

  test("round counts land in the Telemetry registry for bench self-reporting") {
    // path 1-2-3: the fused first round labels 3 with 2, round 2 with 1,
    // round 3 changes nothing
    Telemetry.drain()
    cc(Seq((1L, 2L), (2L, 3L)))
    val drained = Telemetry.drain()
    assert(drained.get("components.min_label_rounds") === Some(3L))
    assert(drained.keySet.filter(_.startsWith("components.")) ===
      Set("components.min_label_rounds", "components.pairgen_ms",
        "components.edges_ckpt_ms", "components.init_ms", "components.round_ms"))
    assert(Telemetry.snapshot().isEmpty) // drain resets
  }
}
