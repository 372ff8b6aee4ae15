package graft.queries

import graft.operators.Similarity
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  * e01 is the exact brute-force baseline with a full DuckDB mirror
  * (scaled-integer dot products make even the float math oracle-exact);
  * e02 is the LSH-bucketed ANN scale path — approximate by construction,
  * so it gets the driver's rows-only check, and its recall is measured
  * against e01 in the test suite.
  */
object VectorQueries {

  private val K = 5
  private val QueryPred = col("vec_id") < 10

  /** Corpus size for the adaptive sizing rules, from parquet footer
    * metadata — EXACTLY `count()` (what keeps the oracles' COUNT(*)
    * mirrors bit-exact) with zero Spark jobs at plan-construction
    * time (round-17 VERDICT item 6). */
  private def embCount(s: SparkSession, dir: String): Long =
    Tables.parquetRowCount(s, s"$dir/embeddings.parquet")

  /** Brute-force cosine top-5 for query vectors vec_id < 10 (e01). */
  private def e01(s: SparkSession, dir: String): DataFrame =
    Similarity.knnExact(Tables.embeddings(s, dir), QueryPred, K)
      .orderBy(col("qid"), col("rank"))

  private val e01Sql =
    """WITH idx AS (SELECT unnest(range(1, 65)) AS i),
      |e AS (SELECT vec_id, embedding FROM embeddings),
      |norms AS (
      | SELECT vec_id,
      |   CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS n2
      | FROM e CROSS JOIN idx GROUP BY vec_id),
      |dots AS (
      | SELECT q.vec_id AS qid, c.vec_id AS vid,
      |   CAST(SUM(CAST(ROUND(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS dot_e12
      | FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
      | CROSS JOIN idx
      | GROUP BY 1, 2),
      |scored AS (
      | SELECT qid, vid,
      |   CAST(dot_e12 AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cos
      | FROM dots JOIN norms qn ON qid = qn.vec_id JOIN norms cn ON vid = cn.vec_id)
      |SELECT qid, rank, vid, round(cos, 6) AS cos_r6
      |FROM (SELECT qid, vid, cos,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
      |      FROM scored)
      |WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** LSH-bucketed ANN, same queries (e02). Approximate vs e01, but
    * fully deterministic — the hyperplanes are md5-parity signs — so
    * the whole bucket/multi-probe/re-rank pipeline has an exact DuckDB
    * mirror (the signs are inlined as literals below); recall vs e01 is
    * additionally pinned in the test suite. */
  private def e02(s: SparkSession, dir: String): DataFrame =
    Similarity.annLsh(Tables.embeddings(s, dir), QueryPred, K, planes = 4)
      .orderBy(col("qid"), col("rank"))

  private val e02Sql = {
    val planes = 4
    // identical signs to Similarity.lshBucket — generated by the same
    // function, inlined as a (plane, dim, sign) literal table
    val hpRows = (0 until planes).flatMap { p =>
      Similarity.hyperplane(p).zipWithIndex.map { case (sgn, d) =>
        s"($p, ${d + 1}, ${if (sgn > 0) "1.0" else "-1.0"})"
      }
    }.mkString(", ")
    val probeList = "bucket" +:
      (0 until planes).map(p => s"xor(bucket, ${1 << p})")
    s"""WITH idx AS (SELECT unnest(range(1, 65)) AS i),
       |hp AS (SELECT * FROM (VALUES $hpRows) AS t(p, i, sgn)),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |norms AS (
       | SELECT vec_id,
       |   CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS n2
       | FROM e CROSS JOIN idx GROUP BY vec_id),
       |pdots AS (
       | SELECT vec_id, p,
       |   CAST(SUM(CAST(ROUND(CAST(embedding[hp.i] AS DOUBLE) * sgn * 1e12, 0) AS BIGINT)) AS BIGINT) AS dot
       | FROM e CROSS JOIN hp GROUP BY 1, 2),
       |buckets AS (
       | SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN (1 << p) ELSE 0 END) AS INTEGER) AS bucket
       | FROM pdots GROUP BY vec_id),
       |occ2 AS (SELECT bucket, count(*) AS oc FROM buckets GROUP BY bucket),
       |probes AS (
       | SELECT vec_id AS qid, unnest([${probeList.mkString(", ")}]) AS bucket
       | FROM buckets WHERE vec_id < 10),
       |cand AS (
       | SELECT p.qid, c.vec_id AS vid
       | FROM probes p JOIN buckets c ON p.bucket = c.bucket AND c.vec_id <> p.qid
       | JOIN occ2 ON p.bucket = occ2.bucket
       |   AND occ2.oc <= ${Similarity.DefaultMaxBucketOcc}),
       |dots AS (
       | SELECT cand.qid, cand.vid,
       |   CAST(SUM(CAST(ROUND(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS dot_e12
       | FROM cand JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.vid
       | CROSS JOIN idx GROUP BY 1, 2),
       |scored AS (
       | SELECT qid, vid,
       |   CAST(dot_e12 AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cos
       | FROM dots JOIN norms qn ON qid = qn.vec_id JOIN norms cn ON vid = cn.vec_id)
       |SELECT qid, rank, vid, round(cos, 6) AS cos_r6
       |FROM (SELECT qid, vid, cos,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |      FROM scored)
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  /** Embedding-cosine near-dup (e03): globally top-20 most-similar
    * pairs among a deterministic fixed-SIZE sample (the 500 vectors
    * smallest by md5 order — `Similarity.hashSample`) — the exact
    * all-pairs CORRECTNESS baseline for the blocked scale paths (e05,
    * e08). The sampled universe is CONSTANT across scale factors, so
    * the pair count is C(500,2) ≈ 125k at sf0.01 and at sf10 alike:
    * the baseline's cost is O(1) in corpus size (a fixed-rate coin
    * would still be Θ(N²), just with a smaller constant). At sf0.01
    * the sample is the whole 500-row table, i.e. the unsampled exact
    * baseline. */
  private def e03(s: SparkSession, dir: String): DataFrame =
    Similarity.topSimilarPairs(
        Similarity.hashSample(Tables.embeddings(s, dir), "vec_id", 500), 20)
      .orderBy(col("cos_r6").desc, col("v1"), col("v2"))

  private val e03Sql =
    """WITH idx AS (SELECT unnest(range(1, 65)) AS i),
      |e AS (SELECT vec_id, embedding FROM embeddings
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 500),
      |norms AS (
      | SELECT vec_id,
      |   CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS n2
      | FROM e CROSS JOIN idx GROUP BY vec_id),
      |dots AS (
      | SELECT a.vec_id AS v1, b.vec_id AS v2,
      |   CAST(SUM(CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS dot_e12
      | FROM e a JOIN e b ON a.vec_id < b.vec_id
      | CROSS JOIN idx
      | GROUP BY 1, 2)
      |SELECT v1, v2, round(cos, 6) AS cos_r6
      |FROM (SELECT v1, v2,
      |        CAST(dot_e12 AS DOUBLE) / (sqrt(CAST(n1.n2 AS DOUBLE)) * sqrt(CAST(n2.n2 AS DOUBLE))) AS cos
      |      FROM dots JOIN norms n1 ON v1 = n1.vec_id JOIN norms n2 ON v2 = n2.vec_id)
      |ORDER BY cos DESC, v1 ASC, v2 ASC
      |LIMIT 20""".stripMargin

  /** IVF-flat ANN, same queries (e04). Approximate vs e01 but fully
    * deterministic — md5-ordered seeds, exact scaled-integer Lloyd
    * means — so the whole build+search has an exact DuckDB mirror
    * below; exhaustive-probe equivalence to e01 is additionally pinned
    * in the test suite. */
  private def e04(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // one IVF build per corpus per run (round-19, VERDICT item 6):
    // e04/e13 share the k=16 centroids, e05 its √N build — build cost
    // lands once in fixture.ivf_build_ms instead of 3× in the suite
    val index = graft.operators.Ivf.buildCached(emb, k = 16, iters = 2,
      cacheKey = dir)
    graft.operators.Ivf.search(index, emb.filter(QueryPred), K, nprobe = 4)
      .orderBy(col("qid"), col("rank"))
  }

  /** Shared DuckDB mirror of Ivf.build(emb, k=`cellsSql`, iters=2) in
    * long (vec_id/cell_id, dim, value) format: md5-ordered seeds, two
    * Lloyd iterations with exact scaled-integer means (double → REAL
    * cast at each step, exactly like the engine's float centroid
    * arrays), and the final assignment `af`. Every dot product is the
    * same Σ ROUND(x*y*1e12) BIGINT the engine computes, so the mirror
    * is bit-exact, not approximate. `cellsSql` is any integer SQL
    * expression — e04 pins 16; e05 derives √N (round-9) exactly like
    * the engine's cellsFor: libm sqrt is IEEE-correctly-rounded in
    * both engines and √N can never land on an exact .5 for integer N
    * ((k+0.5)² is never an integer), so ROUND here equals Scala's
    * math.round bit-for-bit. */
  private def ivfCte(cellsSql: String): String = {
    // one Lloyd step: score every vector against centroid table c<tag>,
    // keep the best cell per vector (ties → smallest cell_id)
    def assign(cent: String, tag: String) =
      s"""d$tag AS (
         | SELECT ev.vec_id, c.cell_id,
         |   CAST(SUM(CAST(ROUND(ev.v * c.c * 1e12, 0) AS BIGINT)) AS BIGINT) AS dot
         | FROM ev JOIN $cent c ON ev.i = c.i GROUP BY 1, 2),
         |n$tag AS (
         | SELECT cell_id,
         |   CAST(SUM(CAST(ROUND(c * c * 1e12, 0) AS BIGINT)) AS BIGINT) AS n2
         | FROM $cent GROUP BY cell_id),
         |s$tag AS (
         | SELECT d.vec_id, d.cell_id,
         |   CAST(d.dot AS DOUBLE) / (sqrt(CAST(vn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS sim
         | FROM d$tag d
         | JOIN vnorm vn ON d.vec_id = vn.vec_id
         | JOIN n$tag cn ON d.cell_id = cn.cell_id),
         |a$tag AS (
         | SELECT vec_id, cell_id FROM (
         |   SELECT vec_id, cell_id,
         |     row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
         |   FROM s$tag) WHERE rn = 1)""".stripMargin
    // centroid recompute from an assignment: per (cell, dim) the exact
    // integer mean s12/n/1e12, narrowed through REAL like the engine
    def recompute(assigned: String, cent: String) =
      s"""$cent AS (
         | SELECT a.cell_id, ev.i,
         |   CAST(CAST(
         |     CAST(SUM(CAST(ROUND(ev.v * 1e12, 0) AS BIGINT)) AS DOUBLE)
         |       / CAST(COUNT(*) AS DOUBLE) / 1e12
         |   AS REAL) AS DOUBLE) AS c
         | FROM $assigned a JOIN ev ON a.vec_id = ev.vec_id GROUP BY 1, 2)""".stripMargin
    s"""WITH idx AS (SELECT unnest(range(1, 65)) AS i),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |ev AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v FROM e CROSS JOIN idx),
       |vnorm AS (
       | SELECT vec_id, CAST(SUM(CAST(ROUND(v * v * 1e12, 0) AS BIGINT)) AS BIGINT) AS n2
       | FROM ev GROUP BY vec_id),
       |seeds AS (
       | SELECT vec_id, CAST(rn AS INTEGER) AS cell_id FROM (
       |   SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
       |   FROM e) WHERE rn <= ($cellsSql)),
       |c0 AS (SELECT s.cell_id, ev.i, ev.v AS c FROM seeds s JOIN ev ON s.vec_id = ev.vec_id),
       |${assign("c0", "0")},
       |${recompute("a0", "c1")},
       |${assign("c1", "1")},
       |${recompute("a1", "c2")},
       |${assign("c2", "f")}""".stripMargin
  }

  private val e04Sql =
    s"""${ivfCte("16")},
       |probes AS (
       | SELECT vec_id AS qid, cell_id FROM (
       |   SELECT vec_id, cell_id,
       |     row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
       |   FROM sf WHERE vec_id < 10) WHERE rn <= 4),
       |cand AS (
       | SELECT p.qid, a.vec_id AS vid
       | FROM probes p JOIN af a ON a.cell_id = p.cell_id AND a.vec_id <> p.qid),
       |fdots AS (
       | SELECT cand.qid, cand.vid,
       |   CAST(SUM(CAST(ROUND(q.v * c.v * 1e12, 0) AS BIGINT)) AS BIGINT) AS dot_e12
       | FROM cand
       | JOIN ev q ON q.vec_id = cand.qid
       | JOIN ev c ON c.vec_id = cand.vid AND c.i = q.i
       | GROUP BY 1, 2),
       |scored AS (
       | SELECT qid, vid,
       |   CAST(dot_e12 AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cos
       | FROM fdots JOIN vnorm qn ON qid = qn.vec_id JOIN vnorm cn ON vid = cn.vec_id)
       |SELECT qid, rank, vid, round(cos, 6) AS cos_r6
       |FROM (SELECT qid, vid, cos,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
       |      FROM scored)
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  /** IVF-cell-blocked near-dup (e05): the TRAINED-CELL variant —
    * O(N^1.5) at its cost-optimal √N cell count, NOT the corpus-scale
    * path (that is e08, the linear-growth LSH-bucketed twin; their
    * sf0.1 top-20 agreement is spec-pinned). Round-9: the registered
    * query now derives cells = cellsFor(N) = round(√N) instead of a
    * pinned 16 — at the sf10 decade that is 447 cells instead of 16,
    * cutting pair fan-out ~28× and keeping the measured growth at the
    * design's N^1.5 instead of the pinned-cell N²/16 cliff; the
    * mirror computes the identical count from the same table. The
    * decade BENCH protocol still records e08 as the corpus-scale
    * stand-in (tools/run_legs.sh bench). Candidate pairs must
    * share a cell, so the plan is a shuffled equi-join on cell_id,
    * never a cartesian/BroadcastNestedLoopJoin. Approximate (a pair
    * split across cells is missed) but deterministic, with the full
    * DuckDB mirror reusing the IVF build CTEs. */
  private def e05(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupBlocked(Tables.embeddings(s, dir), 20,
      cells = Similarity.cellsFor(embCount(s, dir)), cacheKey = dir)
      .orderBy(col("cos_r6").desc, col("v1"), col("v2"))

  private val e05Sql =
    s"""${ivfCte(
        "LEAST(65536, GREATEST(1, CAST(ROUND(SQRT(CAST((SELECT COUNT(*) FROM e) AS DOUBLE)), 0) AS INTEGER)))")},
       |pairs AS (
       | SELECT a.vec_id AS v1, b.vec_id AS v2
       | FROM af a JOIN af b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id),
       |pdots AS (
       | SELECT pairs.v1, pairs.v2,
       |   CAST(SUM(CAST(ROUND(x.v * y.v * 1e12, 0) AS BIGINT)) AS BIGINT) AS dot_e12
       | FROM pairs
       | JOIN ev x ON x.vec_id = pairs.v1
       | JOIN ev y ON y.vec_id = pairs.v2 AND y.i = x.i
       | GROUP BY 1, 2),
       |scored AS (
       | SELECT v1, v2,
       |   CAST(dot_e12 AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
       | FROM pdots JOIN vnorm na ON v1 = na.vec_id JOIN vnorm nb ON v2 = nb.vec_id)
       |SELECT v1, v2, round(cos, 6) AS cos_r6
       |FROM scored
       |ORDER BY cos DESC, v1 ASC, v2 ASC
       |LIMIT 20""".stripMargin

  /** kNN over int8-quantized embeddings (e06): per-vector max-abs
    * scale, codes round(x/scale·127), reconstruct, then the e01
    * pipeline on the reconstructed vectors — the 4×-smaller storage
    * path. Deterministic quantization → the oracle mirrors the full
    * quantize→reconstruct→score round trip (float narrowing via
    * CAST(... AS REAL) AS DOUBLE at each step). */
  private def e06(s: SparkSession, dir: String): DataFrame =
    Similarity.knnInt8(Tables.embeddings(s, dir), QueryPred, K)
      .orderBy(col("qid"), col("rank"))

  private val e06Sql =
    """WITH idx AS (SELECT unnest(range(1, 65)) AS i),
      |e0 AS (SELECT vec_id, embedding FROM embeddings),
      |scales AS (
      | SELECT vec_id, MAX(abs(CAST(embedding[i] AS DOUBLE))) AS sd
      | FROM e0 CROSS JOIN idx GROUP BY vec_id),
      |r AS (
      | SELECT e0.vec_id, i,
      |   CASE WHEN sd = 0 THEN CAST(embedding[i] AS DOUBLE)
      |        ELSE CAST(CAST(ROUND(CAST(embedding[i] AS DOUBLE)
      |               / CAST(CAST(sd AS REAL) AS DOUBLE) * 127.0, 0)
      |               / 127.0 * CAST(CAST(sd AS REAL) AS DOUBLE) AS REAL) AS DOUBLE)
      |   END AS rv
      | FROM e0 CROSS JOIN idx JOIN scales ON e0.vec_id = scales.vec_id),
      |norms AS (
      | SELECT vec_id, CAST(SUM(CAST(ROUND(rv * rv * 1e12, 0) AS BIGINT)) AS BIGINT) AS n2
      | FROM r GROUP BY vec_id),
      |dots AS (
      | SELECT q.vec_id AS qid, c.vec_id AS vid,
      |   CAST(SUM(CAST(ROUND(q.rv * c.rv * 1e12, 0) AS BIGINT)) AS BIGINT) AS dot_e12
      | FROM r q JOIN r c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id <> q.vec_id
      | GROUP BY 1, 2),
      |scored AS (
      | SELECT qid, vid,
      |   CAST(dot_e12 AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cos
      | FROM dots JOIN norms qn ON qid = qn.vec_id JOIN norms cn ON vid = cn.vec_id)
      |SELECT qid, rank, vid, round(cos, 6) AS cos_r6
      |FROM (SELECT qid, vid, cos,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT) AS rank
      |      FROM scored)
      |WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** Embedding dup clusters (e07): the vector-modality twin of d18 —
    * connected components over blocked near-dup pairs, one cluster
    * representative (min vec_id) per group of mutually-similar
    * embeddings. Pair generation rides e08's LSH-bucket blocking (the
    * linear scale path — the earlier IVF-cell pair source made this
    * whole composition inherit e05's O(N^1.5) growth); the Components
    * operator and the recursive-CTE oracle pattern are unchanged. */
  private def e07(s: SparkSession, dir: String): DataFrame = {
    val pairs = Similarity.nearDupLsh(Tables.embeddings(s, dir), 20,
      sizeHint = embCount(s, dir))
      .select(col("v1"), col("v2"))
    val cc = graft.operators.Components.connectedComponents(pairs, "v1", "v2")
    // merge hint: cluster sizes are Θ(clustered docs) and estimated
    // post-aggregation — without it the planner commits a broadcast it
    // can never demote (the 8 GiB cliff class found at sf3); both
    // sides already hash by lbl, so sort-merge reuses that exchange.
    cc.hint("merge")
      .join(cc.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size")), "lbl")
      .select(col("v").as("vec_id"), col("lbl").as("cluster_rep"),
        col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  private lazy val e07Sql =
    s"""${lshPairCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |top AS (
       | SELECT v1, v2 FROM scored ORDER BY cos DESC, v1 ASC, v2 ASC LIMIT 20),
       |sym AS (SELECT v1 AS src, v2 AS dst FROM top
       |        UNION SELECT v2, v1 FROM top),
       |reach(v, u) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src),
       |cc AS (SELECT v, MIN(u) AS cluster_rep FROM reach GROUP BY v)
       |SELECT v AS vec_id, cluster_rep,
       |  CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
       |FROM cc
       |ORDER BY vec_id""".stripMargin

  /** LSH-bucket-blocked near-dup (e08): the LINEAR-growth scale twin of
    * e05. IVF cell blocking pays N·cells assignment work, so its total
    * cost bottoms out at cells = √N → O(N^1.5) — measurably
    * super-linear across bench decades (~30× for 10× data at sf10).
    * Hyperplane-signature buckets assign per-row with no training
    * pass, so bucket count tracks corpus size
    * (`Similarity.planesFor`: expected occupancy ≤ 64) and candidate
    * generation stays ~N·occupancy. The adaptive plane count is
    * mirrored exactly in SQL (integer k = ceil(N/64), planes =
    * ceil(log2(k)) clamped to [1,16]), with the md5-parity sign table
    * inlined to the 16-plane cap and filtered down at runtime. */
  private def e08(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupLsh(Tables.embeddings(s, dir), 20,
      sizeHint = embCount(s, dir))
      .orderBy(col("cos_r6").desc, col("v1"), col("v2"))

  private val maxPlanes = 16

  /** Shared CTE chain for e08/e07 (and, suffixed, e14): adaptive
    * plane count, sign table, signature buckets, multi-probe
    * candidates, exact integer scoring. `src` is the universe
    * relation, `x` a suffix appended to every CTE name so two
    * instantiations can coexist in one query (e14 runs this AND the
    * banded chain over the same sample). Ends with
    * `scored$x(v1, v2, cos)`. */
  private def lshPairCteFor(src: String, x: String): String = {
    // identical signs to Similarity.lshBucket — generated by the same
    // function, inlined as a (plane, dim, sign) literal table
    val hpRows = (0 until maxPlanes).flatMap { p =>
      Similarity.hyperplane(p).zipWithIndex.map { case (sgn, d) =>
        s"($p, ${d + 1}, ${if (sgn > 0) "1.0" else "-1.0"})"
      }
    }.mkString(", ")
    // dots are list-lambda folds (one row per vector/pair, 64-element
    // lambda) rather than per-dimension unnest joins: the same exact
    // integer arithmetic with 64x fewer intermediate rows, which is
    // what lets this mirror run at sf1 without exhausting DuckDB's
    // spill space
    s"""WITH params$x AS (
       | SELECT GREATEST(1, LEAST($maxPlanes,
       |   CAST(CEIL(LOG2(CAST(GREATEST(1, (COUNT(*) + ${Similarity.TargetOccupancy - 1}) // ${Similarity.TargetOccupancy}) AS DOUBLE))) AS INT))) AS pl
       | FROM $src),
       |hp$x AS (SELECT * FROM (VALUES $hpRows) AS t(p, i, sgn)),
       |hpl$x AS (SELECT p, list(sgn ORDER BY i) AS sgns FROM hp$x GROUP BY p),
       |e8$x AS (SELECT vec_id, embedding FROM $src),
       |norms8$x AS (
       | SELECT vec_id,
       |   CAST(list_sum(list_transform(range(1, 65), i ->
       |     CAST(ROUND(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT))) AS BIGINT) AS n2
       | FROM e8$x),
       |pdots$x AS (
       | SELECT vec_id, p,
       |   CAST(list_sum(list_transform(range(1, 65), i ->
       |     CAST(ROUND(CAST(embedding[i] AS DOUBLE) * sgns[i] * 1e12, 0) AS BIGINT))) AS BIGINT) AS dot
       | FROM e8$x CROSS JOIN hpl$x WHERE hpl$x.p < (SELECT pl FROM params$x)),
       |buckets$x AS (
       | SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN (1 << p) ELSE 0 END) AS INTEGER) AS bucket
       | FROM pdots$x GROUP BY vec_id),
       |occ8$x AS (SELECT bucket, count(*) AS oc FROM buckets$x GROUP BY bucket),
       |probes$x AS (
       | SELECT vec_id AS v1, bucket FROM buckets$x
       | UNION ALL
       | SELECT b.vec_id, xor(b.bucket, CAST(1 << pp.p AS INTEGER))
       | FROM buckets$x b
       | CROSS JOIN (SELECT DISTINCT p FROM hp$x
       |             WHERE p < (SELECT pl FROM params$x)) pp),
       |cand8$x AS (
       | SELECT pr.v1, c.vec_id AS v2
       | FROM probes$x pr JOIN buckets$x c
       |   ON pr.bucket = c.bucket AND pr.v1 < c.vec_id
       | JOIN occ8$x ON pr.bucket = occ8$x.bucket
       |   AND occ8$x.oc <= ${Similarity.DefaultMaxBucketOcc}),
       |pd8$x AS (
       | SELECT cand8$x.v1, cand8$x.v2,
       |   CAST(list_sum(list_transform(range(1, 65), i ->
       |     CAST(ROUND(CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT))) AS BIGINT) AS dot_e12
       | FROM cand8$x
       | JOIN e8$x x ON x.vec_id = cand8$x.v1
       | JOIN e8$x y ON y.vec_id = cand8$x.v2),
       |scored$x AS (
       | SELECT v1, v2,
       |   CAST(dot_e12 AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
       | FROM pd8$x JOIN norms8$x na ON v1 = na.vec_id JOIN norms8$x nb ON v2 = nb.vec_id)""".stripMargin
  }

  private lazy val lshPairCte = lshPairCteFor("embeddings", "")

  private val e08Sql =
    s"""$lshPairCte
       |SELECT v1, v2, round(cos, 6) AS cos_r6
       |FROM scored
       |ORDER BY cos DESC, v1 ASC, v2 ASC
       |LIMIT 20""".stripMargin

  private val SharedLmCostsGlob =
    graft.operators.LmScore.SharedLmCostsDir + "/*.parquet"

  /** SemDeDup curation (e09, round-16): keep the best-LM copy per
    * EMBEDDING near-dup cluster (Abbas et al. 2023) — the semantic
    * twin of d21's lexical cluster curation, bridging the e-family
    * (LSH candidate pairs, components clusters) and the d-family
    * (shared micro-nat LM cost table, same d19/d21 validation
    * protocol in the mirror) over the aligned doc/vec id universe.
    * The oracle recomputes the LSH pairs, the recursive-CTE
    * components AND the keep-best window from scratch; only the ln
    * cost table is shared (and re-validated within 1 micro-nat
    * before use, like every LM mirror). */
  private def e09(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedupCuration(
      graft.sources.Tables.documents(s, dir),
      Tables.embeddings(s, dir),
      "doc_id", "text", topN = 20, sizeHint = embCount(s, dir))
      .orderBy(col("doc_id"))

  private lazy val e09Sql =
    s"""${lshPairCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |top AS (
       | SELECT v1, v2 FROM scored ORDER BY cos DESC, v1 ASC, v2 ASC LIMIT 20),
       |sym AS (SELECT v1 AS src, v2 AS dst FROM top
       |        UNION SELECT v2, v1 FROM top),
       |reach(v, u) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src),
       |cc AS (SELECT v, MIN(u) AS lbl FROM reach GROUP BY v),
       |csize AS (SELECT lbl, CAST(count(*) AS BIGINT) AS cluster_size
       |          FROM cc GROUP BY lbl),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt),
       |sharedlm AS (SELECT tok, cnt, nlp_micro
       |             FROM read_parquet('$SharedLmCostsGlob')),
       |chk AS (SELECT CASE WHEN
       |    (SELECT count(*) FROM sharedlm) = (SELECT count(*) FROM cnt) AND
       |    (SELECT count(*) FROM sharedlm n
       |       JOIN cnt c ON n.tok = c.tok AND n.cnt = c.c
       |       CROSS JOIN tot
       |       WHERE abs(n.nlp_micro
       |                 - CAST(round(ln(CAST(t AS DOUBLE) / CAST(c.c AS DOUBLE))
       |                              * 1000000) AS BIGINT)) <= 1)
       |      = (SELECT count(*) FROM cnt)
       |  THEN 1 ELSE 0 END AS ok),
       |nlp AS (SELECT tok, nlp_micro FROM sharedlm WHERE (SELECT ok FROM chk) = 1),
       |score AS (SELECT doc_id,
       |            CAST(SUM(nlp_micro) AS DOUBLE) / count(*) AS sc
       |          FROM toks JOIN nlp USING (tok) GROUP BY doc_id),
       |best AS (SELECT v AS doc_id, lbl AS cluster_rep, cluster_size,
       |           'best_in_cluster' AS kept_reason
       |         FROM (SELECT cc.v, cc.lbl, csize.cluster_size,
       |                 row_number() OVER (PARTITION BY cc.lbl
       |                                    ORDER BY score.sc, cc.v) AS rk
       |               FROM cc JOIN csize USING (lbl)
       |               JOIN score ON cc.v = score.doc_id)
       |         WHERE rk = 1),
       |singles AS (SELECT doc_id, doc_id AS cluster_rep,
       |              CAST(1 AS BIGINT) AS cluster_size,
       |              'singleton' AS kept_reason
       |            FROM documents WHERE doc_id NOT IN (SELECT v FROM cc))
       |SELECT * FROM best UNION ALL SELECT * FROM singles
       |ORDER BY doc_id""".stripMargin

  /** Threshold SemDeDup curation (e10, round-17): the round-16 ADVICE
    * shape — clusters form from EVERY LSH-blocked pair at
    * cos >= minCos (the paper's epsilon), so cluster coverage scales
    * with the corpus instead of e09's fixed global top-N pair budget
    * (at sf30 the topN=20 form can dedup at most 20 pairs corpus-wide).
    * Physically the global pair sort disappears too: the cosine filter
    * runs inside the candidate join's stage (plan-asserted sort-free).
    * The oracle recomputes the LSH pairs, the epsilon filter, the
    * recursive-CTE components and the keep-best window from scratch —
    * same d19/d21 shared-cost-table validation protocol. minCos 0.42
    * is a fixture-meaningful epsilon: the synthetic embeddings carry
    * no planted near-dup pairs (max brute-force cos ≈ 0.45-0.51 at
    * the gate SFs), so 0.42 exercises multi-pair clusters at every
    * verified SF without degenerating to all-singletons. */
  private def e10(s: SparkSession, dir: String): DataFrame =
    // bands = 0 pins the single-signature multi-probe generator (the
    // budget variant this oracle mirrors); the recall-1.0 BANDED
    // generator is the API default as of round-19 and is what e11
    // driver-gates — see semDedupCurationThreshold's scaladoc
    Similarity.semDedupCurationThreshold(
      graft.sources.Tables.documents(s, dir),
      Tables.embeddings(s, dir),
      "doc_id", "text", minCos = 0.42, bands = 0,
      sizeHint = embCount(s, dir))
      .orderBy(col("doc_id"))

  /** Shared recursive-components + keep-best-LM tail for the
    * threshold SemDeDup mirrors (e10/e11): consumes `scored(v1, v2,
    * cos)` from whichever candidate CTE precedes it, applies the
    * epsilon filter, and re-derives clusters and the keep-best window
    * from scratch (same d19/d21 shared-cost-table validation). */
  private lazy val semDedupThresholdTailSql =
    s"""top AS (
       | SELECT v1, v2 FROM scored WHERE cos >= 0.42),
       |sym AS (SELECT v1 AS src, v2 AS dst FROM top
       |        UNION SELECT v2, v1 FROM top),
       |reach(v, u) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src),
       |cc AS (SELECT v, MIN(u) AS lbl FROM reach GROUP BY v),
       |csize AS (SELECT lbl, CAST(count(*) AS BIGINT) AS cluster_size
       |          FROM cc GROUP BY lbl),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt),
       |sharedlm AS (SELECT tok, cnt, nlp_micro
       |             FROM read_parquet('$SharedLmCostsGlob')),
       |chk AS (SELECT CASE WHEN
       |    (SELECT count(*) FROM sharedlm) = (SELECT count(*) FROM cnt) AND
       |    (SELECT count(*) FROM sharedlm n
       |       JOIN cnt c ON n.tok = c.tok AND n.cnt = c.c
       |       CROSS JOIN tot
       |       WHERE abs(n.nlp_micro
       |                 - CAST(round(ln(CAST(t AS DOUBLE) / CAST(c.c AS DOUBLE))
       |                              * 1000000) AS BIGINT)) <= 1)
       |      = (SELECT count(*) FROM cnt)
       |  THEN 1 ELSE 0 END AS ok),
       |nlp AS (SELECT tok, nlp_micro FROM sharedlm WHERE (SELECT ok FROM chk) = 1),
       |score AS (SELECT doc_id,
       |            CAST(SUM(nlp_micro) AS DOUBLE) / count(*) AS sc
       |          FROM toks JOIN nlp USING (tok) GROUP BY doc_id),
       |best AS (SELECT v AS doc_id, lbl AS cluster_rep, cluster_size,
       |           'best_in_cluster' AS kept_reason
       |         FROM (SELECT cc.v, cc.lbl, csize.cluster_size,
       |                 row_number() OVER (PARTITION BY cc.lbl
       |                                    ORDER BY score.sc, cc.v) AS rk
       |               FROM cc JOIN csize USING (lbl)
       |               JOIN score ON cc.v = score.doc_id)
       |         WHERE rk = 1),
       |singles AS (SELECT doc_id, doc_id AS cluster_rep,
       |              CAST(1 AS BIGINT) AS cluster_size,
       |              'singleton' AS kept_reason
       |            FROM documents WHERE doc_id NOT IN (SELECT v FROM cc))
       |SELECT * FROM best UNION ALL SELECT * FROM singles
       |ORDER BY doc_id""".stripMargin

  private lazy val e10Sql =
    s"""${lshPairCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$semDedupThresholdTailSql""".stripMargin

  /** Banded-OR SemDeDup curation (e11, round-18 — VERDICT item 3):
    * the HIGH-RECALL twin of e10. Single-signature multi-probe
    * recovers only 1-bit signature misses, flooring pair recall
    * (~0.77 measured at the gate corpus vs the exact ε-universe);
    * 8 independent band signatures recover any pair that co-lands in
    * ANY band — recall ≥ 0.9 spec-pinned (DedupSimilaritySpec). Same
    * epsilon, same output contract, same components + keep-best-LM
    * tail. The mirror derives the ENTIRE banded protocol from scratch
    * — and the md5-parity sign rule is computed IN SQL (low bit of
    * digest byte 0 = parity of the 2nd hex char), so the 128-plane
    * banded universe needs no literal sign table. */
  private def e11(s: SparkSession, dir: String): DataFrame =
    // the DEFAULT epsilon entry point (round-19: default generator is
    // banded), so this row driver-gates exactly what a caller gets
    // out of the box
    Similarity.semDedupCurationThreshold(
      graft.sources.Tables.documents(s, dir),
      Tables.embeddings(s, dir),
      "doc_id", "text", minCos = 0.42, sizeHint = embCount(s, dir))
      .orderBy(col("doc_id"))

  /** Banded candidate CTE: adaptive per-band plane count pl (same
    * integer formula as e08's mirror), band b = md5 planes
    * [b·pl, (b+1)·pl), pair candidates = signature match in ≥ 1 band,
    * first-match band semantics for the per-(band, bucket) occupancy
    * cap (a pair is kept iff its LOWEST matching band's bucket is
    * under cap — `Similarity.nearDupLshBanded`'s row-local guard).
    * Ends with `scored(v1, v2, cos)`. */
  private def lshBandedPairCteFor(src: String, x: String): String =
    s"""WITH params$x AS (
       | SELECT GREATEST(1, LEAST($maxPlanes,
       |   CAST(CEIL(LOG2(CAST(GREATEST(1, (COUNT(*) + ${Similarity.TargetOccupancy - 1}) // ${Similarity.TargetOccupancy}) AS DOUBLE))) AS INT))) AS pl
       | FROM $src),
       |hpb$x AS (
       | SELECT p, i,
       |   CASE WHEN substring(md5('p' || CAST(p AS VARCHAR) || '_d' || CAST(i - 1 AS VARCHAR)), 2, 1)
       |        IN ('1','3','5','7','9','b','d','f') THEN -1.0 ELSE 1.0 END AS sgn
       | FROM (SELECT unnest(range(0, ${8 * maxPlanes})) AS p)
       | CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
       |hplb$x AS (SELECT p, list(sgn ORDER BY i) AS sgns FROM hpb$x GROUP BY p),
       |e8$x AS (SELECT vec_id, embedding FROM $src),
       |norms8$x AS (
       | SELECT vec_id,
       |   CAST(list_sum(list_transform(range(1, 65), i ->
       |     CAST(ROUND(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT))) AS BIGINT) AS n2
       | FROM e8$x),
       |pdotsb$x AS (
       | SELECT vec_id, p,
       |   CAST(list_sum(list_transform(range(1, 65), i ->
       |     CAST(ROUND(CAST(embedding[i] AS DOUBLE) * sgns[i] * 1e12, 0) AS BIGINT))) AS BIGINT) AS dot
       | FROM e8$x CROSS JOIN hplb$x WHERE hplb$x.p < 8 * (SELECT pl FROM params$x)),
       |sigb$x AS (
       | SELECT vec_id,
       |   CAST(p // (SELECT pl FROM params$x) AS INTEGER) AS band,
       |   CAST(SUM(CASE WHEN dot > 0
       |            THEN (1 << (p % (SELECT pl FROM params$x))) ELSE 0 END) AS INTEGER) AS bucket
       | FROM pdotsb$x GROUP BY 1, 2),
       |occb$x AS (SELECT band, bucket, count(*) AS oc FROM sigb$x GROUP BY 1, 2),
       |candb$x AS (
       | SELECT a.vec_id AS v1, b.vec_id AS v2, MIN(a.band) AS mb
       | FROM sigb$x a JOIN sigb$x b
       |   ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       | GROUP BY 1, 2),
       |pairsb$x AS (
       | SELECT c.v1, c.v2
       | FROM candb$x c
       | JOIN sigb$x s ON s.vec_id = c.v2 AND s.band = c.mb
       | JOIN occb$x o ON o.band = c.mb AND o.bucket = s.bucket
       |   AND o.oc <= ${Similarity.DefaultMaxBucketOcc}),
       |pd8$x AS (
       | SELECT pairsb$x.v1, pairsb$x.v2,
       |   CAST(list_sum(list_transform(range(1, 65), i ->
       |     CAST(ROUND(CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT))) AS BIGINT) AS dot_e12
       | FROM pairsb$x
       | JOIN e8$x x ON x.vec_id = pairsb$x.v1
       | JOIN e8$x y ON y.vec_id = pairsb$x.v2),
       |scored$x AS (
       | SELECT v1, v2,
       |   CAST(dot_e12 AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
       | FROM pd8$x JOIN norms8$x na ON v1 = na.vec_id JOIN norms8$x nb ON v2 = nb.vec_id)""".stripMargin

  private lazy val lshBandedPairCte = lshBandedPairCteFor("embeddings", "")

  private lazy val e11Sql =
    s"""${lshBandedPairCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$semDedupThresholdTailSql""".stripMargin

  /** LSH hot-bucket cap telemetry (e12, round-18): the "loudly
    * counted" half of the `maxBucketOcc` contract (VERDICT item 1) —
    * how many buckets the cap removes from the e07/e08/e09/e10 join
    * universe, and how many rows sit inside them, at the corpus's own
    * adaptive plane count. Driver-verified (the oracle recomputes the
    * sign table, buckets and occupancy from scratch) so a deployment
    * reads the recall trade off a table instead of guessing; at the
    * gate SFs the cap removes nothing (buckets_over_cap = 0) — the
    * saturated-orthant tail it bounds appears in the sf30 evidence. */
  private def e12(s: SparkSession, dir: String): DataFrame =
    Similarity.lshCapReport(Tables.embeddings(s, dir),
      sizeHint = embCount(s, dir))

  private lazy val e12Sql =
    s"""$lshPairCte
       |SELECT (SELECT pl FROM params) AS planes,
       |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(MAX(oc) AS BIGINT) AS max_occ,
       |  CAST(SUM(CASE WHEN oc > ${Similarity.DefaultMaxBucketOcc}
       |           THEN 1 ELSE 0 END) AS BIGINT) AS buckets_over_cap,
       |  CAST(SUM(CASE WHEN oc > ${Similarity.DefaultMaxBucketOcc}
       |           THEN oc ELSE 0 END) AS BIGINT) AS rows_in_over_cap
       |FROM occ8""".stripMargin

  /** Cluster-balanced sample (e13, round-18): up to 8 vectors per
    * IVF cell at the e04-pinned 16-cell build — the diversity
    * subsample that covers the embedding space instead of its density
    * peaks. The mirror reuses the bit-exact IVF build CTEs (md5
    * seeds, two exact scaled-integer Lloyd steps) and applies the
    * hash-order rank per cell from scratch. */
  private def e13(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterBalancedSample(Tables.embeddings(s, dir),
      cells = 16, perCell = 8, cacheKey = dir)
      .orderBy(col("cell_id"), col("cell_rank"))

  private val e13Sql =
    s"""${ivfCte("16")}
       |SELECT vec_id, cell_id,
       |  CAST(rk AS BIGINT) AS cell_rank
       |FROM (
       | SELECT vec_id, cell_id,
       |   row_number() OVER (PARTITION BY cell_id
       |     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
       | FROM af)
       |WHERE rk <= 8
       |ORDER BY cell_id, cell_rank""".stripMargin

  /** Candidate-generator recall report (e14, round-19 — VERDICT item
    * 1): measured recall of the banded (the round-19 DEFAULT) and
    * single-signature multi-probe generators against the exact
    * ε-pair universe on the bounded 500-vector hash sample — the e12
    * telemetry pattern applied to RECALL, so "banded 1.0 vs
    * single-signature ~0.7" is a driver-verified number per corpus.
    * The mirror recomputes everything from scratch: the sample, both
    * generator pipelines (the e08/e11 CTE chains instantiated over
    * the sample with suffixed names), the exact all-pairs ε-universe,
    * and the exact-integer half-up recall rounding. */
  private def e14(s: SparkSession, dir: String): DataFrame =
    Similarity.lshRecallReport(Tables.embeddings(s, dir), minCos = 0.42)

  private lazy val e14Sql = {
    val probeCtes = lshPairCteFor("es14", "p14").replaceFirst("WITH ", "")
    val bandedCtes = lshBandedPairCteFor("es14", "b14").replaceFirst("WITH ", "")
    s"""WITH es14 AS (
       | SELECT vec_id, embedding FROM embeddings
       | ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 500),
       |$probeCtes,
       |$bandedCtes,
       |exn14 AS (
       | SELECT vec_id,
       |   CAST(list_sum(list_transform(range(1, 65), i ->
       |     CAST(ROUND(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT))) AS BIGINT) AS n2
       | FROM es14),
       |exd14 AS (
       | SELECT a.vec_id AS v1, b.vec_id AS v2,
       |   CAST(list_sum(list_transform(range(1, 65), i ->
       |     CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * 1e12, 0) AS BIGINT))) AS BIGINT) AS dot_e12
       | FROM es14 a JOIN es14 b ON a.vec_id < b.vec_id),
       |exs14 AS (
       | SELECT v1, v2,
       |   CAST(dot_e12 AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
       | FROM exd14 JOIN exn14 na ON v1 = na.vec_id JOIN exn14 nb ON v2 = nb.vec_id),
       |cnt14 AS (
       | SELECT
       |   (SELECT CAST(COUNT(*) AS BIGINT) FROM es14) AS sample_rows,
       |   (SELECT CAST(COUNT(*) AS BIGINT) FROM exs14 WHERE cos >= 0.42) AS eps_pairs,
       |   (SELECT CAST(COUNT(*) AS BIGINT) FROM scoredb14 WHERE cos >= 0.42) AS banded_pairs,
       |   (SELECT CAST(COUNT(*) AS BIGINT) FROM scoredp14 WHERE cos >= 0.42) AS probe_pairs)
       |SELECT sample_rows, eps_pairs, banded_pairs, probe_pairs,
       |  CASE WHEN eps_pairs > 0
       |    THEN CAST((banded_pairs * 20000 + eps_pairs) // (eps_pairs * 2) AS DOUBLE) / 10000.0 END AS banded_recall_r4,
       |  CASE WHEN eps_pairs > 0
       |    THEN CAST((probe_pairs * 20000 + eps_pairs) // (eps_pairs * 2) AS DOUBLE) / 10000.0 END AS probe_recall_r4
       |FROM cnt14""".stripMargin
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("e01_knn_exact", e01, Some(e01Sql)),
    QuerySpec("e02_ann_lsh", e02, Some(e02Sql)),
    QuerySpec("e03_cosine_neardup", e03, Some(e03Sql)),
    QuerySpec("e04_ann_ivf", e04, Some(e04Sql)),
    QuerySpec("e05_neardup_blocked", e05, Some(e05Sql)),
    QuerySpec("e06_knn_int8", e06, Some(e06Sql)),
    QuerySpec("e07_embed_dup_clusters", e07, Some(e07Sql)),
    QuerySpec("e08_neardup_lsh", e08, Some(e08Sql)),
    QuerySpec("e09_semdedup_curation", e09, Some(e09Sql)),
    QuerySpec("e10_semdedup_threshold", e10, Some(e10Sql)),
    QuerySpec("e11_semdedup_banded", e11, Some(e11Sql)),
    QuerySpec("e12_lsh_cap_report", e12, Some(e12Sql)),
    QuerySpec("e13_cluster_sample", e13, Some(e13Sql)),
    QuerySpec("e14_lsh_recall_report", e14, Some(e14Sql)))
}
