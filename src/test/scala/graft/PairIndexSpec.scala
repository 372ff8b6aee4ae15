package graft

import graft.operators.{CorpusPipeline, Dedup, PairIndex}
import graft.sources.Tables
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared pair index (round-11, VERDICT item 2): the materialized
  * compute-once/join-many protocol must (a) plan its hot consumer with
  * zero exchanges off the bucketed artifacts, and (b) reproduce the
  * recompute protocol's results row-for-row. */
class PairIndexSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val idx = PairIndex.materializeDocIndex(
    Tables.documents(spark, sfDir), "doc_id", "text",
    numBuckets = 4,
    survivorsTable = "pis_survivors", pairsTable = "pis_pairs")

  test("drop-list anti join plans with NO exchange off the bucketed tables") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val anti = spark.table(idx.survivorsTable)
        .join(PairIndex.droplist(spark, idx, "doc_id"), Seq("doc_id"), "left_anti")
      val plan = anti.queryExecution.executedPlan.toString
      // both the droplist's distinct and the anti join must ride the
      // bucketed scans' partitioning: any Exchange here means the
      // shared index failed at its one job (no corpus re-shuffle per
      // consumer)
      assert(!plan.contains("Exchange"), s"expected shuffle-free consumer:\n$plan")
      assert(anti.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("curateFromIndex == CorpusPipeline.curate on the same corpus") {
    val docs = Tables.documents(spark, sfDir)
    val fromIndex = PairIndex.curateFromIndex(spark, idx, "doc_id", "text")
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val recomputed = CorpusPipeline.curate(docs)
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(fromIndex === recomputed)
    assert(fromIndex.nonEmpty)
  }

  test("clustersFromIndex == components over recomputed survivor pairs") {
    val survivors = Dedup.dropExactDuplicates(
      Tables.documents(spark, sfDir), "doc_id", "text")
    val pairs = Dedup.jaccardPairs(
      Dedup.postings(survivors, "doc_id", "text"), 0.6, 100)
    val cc = graft.operators.Components
      .connectedComponents(pairs, "doc_id1", "doc_id2")
    val expected = cc
      .join(cc.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size")), "lbl")
      .select(col("v"), col("lbl"), col("cluster_size")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = PairIndex.clustersFromIndex(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("dedupIncrementFromIndex == Dedup.dedupIncrement on the same split") {
    import org.apache.spark.sql.functions.pmod
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    def survivors(corpus: org.apache.spark.sql.DataFrame,
                  incoming: org.apache.spark.sql.DataFrame, name: String): Set[Long] = {
      val cidx = PairIndex.materializeCorpusIndex(corpus, "doc_id", "text",
        numBuckets = 4,
        hashesTable = s"pis_${name}_hashes", postingsTable = s"pis_${name}_postings")
      assert(spark.table(cidx.postingsTable).schema("s").dataType.simpleString === "bigint")
      val fromIndex = PairIndex
        .dedupIncrementFromIndex(spark, cidx, incoming, "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val recomputed = Dedup
        .dedupIncrement(corpus, incoming, "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(fromIndex === recomputed, name)
      fromIndex
    }
    assert(survivors(corpus, incoming, "corpus").nonEmpty)
    // the df-cap boundary: "h1 h2 h3" is held by exactly 100 corpus
    // docs, two of them exact duplicates (doc 2 repeats doc 1). Incoming
    // doc 1000 shares 3 of its 5 shingles with doc 1, "h1 h2 h3" among
    // them. Counting every corpus doc (d13's rule) the combined df is
    // 101 > 100, the shingle leaves the universe, and J = 2/4 < 0.6, so
    // doc 1000 survives; postings of the exact-dedup survivors only
    // (99 + 1 = 100) would keep it at J = 3/5 and drop the doc.
    val capCorpus = docsDf(
      (Seq(1L -> "h1 h2 h3 q1 q2", 2L -> "h1 h2 h3 q1 q2") ++
        (3L to 100L).map(i => i -> s"h1 h2 h3 u$i v$i")): _*)
    assert(survivors(capCorpus, docsDf(1000L -> "h1 h2 h3 q1 q2 z1 z2"), "cap") ===
      Set(1000L))
  }

  test("an index stamped with another shingle width is rejected; input intact") {
    val idx = PairIndex.materializeDocIndex(
      docsDf(1L -> "a b c d e f g h", 2L -> "a b c d e f g x"), "doc_id", "text",
      numBuckets = 4)
    spark.sql(s"ALTER TABLE `${idx.pairsTable}` SET TBLPROPERTIES('graft.shingleK'='5')")
    val before = snapshot(idx)
    val tablesBefore = spark.catalog.listTables().collect().map(_.name).toSet
    val e = intercept[IllegalArgumentException] {
      PairIndex.advanceDocIndex(spark, idx, docsDf(101L -> "a b c d e f g y"),
        "doc_id", "text")
    }
    assert(e.getMessage.contains(s"${idx.pairsTable} is stamped graft.shingleK=5"),
      e.getMessage)
    assert(spark.catalog.listTables().collect().map(_.name).toSet === tablesBefore)
    before.foreach { case (t, rows) =>
      assert(spark.table(t).collect().toSet === rows, s"rejected advance changed $t")
    }
    PairIndex.dropDocIndex(spark, idx)
  }

  test("two concurrent default-named materialize+consume flows don't collide") {
    // round-12, VERDICT item 1: with the former FIXED default table
    // names, two concurrent flows raced on writeBucketed's
    // drop/delete/rewrite mid-read. Default names are now
    // per-invocation generations — run two full materialize+consume
    // flows simultaneously and require distinct tables and identical,
    // correct results from both.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val docs = Tables.documents(spark, sfDir)
    def flow(): (PairIndex.DocIndex, Set[(Long, String)]) = {
      val i = PairIndex.materializeDocIndex(docs, "doc_id", "text",
        numBuckets = 4)
      val rows = PairIndex.curateFromIndex(spark, i, "doc_id", "text")
        .select("doc_id", "split").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      (i, rows)
    }
    val (ra, rb) = Await.result(
      Future(flow()).zip(Future(flow())), 5.minutes)
    assert(ra._1.survivorsTable !== rb._1.survivorsTable)
    assert(ra._1.pairsTable !== rb._1.pairsTable)
    assert(ra._2 === rb._2)
    assert(ra._2.nonEmpty)
    // a consumer of flow A still reads cleanly AFTER flow B completed
    // (the old fixed names would have had B's rewrite drop A's tables)
    assert(spark.table(ra._1.survivorsTable).count() > 0)
    PairIndex.dropDocIndex(spark, ra._1)
    PairIndex.dropDocIndex(spark, rb._1)
  }

  test("sweepStale collects other-JVM generations but spares this JVM's") {
    val mine = PairIndex.materializeDocIndex(
      Tables.documents(spark, sfDir), "doc_id", "text", numBuckets = 4)
    // one call sweeps all six reserved prefixes. Under each, fake a DEAD
    // JVM's leftover (pid far past the kernel pid ceiling) and a LIVE
    // foreign JVM's (pid 1 — the init process): the liveness gate must
    // collect the first and spare the second, so a concurrent JVM
    // sharing the warehouse never has its live index dropped mid-read
    val prefixes = Seq(PairIndex.SurvivorsBase, PairIndex.PairsBase,
      PairIndex.PostingsBase, PairIndex.DfBase,
      PairIndex.CorpusHashesBase, PairIndex.CorpusPostingsBase)
    // and a generation of THIS JVM under each, which must survive too
    val own = prefixes.map(PairIndex.freshName)
    for (t <- prefixes.flatMap(p => Seq(s"${p}_p999999999_g1", s"${p}_p1_g1")) ++ own)
      spark.range(3).toDF("x").write.mode("overwrite").saveAsTable(t)
    PairIndex.sweepStale(spark)
    for (p <- prefixes) {
      assert(!spark.catalog.tableExists(s"${p}_p999999999_g1"), p)
      assert(spark.catalog.tableExists(s"${p}_p1_g1"), p)
      spark.sql(s"DROP TABLE IF EXISTS ${p}_p1_g1")
    }
    own.foreach(t => assert(spark.table(t).count() === 3, t))
    own.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // the materialized index survives, all four artifacts of it
    mine.tables.foreach(t => assert(spark.table(t).count() > 0, t))
    PairIndex.dropDocIndex(spark, mine)
  }

  // ---------- advanceDocIndex (round-12, VERDICT item 2) ----------

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def assertTablesEqual(a: PairIndex.DocIndex, b: PairIndex.DocIndex): Unit = {
    def eq(ta: String, tb: String): Unit = {
      val da = spark.table(ta)
      val db = spark.table(tb)
      assert(da.exceptAll(db).isEmpty && db.exceptAll(da).isEmpty,
        s"$ta vs $tb differ:\n${da.collect().mkString("\n")}\n--\n${db.collect().mkString("\n")}")
    }
    eq(a.survivorsTable, b.survivorsTable)
    eq(a.pairsTable, b.pairsTable)
    eq(a.postingsTable, b.postingsTable)
    // the df artifact stores append-only DELTA rows — semantic content
    // is the per-shingle sum, so equality is over the aggregate
    def dfAgg(t: String) = spark.table(t).groupBy(col("s"))
      .agg(sum(col("cnt")).as("df")).filter(col("df") > 0)
    val (da, db) = (dfAgg(a.dfTable), dfAgg(b.dfTable))
    assert(da.exceptAll(db).isEmpty && db.exceptAll(da).isEmpty,
      s"df artifacts ${a.dfTable} vs ${b.dfTable} differ")
  }

  /** Every table of `idx` with its rows, taken before an advance. */
  private def snapshot(idx: PairIndex.DocIndex): Map[String, Set[Row]] =
    idx.tables.map(t => t -> spark.table(t).collect().toSet).toMap

  /** The advance contract: no input table changed, and the result
    * shares no table with the input. */
  private def assertInputIntact(before: Map[String, Set[Row]],
                                r: PairIndex.AdvanceResult): Unit = {
    val shared = r.idx.tables.toSet.intersect(before.keySet)
    assert(shared.isEmpty, s"advance result reuses input tables: $shared")
    before.foreach { case (t, rows) =>
      assert(spark.table(t).collect().toSet === rows, s"advance changed input table $t")
    }
  }

  /** DESCRIBE EXTENDED of a table as key -> value. */
  private def describe(t: String): Map[String, String] =
    spark.sql(s"DESCRIBE EXTENDED `$t`").collect()
      .map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("")).toMap

  /** A table's data files (name -> bytes) at its catalog location. */
  private def dataFiles(t: String): Map[String, Seq[Byte]] = {
    val dir = java.nio.file.Paths.get(new java.net.URI(describe(t)("Location")))
    val ls = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => !n.startsWith("_") && !n.startsWith("."))
        .map(n => n -> java.nio.file.Files.readAllBytes(dir.resolve(n)).toSeq).toMap
    } finally ls.close()
  }

  test("advanceDocIndex append path is row-identical to from-scratch materialization") {
    val corpus = docsDf(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g x",
      3L -> "totally unrelated content sits here quietly")
    val batch = docsDf(
      101L -> "a b c d e f g y", // cross near-dup of 1 and 2
      102L -> "m n o p q r s t",
      103L -> "m n o p q r s u") // within-batch near-dup of 102
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      economyGuard = Double.PositiveInfinity)
    assert(r.newDocs === 3 && r.evicted === 0 && r.affectedOld === 0)
    assertInputIntact(before, r)
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    // the advanced index must actually hold cross AND within-batch pairs
    val pairKeys = spark.table(r.idx.pairsTable)
      .select("doc_id1", "doc_id2").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairKeys.contains((102L, 103L)))
    assert(pairKeys.exists { case (x, y) => x <= 2 && y === 101L })
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("preserveInput advance never mutates the input index and stays row-identical") {
    // the input-preserving (copy-on-write) contract the shared suite
    // fixture relies on (StandingFixtures), exact and frozen: every
    // input table unchanged, no table shared, and the from-scratch
    // answer either way
    val corpus = docsDf(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g x",
      3L -> "totally unrelated content sits here quietly")
    val batch = docsDf(
      101L -> "a b c d e f g y",
      102L -> "m n o p q r s t",
      103L -> "m n o p q r s u")
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      economyGuard = Double.PositiveInfinity)
    assertInputIntact(before, r)
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    // frozen daily mode: same guarantees
    val rf = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      frozenCaps = true)
    assertInputIntact(before, rf)
    assertTablesEqual(rf.idx, scratch)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, rf.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("preserveInput pure-append advance is clone+append, not a copy-forward rewrite") {
    // round-20 (VERDICT-19 item 1): an advance with no evictions and
    // no cap flips must take the APPEND write shape against a
    // storage-level clone — O(batch) Spark compute plus one file copy
    // — instead of the full-rewrite branch's O(index) copy-forward.
    // The phase telemetry is the contract: the clone phase plus the
    // four append phases fire, and none of the rewrite phases do.
    val corpus = docsDf(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g x",
      3L -> "totally unrelated content sits here quietly")
    val batch = docsDf(
      101L -> "a b c d e f g y",
      102L -> "m n o p q r s t",
      103L -> "m n o p q r s u")
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    graft.Telemetry.drain()
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      economyGuard = Double.PositiveInfinity)
    val tel = graft.Telemetry.drain()
    assert(tel.contains("pairindex.advance_ms_clone_index"))
    Seq("append_pairs", "append_postings", "append_survivors", "append_df")
      .foreach(p => assert(tel.contains(s"pairindex.advance_ms_$p"),
        s"pure-append advance skipped phase $p"))
    tel.keys.filter(_.startsWith("pairindex.advance_ms_rewrite"))
      .foreach(p => fail(s"pure-append advance ran rewrite phase $p"))
    assert(r.affectedOld === 0 && r.evicted === 0)
    assertInputIntact(before, r)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
  }

  test("cloneDocIndex snapshots byte-identically and isolates in-place appends") {
    // the advance's clone_index phase is the index clone: a pure-append
    // advance copies each input table at the storage level and appends
    // in place to the copy. Each result table must (a) hold every input
    // data file under its own name, byte for byte, plus the appended
    // files, (b) keep the input's bucket spec, so consumer plans stay
    // exchange-free, (c) carry the graft.* TBLPROPERTIES the next
    // advance reads its semantics from, and (d) absorb the appends
    // WITHOUT the input observing any change.
    val corpus = docsDf(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g x",
      3L -> "totally unrelated content sits here quietly")
    val batch = docsDf(
      101L -> "a b c d e f g y",
      102L -> "m n o p q r s t",
      103L -> "m n o p q r s u")
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    val inputFiles = idx.tables.map(t => t -> dataFiles(t)).toMap
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      economyGuard = Double.PositiveInfinity)
    assert(r.affectedOld === 0 && r.evicted === 0)
    idx.tables.zip(r.idx.tables).foreach { case (src, dst) =>
      // (a) the input's files, byte-identical, plus appended ones
      val copied = dataFiles(dst)
      inputFiles(src).foreach { case (name, bytes) =>
        assert(copied.get(name).contains(bytes), s"$dst lacks $src's file $name")
      }
      assert(copied.size > inputFiles(src).size, s"$dst got no appended file")
      // (b) bucket layout carried over
      Seq("Num Buckets", "Bucket Columns", "Sort Columns").foreach(k =>
        assert(describe(dst).get(k) === describe(src).get(k), s"$dst $k"))
    }
    // (c) advance semantics readable off the cloned pairs table
    val props = spark.sql(s"SHOW TBLPROPERTIES `${r.idx.pairsTable}`")
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(props.get("graft.threshold").contains("0.6"))
    assert(props.get("graft.numBuckets").contains("4"))
    assert(props.get("graft.nDocs").contains("6"))
    // (d) the input is untouched and shares no table with the result;
    // the appended clone equals a from-scratch materialization
    assertInputIntact(before, r)
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("preserveInput covers the cap-flip partial rewrite: input intact, row-identical") {
    // the cap-flip fixture of the rescore test:
    // the partial-rewrite shape (cloned survivors/postings/df + fresh
    // pairs generation) must leave every input table byte-identical
    // and still equal the from-scratch answer
    val corpus = docsDf(
      1L -> "p q r s t u",
      2L -> "p q r s t v")
    val batch = docsDf(101L -> "p q r z1 z2 z3")
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      threshold = 0.6, maxDocFreq = 2, numBuckets = 4)
    val before = snapshot(idx)
    graft.Telemetry.drain()
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      economyGuard = Double.PositiveInfinity)
    val tel = graft.Telemetry.drain()
    assert(r.affectedOld === 2 && r.evicted === 0)
    // partial-rewrite shape: pairs rewritten fresh, the rest appended
    // to clones — never the full-rewrite branch's survivor/posting
    // copy-forward
    assert(tel.contains("pairindex.advance_ms_clone_index"))
    assert(tel.contains("pairindex.advance_ms_rewrite_pairs"))
    assert(!tel.contains("pairindex.advance_ms_rewrite_survivors"))
    assert(!tel.contains("pairindex.advance_ms_rewrite_postings"))
    assertInputIntact(before, r)
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      threshold = 0.6, maxDocFreq = 2, numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("preserveInput covers the eviction full rewrite: input intact, row-identical") {
    val corpus = docsDf(
      10L -> "alpha beta gamma delta epsilon zeta",
      11L -> "alpha beta gamma delta epsilon eta",
      12L -> "completely different text lives in this row")
    val batch = docsDf(5L -> "alpha beta gamma delta epsilon zeta") // == doc 10
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      economyGuard = Double.PositiveInfinity)
    assert(r.evicted === 1 && r.newDocs === 1)
    assertInputIntact(before, r)
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("advanceDocIndex rescores old pairs when the batch pushes a shingle over the df-cap") {
    // cap 2: corpus pair (1,2) scores 3/5 = 0.6 via shared shingles
    // {p q r, q r s, r s t}; the batch doc re-uses "p q r", pushing its
    // df to 3 > cap — the shingle leaves the capped universe, the old
    // pair drops to 2/4 = 0.5 < 0.6 and must DISAPPEAR from the
    // advanced index, which append-only maintenance could never do
    val corpus = docsDf(
      1L -> "p q r s t u",
      2L -> "p q r s t v")
    val batch = docsDf(101L -> "p q r z1 z2 z3")
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      threshold = 0.6, maxDocFreq = 2, numBuckets = 4)
    assert(spark.table(idx.pairsTable).count() === 1) // (1,2) pre-advance
    val before = snapshot(idx)
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      economyGuard = Double.PositiveInfinity)
    assert(r.affectedOld === 2 && r.evicted === 0)
    assertInputIntact(before, r)
    assert(spark.table(r.idx.pairsTable).count() === 0)
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      threshold = 0.6, maxDocFreq = 2, numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("advanceDocIndex handles a smaller-id batch duplicate evicting a corpus survivor") {
    val corpus = docsDf(
      10L -> "alpha beta gamma delta epsilon zeta",
      11L -> "alpha beta gamma delta epsilon eta",
      12L -> "completely different text lives in this row")
    val batch = docsDf(5L -> "alpha beta gamma delta epsilon zeta") // == doc 10
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      economyGuard = Double.PositiveInfinity)
    assert(r.evicted === 1 && r.newDocs === 1)
    assertInputIntact(before, r)
    val survivors = spark.table(r.idx.survivorsTable)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(5L, 11L, 12L))
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("two successive advances equal one-shot materialization (B2 pairs with B1)") {
    val corpus = docsDf(
      1L -> "a b c d e f g h",
      2L -> "totally unrelated content sits here quietly")
    val b1 = docsDf(101L -> "j k l m n o p q")
    val b2 = docsDf(201L -> "j k l m n o p r") // near-dup of B1's doc
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    val r1 = PairIndex.advanceDocIndex(spark, idx, b1, "doc_id", "text",
      economyGuard = Double.PositiveInfinity)
    val before1 = snapshot(r1.idx)
    val r2 = PairIndex.advanceDocIndex(spark, r1.idx, b2, "doc_id", "text",
      economyGuard = Double.PositiveInfinity)
    for (r <- Seq(r1, r2)) assert(r.evicted === 0 && r.affectedOld === 0)
    assertInputIntact(before, r1)
    assertInputIntact(before1, r2)
    val pairKeys = spark.table(r2.idx.pairsTable)
      .select("doc_id1", "doc_id2").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairKeys.contains((101L, 201L))) // advance 2 saw B1's postings
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(b1).unionByName(b2), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r2.idx, scratch)
    Seq(idx, r1.idx, r2.idx, scratch).foreach(PairIndex.dropDocIndex(spark, _))
  }

  test("economy guard falls back to rematerialization and stays row-identical") {
    // default guard (0.3): a batch as large as the corpus can never
    // win on the delta path — the advance must take the internal
    // rematerialize and still produce the exact combined-corpus index
    val corpus = docsDf(
      1L -> "a b c d e f g h",
      2L -> "totally unrelated content sits here quietly")
    val batch = docsDf(
      101L -> "a b c d e f g y",
      102L -> "m n o p q r s t")
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    Telemetry.drain()
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text")
    val tel = Telemetry.drain()
    assert(tel.get("pairindex.advance_fallback").contains(1L))
    assert(r.newDocs === 2)
    assertInputIntact(before, r)
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    // the advanced index stays advanceable: semantics + nDocs stamped
    val props = spark.sql(s"SHOW TBLPROPERTIES `${r.idx.pairsTable}`")
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(props("graft.nDocs") === "4")
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("frozen-cap advance == exact advance == from-scratch when no cap flips") {
    val corpus = docsDf(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g x",
      3L -> "totally unrelated content sits here quietly")
    val batch = docsDf(
      101L -> "a b c d e f g y",
      102L -> "m n o p q r s t",
      103L -> "m n o p q r s u")
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      frozenCaps = true)
    assert(r.newDocs === 3 && r.evicted === 0 && r.affectedOld === 0)
    assertInputIntact(before, r)
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("frozen-cap advance keeps stale old-pair scores across a cap flip (documented drift)") {
    // same fixture as the exact-mode rescore spec: the batch pushes
    // "p q r" over cap 2, the exact advance DROPS the old pair (1,2);
    // frozen mode must keep it (birth score), while still adding
    // nothing spurious — and new-pair scoring still uses the CURRENT
    // capped universe
    val corpus = docsDf(
      1L -> "p q r s t u",
      2L -> "p q r s t v")
    val batch = docsDf(101L -> "p q r z1 z2 z3")
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      threshold = 0.6, maxDocFreq = 2, numBuckets = 4)
    val before = snapshot(idx)
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      frozenCaps = true)
    assert(r.evicted === 0 && r.affectedOld === 0)
    assertInputIntact(before, r)
    val pairs = spark.table(r.idx.pairsTable)
      .select("doc_id1", "doc_id2").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs === Set((1L, 2L))) // stale-but-kept; no new pair clears 0.6
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
  }

  test("frozen-cap advance handles evictions by pure row removal") {
    val corpus = docsDf(
      10L -> "alpha beta gamma delta epsilon zeta",
      11L -> "alpha beta gamma delta epsilon eta",
      12L -> "completely different text lives in this row")
    val batch = docsDf(5L -> "alpha beta gamma delta epsilon zeta") // == doc 10
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
      frozenCaps = true)
    assert(r.evicted === 1 && r.newDocs === 1)
    assertInputIntact(before, r)
    // no cap flips in this fixture, so frozen == exact == from-scratch
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("two successive FROZEN advances equal one-shot materialization when flip-free") {
    val corpus = docsDf(
      1L -> "a b c d e f g h",
      2L -> "totally unrelated content sits here quietly")
    val b1 = docsDf(101L -> "j k l m n o p q")
    val b2 = docsDf(201L -> "j k l m n o p r") // near-dup of B1's doc
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    val r1 = PairIndex.advanceDocIndex(spark, idx, b1, "doc_id", "text",
      frozenCaps = true)
    val before1 = snapshot(r1.idx)
    val r2 = PairIndex.advanceDocIndex(spark, r1.idx, b2, "doc_id", "text",
      frozenCaps = true)
    for (r <- Seq(r1, r2)) assert(r.evicted === 0 && r.affectedOld === 0)
    assertInputIntact(before, r1)
    assertInputIntact(before1, r2)
    // advance 2 saw B1's appended postings AND df rows
    val pairKeys = spark.table(r2.idx.pairsTable)
      .select("doc_id1", "doc_id2").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairKeys.contains((101L, 201L)))
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(b1).unionByName(b2), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r2.idx, scratch)
    Seq(idx, r1.idx, r2.idx, scratch).foreach(PairIndex.dropDocIndex(spark, _))
  }

  test("autoBuckets floors small inputs at the shuffle-partition count, caps at 4096") {
    // tiny real table → the session's shuffle-partition count
    val docs = Tables.documents(spark, sfDir)
    assert(PairIndex.autoBuckets(docs) ===
      spark.sessionState.conf.defaultNumShufflePartitions)
    val key = "spark.sql.shuffle.partitions"
    val initKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prev = spark.conf.get(key)
    val prevInit = spark.conf.getOption(initKey)
    spark.conf.set(key, "8")
    try {
      assert(PairIndex.autoBuckets(docs) === 8)
      // graft.Session scales AQE's initial partition count with the
      // input size; the floor must stay spark.sql.shuffle.partitions
      spark.conf.set(initKey, "64")
      assert(spark.sessionState.conf.numShufflePartitions === 64)
      assert(PairIndex.autoBuckets(docs) === 8)
    } finally {
      spark.conf.set(key, prev)
      prevInit.fold(spark.conf.unset(initKey))(spark.conf.set(initKey, _))
    }
    // range() carries an exact 8-bytes/row size estimate with no data
    // materialized: 2^37 rows ≈ 1 TiB → target count far past the cap
    assert(PairIndex.autoBuckets(spark.range(1L << 37).toDF("x")) === 4096)
    // mid-scale: ~32 GiB at the 128 MiB target → 256 buckets
    assert(PairIndex.autoBuckets(spark.range(1L << 32).toDF("x")) === 256)
  }

  test("bucket count is layout, not result: consumers and an append agree at 1/4/32") {
    // autoBuckets follows the session's shuffle-partition count, so the
    // same corpus is bucketed differently on different machines; what
    // the index answers must not follow it
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
    val docs = Tables.documents(spark, sfDir)
    val byBuckets = Seq(1, 4, 32).map(n => n -> PairIndex.materializeDocIndex(
      docs, "doc_id", "text", numBuckets = n)).toMap
    val curated = byBuckets.map { case (n, i) =>
      n -> rows(PairIndex.curateFromIndex(spark, i, "doc_id", "text")) }
    val clusters = byBuckets.map { case (n, i) =>
      n -> rows(PairIndex.clustersFromIndex(spark, i)) }
    assert(curated(1).nonEmpty && clusters(1).nonEmpty)
    for (n <- Seq(4, 32)) {
      assert(curated(n) === curated(1), s"curateFromIndex at $n buckets vs 1")
      assert(clusters(n) === clusters(1), s"clustersFromIndex at $n buckets vs 1")
    }
    byBuckets.values.foreach(PairIndex.dropDocIndex(spark, _))
    // the advance family's shape: a 63/64 base, advanced by the rest
    val base = docs.filter(pmod(col("doc_id"), lit(64)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(64)) === 0)
    val advanced = Seq(4, 32).map { n =>
      val in = PairIndex.materializeDocIndex(base, "doc_id", "text",
        numBuckets = n)
      val before = snapshot(in)
      val r = PairIndex.advanceDocIndex(spark, in,
        batch, "doc_id", "text", economyGuard = Double.PositiveInfinity)
      assert(r.evicted === 0 && r.affectedOld === 0,
        s"expected the pure-append path at $n buckets")
      assertInputIntact(before, r)
      PairIndex.dropDocIndex(spark, in)
      r
    }
    val Seq(a4, a32) = advanced
    assert((a4.newDocs, a4.evicted, a4.affectedOld) ===
      (a32.newDocs, a32.evicted, a32.affectedOld))
    assertTablesEqual(a4.idx, a32.idx)
    advanced.foreach(r => PairIndex.dropDocIndex(spark, r.idx))
  }

  test("keepLatest retains one grace generation, drops at the second supersede") {
    // round-14 ADVICE: keepLatest runs at query-CONSTRUCTION time, so
    // dropping the immediately-previous generation raced a re-entrant
    // invocation still reading it — the ring keeps gen_{k-1} live and
    // drops gen_{k-2}, making a single in-flight overlap safe
    val docs = Tables.documents(spark, sfDir)
    val g1 = PairIndex.materializeDocIndex(docs, "doc_id", "text", numBuckets = 4)
    PairIndex.keepLatest(spark, "spec-key", g1)
    assert(spark.catalog.tableExists(g1.survivorsTable))
    val g2 = PairIndex.materializeDocIndex(docs, "doc_id", "text", numBuckets = 4)
    PairIndex.keepLatest(spark, "spec-key", g2)
    // generation 1 is the GRACE generation — still live for a
    // concurrent reader that registered g2 while g1 was being consumed
    assert(spark.catalog.tableExists(g1.survivorsTable))
    assert(spark.catalog.tableExists(g2.survivorsTable))
    val g3 = PairIndex.materializeDocIndex(docs, "doc_id", "text", numBuckets = 4)
    PairIndex.keepLatest(spark, "spec-key", g3)
    // second supersede: generation 1 dropped, 2 (grace) and 3 live
    assert(!spark.catalog.tableExists(g1.survivorsTable))
    assert(!spark.catalog.tableExists(g1.pairsTable))
    assert(spark.catalog.tableExists(g2.survivorsTable))
    assert(spark.catalog.tableExists(g3.survivorsTable))
    // flush ends the session at <=1 live generation per key
    PairIndex.flushKeepLatest(spark)
    assert(!spark.catalog.tableExists(g2.survivorsTable))
    assert(spark.catalog.tableExists(g3.survivorsTable))
    assert(spark.table(g3.pairsTable).count() >= 0)
    PairIndex.keepLatest(spark, "spec-key", Seq.empty)
    PairIndex.keepLatest(spark, "spec-key", Seq.empty)
    assert(!spark.catalog.tableExists(g3.survivorsTable))
  }

  test("keepLatest never drops a table a retained generation reuses") {
    val docs = Tables.documents(spark, sfDir)
    val g1 = PairIndex.materializeDocIndex(docs, "doc_id", "text", numBuckets = 4)
    PairIndex.keepLatest(spark, "reuse-key", g1)
    // a partial-rewrite advance REUSES the survivors table: register a
    // "generation 2" sharing g1's survivors, then a fresh generation 3
    // — the shared survivors table must survive g1's eviction
    val g2 = g1.copy(pairsTable = PairIndex.freshName(PairIndex.PairsBase))
    spark.table(g1.pairsTable).write.saveAsTable(g2.pairsTable)
    PairIndex.keepLatest(spark, "reuse-key", g2)
    val g3 = PairIndex.materializeDocIndex(docs, "doc_id", "text", numBuckets = 4)
    PairIndex.keepLatest(spark, "reuse-key", g3)
    assert(spark.catalog.tableExists(g2.survivorsTable)) // shared with g1
    assert(!spark.catalog.tableExists(g1.pairsTable))    // g1-only: dropped
    PairIndex.flushKeepLatest(spark)
    PairIndex.keepLatest(spark, "reuse-key", Seq.empty)
    PairIndex.keepLatest(spark, "reuse-key", Seq.empty)
  }

  test("sweepStale treats an unparseable pid tag as stale instead of crashing") {
    // ADVICE round-14: a >19-digit pid-like tag overflowed Long and the
    // NumberFormatException killed every registered query that swept
    val weird = "graft_pair_survivors_p99999999999999999999_g1"
    spark.range(3).toDF("x").write.mode("overwrite").saveAsTable(weird)
    PairIndex.sweepStale(spark) // must not throw
    assert(!spark.catalog.tableExists(weird))
  }

  test("liveOwner: own pid is live; a dead or overflowing pid tag is stale") {
    // the one owner-tag parser behind both sweepStale and
    // LocalCatalog.reset's concurrent-JVM guard
    val self = ProcessHandle.current().pid()
    assert(LocalCatalog.liveOwner(s"graft_pair_index_p${self}_g7") === Some(self))
    // a pid far past the kernel pid ceiling is never a live process
    assert(LocalCatalog.liveOwner("graft_pair_index_p999999999_g1") === None)
    assert(LocalCatalog.liveOwner(
      "graft_pair_index_p99999999999999999999_g1") === None)
  }

  test("autoBuckets falls back to the floor on unknown-stats inputs") {
    // a LogicalRDD (createDataFrame over an RDD) reports Catalyst's
    // defaultSizeInBytes sentinel, not a real estimate — trusting it
    // clamped tiny data to 4096 buckets (ADVICE round-14)
    import org.apache.spark.sql.types._
    val rdd = spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L)))
    val df = spark.createDataFrame(rdd, StructType(Seq(StructField("x", LongType))))
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes))
    assert(PairIndex.autoBuckets(df) ===
      spark.sessionState.conf.defaultNumShufflePartitions)
  }

  test("autoBuckets per-bucket target is conf-tunable") {
    val docs = Tables.documents(spark, sfDir)
    val floor = spark.sessionState.conf.defaultNumShufflePartitions
    val dflt = PairIndex.autoBuckets(docs)
    assert(dflt === floor) // tiny table at the 128 MB default target
    spark.conf.set("spark.graft.autoBuckets.targetBytes", "64")
    try {
      val tuned = PairIndex.autoBuckets(docs)
      assert(tuned > floor, s"expected a 64-byte target to beat the floor, got $tuned")
    } finally spark.conf.unset("spark.graft.autoBuckets.targetBytes")
  }

  test("guard fallback re-derives the bucket count from the combined survivors") {
    // round-14, VERDICT item 3: the fallback replaces ALL four tables,
    // so an index born small must escape its birth bucket count there.
    // A tiny conf target makes the combined survivors exceed the floor.
    val corpus = docsDf(
      1L -> "a b c d e f g h",
      2L -> "totally unrelated content sits here quietly")
    val batch = docsDf(
      101L -> "a b c d e f g y",
      102L -> "m n o p q r s t")
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      numBuckets = 4)
    val before = snapshot(idx)
    spark.conf.set("spark.graft.autoBuckets.targetBytes", "8")
    val r =
      try PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
        economyGuard = 0.0) // force the fallback
      finally spark.conf.unset("spark.graft.autoBuckets.targetBytes")
    assertInputIntact(before, r)
    val props = spark.sql(s"SHOW TBLPROPERTIES `${r.idx.pairsTable}`")
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val stamped = props("graft.numBuckets").toInt
    assert(stamped > 4, s"fallback kept the birth bucket count: $stamped")
    // the physical table really carries the re-derived bucket spec, and
    // all four artifacts share it (the co-location contract)
    def bucketsOf(t: String): String = describe(t).getOrElse("Num Buckets", "?")
    assert(bucketsOf(r.idx.pairsTable) === stamped.toString)
    assert(bucketsOf(r.idx.survivorsTable) === stamped.toString)
    assert(bucketsOf(r.idx.postingsTable) === stamped.toString)
    assert(bucketsOf(r.idx.dfTable) === stamped.toString)
    // results stay row-identical to a from-scratch materialization
    val scratch = PairIndex.materializeDocIndex(
      corpus.unionByName(batch), "doc_id", "text",
      numBuckets = 4)
    assertTablesEqual(r.idx, scratch)
    // and the grown index stays consumable with zero exchanges
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val anti = spark.table(r.idx.survivorsTable)
        .join(PairIndex.droplist(spark, r.idx, "doc_id"), Seq("doc_id"), "left_anti")
      val plan = anti.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free consumer:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
    PairIndex.dropDocIndex(spark, scratch)
  }

  test("assertNoCapFlips turns a flip under frozen caps into an attributable failure") {
    // the d32 gate's precondition (ADVICE round-14): a frozen advance
    // pinned to the exact oracle must fail LOUDLY when the batch flips
    // a cap status, instead of an anonymous hash mismatch downstream
    val corpus = docsDf(
      1L -> "p q r s t u",
      2L -> "p q r s t v")
    val batch = docsDf(101L -> "p q r z1 z2 z3") // pushes "p q r" over cap 2
    val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
      threshold = 0.6, maxDocFreq = 2, numBuckets = 4)
    val e = intercept[IllegalStateException] {
      PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
        frozenCaps = true, assertNoCapFlips = true)
    }
    assert(e.getMessage.contains("cap-status flip"))
    // flip-free batch passes with the assertion on
    val before = snapshot(idx)
    val ok = PairIndex.advanceDocIndex(spark, idx,
      docsDf(102L -> "w1 w2 w3 w4 w5 w6"), "doc_id", "text",
      frozenCaps = true, assertNoCapFlips = true)
    assert(ok.evicted === 0 && ok.affectedOld === 0)
    assertInputIntact(before, ok)
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, ok.idx)
  }

  test("merge-probe fallback (batch above broadcast budget) stays row-identical") {
    val prev = spark.conf.getOption("spark.graft.advance.broadcastProbeMaxBatch")
    try {
      spark.conf.set("spark.graft.advance.broadcastProbeMaxBatch", "0")
      val corpus = docsDf(
        10L -> "alpha beta gamma delta epsilon zeta",
        11L -> "alpha beta gamma delta epsilon eta",
        12L -> "completely different text lives in this row")
      val batch = docsDf(
        5L -> "alpha beta gamma delta epsilon zeta", // evicts doc 10
        103L -> "m n o p q r s u")
      val idx0 = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
        numBuckets = 4)
      val r = PairIndex.advanceDocIndex(spark, idx0, batch, "doc_id", "text",
        economyGuard = Double.PositiveInfinity)
      assert(r.evicted === 1)
      val scratch = PairIndex.materializeDocIndex(
        corpus.unionByName(batch), "doc_id", "text",
        numBuckets = 4)
      assertTablesEqual(r.idx, scratch)
      PairIndex.dropDocIndex(spark, idx0)
      PairIndex.dropDocIndex(spark, r.idx)
      PairIndex.dropDocIndex(spark, scratch)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.advance.broadcastProbeMaxBatch", v)
        case None => spark.conf.unset("spark.graft.advance.broadcastProbeMaxBatch")
      }
    }
  }

  test("a phase that throws after clone_index leaves no table behind and the input intact") {
    // a stamp whose bucket count disagrees with the tables' physical
    // bucket spec: every phase up to the clone runs, and the first
    // bucketed append after it fails (Spark enforces the bucket spec).
    // The append fixture fails on its cloned pairs table; the cap-flip
    // fixture after rewriting a fresh pairs generation, on the cloned
    // postings table — both kinds of created table must be dropped.
    val appendCase = (
      docsDf(1L -> "a b c d e f g h", 2L -> "a b c d e f g x"),
      docsDf(101L -> "a b c d e f g y"), 0.6, 100)
    val capFlipCase = (
      docsDf(1L -> "p q r s t u", 2L -> "p q r s t v"),
      docsDf(101L -> "p q r z1 z2 z3"), 0.6, 2)
    def catalogTables(): Set[String] =
      spark.catalog.listTables().collect().map(_.name).toSet
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for ((corpus, batch, threshold, cap) <- Seq(appendCase, capFlipCase)) {
      val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
        threshold = threshold, maxDocFreq = cap, numBuckets = 4)
      spark.sql(s"ALTER TABLE `${idx.pairsTable}` SET TBLPROPERTIES('graft.numBuckets'='8')")
      val before = snapshot(idx)
      val tablesBefore = catalogTables()
      val persistedBefore = persisted()
      Telemetry.drain()
      intercept[org.apache.spark.sql.AnalysisException] {
        PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
          economyGuard = Double.PositiveInfinity)
      }
      assert(Telemetry.drain().contains("pairindex.advance_ms_clone_index"))
      assert(catalogTables() === tablesBefore)
      assert(persisted() -- persistedBefore === Set.empty, "a failed advance left persisted RDDs")
      before.foreach { case (t, rows) =>
        assert(spark.table(t).collect().toSet === rows, s"failed advance mutated $t")
      }
      PairIndex.dropDocIndex(spark, idx)
    }
  }

  test("an advance leaves no persisted RDD behind, on every write path") {
    // each checkpoint the advance makes is released when it returns, not
    // left for ContextCleaner: the cap-flip partial rewrite (its
    // corpus-scale frame released before the writes), the eviction full
    // rewrite, a frozen append and the guard fallback
    val capFlip = (docsDf(1L -> "p q r s t u", 2L -> "p q r s t v"),
      docsDf(101L -> "p q r z1 z2 z3"), 2, false, Double.PositiveInfinity)
    val eviction = (docsDf(10L -> "alpha beta gamma delta epsilon zeta",
      11L -> "alpha beta gamma delta epsilon eta"),
      docsDf(5L -> "alpha beta gamma delta epsilon zeta"), 100, false, Double.PositiveInfinity)
    val frozen = (docsDf(1L -> "a b c d e f g h", 2L -> "a b c d e f g x"),
      docsDf(101L -> "a b c d e f g y"), 100, true, Double.PositiveInfinity)
    val fallback = (frozen._1, frozen._2, 100, false, 0.0)
    for (((corpus, batch, cap, frozenCaps, guard), name) <-
           Seq(capFlip, eviction, frozen, fallback)
             .zip(Seq("cap flip", "eviction", "frozen", "fallback"))) {
      val idx = PairIndex.materializeDocIndex(corpus, "doc_id", "text",
        threshold = 0.6, maxDocFreq = cap, numBuckets = 4)
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      Telemetry.drain()
      val r = PairIndex.advanceDocIndex(spark, idx, batch, "doc_id", "text",
        frozenCaps = frozenCaps, economyGuard = guard)
      val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(left === Set.empty, s"$name advance left persisted RDDs $left")
      val tel = Telemetry.drain()
      assert(tel.get("pairindex.advance_fallback") === Some(if (guard == 0.0) 1L else 0L), name)
      PairIndex.dropDocIndex(spark, idx)
      PairIndex.dropDocIndex(spark, r.idx)
    }
  }

  test("every advance job carries its phase description; the caller's labels survive") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.GraftColumnBridge
    // the cap-flip partial rewrite runs nearly every phase: decide, cap
    // status, rescore, clone, rewrite and appends
    val idx = PairIndex.materializeDocIndex(
      docsDf(1L -> "p q r s t u", 2L -> "p q r s t v"), "doc_id", "text",
      threshold = 0.6, maxDocFreq = 2, numBuckets = 4)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.add((p.map(_.getProperty("spark.job.description")).orNull,
          p.map(_.getProperty("spark.jobGroup.id")).orNull))
      }
    }
    val sc = spark.sparkContext
    assert(GraftColumnBridge.waitListenerBusEmpty(spark, 30000))
    sc.setJobGroup("caller-group", "caller description")
    sc.addSparkListener(listener)
    val r =
      try PairIndex.advanceDocIndex(spark, idx, docsDf(101L -> "p q r z1 z2 z3"),
        "doc_id", "text", economyGuard = Double.PositiveInfinity)
      finally {
        assert(GraftColumnBridge.waitListenerBusEmpty(spark, 30000))
        sc.removeSparkListener(listener)
        assert(sc.getLocalProperty("spark.job.description") === "caller description")
        assert(sc.getLocalProperty("spark.jobGroup.id") === "caller-group")
        sc.clearJobGroup()
      }
    import scala.jdk.CollectionConverters._
    val seen = jobs.asScala.toSeq
    assert(seen.nonEmpty)
    seen.foreach { case (desc, group) =>
      assert(desc != null && desc.startsWith("advanceDocIndex:"), s"unlabelled job: $desc")
      assert(group === "caller-group")
    }
    val phases = seen.map(_._1.stripPrefix("advanceDocIndex:")).toSet
    Seq("ckpt_batch", "ckpt_shb", "ckpt_affected", "ckpt_dfcomb",
      "rewrite_pairs", "append_postings")
      .foreach(p => assert(phases.contains(p), s"no job labelled $p in $phases"))
    PairIndex.dropDocIndex(spark, idx)
    PairIndex.dropDocIndex(spark, r.idx)
  }

  test("d31, d32 and d39 advance the shared base fixture without changing it") {
    // the suite's sharing contract (StandingFixtures): all three
    // registered advance queries consume ONE 63/64 base index, so none
    // may write it — same tables before and after, same row counts,
    // same data files
    val base = graft.queries.StandingFixtures.baseDocIndex(spark, sfDir)
    def state(i: PairIndex.DocIndex) = i.tables.map(t =>
      (t, spark.table(t).count(), dataFiles(t).keySet))
    val before = state(base)
    for (q <- Seq("d31_pair_index_advance", "d32_frozen_cap_advance", "d39_guarded_advance"))
      assert(graft.queries.Registry.queries(q)(spark, sfDir).collect().nonEmpty, q)
    val after = graft.queries.StandingFixtures.baseDocIndex(spark, sfDir)
    assert(after === base)
    assert(state(after) === before)
  }
}
