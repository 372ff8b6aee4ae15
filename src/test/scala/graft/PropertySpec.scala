package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based coverage (SURVEY.md §5.2.2). Deterministic: samples
  * are drawn from seeded ScalaCheck generators and pushed through Spark
  * in one batch per property. */
class PropertySpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, gen).pureApply(Gen.Parameters.default, Seed(42L))

  private val word: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(l => Gen.stringOfN(l, Gen.alphaLowerChar))

  /** Paren-free, comma-free multi-word titles. */
  private val plainTitle: Gen[String] =
    Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  test("F1 round-trip: extractYear(title + ' (YYYY)') recovers year and title") {
    val cases = samples(for {
      t <- plainTitle
      y <- Gen.chooseNum(1900, 2099)
    } yield (t, y), 200)
    val out = cases.toDF("t", "y")
      .select(
        col("t"), col("y"),
        TextFunctions.extractYear(concat(col("t"), lit(" ("), col("y"), lit(")"))).as("ey"),
        TextFunctions.stripYear(concat(col("t"), lit(" ("), col("y"), lit(")"))).as("et"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(2) === r.getInt(1))
      assert(r.getString(3) === r.getString(0))
    }
  }

  test("F2 idempotence on titles with optional article and paren noise") {
    val gen = for {
      t <- plainTitle
      article <- Gen.oneOf("", ", The", ", A", ", Les")
      paren <- Gen.oneOf("", " (alt title)", " (1995)")
    } yield s"$t$article$paren"
    val out = samples(gen, 300).toDF("t")
      .select(TextFunctions.normalizeTitle(col("t")).as("n1"))
      .select(col("n1"), TextFunctions.normalizeTitle(col("n1")).as("n2"))
      .collect()
    out.foreach(r => assert(r.getString(0) === r.getString(1), r.getString(0)))
  }

  test("A1-A3 invariants: junction count == Σ per-movie genre counts; ids dense") {
    val genreGen = Gen.someOf(Seq("Action", "Comedy", "Drama", "IMAX",
      "(no genres listed)", "Sci-Fi")).map(_.toList)
    val cases = samples(genreGen, 150).zipWithIndex
      .map { case (gs, id) => (id, if (gs.isEmpty) "(no genres listed)" else gs.mkString("|")) }
    val movies = cases.toDF("movieId", "genres")
    val dim = graft.etl.Transform.genreDim(movies)
    val junction = graft.etl.Transform.movieGenres(movies, dim)
    val expectedJunction = cases.map(_._2.split("\\|").count(_.trim.nonEmpty)).sum
    assert(junction.count() === expectedJunction.toLong)
    val ids = dim.orderBy("genre_id").collect().map(_.getInt(0)).toSeq
    assert(ids === (1 to ids.length)) // dense 1..N
    // every junction genre_id exists in the dim
    assert(junction.join(dim, Seq("genre_id"), "left_anti").count() === 0L)
  }

  test("dedup invariant: dropExactDuplicates is idempotent and minimal") {
    val docs = samples(plainTitle, 100).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = graft.operators.Dedup.dropExactDuplicates(docs, "doc_id", "text")
    val twice = graft.operators.Dedup.dropExactDuplicates(once, "doc_id", "text")
    assert(once.count() === twice.count())
    assert(once.select(graft.operators.TextAnalysis.textHash(col("text"))).distinct().count()
      === once.count())
  }

  test("curation invariant: result is independent of input partitioning/order") {
    // generated docs with planted exact dups; the curated doc_id set and
    // split assignment must be identical however the input is sharded —
    // the no-RNG / hash-everything design under test
    val base = samples(plainTitle, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, s"the $t and it is that") } // pass lang gate
    val withDups = base ++ base.take(15).map { case (id, t) => (id + 1000L, t) }
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.CorpusPipeline.curate(df, minQuality = 0.05)
        .select("doc_id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    val a = run(withDups.toDF("doc_id", "text").repartition(1))
    val b = run(withDups.toDF("doc_id", "text").repartition(17).sortWithinPartitions(col("text")))
    assert(a === b)
    assert(a.nonEmpty)
    // planted exact dups never survive (their originals have smaller ids)
    assert(a.forall(_._1 < 1000L))
  }

  test("incremental dedup invariant: result independent of partitioning") {
    // the incremental pass inherits the no-RNG design: survivors of a
    // batch against a corpus must be the same set however either side
    // is sharded or ordered
    val corpusRows = samples(plainTitle, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, s"the corpus $t entry") }
    val batchRows = samples(plainTitle, 40).zipWithIndex
      .map { case (t, i) => (i + 5000L, s"the batch $t entry") } ++
      corpusRows.take(10).map { case (id, t) => (id + 9000L, t) } // planted corpus dups
    def run(cp: Int, bp: Int) = graft.operators.Dedup.dedupIncrement(
        corpusRows.toDF("doc_id", "text").repartition(cp),
        batchRows.toDF("doc_id", "text").repartition(bp),
        "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val a = run(1, 1)
    val b = run(13, 7)
    assert(a === b)
    assert(a.nonEmpty)
    // planted exact copies of corpus docs never survive
    assert(a.forall(_ < 9000L))
  }

  test("KMV invariant: estimate is exact below k for arbitrary inputs") {
    val kmv = udaf(new graft.operators.KmvDistinct(256))
    val values = samples(Gen.chooseNum(0L, (1L << 32) - 1), 400)
    assert(values.distinct.size < 256) // seeded gen stays in the exact regime
    val est = values.toDF("v").agg(kmv(col("v"))).head().getDouble(0)
    assert(est === values.distinct.size.toDouble)
  }

  test("roundRatio4 == exact BigDecimal half-up rounding for random rationals") {
    val cases = samples(for {
      q <- Gen.chooseNum(1L, 2000000L)
      p <- Gen.chooseNum(0L, 2000000L)
    } yield (p, q), 500) ++
      // forced half-boundary cases: p/q = x.xxxx5 exactly
      List((18228L, 48000L), (1L, 160L), (3L, 8000L), (5L, 100000L))
    val out = cases.toDF("p", "q")
      .select(col("p"), col("q"),
        graft.functions.ExactNum.roundRatio4(col("p"), col("q")).as("r"))
      .collect()
    out.foreach { r =>
      val (p0, q0) = (r.getLong(0), r.getLong(1))
      val expect = BigDecimal(p0) / BigDecimal(q0)
      val exact = expect.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) === exact, s"p=$p0 q=$q0")
    }
  }

  test("native text kernels == declarative forms on random space-riddled strings") {
    import org.apache.spark.sql.GraftColumnBridge
    val spaceyChar = Gen.frequency(4 -> Gen.alphaLowerChar, 2 -> Gen.const(' '),
      1 -> Gen.const('t'), 1 -> Gen.oneOf('h', 'e'))
    val spacey: Gen[String] =
      Gen.chooseNum(0, 40).flatMap(l => Gen.stringOfN(l, spaceyChar))
    val rows = samples(spacey, 300)
    val stops = graft.operators.TextAnalysis.DefaultStopwords
    val df = rows.toDF("text")
    def native(k: Int) = GraftColumnBridge.column(graft.plans.ShinglesExpr(
      GraftColumnBridge.expression(col("text")), k))
    def decl(k: Int) = {
      val toks = split(col("text"), " ")
      val n = size(toks)
      transform(
        when(n >= k, sequence(lit(1), n - (k - 1)))
          .otherwise(array().cast("array<int>")),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*))
    }
    val diff = df.select(
        graft.operators.TextAnalysis.tokenCount(col("text")).as("tc_n"),
        size(split(col("text"), " ")).cast("long").as("tc_d"),
        graft.operators.TextAnalysis.stopwordCount(col("text")).as("sw_n"),
        size(filter(split(col("text"), " "), t => t.isin(stops: _*)))
          .cast("long").as("sw_d"),
        native(2).as("s2_n"), decl(2).as("s2_d"),
        native(3).as("s3_n"), decl(3).as("s3_d"))
      .filter(col("tc_n") =!= col("tc_d") || col("sw_n") =!= col("sw_d")
        || col("s2_n") =!= col("s2_d") || col("s3_n") =!= col("s3_d"))
    assert(diff.isEmpty, diff.collect().take(3).mkString("\n"))
    // top-shingle multiplicity: native hash-table scan vs a declarative
    // count-per-distinct-shingle maximum over the (proven-equal above)
    // native shingle array, materialized as an attribute first so the
    // HOF lambdas never re-evaluate the generator
    val ts = df.select(col("text"), native(2).as("s2"),
        graft.operators.TextAnalysis.topShingleCountCol(col("text"), 2)
          .as("ts_n"))
      .select(col("ts_n"),
        coalesce(
          array_max(transform(array_distinct(col("s2")),
            x => size(filter(col("s2"), y => y === x)).cast("long"))),
          lit(0L)).as("ts_d"))
      .filter(col("ts_n") =!= col("ts_d"))
    assert(ts.isEmpty, ts.collect().take(3).mkString("\n"))
  }

  test("native winnow == declarative winnow on random space-riddled strings") {
    import graft.operators.Dedup
    val spaceyChar = Gen.frequency(4 -> Gen.alphaLowerChar, 2 -> Gen.const(' '),
      1 -> Gen.const('t'), 1 -> Gen.oneOf('h', 'e'))
    val spacey: Gen[String] =
      Gen.chooseNum(0, 40).flatMap(l => Gen.stringOfN(l, spaceyChar))
    val df = samples(spacey, 200).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // (k, w) shapes: the registered default, a tighter window, and the
    // keep-every-hash degenerate w=1
    for ((k, w) <- Seq((3, 4), (2, 3), (1, 1))) {
      val native = Dedup.winnowFingerprints(df, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val decl = DeclarativeTwins.winnowFingerprintsDeclarative(df, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(native === decl, s"winnow mismatch at k=$k w=$w")
    }
  }

  test("connectedComponents == in-JVM union-find on random graphs") {
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 60L)
      b <- Gen.chooseNum(0L, 60L)
    } yield (a, b)
    // plus two 200-vertex paths that plain min-label propagation cannot
    // settle in few rounds: shuffled ids, and the minimum in the middle
    val ids = new scala.util.Random(11).shuffle((0L until 200L).toList)
    val middle = (0 until 200).map(i => if (i >= 100) 2L * (i - 100) else 2L * (100 - i) - 1)
    val edges = samples(Gen.chooseNum(5, 40).flatMap(Gen.listOfN(_, edgeGen)), 6) ++
      Seq(ids.zip(ids.tail), middle.zip(middle.tail).toList)
    edges.foreach { es =>
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = es.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      val got = graft.operators.Components
        .connectedComponents(es.toDF("a", "b").repartition(3), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect, s"edges: $es")
    }
  }

  test("Sessionize == in-JVM gap scan on random event streams") {
    val evGen = for {
      u <- Gen.chooseNum(1L, 5L)
      ts <- Gen.chooseNum(0L, 400L)
    } yield (u, ts)
    val streams = samples(Gen.chooseNum(5, 60).flatMap(Gen.listOfN(_, evGen)), 4)
    streams.foreach { evs0 =>
      val evs = evs0.zipWithIndex.map { case ((u, ts), i) => (u, ts, i.toLong) }
      val gap = 25L
      val expect = evs.groupBy(_._1).flatMap { case (_, g) =>
        val sorted = g.sortBy(e => (e._2, e._3))
        var seq = 0L; var prev = Long.MinValue
        sorted.map { case (_, ts, id) =>
          if (prev == Long.MinValue || ts - prev > gap) seq += 1
          prev = ts
          id -> seq
        }
      }
      val got = graft.operators.Sessionize.assign(
          evs.toDF("u", "ts", "id").repartition(3),
          col("u"), col("ts"), col("id"), gap)
        .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
      assert(got === expect, s"events: $evs")
    }
  }
}
