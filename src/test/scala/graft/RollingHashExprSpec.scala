package graft

import graft.operators.TextAnalysis
import graft.plans.{GraftFunctions, GraftHash}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen expression must be indistinguishable from the
  * declarative fold (and from the DuckDB oracle, which d09 covers). */
class RollingHashExprSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("native == declarative on the real document corpus") {
    GraftFunctions.register(spark)
    val diff = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(
        TextAnalysis.rollingHash(col("text")).as("a"),
        expr("graft_rolling_hash(text)").as("b"))
      .filter(col("a") =!= col("b"))
      .count()
    assert(diff === 0L)
  }

  test("edge cases: empty string, single char, null propagates") {
    GraftFunctions.register(spark)
    val rows = Seq(Some(""), Some("a"), None).toDF("t")
      .select(expr("graft_rolling_hash(t)"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(rows.toSeq === Seq(Some(0L), Some(97L), None))
  }

  test("direct helper matches the modular fold definition") {
    assert(GraftHash.rollingHash(UTF8String.fromString("ab")) ===
      (97L * 31 + 98) % 1000000007L)
  }

  test("non-BMP input: both forms fold full codepoints (equivalence domain = all Unicode)") {
    GraftFunctions.register(spark)
    // 🎼 (U+1D11E, musical G clef) is a supplementary character: one
    // codepoint, two UTF-16 code units. The native expression folds the
    // codepoint (0x1D11E = 119070) — and so does the declarative twin,
    // because Spark 4's split(text, "") yields codepoint-wise pieces
    // and ascii() returns the first codepoint (not a UTF-16 unit or
    // byte). DuckDB's ascii() is codepoint-wise too, so all three
    // agree on the full Unicode domain, not just BMP/ASCII.
    val clef = new String(Character.toChars(0x1D11E))
    val docs = Seq(s"a${clef}b", "plain ascii", clef).toDF("t")
    val expected = ((97L * 31 + 0x1D11E) * 31 + 98) % 1000000007L
    val rows = docs.select(
      expr("graft_rolling_hash(t)").as("native"),
      TextAnalysis.rollingHash(col("t")).as("decl"))
      .collect()
    assert(rows(0).getLong(0) === expected)
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("native dot product == declarative HOF fold on real embeddings") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = emb.select(col("vec_id").as("v1"), col("embedding").as("e1"))
      .filter(col("v1") < 30)
    val b = emb.select(col("vec_id").as("v2"), col("embedding").as("e2"))
      .filter(col("v2") < 30)
    val diff = a.join(b, col("v1") < col("v2"))
      .select(
        Similarity.dotE12(col("e1"), col("e2")).as("native"),
        DeclarativeTwins.dotE12Declarative(col("e1"), col("e2")).as("decl"))
      .filter(col("native") =!= col("decl"))
      .count()
    assert(diff === 0L)
  }

  test("native token count == size(split) on the corpus and all edge shapes") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
      .unionByName(Seq("", " ", "  ", "a", "a b", " a  b ", "héllo wörld x",
        "日本 語 テスト", "tab\there no-space").toDF("text"))
    val diff = docs.select(
        graft.operators.TextAnalysis.tokenCount(col("text")).as("native"),
        size(split(col("text"), " ")).cast("long").as("decl"))
      .filter(col("native") =!= col("decl"))
    assert(diff.isEmpty, diff.collect().mkString(","))
  }

  test("native stopword count == interpreted filter(split) on corpus and edges") {
    import org.apache.spark.sql.functions._
    val stops = graft.operators.TextAnalysis.DefaultStopwords
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
      .unionByName(Seq("", "the", "the the the", "theo a an andy", " the ",
        "of to in is it that", "THE The", "a  a", "x the\ty").toDF("text"))
    val diff = docs.select(
        graft.operators.TextAnalysis.stopwordCount(col("text")).as("native"),
        size(filter(split(col("text"), " "), t => t.isin(stops: _*)))
          .cast("long").as("decl"))
      .filter(col("native") =!= col("decl"))
    assert(diff.isEmpty, diff.collect().mkString(","))
  }

  test("native shingles == declarative k-gram transform on corpus and edges") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftColumnBridge
    val k = 3
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
      .unionByName(Seq("", "a", "a b", "a b c", "a b c d", "a  b c",
        " lead b c", "tail b c ", "héllo wörld déjà vu").toDF("text"))
    val native = GraftColumnBridge.column(graft.plans.ShinglesExpr(
      GraftColumnBridge.expression(col("text")), k))
    val toks = split(col("text"), " ")
    val n = size(toks)
    val decl = transform(
      when(n >= k, sequence(lit(1), n - (k - 1)))
        .otherwise(array().cast("array<int>")),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*))
    val diff = docs
      .select(col("text"), native.as("nv"), decl.as("dc"))
      .filter(col("nv") =!= col("dc"))
    assert(diff.isEmpty, diff.collect().take(3).mkString(","))
  }

  test("native chunker: coverage, overlap, tail clamp, short docs") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftColumnBridge
    def chunks(text: String, size: Int, stride: Int): Seq[String] =
      Seq(text).toDF("t").select(GraftColumnBridge.column(
        graft.plans.ChunksExpr(GraftColumnBridge.expression(col("t")), size, stride)))
        .collect().head.getSeq[String](0)
    val toks = (1 to 13).map(i => s"t$i")
    val text = toks.mkString(" ")
    val got = chunks(text, 5, 4)
    // windows: [0,5) [4,9) [8,13) — 1 + ceil((13-5)/4) = 3 chunks
    assert(got === Seq(toks.slice(0, 5), toks.slice(4, 9), toks.slice(8, 13))
      .map(_.mkString(" ")))
    // every token appears in at least one chunk, in order
    assert(got.flatMap(_.split(" ")).distinct.sorted === toks.sorted)
    // short doc: one chunk, verbatim
    assert(chunks("a b", 5, 4) === Seq("a b"))
    assert(chunks("", 5, 4) === Seq(""))
    // stride == size: disjoint cover
    assert(chunks(text, 4, 4) ===
      Seq(toks.slice(0, 4), toks.slice(4, 8), toks.slice(8, 12), toks.slice(12, 13))
        .map(_.mkString(" ")))
  }

  test("all five native functions resolve from SQL via GraftFunctions") {
    graft.plans.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_rolling_hash('ab') AS h,
        |  graft_token_count('a b c') AS tc,
        |  graft_stopword_count('the a x') AS sw,
        |  graft_shingles('a b c d', 3) AS sh,
        |  graft_chunks('a b c d', 2, 2) AS ch,
        |  graft_dot_e12(CAST(array(1.0) AS ARRAY<FLOAT>),
        |                CAST(array(2.0) AS ARRAY<FLOAT>)) AS dot
        |""".stripMargin).collect().head
    assert(r.getLong(1) === 3L)
    assert(r.getLong(2) === 2L)
    assert(r.getSeq[String](3) === Seq("a b c", "b c d"))
    assert(r.getSeq[String](4) === Seq("a b", "c d"))
    assert(r.getLong(5) === 2000000000000L)
  }
}
