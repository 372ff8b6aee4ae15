package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** F1/F2/F3/F4 golden cases from FIXTURES.md §C/§D — the real MovieLens
  * hazards (en-dash year ranges, double parens, trailing articles,
  * UTF-8, zero-padded ids). */
class TextFunctionsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def yearAndNorm(title: String): (Option[Int], String) = {
    val row = Seq(title).toDF("title")
      .select(
        TextFunctions.extractYear(col("title")).as("y"),
        TextFunctions.normalizeTitle(col("title")).as("n"))
      .head()
    (Option(row.get(0)).map(_.asInstanceOf[Int]), row.getString(1))
  }

  test("F1: plain trailing year") {
    assert(yearAndNorm("Toy Story (1995)") === ((Some(1995), "Toy Story")))
  }

  test("F1: no year -> null, title unchanged") {
    assert(yearAndNorm("Babylon 5") === ((None, "Babylon 5")))
  }

  test("F1: en-dash year range must NOT parse") {
    val (y, n) = yearAndNorm("Death Note: Desu nôto (2006–2007)")
    assert(y === None)
    assert(n === "Death Note: Desu nôto") // F2 still drops the paren
  }

  test("F2: trailing article moves to front") {
    assert(yearAndNorm("American President, The (1995)")._2 ===
      "The American President")
  }

  test("F2: article + foreign paren (README.md:372)") {
    assert(yearAndNorm(
      "City of Lost Children, The (Cité des enfants perdus, La) (1995)")._2 ===
      "The City of Lost Children")
  }

  test("F2: foreign paren only (README.md:110)") {
    assert(yearAndNorm("Shanghai Triad (Yao a yao yao dao waipo qiao) (1995)")._2 ===
      "Shanghai Triad")
  }

  test("F2: French article, UTF-8 intact") {
    assert(yearAndNorm("Misérables, Les (1995)")._2 === "Les Misérables")
  }

  test("F2: embedded commas with article (README.md:369)") {
    assert(yearAndNorm("Adventures of Priscilla, Queen of the Desert, The (1994)")._2 ===
      "The Adventures of Priscilla, Queen of the Desert")
  }

  test("F2: idempotence on golden cases") {
    val cases = Seq("Toy Story (1995)", "American President, The (1995)",
      "Babylon 5", "Misérables, Les (1995)")
    val df = cases.toDF("t")
      .select(TextFunctions.normalizeTitle(col("t")).as("n1"))
      .select(col("n1"), TextFunctions.normalizeTitle(col("n1")).as("n2"))
    df.collect().foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("F3: imdb id pads to 7, never truncates 8 digits, null-safe") {
    val rows = Seq(Some("0114709"), Some("12345678"), None).toDF("id")
      .select(TextFunctions.formatImdbId(col("id")))
      .collect().map(r => Option(r.getString(0)))
    assert(rows.toSeq === Seq(Some("tt0114709"), Some("tt12345678"), None))
  }

  test("F4: pipe split trims and drops empties; sentinel kept verbatim") {
    val out = Seq("Adventure|Animation| |Comedy", "(no genres listed)")
      .toDF("g")
      .select(TextFunctions.splitGenres(col("g")).as("a"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) === Seq("Adventure", "Animation", "Comedy"))
    assert(out(1) === Seq("(no genres listed)"))
  }
}
