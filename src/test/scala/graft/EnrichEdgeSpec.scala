package graft

import graft.enrich.{Enrich, OmdbJson, OmdbRecord, StubEnrichmentClient}
import graft.etl.{Extract, Transform}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge coverage for the enrichment source (FIXTURES.md §D/§E) and the
  * coercion parity of the CSV extract. */
class EnrichEdgeSpec extends AnyFunSuite with SparkTestSession {

  test("OMDb JSON projection: found, Response=False, missing fields, N/A") {
    val found = OmdbJson.parse(
      """{"Response":"True","imdbID":"tt0114709","Director":"John Lasseter",
        |"Plot":"p","BoxOffice":"$373,554,033","imdbRating":"8.3","Runtime":"81 min"}""".stripMargin)
    assert(found === Some(OmdbRecord(Some("tt0114709"), Some("John Lasseter"),
      Some("p"), Some("$373,554,033"), Some("8.3"), Some("81 min"))))
    assert(OmdbJson.parse("""{"Response":"False","Error":"Movie not found!"}""") === None)
    val partial = OmdbJson.parse(
      """{"Response":"True","imdbID":"tt1","imdbRating":"N/A"}""").get
    assert(partial.director === None)
    assert(partial.imdbRating === Some("N/A")) // raw; cleaning "N/A" is a transform concern
  }

  test("F5 coercion parity: malformed ratings rows null out and are dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_edge")
    val csv = dir.resolve("ratings.csv")
    java.nio.file.Files.writeString(csv,
      """userId,movieId,rating,timestamp
        |1,10,4.5,828124615
        |notanum,11,3.0,828124616
        |2,notanum,2.0,828124617
        |3,12,bad,828124618
        |4,13,5.0,
        |""".stripMargin)
    val raw = Extract.ratings(spark, csv.toString)
    assert(raw.count() === 5L)
    val clean = Transform.cleanRatings(raw)
    // rows 2-4 have a null in a required column; row 5's empty timestamp
    // is allowed (nullable, etl1.py drops only movieId/userId/rating)
    assert(clean.count() === 2L)
    val ts = clean.filter(col("movie_id") === 13).head()
    assert(ts.isNullAt(ts.fieldIndex("timestamp")))
  }

  test("parallel enrichment partitions produce the same results as serial") {
    val stub = new StubEnrichmentClient(
      byTitleMap = (1 to 50).map(i => s"title $i" -> OmdbRecord(
        Some(f"tt$i%07d"), Some(s"dir$i"), None, None, Some("7.0"), None)).toMap)
    import spark.implicits._
    val movies = Transform.transformMovies(
      (1 to 60).map(i => (i, s"title $i", "Drama")).toDF("movieId", "title", "genres"))
    def run(single: Boolean) = Enrich.enrich(
      spark, movies, spark.emptyDataFrame.selectExpr("1 movieId", "'x' imdbId").limit(0),
      stub, cap = 60, singlePartition = single)
      .select("movieId", "imdb_id", "strategy")
      .collect().map(r => (r.getInt(0), Option(r.getString(1)), Option(r.getString(2)))).toSet
    assert(run(single = true) === run(single = false))
  }
}
