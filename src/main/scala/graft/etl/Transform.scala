package graft.etl

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's transform layer (SURVEY.md §2.2/§2.4: P1-P7, A1-A3,
  * F1-F8) as narrow, codegen-friendly DataFrame transforms. No UDFs;
  * the only shuffles are the tiny genre-dim distinct and its ≤20-row
  * window.
  */
object Transform {

  /** P1: derive release_year (F1) + clean_title (F2) from the raw title
    * (etl1.py:288-292). Keeps the raw title for diagnostics/misses log. */
  def transformMovies(raw: DataFrame): DataFrame =
    raw
      .withColumn("release_year", TextFunctions.extractYear(col("title")))
      .withColumn("clean_title", TextFunctions.normalizeTitle(col("title")))

  /** A1+A2: genre dimension — distinct trimmed genre strings, dense ids
    * 1..N assigned in sorted order, replicating MySQL AUTO_INCREMENT on
    * sorted insert (etl1.py:437-442). The sentinel `(no genres listed)`
    * is kept as a genre like any other (etl1.py:432 does not
    * special-case it). distinct() is the distributed part; the window
    * only ever sees ≤ #genres rows (size guard: [[graft.functions.DenseId]]).
    */
  def genreDim(movies: DataFrame): DataFrame =
    graft.functions.DenseId
      .assign(
        movies
          .select(explode(TextFunctions.splitGenres(col("genres"))).as("genre_name"))
          .distinct(),
        orderCol = "genre_name", idCol = "genre_id")
      .select(col("genre_id"), col("genre_name"))

  /** A3: movie→genre junction via explode + broadcast join on the dim —
    * the reference's in-memory genre_id_map dict (etl1.py:436-463) as a
    * join. */
  def movieGenres(movies: DataFrame, genreDim: DataFrame): DataFrame =
    movies
      .select(col("movieId").as("movie_id"),
        explode(TextFunctions.splitGenres(col("genres"))).as("genre_name"))
      .join(broadcast(genreDim), Seq("genre_name"))
      .select(col("movie_id"), col("genre_id"))

  /** P4+F5: ratings cleaning — PERMISSIVE read already coerced garbage
    * to null; drop rows null in any of (movieId, userId, rating)
    * (etl1.py:362-368). Removed count = caller diffs counts or uses an
    * Observation. */
  def cleanRatings(raw: DataFrame): DataFrame =
    raw
      .na.drop(Seq("movieId", "userId", "rating"))
      .select(
        col("movieId").as("movie_id"),
        col("userId").as("user_id"),
        col("rating"),
        col("timestamp"))

  /** P2: the six API columns pre-created as typed nulls (etl1.py:295-297)
    * for the un-enriched path. */
  def withApiPlaceholders(movies: DataFrame): DataFrame = {
    val stringCols = Seq("imdb_id", "director", "plot", "box_office", "runtime")
    val withStrings = stringCols.foldLeft(movies)((df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast("string")))
    if (withStrings.columns.contains("imdb_rating")) withStrings
    else withStrings.withColumn("imdb_rating", lit(null).cast("double"))
  }

  /** P3: final movies projection to the curated schema (etl1.py:392-406),
    * with the enriched API columns when present. */
  def curatedMovies(enriched: DataFrame): DataFrame = {
    val base = withApiPlaceholders(enriched)
      .withColumn("imdb_rating", col("imdb_rating").cast("double"))
    val out = Seq(
      col("movieId").as("movie_id"),
      col("clean_title").as("title"),
      col("release_year"),
      col("imdb_id"), col("director"), col("plot"),
      col("box_office"), col("imdb_rating"), col("runtime"))
    base.select(out: _*)
  }
}
