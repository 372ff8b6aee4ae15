package graft.etl

import org.apache.spark.sql.types._

/** Explicit source and curated schemas (SURVEY.md §1.3 — never
  * `inferSchema`: deterministic, one-pass reads).
  *
  * `imdbId` is read as STRING: the file zero-pads it (`0114709`) and the
  * reference reformats as `tt%07d` (etl1.py:86); reading as int would
  * lose the padding information (recoverable, but string is faithful).
  * Ratings fields are nullable with PERMISSIVE parsing so malformed
  * values become nulls — the Spark equivalent of pandas
  * `to_numeric(errors='coerce')` (etl1.py:358-360).
  */
object Schemas {

  val movies: StructType = StructType(Seq(
    StructField("movieId", IntegerType, nullable = true),
    StructField("title", StringType, nullable = true),
    StructField("genres", StringType, nullable = true)))

  val ratings: StructType = StructType(Seq(
    StructField("userId", IntegerType, nullable = true),
    StructField("movieId", IntegerType, nullable = true),
    StructField("rating", DoubleType, nullable = true),
    StructField("timestamp", LongType, nullable = true)))

  val links: StructType = StructType(Seq(
    StructField("movieId", IntegerType, nullable = true),
    StructField("imdbId", StringType, nullable = true),
    StructField("tmdbId", StringType, nullable = true)))
}

/** Curated-layer rows (schema.sql:8-46). Decimal columns are kept as
  * Double in flight (pandas float64 parity) and cast to Decimal at the
  * storage boundary (SURVEY.md §1.2). */
case class Movie(
    movie_id: Int,
    title: String,
    release_year: Option[Int],
    imdb_id: Option[String],
    director: Option[String],
    plot: Option[String],
    box_office: Option[String],
    imdb_rating: Option[Double],
    runtime: Option[String])
