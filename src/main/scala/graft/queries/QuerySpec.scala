package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable unit of engine capability.
  *
  * @param run    DataFrame-DSL implementation; (session, sfDir) => result.
  * @param oracle equivalent ANSI SQL that DuckDB runs over the same parquet
  *               tables (registered by bare name, e.g. `lineitem`). None for
  *               ops not expressible in portable SQL (driver then records a
  *               weaker rows-only check).
  *
  * Cross-engine contract (driver hash-compares after sorting columns by
  * name): every computed column is aliased identically on both sides;
  * result sets are made deterministic (exact integer aggregates via
  * graft.functions.ExactNum, total ORDER BY wherever LIMIT appears).
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** All implemented queries, aggregated for SparkEntry. */
object Registry {
  def specs: Seq[QuerySpec] =
    Relational.specs ++ Functional.specs ++ Events.specs ++
      TextQueries.specs ++ VectorQueries.specs ++
      MultimodalQueries.specs ++ CanonicalTpch.specs
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap
  def oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The query names of a comma-separated subset list (the mains'
    * `SPARK_GRAFT_*_ONLY` values): trimmed, empties dropped. An unknown
    * name fails, naming `source` — a typo must not silently shrink a
    * run whose result still looks complete. */
  def subset(list: String, source: String): Set[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    require(unknown.isEmpty,
      s"$source names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }
}
