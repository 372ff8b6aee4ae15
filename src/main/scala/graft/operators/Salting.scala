package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-skew mitigation for shuffle joins (SURVEY.md §4.3 / builder
  * prompt). AQE's skew-join handles sort-merge skew at runtime; salting
  * is the plan-level tool when one side has pathological hot keys (a
  * handful of keys holding a large fraction of rows — the classic
  * power-law fact table).
  *
  * Mechanics: the skewed side gets a per-row salt in [0, S); the small
  * side is replicated S ways; the join key becomes (key, salt), which
  * splits each hot key's rows across S reducers. Join RESULTS are
  * identical to the unsalted join (verified by LayoutSaltingAsOfSpec
  * "salted join returns exactly the unsalted result under skew"); only
  * the partitioning changes — every possible salt value has a replica
  * on the small side, so the per-row salt choice affects placement,
  * never membership.
  *
  * The salt MUST be deterministic per row: a nondeterministic salt
  * (rand(), monotonically_increasing_id()) feeding a shuffle join key
  * is the SPARK-23207 class of bug — on a real cluster, a map task
  * recomputed after a fetch failure re-salts its rows differently from
  * the copies reducers already fetched, silently losing or duplicating
  * rows. So the salt is a hash of the large side's HASHABLE columns
  * (xxhash64 rejects MapType, so map-bearing columns are excluded —
  * the salt only needs per-row dispersion, not every byte): stable
  * under recomputation by construction. Rows identical on every
  * hashable column share a salt and therefore a reducer — acceptable,
  * because skew mitigation targets hot KEYS (many distinct rows, one
  * key), not a corpus of byte-identical rows (which exact dedup should
  * have removed upstream, and which no row-content-based salt can
  * separate).
  */
object Salting {

  import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

  /** xxhash64 fails analysis on MapType anywhere in the type (no legacy
    * flag assumed) — drop such columns from the salt input. */
  private def hashable(dt: DataType): Boolean = dt match {
    case _: MapType => false
    case a: ArrayType => hashable(a.elementType)
    case s: StructType => s.fields.forall(f => hashable(f.dataType))
    case _ => true
  }

  /** Inner equi-join with the left (large/skewed) side salted S ways. */
  def saltedJoin(large: DataFrame, small: DataFrame,
                 key: String, salt: Int): DataFrame = {
    // the equi-join key itself is always hashable (maps are not
    // equatable), so this list is never empty
    val saltCols = large.schema.fields
      .filter(f => hashable(f.dataType)).map(f => col(f.name)).toSeq
    val saltedLarge = large.withColumn(
      "__salt",
      pmod(xxhash64(saltCols: _*), lit(salt.toLong))
        .cast("int"))
    val repeatedSmall = small.withColumn(
      "__salt", explode(sequence(lit(0), lit(salt - 1))))
    saltedLarge.join(repeatedSmall, Seq(key, "__salt"))
      .drop("__salt")
  }
}
