package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mirror of the driver's t1 smoke: entry() on sf0.001 returns rows. */
class EntrySmokeSpec extends AnyFunSuite with SparkTestSession {
  test("entry() produces rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(SparkEntry.queries.nonEmpty)
    // every oracle key corresponds to a registered query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the Bench/Verify subset list trims names and rejects unknown ones") {
    import graft.queries.Registry.subset
    assert(subset(" q01_pricing_summary, d31_pair_index_advance ,,", "X") ===
      Set("q01_pricing_summary", "d31_pair_index_advance"))
    val e = intercept[IllegalArgumentException](
      subset("q01_pricing_summary,q01_pricing_sumary", "SPARK_GRAFT_BENCH_ONLY"))
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_ONLY names unknown queries: q01_pricing_sumary"))
  }
}
