package graft

import org.apache.spark.sql.functions._

/** Hot-key skew fixture for the salted-join A/B (round-10 VERDICT item
  * 5): rewrites a benchdata events table so ~60% of rows carry ONE
  * event_type. GenScale's replication keeps the source's roughly-even
  * 5-type distribution, which never produces the pathological reducer
  * imbalance q32's salting exists for — this fixture does: a plain
  * shuffle join on event_type lands the majority of the table on a
  * single reducer, while the salted plan splits that key S ways.
  *
  * Deterministic (hash of event_id decides which rows flip), only the
  * events table is written — the q32 A/B reads nothing else.
  *
  * Usage: runMain graft.GenSkew [srcDir] [outDir]
  */
object GenSkew {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/repo/benchdata/sf1"
    val out = if (args.length > 1) args(1) else "/root/repo/benchdata/sf1_skew"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.builder(cpus, src).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // flip half of all rows to the hot type; the survivors keep their
    // original ~1/5 split, so the hot key ends near 50% + 10% = 60%
    val skewed = graft.sources.Tables.events(spark, src)
      .withColumn("event_type",
        when(pmod(xxhash64(col("event_id")), lit(2L)) === 0L, lit("click"))
          .otherwise(col("event_type")))
    skewed.repartition(32, col("event_id"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val dist = spark.read.parquet(s"$out/events.parquet")
      .groupBy("event_type").count().orderBy(desc("count"))
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"[genskew] $out type distribution: $dist")
    spark.stop()
  }
}
