package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every main runs under. It reads no
  * environment variable: callers pass the core count and the input
  * directory, and may add settings of their own to the returned
  * builder before `getOrCreate()`. */
object Session {

  /** `local[cpus]` under the Bench policy, with the AQE initial
    * partition count scaled to the bytes under `dataDir`. */
  def builder(cpus: Int, dataDir: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions(cpus, dirBytes(dataDir)).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // Broadcast policy: static auto-broadcasts OFF (threshold -1) so
      // Catalyst can never commit to a broadcast from a pre-execution
      // size GUESS — the class of bug that killed d07 at sf3 (post-agg
      // estimate shrank below the threshold, real size was 10 GiB, AQE
      // cannot demote a static broadcast). Instead AQE upgrades
      // sort-merge joins to broadcast at RUNTIME from real materialized
      // stage sizes (adaptive threshold 8m), which recovers the
      // small-scale broadcast wins cliff-free: a side that outgrows the
      // threshold simply stays sort-merge. Explicit broadcast()/merge
      // hints still win over both knobs.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Generated-class cache sized to the suite: the default
      // spark.sql.codegen.cache.maxEntries=100 holds fewer codegen units
      // than ONE pass over the 103-query suite produces, so a
      // multi-pass run re-Janino-compiles and re-JITs every
      // WholeStageCodegen/expression class each pass — measured as
      // monotonically-declining window totals (194.7/158.3/132.1 s)
      // whose medians price compilation, not computation. 4096 entries
      // keeps each distinct generated class compiled once per session;
      // the same setting is the production posture for any multi-query
      // service JVM (the cache is LRU-bounded either way).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Shuffle-scratch hygiene for long multi-query sessions: shuffle
      // files are only deleted when ContextCleaner GCs their stage
      // references, and the default periodic-GC interval (30 min) lets
      // a 70-query decade run ACCUMULATE every query's spill on disk —
      // measured at sf30, one query's retained shuffle files reached
      // 33 GiB and the third decade died on ENOSPC, not on memory or
      // plan shape. A 2-minute periodic GC bounds scratch at roughly
      // the working set of the current query; same reasoning applies
      // to long-lived sessions on real clusters (executor local disks
      // fill with dead shuffle files between jobs).
      .config("spark.cleaner.periodicGC.interval", "2min")

  /** AQE's initial shuffle partition count for `inputBytes` of input:
    * spark.sql.shuffle.partitions stays = cpus (the pinned floor), but
    * every shuffle starts at an input-scaled count and coalesces down to
    * the 64 MB advisory size at runtime. The count assumes up to ~8×
    * on-wire expansion of the compressed parquet input (shingle/pair
    * explodes are the shuffle-heavy stages), clamped to [cpus, 1024] —
    * at sf0.1 this IS cpus; at sf10 the multi-hundred-million row sorts
    * start at ~185 partitions rather than 32. */
  def initialPartitions(cpus: Int, inputBytes: Long): Int =
    math.min(1024L, math.max(cpus.toLong, inputBytes * 8 / (64L << 20))).toInt

  private def dirBytes(dir: String): Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally walk.close()
  }
}
