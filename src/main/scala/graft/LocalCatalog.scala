package graft

/** Local-mode catalog hygiene for the benchmark/verify mains.
  *
  * The embedded Derby metastore never shrinks: repeated DDL (the
  * pair-index generation churn of d28-d32, times runs, times rounds)
  * bloats `metastore_db` until EVERY catalog operation takes seconds —
  * measured in round 12 as the same materialize costing 13.3 s against
  * a bloated metastore vs 4.2 s clean, inflating a full-suite bench
  * ~2× including queries that touch no catalog table at all. A real
  * cluster runs a served metastore where this is a DBA concern; in
  * local mode the correct lifecycle is: the warehouse and metastore
  * are SCRATCH, recreated per measurement session.
  *
  * `reset()` deletes `./metastore_db` and `./spark-warehouse` (cwd —
  * where local-mode Derby and the default warehouse land) BEFORE the
  * SparkSession exists. A main that must consume tables a previous JVM
  * materialized (the cross-JVM persisted-index pin) does not call it. */
object LocalCatalog {

  private val OwnerTag = "_p([0-9]+)_".r

  /** The pid in a generation name's `_p<pid>_` owner tag
    * (`PairIndex.freshName`) when that process is alive on this host.
    * None — the generation is stale — for a dead owner, a name without
    * a tag, or a tag that does not parse as a pid (a >19-digit run
    * overflowing Long): `PairIndex.sweepStale` runs at the top of every
    * registered query, so one weird directory name in a shared
    * warehouse must not take the whole suite down (round-14, ADVICE). */
  private[graft] def liveOwner(name: String): Option[Long] =
    OwnerTag.findFirstMatchIn(name)
      .flatMap(m => scala.util.Try(m.group(1).toLong).toOption)
      .filter(pid => ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false))

  /** A live JVM other than this one that owns a `graft_*` generation in
    * the cwd warehouse — the signal that a CONCURRENT bench/verify JVM
    * shares this cwd and wiping would pull its live Derby db and tables
    * out from under it (round-14, ADVICE: reset() previously defeated
    * sweepStale's liveness protection). The scan is restricted to
    * `graft_`-prefixed directory names (round-15, ADVICE): only
    * PairIndex generations carry meaningful pid tags, so an unrelated
    * warehouse entry that happens to contain `_p<digits>_` can't match
    * a recycled OS pid and silently skip the wipe. */
  private def liveForeignOwner(): Option[Long] = {
    val wh = java.nio.file.Paths.get("spark-warehouse")
    if (!java.nio.file.Files.isDirectory(wh)) return None
    val self = ProcessHandle.current().pid()
    val ls = java.nio.file.Files.list(wh)
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("graft_"))
        .flatMap(liveOwner)
        .find(_ != self)
    } finally ls.close()
  }

  def reset(): Unit = {
    liveForeignOwner() match {
      case Some(pid) =>
        Log.warn(
          s"[LocalCatalog] NOT wiping metastore_db/spark-warehouse: live JVM " +
            s"(pid $pid) owns generations here. Run from a separate cwd. " +
            "(If no graft JVM is actually running, the OS may have recycled " +
            "that pid onto an unrelated process — delete the stale " +
            "spark-warehouse/graft_* directories by hand.)")
        return
      case None =>
    }
    for (name <- Seq("metastore_db", "spark-warehouse")) {
      val root = java.nio.file.Paths.get(name)
      if (java.nio.file.Files.exists(root)) {
        val walk = java.nio.file.Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
    }
  }
}
