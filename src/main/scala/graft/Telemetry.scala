package graft

/** In-process metrics registry for operator convergence telemetry.
  *
  * Iterative operators (Components' label rounds) record how many
  * rounds they actually executed; Bench drains the registry after each
  * query and emits the values in its JSON line, so scale runs
  * self-report convergence behavior — the number to watch is that
  * round counts stay FLAT as data grows a decade, which is what makes
  * the O(diameter) plain rounds and the O(log n) hook-and-shortcut
  * rounds evidence rather than assertion.
  *
  * Driver-side only state (a ConcurrentHashMap on the driver JVM):
  * operators record from driver code after their action completes,
  * never from executors, so this works identically on local[*] and a
  * real cluster.
  */
object Telemetry {
  private val metrics = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Record (overwrite) a named counter. Keys are `operator.metric`,
    * e.g. `components.min_label_rounds`. */
  def record(key: String, value: Long): Unit = metrics.put(key, value)

  /** Snapshot current values without clearing. */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    metrics.asScala.toMap
  }

  /** Snapshot and reset — Bench calls this per query so each query's
    * JSON entry carries only its own rounds. */
  def drain(): Map[String, Long] = {
    val s = snapshot()
    metrics.clear()
    s
  }
}
