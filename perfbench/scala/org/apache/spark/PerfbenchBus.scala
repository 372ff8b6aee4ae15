package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it before
  * reading its listener counters, so no event of a traced pass lands
  * in the next one. */
object PerfbenchBus {
  /** True when every posted event was delivered within `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try {
      sc.listenerBus.waitUntilEmpty(timeoutMs)
      true
    } catch {
      case _: java.util.concurrent.TimeoutException => false
    }
}
