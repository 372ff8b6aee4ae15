package graft

/** The library's one logger, named `graft`. Operators and catalog
  * helpers report fallbacks and convergence through it instead of
  * printing to stderr, so its level and destination follow the
  * process's log4j2 configuration like Spark's own loggers (the mains
  * set the root level; convergence lines are INFO, fallbacks WARN).
  * The mains' `println`s are their output, not log lines, and stay. */
object Log {
  private val logger = org.slf4j.LoggerFactory.getLogger("graft")
  def info(msg: String): Unit = logger.info(msg)
  def warn(msg: String): Unit = logger.warn(msg)
}
