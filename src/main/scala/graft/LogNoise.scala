package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.filter.{CompositeFilter, RegexFilter}

/** The two Spark WARNs the library triggers by design, dropped by their
  * message text:
  *
  *  - "RDD n was locally checkpointed, its lineage has been truncated and
  *    cannot be recomputed after unpersisting": `RDD.unpersist` on a
  *    locally-checkpointed leaf, which [[dedup.Blocks.release]] does on
  *    purpose once every consumer is materialized;
  *  - "The function f replaced a previously registered function.": the
  *    dialect rebinds six Spark built-in names (`median`, `monthname`,
  *    `now`, `position`, `transform`, `version`) on every fresh session,
  *    including the per-stream clones `MicroBatchExecution` makes.
  *
  * One context-wide log4j2 filter denies exactly these two messages; no
  * logger level changes, so every other message of the same loggers still
  * reaches the appenders. Without a log4j2 backend the WARNs stay.
  */
private[graft] object LogNoise {
  private lazy val filter: Filter = RegexFilter.createFilter(
    "(?s).*(lineage has been truncated|replaced a previously registered function).*",
    null, false, Filter.Result.DENY, Filter.Result.NEUTRAL)

  /** Adds the filter to the current log4j2 configuration if it is not
    * there yet (a reconfiguration starts without it). */
  def silence(): Unit = synchronized {
    try LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val config = ctx.getConfiguration
        val present = config.getFilter match {
          case c: CompositeFilter => c.getFiltersArray.contains(filter)
          case f => f eq filter
        }
        if (!present) config.addFilter(filter)
      case _ => ()
    } catch { case _: LinkageError | _: ReflectiveOperationException => () }
  }
}
