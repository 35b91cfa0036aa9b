package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.slf4j.LoggerFactory

/** The library drops Spark's two by-design WARNs by message, not by
  * lowering a logger's level: after a deliberate leaf release and a fresh
  * registration, an unrelated WARN on an `org.apache.spark.rdd` logger
  * still reaches an appender.
  */
class LogNoiseSpec extends SparkSpec {

  test("only the truncated-lineage and rebinding WARNs are dropped") {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val seen = new ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("graft-warn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try {
      // a deliberate release of a locally checkpointed leaf
      val leaf = spark.range(10).toDF().localCheckpoint(eager = true)
      graft.dedup.Blocks.release(leaf)
      // a fresh session: binding the table rebinds six Spark built-ins
      graft.functions.ChCompat.register(spark.newSession())

      val rdd = LoggerFactory.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
      rdd.warn("an unrelated rdd warning")
      rdd.warn("RDD 7 was locally checkpointed, its lineage has been truncated and " +
        "cannot be recomputed after unpersisting")
      LoggerFactory.getLogger("org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
        .warn("The function median replaced a previously registered function.")

      val got = seen.asScala.toSeq
      assert(got.contains("an unrelated rdd warning"), got.mkString("\n"))
      assert(!got.exists(_.contains("lineage has been truncated")), got.mkString("\n"))
      assert(!got.exists(_.contains("replaced a previously registered function")),
        got.mkString("\n"))
    } finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
  }
}
