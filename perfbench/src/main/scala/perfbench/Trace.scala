package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the index of the enclosing span in the
  * same tracer (-1 for an op's root span); spans of one op share `op`.
  */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Long)

/** In-memory span recorder. Spans are opened around calls into a layer from
  * the benchmark's own code and written out once, when the run ends. A
  * disabled tracer runs the body and records nothing.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var enabled = false
  private var op = -1L
  private var parent = -1

  def begin(opId: Long, on: Boolean): Unit = { op = opId; enabled = on; parent = -1 }
  def end(): Unit = { enabled = false; parent = -1 }
  def active: Boolean = enabled

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, parent, op)
      val saved = parent
      parent = idx
      try f
      finally {
        parent = saved
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  /** A span measured by someone else (Spark's planning tracker), placed
    * under the current op's last span named `underName`, if there is one.
    * Wall-clock millis are mapped onto the tracer's nanoTime axis.
    */
  def external(name: String, startMs: Long, endMs: Long, underName: String): Unit = {
    val under = spans.lastIndexWhere(s => s.op == op && s.name == underName)
    if (enabled && under >= 0) {
      val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
      spans += Span(name, startMs * 1000000L + offset, endMs * 1000000L + offset, under, op)
    }
  }
}

/** Spark task/stage/job counters of one op. */
final class OpCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var shuffleWrite = 0L; var inputBytes = 0L; var inputRecords = 0L
  var outputBytes = 0L; var spill = 0L; var peakExecMem = 0L
}

/** Attributes Spark scheduler events to ops through the job group the
  * harness sets around each op (`op-<id>`).
  */
final class OpListener extends SparkListener {
  val byOp = mutable.HashMap.empty[Long, OpCounters]
  private val stageOp = mutable.HashMap.empty[Int, Long]

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toLong)

  private def counters(op: Long) = byOp.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      counters(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => counters(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(op)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** Collects the QueryExecutions Spark finished, for plan inspection after
  * the op (never on the listener thread).
  */
final class QeCollector extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { buf += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drain(): Seq[QueryExecution] = synchronized { val r = buf.toList; buf.clear(); r }
}

/** What the executed physical plans of one op contain. */
final case class PlanStats(
    optimizationMs: Long, planningMs: Long, wscgSpans: Int, fallbackExprs: Int,
    scannedPaths: Seq[String])

object PlanStats extends AdaptiveSparkPlanHelper {
  def of(qes: Seq[QueryExecution]): PlanStats = {
    def phase(qe: QueryExecution, p: String) =
      qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
    val plans = qes.map(_.executedPlan)
    def all[T](pf: PartialFunction[SparkPlan, T]): Seq[T] =
      plans.flatMap(p => collectWithSubqueries(p)(pf))
    PlanStats(
      qes.map(phase(_, "optimization")).sum,
      qes.map(phase(_, "planning")).sum,
      all { case w: WholeStageCodegenExec => w }.size,
      all { case n => n.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum }.sum,
      all { case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString) }.flatten)
  }
}

/** Minimal JSON rendering for the harness's output files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
