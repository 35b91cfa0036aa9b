package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** What one op returns: the work it completed (queries, rows or docs), fields
  * for the checks, and a failure message when an in-op check failed.
  */
final case class Outcome(items: Long, extra: Map[String, Any] = Map.empty,
    error: Option[String] = None)

/** A closed-loop workload over one library surface. `setup` builds a fresh
  * state instance from the inputs and makes it current; `step(i)` runs op `i`
  * against the current instance.
  */
trait Workload {
  def warmupOps: Int
  /** Warm-up ops run in consecutive blocks of this many; the ops of one
    * block are independent and run on up to `cores` threads. */
  def warmupBlock: Int = 1
  def setup(instance: Int): Unit
  def hasOp(i: Int): Boolean
  def step(i: Int, tr: Tracer, warm: Boolean): Outcome
  /** Traced runs only: counts taken before op `i`, outside its timing. */
  def preOp(i: Int): Map[String, Any] = Map.empty
  /** After the timed loop: write what the checks compare, return run facts. */
  def finish(): Map[String, Any]
}

/** Benchmark harness: one client, `local[cores]`, for one workload.
  *
  * Protocol: set up instance 0 in the cold JVM and warm it with `warmupOps`
  * ops; set up `setups` more instances (timed: their median is the set-up
  * time, the cold one is reported apart); run the timed closed loop on the
  * last instance for `seconds`; then write the outputs the correctness checks
  * need. With `--trace 1` the untraced loop is followed by a traced
  * warm-up, a fresh set-up and the same ops again, traced (spans, plan
  * inspection, Spark scheduler counters attributed to ops through job
  * groups), so the tracing overhead is the traced loop's figures against the
  * untraced loop's. The listeners are registered only after the untraced
  * loop.
  *
  * Output, under `--out`: `ops.jsonl` (one line per op), `spans.jsonl`
  * (traced runs), `run.json` (set-up times and run-level facts), `check/`.
  */
object Harness {

  /** An op running longer fails: its job group is cancelled. */
  val OpTimeoutSec = 60.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val input = new File(a("input")).getAbsolutePath
    val out = new File(a("out")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val seed = a("seed").toLong
    val cores = a("cores").toInt
    val setups = a("setups").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // bitmap states are compact objects: keep their partial aggregation
      // hash-based (the legacy bench's setting)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // the olap mix's generated classes outnumber the default 100 entries:
      // every round evicted and recompiled them, and the JIT compiled the
      // new classes on ~2 of 4 cores for the whole timed loop
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    val w: Workload = workload match {
      case "olap_queries" => new OlapQueries(spark, input, work, s"$out/check", seed)
      case "dedup_ingest" => new DedupIngest(spark, input, work)
      case other => sys.error(s"unknown workload $other")
    }

    val tracer = new Tracer
    val opListener = new OpListener
    val qes = new QeCollector
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var nextId = 0L
    val watchdog = new Watchdog(sc, OpTimeoutSec)

    // time spent on traced-op bookkeeping outside ops; the timed loop's
    // deadline is pushed back by it, so the traced loop measures as long
    // as the untraced one
    var untimedNs = 0L

    def runOp(phase: String, i: Int, trace: Boolean): Map[String, Any] = {
      val id = nextId; nextId += 1
      val tPre = System.nanoTime()
      val pre = if (trace) {
        sc.setJobGroup("aux", "traced-run counts", interruptOnCancel = true)
        try w.preOp(i) finally sc.clearJobGroup()
      } else Map.empty[String, Any]
      untimedNs += System.nanoTime() - tPre
      sc.setJobGroup(s"op-$id", phase, interruptOnCancel = true)
      tracer.begin(id, trace)
      watchdog.arm(s"op-$id")
      val t0 = System.nanoTime()
      val res =
        try tracer("op")(w.step(i, tracer, phase == "warmup"))
        catch {
          case e: Throwable =>
            Outcome(0L, Map.empty, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)))
        }
      val t1 = System.nanoTime()
      val timedOut = watchdog.disarm()
      sc.clearJobGroup()
      var plan = Map.empty[String, Any]
      val tPost = System.nanoTime()
      if (trace) {
        PerfbenchBridge.drainListeners(sc)
        val done = qes.drain()
        val ps = PlanStats.of(done)
        // Spark's own planner phases, nested under the forcing write
        done.foreach { qe =>
          Seq("optimization", "planning").foreach { p =>
            qe.tracker.phases.get(p).foreach { s =>
              tracer.external(s"queries.$p", s.startTimeMs, s.endTimeMs, "queries.exec")
            }
          }
        }
        plan = Map("optimization_ms" -> ps.optimizationMs, "planning_ms" -> ps.planningMs,
          "wscg_spans" -> ps.wscgSpans, "fallback_exprs" -> ps.fallbackExprs,
          "scanned_paths" -> ps.scannedPaths.distinct)
      }
      tracer.end()
      untimedNs += System.nanoTime() - tPost
      val error = if (timedOut) Some(s"timed out after $OpTimeoutSec s") else res.error
      Map("id" -> id, "phase" -> phase, "index" -> i, "traced" -> trace,
        "ms" -> (t1 - t0) / 1e6, "ok" -> error.isEmpty, "error" -> error,
        "items" -> res.items, "plan" -> plan, "pre" -> pre) ++ res.extra
    }

    def timedSetup(k: Int): Double = {
      val t0 = System.nanoTime()
      w.setup(k)
      (System.nanoTime() - t0) / 1e9
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val jit = ManagementFactory.getCompilationMXBean
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis - jvmStart) / 1e3}%.2f s" +
        s" (JIT ${jit.getTotalCompilationTime} ms)")
    mark("session up")
    val coldSetupS = timedSetup(0)
    mark("first set-up")
    val warm = (0 until w.warmupOps).takeWhile(w.hasOp)
    if (w.warmupBlock > 1) {
      // independent warm-up ops share the JIT and codegen caches the timed
      // loop uses, so they may overlap; the timed loop stays one client
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      val done = warm.grouped(w.warmupBlock).flatMap { block =>
        block.map { i =>
          pool.submit(() => {
            val t = System.nanoTime()
            val res =
              try w.step(i, new Tracer, warm = true)
              catch { case e: Throwable => Outcome(0L, Map.empty, Some(e.toString.take(500))) }
            (i, (System.nanoTime() - t) / 1e6, res)
          })
        }.map(_.get())
      }.toList
      pool.shutdown()
      done.foreach { case (i, ms, res) =>
        ops += Map("id" -> nextId, "phase" -> "warmup", "index" -> i, "traced" -> false,
          "ms" -> ms, "ok" -> res.error.isEmpty, "error" -> res.error, "items" -> res.items,
          "plan" -> Map.empty, "pre" -> Map.empty) ++ res.extra
        nextId += 1
      }
    } else warm.foreach(i => ops += runOp("warmup", i, trace = false))
    mark("warm-up")
    // warm set-ups only: the cold one pays class loading and JIT
    val setupS = (1 to setups).map(timedSetup)
    mark("set-ups")

    /** The timed closed loop over ops 0, 1, ... on the current instance. */
    def loop(trace: Boolean): Map[String, Any] = {
      val gcBefore = gcMs()
      heapPools.foreach(_.resetPeakUsage())
      val start = System.nanoTime()
      untimedNs = 0L
      var i = 0
      while (System.nanoTime() - untimedNs < start + (seconds * 1e9).toLong && w.hasOp(i)) {
        ops += runOp("measure", i, trace)
        i += 1
      }
      Map("traced" -> trace, "measure_s" -> (System.nanoTime() - start - untimedNs) / 1e9,
        "gc_ms" -> (gcMs() - gcBefore),
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "inputs_exhausted" -> !w.hasOp(i))
    }

    val loops = mutable.ArrayBuffer(loop(trace = false))
    mark("measured loop")
    if (traced) {
      sc.addSparkListener(opListener)
      spark.listenerManager.register(qes)
      // the warm-up ops once more, traced, on the used instance: the traced
      // path (listeners, plan inspection, pre-op counts) is otherwise still
      // JIT-compiling in the traced loop, which then reads up to 2x slower
      warm.foreach(i => ops += runOp("trace-warmup", i, trace = true))
      mark("traced warm-up")
      w.setup(setups + 1)
      loops += loop(trace = true)
      mark("traced loop")
    }
    val facts = w.finish()
    mark("finish")
    if (traced) PerfbenchBridge.drainListeners(sc)

    new File(out).mkdirs()
    write(s"$out/ops.jsonl", ops.map { o =>
      val c = opListener.byOp.get(o("id").asInstanceOf[Long])
      Json.value(o ++ c.map(x => "spark" -> Map(
        "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks, "run_ms" -> x.runMs,
        "shuffle_write" -> x.shuffleWrite, "input_bytes" -> x.inputBytes,
        "input_records" -> x.inputRecords, "output_bytes" -> x.outputBytes,
        "spill" -> x.spill, "peak_exec_mem" -> x.peakExecMem)))
    })
    if (traced)
      write(s"$out/spans.jsonl", tracer.spans.zipWithIndex.map { case (s, idx) =>
        Json.obj("id" -> idx, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
          "parent" -> s.parent, "op" -> s.op)
      })
    write(s"$out/run.json", Seq(Json.value(Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup_s" -> setupS, "cold_setup_s" -> coldSetupS, "loops" -> loops) ++ facts)))
    watchdog.stop()
    spark.stop()
    mark("stopped")
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def write(path: String, lines: Iterable[String]): Unit = {
    val p = new PrintWriter(path, "UTF-8")
    try lines.foreach(p.println) finally p.close()
  }

  /** Bytes of every file under `path`. */
  def du(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L) else f.length
    walk(new File(path))
  }
}

/** Cancels the armed job group once an op has run longer than `limitSec`;
  * the op then fails and the loop moves on.
  */
final class Watchdog(sc: org.apache.spark.SparkContext, limitSec: Double) {
  @volatile private var group: String = null
  @volatile private var since = 0L
  @volatile private var fired = false
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) {
      val g = group
      if (g != null && !fired && System.nanoTime() - since > (limitSec * 1e9).toLong) {
        fired = true
        sc.cancelJobGroup(g)
      }
      Thread.sleep(100)
    }
  }, "perfbench-watchdog")
  t.setDaemon(true)
  t.start()

  def arm(g: String): Unit = { fired = false; since = System.nanoTime(); group = g }
  def disarm(): Boolean = { group = null; fired }
  def stop(): Unit = { running = false; t.join() }
}
