package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

import scala.collection.mutable.ArrayBuffer

/** Dev CLI for optimization rounds; every subcommand runs on
  * `Sessions.bench`, so what it shows is what the bench runs.
  *
  *   plan <sfDir> [--out DIR --suffix S] [names...]
  *     one `PLANSTAT name exchanges cartesians bnlj fallback=<n>` line per
  *     query (default: every declared query), counted as PlanSpec counts
  *     them (AQE off, cache cleared; PlanSpec runs 4 cores, so run with
  *     SPARK_GRAFT_CPUS=4 to reproduce its numbers); `fallback` counts the
  *     `CodegenFallback` expressions in the executed plan and its
  *     subqueries, as the perfbench trace does. `--out` also writes
  *     each plan's `explain("formatted")` under the bench config to
  *     DIR/<name>_<S>.txt (S defaults to `before`): pushed filters, read
  *     schemas, join and aggregate styles, codegen spans.
  *   stages <query> [sfDir] [reps]
  *     build/plan/exec seconds per rep, then the last (steady-state) rep's
  *     per-stage wall time, tasks, input/shuffle/spill MB, CPU and GC ms.
  *   sql <sfDir> "<sql>" [n]
  *     one dialect statement (through `engine.ChSql.run`) over the raw
  *     tables as temp views named like the DuckDB oracle's, first n rows
  *     (default 50).
  */
object Dev {

  private val usage =
    """usage: graft.Dev plan <sfDir> [--out DIR --suffix S] [names...]
      |       graft.Dev stages <query> [sfDir] [reps]
      |       graft.Dev sql <sfDir> "<sql>" [n]""".stripMargin

  def main(args: Array[String]): Unit = args.toList match {
    case "plan" :: sfDir :: rest => withSession(plan(_, sfDir, rest))
    case "stages" :: name :: rest => withSession(stages(_, name, rest))
    case "sql" :: sfDir :: sql :: rest => withSession(runSql(_, sfDir, sql, rest))
    case _ => System.err.println(usage); sys.exit(2)
  }

  private def withSession(f: SparkSession => Unit): Unit = {
    val spark = Sessions.bench()
    try f(spark) finally spark.stop()
  }

  private def plan(spark: SparkSession, sfDir: String, args: List[String]): Unit = {
    def split(as: List[String]): (Map[String, String], List[String]) = as match {
      case f :: v :: t if f.startsWith("--") => val (o, n) = split(t); (o + (f -> v), n)
      case n :: t => val (o, ns) = split(t); (o, n :: ns)
      case Nil => (Map.empty, Nil)
    }
    val (opts, given) = split(args)
    require(opts.keySet.subsetOf(Set("--out", "--suffix")), usage)
    val suffix = opts.getOrElse("--suffix", "before")
    val names = if (given.nonEmpty) given else SparkEntry.queries.keys.toSeq.sorted
    val aqe = "spark.sql.adaptive.enabled"
    val benchAqe = spark.conf.get(aqe)
    def fresh(aqeOn: String): Unit = {
      spark.conf.set(aqe, aqeOn)
      spark.sharedState.cacheManager.clearCache()
    }

    fresh("false")
    for (name <- names) {
      // tree collect, not string match: a string dump re-prints the plan
      // cached inside InMemoryRelation, double-counting its exchanges
      try {
        val p = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        val ex = p.collect { case e: ShuffleExchangeExec => e }.length
        val cart = p.collect { case c: CartesianProductExec => c }.length
        val bnlj = p.collect { case j: BroadcastNestedLoopJoinExec => j }.length
        val fallback = p.collectWithSubqueries { case n =>
          n.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
        }.sum
        println(s"PLANSTAT $name $ex $cart $bnlj fallback=$fallback")
      } catch {
        case e: Exception => println(s"PLANSTAT $name ERROR ${e.getClass.getSimpleName}")
      }
    }

    // under AQE the formatted plan is the static one (isFinalPlan=false)
    for (dir <- opts.get("--out")) {
      fresh(benchAqe)
      Files.createDirectories(Paths.get(dir))
      for (name <- names) {
        try {
          val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution
            .explainString(FormattedMode)
          Files.write(Paths.get(s"$dir/${name}_$suffix.txt"), txt.getBytes("UTF-8"))
          println(s"PLANDUMP $name ok (${txt.length} chars)")
        } catch { case e: Throwable =>
          println(s"PLANDUMP $name FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
  }

  private def stages(spark: SparkSession, name: String, args: List[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)

    case class St(id: Int, name: String, ms: Long, tasks: Int,
        inputMB: Double, shReadMB: Double, shWriteMB: Double,
        cpuMs: Long, gcMs: Long, spillMB: Double)
    val stages = ArrayBuffer[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        stages.synchronized {
          stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(70),
            i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
            i.numTasks,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.remoteBytesRead / 1e6 +
              m.shuffleReadMetrics.localBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.executorCpuTime / 1000000, m.jvmGCTime,
            m.diskBytesSpilled / 1e6)
        }
      }
    })

    def once(): Double = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis+optimization+planning
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      println(f"   build ${(t1 - t0) / 1e9}%.3f  plan ${(t2 - t1) / 1e9}%.3f  exec ${(t3 - t2) / 1e9}%.3f")
      (t3 - t0) / 1e9
    }
    for (r <- 1 to reps) {
      stages.synchronized(stages.clear())
      val t = once()
      // listener events are async; settle before printing the last rep
      if (r == reps) {
        Thread.sleep(1000)
        println(f"== $name rep $r: $t%.3f s ==")
        val snap = stages.synchronized(stages.toList).sortBy(_.id)
        println(f"${"stage"}%-6s${"ms"}%8s${"tasks"}%7s${"inMB"}%8s${"shRdMB"}%8s${"shWrMB"}%8s${"cpuMs"}%8s${"gcMs"}%6s${"spill"}%7s  name")
        for (s <- snap)
          println(f"${s.id}%-6d${s.ms}%8d${s.tasks}%7d${s.inputMB}%8.1f${s.shReadMB}%8.1f${s.shWriteMB}%8.1f${s.cpuMs}%8d${s.gcMs}%6d${s.spillMB}%7.1f  ${s.name}")
        println(f"stage-ms total: ${snap.map(_.ms).sum}")
      } else println(f"== $name rep $r: $t%.3f s (warm) ==")
    }
  }

  private def runSql(spark: SparkSession, dir: String, sql: String,
      args: List[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(50)
    val t = Tables(spark, dir)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(name => spark.read.parquet(s"$dir/$name.parquet")
        .createOrReplaceTempView(name))
    t.events.createOrReplaceTempView("events")
    t.eventsWithDefaults.createOrReplaceTempView("events_with_defaults")
    graft.engine.ChSql.run(spark, sql).show(n, truncate = false)
  }
}
