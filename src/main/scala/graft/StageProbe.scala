package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Dev tool (optimization rounds): run one declared query with a stage
  * listener and print, for the LAST (steady-state) rep, every stage's wall
  * time, task count, and input/shuffle bytes — the guide §1 empirical
  * loop ("decide whether the time is going to shuffle read, shuffle
  * write, executor compute") without the UI.
  *
  * Usage: runMain graft.StageProbe <query> [sfDir] [reps]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProbe <query> [sfDir] [reps]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        (sys.env.getOrElse("SPARK_GRAFT_NO_AQE", "0") != "1").toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.ChCompat.register(spark)

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
    spark.stop()
  }
}
