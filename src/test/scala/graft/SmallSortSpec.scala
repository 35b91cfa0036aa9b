package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

import graft.engine.SmallSort
import graft.functions.ChCompat

/** [[SmallSort]]: a global sort over small, materialized AQE stages plans
  * as `SortExec ← CoalesceExec(1)` with no range exchange, gives the rows
  * a range-shuffled sort gives, and stays out of every plan it must not
  * touch. `plain` is a session without the strategy, `reg` one with it
  * (through `ChCompat.register`).
  */
class SmallSortSpec extends SparkSpec {

  private lazy val plain = spark.newSession()
  private lazy val reg = {
    val s = spark.newSession()
    ChCompat.register(s)
    s
  }

  /** A q01-shaped read: a grouped aggregate ordered by its keys, with NULL
    * keys, DESC and NULLS FIRST/LAST; (g, h) is unique, so the order is
    * total.
    */
  private def ordered(s: SparkSession): DataFrame =
    s.range(0, 2000, 1, 4)
      .select(
        when(col("id") % 7 === 0, null).otherwise(col("id") % 5).as("g"),
        when(col("id") % 11 === 0, null).otherwise((col("id") % 3).cast("string")).as("h"),
        col("id").as("v"))
      .groupBy("g", "h")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
      .orderBy(col("g").desc_nulls_last, col("h").asc_nulls_first, col("s").desc)

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect(): Unit
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    p +: kids.flatMap(flatten)
  }

  private def rangeExchanges(p: SparkPlan): Seq[SparkPlan] = flatten(p).collect {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }

  test("an ORDER BY over a small aggregate runs 2 jobs, not 4, and returns the same rows") {
    var without, withIt: Array[org.apache.spark.sql.Row] = null
    val plainJobs = jobs(plain) { without = ordered(plain).collect() }
    val regJobs = jobs(reg) { withIt = ordered(reg).collect() }
    assert(plainJobs == 4, "hash stage, range sampling, range map stage, result")
    assert(regJobs == 2, "hash stage, result")
    assert(without.length == 24)
    assert(withIt.toSeq == without.toSeq)
    val p = finalPlan(ordered(reg))
    assert(rangeExchanges(p).isEmpty, p.treeString)
    assert(flatten(p).exists(_.isInstanceOf[CoalesceExec]), p.treeString)
    assert(rangeExchanges(finalPlan(ordered(plain))).nonEmpty)
  }

  test("GraftExtensions and ChCompat.register install one strategy and plan alike") {
    ChCompat.register(reg)
    assert(reg.experimental.extraStrategies.count(_ eq SmallSort) == 1)
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .appName("graft-small-sort-ext")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val viaExt = finalPlan(ordered(ext))
      val viaReg = finalPlan(ordered(reg))
      assert(rangeExchanges(viaExt).isEmpty, viaExt.treeString)
      assert(flatten(viaExt).map(_.nodeName) == flatten(viaReg).map(_.nodeName),
        s"extensions:\n${viaExt.treeString}\nregister:\n${viaReg.treeString}")
      assert(ordered(ext).collect().toSeq == ordered(reg).collect().toSeq)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("the range exchange stays above the gate, with coalescing off and with AQE off") {
    Seq(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16b",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "false"
    ).foreach { kv =>
      withSessionConf(reg)(kv) {
        val p = finalPlan(ordered(reg))
        assert(rangeExchanges(p).nonEmpty, s"$kv:\n${p.treeString}")
        assert(ordered(reg).collect().toSeq == ordered(plain).collect().toSeq, kv)
      }
    }
  }

  test("ORDER BY ... LIMIT still plans TakeOrderedAndProject") {
    val p = finalPlan(ordered(reg).limit(5))
    assert(flatten(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]), p.treeString)
    assert(!flatten(p).exists(_.isInstanceOf[CoalesceExec]), p.treeString)
  }

  test("a streaming sort keeps its range exchange") {
    import reg.implicits._
    implicit val sqlc = reg.sqlContext
    val input = MemoryStream[Long]
    val q = input.toDF().groupBy(col("value") % 3 as "k").count().orderBy(col("k").desc)
      .writeStream.format("memory").queryName("graft_small_sort_stream")
      .outputMode("complete").start()
    try {
      input.addData(1L to 20L)
      q.processAllAvailable()
      val p = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(rangeExchanges(p).nonEmpty, p.treeString)
      assert(reg.table("graft_small_sort_stream").collect().map(_.getLong(0)).toSeq ==
        Seq(2L, 1L, 0L))
    } finally q.stop()
  }
}
