package graft

import org.apache.spark.sql.SparkSession

/** Scratch main: dump physical plans of key queries and grep-able audit
  * lines — PushedFilters reaching the scan, ReadSchema pruned, broadcast
  * joins chosen, WholeStageCodegen spans present.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.ChCompat.register(spark)

    for (name <- Seq("q01_pricing_summary", "q02_filter_project", "q04_join_group",
        "q05_dict_enrich", "q20_state_rollup", "q23_ch_dialect_mv", "q24_dictget_sql",
        "q31_doc_stats", "q40_cosine_probe")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      println(s"===== $name =====")
      println("  pushedFilters: " + "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).mkString(" | "))
      println("  readSchema:    " + "ReadSchema: [^,\n]*".r.findAllIn(plan).take(3).mkString(" | "))
      println("  broadcast:     " + plan.linesIterator.filter(_.contains("BroadcastHashJoin")).map(_.trim.take(60)).mkString(" | "))
      println("  codegenSpans:  " + plan.linesIterator.count(_.contains("WholeStageCodegen")))
      println("  aggStyle:      " + plan.linesIterator.filter(l => l.contains("HashAggregate") || l.contains("SortAggregate") || l.contains("ObjectHashAggregate")).map(_.trim.replaceAll("\\(.*", "").take(40)).toSeq.distinct.mkString(" | "))
    }
    spark.stop()
  }
}
