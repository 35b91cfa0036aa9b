package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (optimization rounds): dump `.explain("formatted")` for the
  * bench headline queries to a directory — the before/after plan evidence
  * the optimization ledger commits (plans/r14/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [names...]
  * Defaults: sf0.1, plans/r14, "before", the Bench headline list.
  *
  * Session config mirrors Bench exactly (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus, AQE on) so the dumped plan is the plan the bench
  * actually runs — except AQE prints `isFinalPlan=false` pre-execution,
  * so Exchange counts here are the static plan's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "plans/r14"
    val suffix = if (args.length > 2) args(2) else "before"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names: Seq[String] =
      if (args.length > 3) args.drop(3).toSeq
      else Seq(
        "q01_pricing_summary", "q04_join_group", "q05_dict_enrich",
        "q14_hourly_rollup", "q18_scalar_math", "q20_state_rollup",
        "q21_bitmap_funnel", "q22_wide_union", "q23_ch_dialect_mv",
        "q25_catalog_query", "q28_doc_chunks", "q31_doc_stats",
        "q34_ngram_jaccard", "q35_minhash_neardup", "q49_dup_clusters",
        "q39_corpus_pipeline", "q40_cosine_probe", "q41_knn_brute",
        "q63_asof_join", "q64_sessions", "q66_sequence_match")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.ChCompat.register(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      try {
        spark.sparkContext.setJobDescription(s"plandump: $name")
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"PLANDUMP $name ok (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"PLANDUMP $name FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
