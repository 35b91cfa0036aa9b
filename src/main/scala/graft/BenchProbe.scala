package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: phase timing for the incremental dedup ingest loop (not part
  * of the driver contract; run ad hoc while tuning).
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    if (args.contains("sess")) {
      // hot-key scaling probe for the window-pass operators: wall time
      // vs single-uid partition size (2n total rows, n on uid 0)
      for (n <- Seq(1000000L, 2000000L, 4000000L, 8000000L)) {
        val events = spark.range(2 * n).select(
          when(col("id") < n, 0L)
            .otherwise(pmod(col("id"), lit(100000)) + 1).as("uid"),
          timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
          pmod(col("id"), lit(3)).cast("int").as("etype"))
        timed(s"sessionize hot=$n") {
          graft.operators.Sessionize.sessionize(events, "uid", "ts", 1800)
            .write.format("noop").mode("overwrite").save()
        }
      }
      spark.stop()
      return
    }

    if (args.contains("anchor")) {
      // host calibration only: the Bench anchor (1e9-row two-phase sum),
      // warm + 3 reps, against the recorded 0.72 s idle floor — run this
      // before trusting any ad-hoc wall-clock reading on this box
      def anchor(): Unit =
        spark.range(1000000000L)
          .groupBy(pmod(col("id"), lit(1000)).as("g"))
          .agg(sum(col("id")).as("s"))
          .write.format("noop").mode("overwrite").save()
      anchor()
      for (i <- 1 to 3) timed(s"anchor_$i (floor 0.72 s)") { anchor() }
      spark.stop()
      return
    }

    val docs = Tables(spark, sfDir).documents

    if (args.contains("rg")) {
      // scan-parallelism probe: the driver's regenerated testdata writes ONE
      // row group per file, so a parquet scan is a single task no matter the
      // core count — measure whether paying an exchange to re-spread beats
      // the single-task scan on the q01 shape (it should not at 13 MB).
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      def agg(df: org.apache.spark.sql.DataFrame): Unit = {
        df.groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity").cast("decimal(18,2)")),
            sum(col("l_extendedprice").cast("decimal(18,2)")),
            avg("l_discount"), count(lit(1))).collect(): Unit
      }
      println(s"scan partitions = ${li.rdd.getNumPartitions}")
      agg(li); agg(li.repartition(32)) // warm both paths
      for (i <- 1 to 3) {
        timed(s"scan_1rg_$i") { agg(li) }
        timed(s"repartition32_$i") { agg(li.repartition(32)) }
      }
      spark.stop()
      return
    }

    if (args.contains("q39")) {
      // expression-level bisect of the q39 scoring stage: time each
      // cumulative slice of the scored projection (noop-forced, spread
      // like the query) to find which expression family owns the CPU
      import graft.text.TextFunctions
      graft.functions.ChCompat.register(spark)
      val base = graft.engine.Warehouse.spreadForCompute(
        docs.select(col("doc_id"), col("lang"), col("text")), "doc_id")
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def probe(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
        noop(df) // warm
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0) / 1e9
        }
        println(f"$name%-26s min ${ts.min}%.3f  med ${ts.sorted.apply(1)}%.3f")
      }
      probe("base")(base)
      probe("toks")(base.select(col("doc_id"), TextFunctions.tokens(col("text")).as("t")))
      probe("ltoks")(base.select(col("doc_id"), TextFunctions.lowerTokens(col("text")).as("t")))
      probe("toks_distinct")(base.select(col("doc_id"),
        size(array_distinct(TextFunctions.tokens(col("text")))).as("u")))
      probe("lang_best")(base
        .select(col("doc_id"), col("text"), TextFunctions.lowerTokens(col("text")).as("lt"))
        .select(col("doc_id"),
          TextFunctions.langBestFromTokens(col("lt"), col("text")).as("b")))
      probe("quality")(base
        .select(col("doc_id"), col("text"), TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          TextFunctions.qualityScoreFromTokens(col("t"), col("text")).as("q")))
      probe("full_scored")(SparkEntry.queries("q39_corpus_pipeline")(spark, sfDir))
      spark.stop()
      return
    }

    if (args.contains("q49")) {
      // phase split of the dup-cluster pipeline: pair generation vs CC vs
      // the full declared query (join + window + sort tail)
      def pairs() = graft.dedup.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleSize = 3, threshold = 0.2, maxShingleDf = 50)
      for (i <- 1 to 3) {
        timed(s"pairs_only_$i") { pairs().count(): Unit }
        timed(s"pairs_plus_cc_$i") {
          graft.dedup.Cluster.connectedComponents(pairs(), "id_a", "id_b").count(): Unit
        }
        timed(s"full_q49_$i") {
          SparkEntry.queries("q49_dup_clusters")(spark, sfDir).count(): Unit
        }
      }
      spark.stop()
      return
    }

    def freshIx() = {
      val p = java.nio.file.Files.createTempDirectory("graft-probe-ndi").toString + "/ix"
      val ix = new graft.dedup.NearDupIndex(spark, p, numHashes = 64, bands = 16)
      ix.append(docs.filter(col("doc_id") % 3 === 0), "text", "doc_id")
      ix.dedupAndAppend(docs.filter(col("doc_id") % 3 === 1), "text", "doc_id", 0.4).count()
      ix
    }
    val batch2 = docs.filter(col("doc_id") % 3 === 2)

    val ix1 = freshIx()
    timed("probe_only") { ix1.probe(batch2, "text", "doc_id", 0.4).count(): Unit }
    val ix2 = freshIx()
    timed("full_dedupAndAppend") { ix2.dedupAndAppend(batch2, "text", "doc_id", 0.4).count(): Unit }
    val ix3 = freshIx()
    timed("full_dedupAndAppend_2") { ix3.dedupAndAppend(batch2, "text", "doc_id", 0.4).count(): Unit }
    // warm sub-phase split of the timed ingest rep (r14): signature/banding
    // alone, then the fused history probe alone, on yet another fresh index
    // so neither benefits from the other's shuffle files
    val ix4 = freshIx()
    timed("banded_signatures") { ix4.banded(batch2, "text", "doc_id").count(): Unit }
    val b4 = ix4.banded(batch2, "text", "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    b4.count()
    timed("history_probe_only") { ix4.historyDupIds(b4, 0.4).count(): Unit }
    timed("dedupAndAppend_after_warm") {
      ix4.dedupAndAppend(batch2, "text", "doc_id", 0.4).count(): Unit
    }
    spark.stop()
  }
}
