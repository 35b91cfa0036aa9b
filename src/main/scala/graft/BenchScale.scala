package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.dedup.{Cluster, Dedup, NearDupIndex}
import graft.mv.{CountMetric, StateTable, SumMetric}
import graft.similarity.{IvfIndex, IvfPqIndex, Pq}

/** Scaling-evidence bench: measures the scaling CURVES behind SCALE.md's
  * 100 TB claims on synthetic corpora (generated via `spark.range` + md5
  * text — NOT the driver testdata, whose largest SF is too small to show
  * asymptotics). One JSON line per measurement on stdout; a summary JSON
  * last. Not part of the driver's per-round Bench contract — run manually:
  *
  *   sbt -batch "runMain graft.BenchScale"         # full curves (~5-10 min)
  *   sbt -batch "runMain graft.BenchScale quick"   # 10x smaller, smoke
  *
  * The `x10` decade points need a bigger driver heap than build.sbt's 8g
  * default — run them as `SPARK_DRIVER_MEM=96g sbt -batch "runMain
  * graft.BenchScale x10 ..."` (a 2M-doc banded batch cache OOMs at 8g).
  *
  * What each curve proves (the asserted twins live in ScaleSpec):
  *  - `ingest_amortization`: dedupAndAppend per-doc cost vs batch size at
  *    fixed history — per-doc cost must FALL as batches grow, i.e. the
  *    fixed per-ingest job/scheduler floor amortizes (the incremental-dedup
  *    story depends on batch-sized, not corpus-sized, marginal cost).
  *  - `probe_flat_history`: NearDupIndex.probe shuffle volume vs history
  *    size at fixed batch — exchanged records/bytes must stay O(batch) as
  *    history grows (history streams from the bucketed layout; only its
  *    SCAN grows, and scans parallelize across executors at cluster scale).
  *  - `cc_scaling`: near-dup pairs -> connectedComponents wall time vs
  *    corpus size (label-propagation rounds stay O(log diameter)).
  *  - `ivf_pq_scaling`: IVF build/search and PQ train/encode/ADC-search
  *    wall time vs corpus size (search rides the pruned inverted lists).
  */
object BenchScale {

  /** Deterministic synthetic corpus with planted near-dup groups: docs in a
    * `groupSize` group share 36 of 40 md5-derived words (word-shingle
    * Jaccard ~0.7 — above the usual 0.5 ingest threshold), the tail 4 words
    * are per-doc. No RNG, no UDFs: pure Catalyst md5/concat.
    */
  def docs(spark: SparkSession, n: Long, groupSize: Int = 4): DataFrame = {
    val group = (col("id") / groupSize).cast("long").cast("string")
    val word: Int => org.apache.spark.sql.Column = j =>
      substring(md5(concat_ws("-", lit("g"), group, lit(j.toString))), 1, 8)
    val tail: Int => org.apache.spark.sql.Column = j =>
      substring(md5(concat_ws("-", lit("d"), col("id").cast("string"), lit(j.toString))), 1, 8)
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 36).map(word) ++ (36 until 40).map(tail): _*).as("text"))
  }

  /** Deterministic clustered embeddings: `clusters` well-separated centers
    * (sin basis) plus a small per-vector perturbation.
    */
  def embeddings(spark: SparkSession, n: Long, dim: Int = 64,
      clusters: Int = 64): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => (sin(pmod(col("id"), lit(clusters)) * (j + lit(1))) +
          lit(0.05) * sin((col("id") + lit(1)) * (j + lit(13)))).cast("float"))
        .as("embedding"))

  /** Sum of shuffle records/bytes written across a static (AQE-off)
    * executed plan — read AFTER an action has run the plan.
    */
  def exchangeStats(plan: SparkPlan): (Long, Long) = {
    val ex = plan.collect { case e: ShuffleExchangeExec => e }
    (ex.map(e => e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)).sum,
      ex.map(e => e.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)).sum)
  }

  /** Rows produced by file scans rooted under `path` in an executed plan. */
  def scanRows(plan: SparkPlan, path: String): Long =
    plan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.mkString(",").contains(path) =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  /** Counts jobs and total shuffle-write bytes while attached. Listener
    * delivery is async — call `drain()` (a bounded sleep) before reading.
    */
  final class CountListener extends SparkListener {
    val jobs = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val spillMemBytes = new AtomicLong
    val spillDiskBytes = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillMemBytes.addAndGet(m.memoryBytesSpilled)
        spillDiskBytes.addAndGet(m.diskBytesSpilled)
        ()
      }
    }
    def drain(): Unit = Thread.sleep(1000)
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/ix"

  def main(args: Array[String]): Unit = {
    val quick = args.contains("quick")
    val div = if (quick) 10 else 1
    // `x10` runs ONE extra decade per curve — only each curve's largest
    // size point, times ten (the smaller points are already on record in
    // bench_scale.jsonl; re-running them would just burn the wall clock).
    // Appends to the jsonl. The compact curve is excluded: its axis is
    // part count, not corpus size, and 8->128 parts already spans it.
    val x10 = args.contains("x10")
    def pts(xs: Seq[Long]): Seq[Long] =
      if (x10) Seq(xs.max * 10 / div) else xs.map(_ / div)
    // optional section filter: any of ingest/probe/cc/ivf/compact — run
    // only the named curves (default: all), e.g. `runMain graft.BenchScale cc`
    val sections = args.toSet.intersect(
      Set("ingest", "probe", "cc", "ivf", "compact", "tfidf", "spans", "stats",
        "hotkey"))
    def on(s: String): Boolean = sections.isEmpty || sections.contains(s)
    val spark = Sessions.bench()
    val out = new StringBuilder
    def emit(json: String): Unit = { println(json); out.append(json).append('\n'); () }

    // ---- 1. ingest amortization: per-doc cost vs batch size --------------
    // fixed 50k-doc history, batches spanning 100x; the per-ingest floor
    // (signature agg + fused probe + checkpoint + bucketed write, a fixed
    // number of jobs) amortizes, so ms/doc must fall monotonically
    if (on("ingest")) {
    val histN = 50000L / div
    // untimed warmup on a throwaway index: codegen + write-path class
    // loading would otherwise pollute the smallest batch's measurement
    locally {
      val w = new NearDupIndex(spark, tmp("graft-scale-warm"), numHashes = 32, bands = 16)
      w.append(docs(spark, 500), "text", "doc_id")
      w.dedupAndAppend(docs(spark, 1000).filter(col("doc_id") >= 500),
        "text", "doc_id", 0.5).count(): Unit
    }
    for (batchN <- pts(Seq(2000L, 20000L, 200000L))) {
      val ix = new NearDupIndex(spark, tmp("graft-scale-ndi"), numHashes = 32, bands = 16)
      ix.append(docs(spark, histN), "text", "doc_id")
      val batch = docs(spark, histN + batchN).filter(col("doc_id") >= histN)
      val l = new CountListener
      spark.sparkContext.addSparkListener(l)
      val sec = timed { ix.dedupAndAppend(batch, "text", "doc_id", 0.5).count(): Unit }
      l.drain()
      spark.sparkContext.removeSparkListener(l)
      emit(s"""{"curve":"ingest_amortization","history":$histN,"batch":$batchN,""" +
        s""""sec":$sec,"ms_per_doc":${sec * 1000 / batchN},"jobs":${l.jobs.get},""" +
        s""""shuffle_mb":${l.shuffleBytes.get / 1e6}}""")
    }
    }

    // ---- 2. probe shuffle volume vs history size -------------------------
    // fixed 10k-doc probe batch against history spanning 25x; exchanged
    // records must stay O(batch) (flat), only the history SCAN grows
    if (on("probe")) {
    val probeN = 10000L / div
    for (hN <- pts(Seq(20000L, 100000L, 500000L))) {
      val path = tmp("graft-scale-probe")
      val ix = new NearDupIndex(spark, path, numHashes = 32, bands = 16)
      ix.append(docs(spark, hN), "text", "doc_id")
      val batch = docs(spark, hN + probeN).filter(col("doc_id") >= hN)
      // static plan => readable metrics; broadcast off => the WORST case
      // (a backfill-sized batch that must sort-merge) — with broadcast on,
      // the batch side broadcasts and exchanged records are trivially zero
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probe = ix.probe(batch, "text", "doc_id", 0.5)
        // execute THIS QueryExecution's plan (a noop write or .count() would
        // build a fresh one, leaving these metric accumulators at zero)
        val plan = probe.queryExecution.executedPlan
        val sec = timed { plan.execute().count(): Unit }
        val (recs, bytes) = exchangeStats(plan)
        emit(s"""{"curve":"probe_flat_history","history":$hN,"batch":$probeN,""" +
          s""""sec":$sec,"exchange_records":$recs,"exchange_mb":${bytes / 1e6},""" +
          s""""history_scan_rows":${scanRows(plan, path)}}""")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      }
    }
    }

    // ---- 3. connected components vs corpus size --------------------------
    // jobs + total shuffle-write bytes via listener (the pipeline is many
    // jobs — pair build, relax/jump rounds — so per-plan exchange metrics
    // don't compose; the listener total is the honest whole-pipeline
    // number): shuffle volume must scale ~linearly in docs while the round
    // count stays O(log diameter) (jobs ~constant across decades)
    if (on("cc"))
    for (n <- pts(Seq(20000L, 200000L, 1000000L))) {
      val d = docs(spark, n)
      val l = new CountListener
      spark.sparkContext.addSparkListener(l)
      val sec = timed {
        val pairs = Dedup.minhashNearDups(d, "text", "doc_id", 32, 16, 0.5)
        Cluster.connectedComponents(pairs, "id_a", "id_b")
          .write.format("noop").mode("overwrite").save()
      }
      l.drain()
      spark.sparkContext.removeSparkListener(l)
      emit(s"""{"curve":"cc_scaling","docs":$n,"sec":$sec,""" +
        s""""jobs":${l.jobs.get},"shuffle_mb":${l.shuffleBytes.get / 1e6}}""")
    }

    // ---- 4. IVF + PQ build/search vs corpus size -------------------------
    if (on("ivf"))
    for (n <- pts(Seq(32000L, 320000L, 1600000L))) {
      val emb = embeddings(spark, n)
      val probes = embeddings(spark, 100)
      val ivfPath = tmp("graft-scale-ivf")
      val ivf = new IvfIndex(spark, ivfPath)
      val buildSec = timed { ivf.build(emb, nlist = 64, lloydIterations = 1) }
      val searchSec = timed {
        ivf.topK(probes, k = 10, nprobe = 4)
          .write.format("noop").mode("overwrite").save()
      }
      var cb: Pq.Codebook = null
      val pqTrainSec = timed { cb = Pq.trainCodebook(emb, "vec_id", "embedding", 8, 32, 1) }
      val enc = Pq.encode(emb, "vec_id", "embedding", cb)
      val encPath = tmp("graft-scale-pq")
      enc.write.mode("overwrite").parquet(encPath)
      val encoded = spark.read.parquet(encPath)
      val adcSec = timed {
        Pq.adcTopK(encoded, cb, probes, "vec_id", "embedding", 10)
          .write.format("noop").mode("overwrite").save()
      }
      // residual IVF-PQ (the persisted two-level layout): build = refined
      // coarse k-means + residual codebook + encode; search = nprobe-pruned
      // residual ADC over the stored codes
      val ipq = new IvfPqIndex(spark, tmp("graft-scale-ivfpq"))
      val ipqBuildSec = timed { ipq.build(emb, nlist = 64, m = 8, ksub = 32, lloydIterations = 1) }
      val ipqSearchSec = timed {
        ipq.topK(probes, k = 10, nprobe = 4)
          .write.format("noop").mode("overwrite").save()
      }
      emit(s"""{"curve":"ivf_pq_scaling","vectors":$n,"ivf_build_sec":$buildSec,""" +
        s""""ivf_search_sec":$searchSec,"pq_train_sec":$pqTrainSec,"adc_search_sec":$adcSec,""" +
        s""""ivfpq_build_sec":$ipqBuildSec,"ivfpq_search_sec":$ipqSearchSec}""")
    }

    // ---- 5. compaction cost vs part count --------------------------------
    // a state table accumulates parts per append; merge-on-read pays for
    // every part until compact() (the OPTIMIZE FINAL analog) folds the tree
    // back to O(states). The background cost at 100 TB: read cost grows
    // with the part count, compact pays one bounded merge, the read returns
    // to the states floor regardless of how many parts went in.
    if (on("compact") && !x10)
    for (appends <- Seq(8, 32, 128).map(p => math.max(2, p / div))) {
      val days = 4
      val keysPerDay = 2000
      val st = new StateTable(spark, tmp("graft-scale-compact"),
        keys = Seq("day", "k"), partitionCol = "day",
        metrics = Seq(SumMetric("v", col("v_src")), CountMetric("cnt")))
      val batch = spark.range(days.toLong * keysPerDay).select(
        expr(s"date_add(date'2024-01-01', cast(id % $days as int))").as("day"),
        (col("id") / days).cast("long").as("k"),
        (col("id") % 97).cast("double").as("v_src"))
      for (_ <- 0 until appends) st.appendBatch(batch)
      def readSec(): Double = timed {
        st.merged().write.format("noop").mode("overwrite").save()
      }
      val before = readSec()
      val check = st.merged().agg(sum(col("cnt"))).head().getLong(0)
      val l = new CountListener
      spark.sparkContext.addSparkListener(l)
      val compactSec = timed { st.compact() }
      l.drain()
      spark.sparkContext.removeSparkListener(l)
      val after = readSec()
      require(st.merged().agg(sum(col("cnt"))).head().getLong(0) == check,
        "compaction changed the merged result")
      emit(s"""{"curve":"compact_scaling","appends":$appends,""" +
        s""""states":${days * keysPerDay},""" +
        s""""raw_state_rows":${appends.toLong * days * keysPerDay},""" +
        s""""read_sec_before":$before,"compact_sec":$compactSec,""" +
        s""""compact_shuffle_mb":${l.shuffleBytes.get / 1e6},""" +
        s""""read_sec_after":$after}""")
    }

    // ---- 6. TF-IDF spine vs corpus size ----------------------------------
    // the (doc,token) tf aggregate + token df aggregate + join-back spine
    // must scale linearly in total tokens: exchanged records grow ~N,
    // per-doc wall cost falls (fixed job floor amortizes)
    if (on("tfidf"))
    for (n <- pts(Seq(20000L, 200000L, 1000000L))) {
      val d = docs(spark, n)
      // static plan for readable metrics; broadcast OFF so every size point
      // runs the same (worst-case, 100 TB-relevant) shuffle-join regime —
      // small points would otherwise broadcast the df side and exchange
      // 6x fewer token-volumes, bending the curve for plan reasons
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val scored = graft.text.Curation.tfIdfScore(d, "doc_id", "text")
        val plan = scored.queryExecution.executedPlan
        val sec = timed { plan.execute().count(): Unit }
        val (recs, bytes) = exchangeStats(plan)
        emit(s"""{"curve":"tfidf_scaling","docs":$n,"sec":$sec,""" +
          s""""ms_per_kdoc":${sec * 1e6 / n},"exchange_records":$recs,""" +
          s""""exchange_mb":${bytes / 1e6}}""")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      }
    }

    // ---- 7. duplicated-span detection vs corpus size ---------------------
    // the window-digest count + semi-join + coverage spine: exchanged
    // records ∝ corpus token windows (each a fixed-width digest), so
    // ms/kdoc must stay flat-to-falling as the fixed job floor amortizes.
    // docs() plants 4-doc near-dup groups sharing 36 of 40 words, so real
    // duplicated spans exist at every size point.
    if (on("spans"))
    for (n <- pts(Seq(20000L, 200000L, 1000000L))) {
      val d = docs(spark, n)
      // same worst-case regime as the tfidf curve: static plan, no
      // broadcast, so every size point exchanges the full digest stream
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val spans = Dedup.duplicatedSpans(d, "text", "doc_id", k = 5)
        val plan = spans.queryExecution.executedPlan
        val sec = timed { plan.execute().count(): Unit }
        val (recs, bytes) = exchangeStats(plan)
        emit(s"""{"curve":"span_scaling","docs":$n,"sec":$sec,""" +
          s""""ms_per_kdoc":${sec * 1e6 / n},"exchange_records":$recs,""" +
          s""""exchange_mb":${bytes / 1e6}}""")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      }
    }

    // ---- 8. statistical aggregates vs row count --------------------------
    // entropy/cramersV/quantileExactWeighted/intervalLengthSum carry
    // O(distinct-values) count-map state, map-side combined — the
    // exchange must be CONSTANT across row growth (ScaleSpec pins
    // equality; this curve records the measured sizes) and wall time
    // linear-to-sublinear as the job floor amortizes.
    if (on("stats"))
    for (n <- pts(Seq(100000L, 1000000L, 5000000L))) {
      graft.functions.ChCompat.register(spark)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        spark.range(0, n, 1, 32).selectExpr(
          "CAST(id % 7 AS STRING) g", "id % 997 v", "CAST(id % 5 AS STRING) y",
          "id % 1000 s", "id % 1000 + id % 13 e")
          .createOrReplaceTempView("graft_bs_stats")
        val df = spark.sql(
          """SELECT g, entropy(v), cramersV(v, y),
            |       quantileExactWeighted(v, 1, 0.5D), intervalLengthSum(s, e)
            |FROM graft_bs_stats GROUP BY g""".stripMargin)
        val plan = df.queryExecution.executedPlan
        val sec = timed { plan.execute().count(): Unit }
        val (recs, bytes) = exchangeStats(plan)
        emit(s"""{"curve":"stat_agg_scaling","rows":$n,"sec":$sec,""" +
          s""""ms_per_krow":${sec * 1e6 / n},"exchange_records":$recs,""" +
          s""""exchange_mb":${bytes / 1e6}}""")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }

    // ---- 9. hot-key window/aggregate operators ---------------------------
    // SCALE.md argued (did not measure) that the window-pass operators
    // "spill in the window sort" under a pathological hot key. This
    // measures it: ONE uid holds half the events (1M at full scale),
    // driven through the q63/q64/q66 operators; and a CC point whose
    // graph holds one 1e5-doc component in its worst (chain) diameter.
    // spill_* record what actually spilled — 0 with wall time in budget
    // is evidence too (the hot partition fit the executor's sort memory).
    if (on("hotkey")) {
      // x10: one decade up — a 1e7-event hot uid through the same paths.
      // At that size the ops contaminate each other's wall clock inside
      // one JVM (a 22M-row asof leaves GC/memory churn that tripled the
      // next op's reading) — `hotkey <op>` runs ONE op per JVM for
      // honest decade points.
      val hotOps = args.toSet.intersect(
        Set("asof", "sessionize", "sequence_match", "cc_hot_cluster",
          "cc_hot_star"))
      def opOn(o: String): Boolean = hotOps.isEmpty || hotOps.contains(o)
      val hotN = (if (x10) 10000000L else 1000000L) / div
      val bgN = hotN
      // hot uid 0 carries hotN events; bgN more spread over 100k uids
      val events = spark.range(hotN + bgN).select(
        when(col("id") < hotN, 0L)
          .otherwise(pmod(col("id"), lit(100000)) + 1).as("uid"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
        pmod(col("id"), lit(3)).cast("int").as("etype"))
      def measure(op: String, hotSize: Long = hotN)(f: => Unit): Unit = {
        val l = new CountListener
        spark.sparkContext.addSparkListener(l)
        val sec = timed(f)
        l.drain()
        spark.sparkContext.removeSparkListener(l)
        emit(s"""{"curve":"hotkey","op":"$op","hot_rows":$hotSize,"sec":$sec,""" +
          s""""jobs":${l.jobs.get},"shuffle_mb":${l.shuffleBytes.get / 1e6},""" +
          s""""spill_mem_mb":${l.spillMemBytes.get / 1e6},""" +
          s""""spill_disk_mb":${l.spillDiskBytes.get / 1e6}}""")
      }
      if (opOn("asof")) measure("asof") {
        // right side shares the skew (the hot uid's quote timeline is
        // long too) — the tagged-union window sorts hot-uid rows from
        // BOTH sides in one partition
        val right = spark.range((hotN + bgN) / 10).select(
          when(col("id") < hotN / 10, 0L)
            .otherwise(pmod(col("id"), lit(100000)) + 1).as("uid"),
          timestamp_seconds(lit(1700000000L) + col("id") * 7).as("rts"),
          (col("id") % 1000).as("quote"))
        graft.operators.AsOfJoin.asof(events, right, Seq("uid"), "ts", "rts")
          .write.format("noop").mode("overwrite").save()
      }
      if (opOn("sessionize")) measure("sessionize") {
        graft.operators.Sessionize.sessionize(events, "uid", "ts", 1800)
          .write.format("noop").mode("overwrite").save()
      }
      if (opOn("sequence_match")) measure("sequence_match") {
        // the TypedImperativeAggregate collects (ts, mask) per uid — the
        // hot group's buffer holds 1M events on one task
        graft.functions.ChCompat.register(spark)
        events.groupBy("uid").agg(
          graft.functions.SequenceMatch.sequence_match("(?1).*(?2).*(?3)",
            col("ts"), col("etype") === 0, col("etype") === 1,
            col("etype") === 2).as("m"))
          .write.format("noop").mode("overwrite").save()
      }
      val ccN = (if (x10) 1000000L else 100000L) / div
      if (opOn("cc_hot_cluster")) measure("cc_hot_cluster", ccN) {
        // one 1e5-node CHAIN (worst diameter — pointer jumping must halve
        // it ~log2(1e5) times) + background pairs; partition skew rides
        // the min-label hot key (every round funnels the component's
        // labels toward one id)
        val n = ccN
        val chain = spark.range(n)
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        val bg = spark.range(n)
          .select((col("id") * 2 + 2 * n).as("id_a"),
            (col("id") * 2 + 2 * n + 1).as("id_b"))
        Cluster.connectedComponents(chain.unionAll(bg), "id_a", "id_b")
          .write.format("noop").mode("overwrite").save()
      }
      if (opOn("cc_hot_star")) measure("cc_hot_star", ccN) {
        // the chain's opposite pole: the SAME node count in a diameter-2
        // STAR (node 0 at the center). Pointer jumping's round count is
        // O(log diameter), so this must resolve in ~2 rounds — the
        // chain-vs-star job-count gap is the direct evidence that CC's
        // cost is diameter-driven, not size-driven. The star is also the
        // min-label HOT KEY worst case: every edge relaxes toward label 0
        // in one aggregate (map-side combine is the guard being measured).
        val n = ccN
        val star = spark.range(1, n)
          .select(lit(0L).as("id_a"), col("id").as("id_b"))
        val bg = spark.range(n)
          .select((col("id") * 2 + 2 * n).as("id_a"),
            (col("id") * 2 + 2 * n + 1).as("id_b"))
        Cluster.connectedComponents(star.unionAll(bg), "id_a", "id_b")
          .write.format("noop").mode("overwrite").save()
      }
    }

    emit(s"""{"metric":"bench_scale_done","quick":$quick,"x10":$x10}""")
    // full runs refresh the file; a section-filtered run APPENDS so it
    // can't silently drop the other curves' recorded points
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_scale.jsonl"),
      out.toString.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      if (sections.isEmpty && !x10) java.nio.file.StandardOpenOption.TRUNCATE_EXISTING
      else java.nio.file.StandardOpenOption.APPEND): Unit
    catch { case _: Exception => () }
    spark.stop()
  }
}
