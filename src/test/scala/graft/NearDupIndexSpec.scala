package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, NearDupIndex}

/** Incremental dedup index: batched appends must be indistinguishable from
  * the one-shot LSH pipeline (same seeded hashes), and the ingest loop must
  * drop duplicates against history without re-signaturing it.
  */
class NearDupIndexSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills of the valley"
    Seq(
      (0L, base),
      (1L, base),                                              // exact dup of 0
      (2L, base.replace("green", "bright")),                   // near dup of 0
      (3L, base + " and the wind blows"),                      // near dup of 0
      (4L, "completely different words about spark catalyst optimizer plans and shuffles in a cluster"),
      (5L, "another unrelated document mentioning bitmap funnels state merges and materialized views here"),
      (6L, "the quick brown fox sleeps under the old oak tree near the river bend all day long today")
    ).toDF("doc_id", "text")
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-ndi").toString + "/ix"

  /** History rows must never enter an exchange RAW: every shuffle in `p`
    * may only see history data (files under `path`) that already passed
    * through a join, i.e. batch-sized candidate rows. Bucketing satisfies
    * each history join's distribution, so a history scan reachable from an
    * exchange without crossing a join means history itself was shuffled —
    * O(|history|) per batch.
    */
  private def historyStreamed(p: SparkPlan, path: String): Unit = {
    val joins = p.collect {
      case j: SortMergeJoinExec => j: SparkPlan
      case j: ShuffledHashJoinExec => j: SparkPlan
    }
    assert(joins.nonEmpty, s"expected a shuffled join in:\n$p")
    def rawHistoryReachable(n: SparkPlan): Boolean = n match {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.mkString(",").contains(path)
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec => false
      case other => other.children.exists(rawHistoryReachable)
    }
    for (e <- p.collect { case e: ShuffleExchangeExec => e })
      assert(!rawHistoryReachable(e.child),
        s"history scan feeds an exchange without an intervening join:\n$p")
    // and the joins actually stream history somewhere: at least one join
    // side reads the index directly with no exchange anywhere under it
    val streamed = joins.exists(_.children.exists(side =>
      side.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
        side.collect {
          case s: FileSourceScanExec
            if s.relation.location.rootPaths.mkString(",").contains(path) => s
        }.nonEmpty))
    assert(streamed, s"no join streams the history side directly:\n$p")
  }

  test("two-batch append + probe == one-shot minhashNearDups pair set") {
    val ix = new NearDupIndex(spark, tmp(), numHashes = 64, bands = 16)
    ix.append(corpus.filter(col("doc_id") <= 3), "text", "doc_id")
    ix.append(corpus.filter(col("doc_id") > 3), "text", "doc_id")
    // probing the full corpus against the full index yields every candidate
    // pair in both directions; normalized it must equal the one-shot run
    val inc = ix.probe(corpus, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val oneShot = Dedup.minhashNearDups(corpus, "text", "doc_id", 64, 16, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == oneShot, s"incremental=$inc oneShot=$oneShot")
    assert(oneShot.nonEmpty, "fixture should contain near-dup pairs")
  }

  test("dedupAndAppend drops history dups and in-batch dups, keeps novel docs") {
    val ix = new NearDupIndex(spark, tmp(), numHashes = 64, bands = 16)
    val kept1 = ix.dedupAndAppend(corpus.filter(col("doc_id").isin(0, 4)), "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(0L, 4L), "first batch has no dups")
    // batch 2: 1 is an exact dup of indexed 0; 5 is novel; 2 and 3 are
    // near-dups of 0 — whether they fall under the 0.5 estimate is decided
    // by the (deterministic) probe, so assert consistency with it
    val batch2 = corpus.filter(col("doc_id").isin(1, 2, 3, 5))
    val dupIds = ix.probe(batch2, "text", "doc_id", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    val kept2 = ix.dedupAndAppend(batch2, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dupIds.contains(1L), "exact dup must probe as duplicate")
    assert(!dupIds.contains(5L), "unrelated doc must not probe as duplicate")
    assert(kept2 == Set(1L, 2L, 3L, 5L) -- dupIds, "kept == batch minus probed dups")
    // the survivors are now indexed: re-probing them finds only themselves,
    // so a replayed batch dedups to nothing
    val replay = ix.dedupAndAppend(batch2, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay.isEmpty, s"replayed batch should fully dedup, kept $replay")
  }

  test("streaming ingest via foreachBatch dedups against all prior batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val ix = new NearDupIndex(spark, tmp(), numHashes = 64, bands = 16)
    val rows = corpus.as[(Long, String)].collect().toMap
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ix.dedupAndAppend(batch, "text", "doc_id"): Unit
      }
      .start()
    try {
      input.addData((0L, rows(0L)), (4L, rows(4L)))
      q.processAllAvailable()
      input.addData((1L, rows(1L)), (5L, rows(5L))) // 1 = exact dup of 0
      q.processAllAvailable()
      input.addData((1L, rows(1L)))                 // replayed batch
      q.processAllAvailable()
      val indexed = ix.index.select("id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(indexed == Set(0L, 4L, 5L),
        s"exact dup and replay must not enter the index: $indexed")
    } finally q.stop()
  }

  test("append layout: at most defaultParallelism write tasks, one file per bucket, " +
      "one membership row per kept id") {
    import spark.implicits._
    val path = tmp()
    // 32 buckets on local[4] (the stamp an index created on 32 slots
    // carries): more buckets than write tasks, so each task writes several
    writeStamp(path, numHashes = 64, buckets = 32)
    val ix = new NearDupIndex(spark, path, numHashes = 64, bands = 16)
    val cores = spark.sparkContext.defaultParallelism
    val dataDir = new java.io.File(path, "data")
    // part-<task index>-<job uuid>_<bucket id>.c000.<codec>.parquet
    val Part = """part-(\d{5})-.*_(\d{5})\.c000.*\.parquet""".r
    var seen = Set.empty[String]
    def checkAppend(): Unit = {
      val added = dataDir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet -- seen
      assert(added.nonEmpty, "an append with survivors writes files")
      val parts = added.toSeq.map { case Part(task, bucket) => (task.toInt, bucket.toInt) }
      assert(parts.forall(_._1 < cores),
        s"write tasks must stay below defaultParallelism $cores: ${added.toSeq.sorted}")
      val perBucket = parts.groupBy(_._2).filter(_._2.size > 1)
      assert(perBucket.isEmpty, s"more than one file per bucket in one append: $perBucket")
      seen ++= added
    }
    def sigs(batch: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      Dedup.minhashSignatures(batch, "text", "doc_id", 64).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def kept(batch: org.apache.spark.sql.DataFrame): Set[Long] =
      ix.dedupAndAppend(batch, "text", "doc_id").select("doc_id").collect().map(_.getLong(0)).toSet

    val history = corpus.filter(col("doc_id") <= 3)
    ix.append(history, "text", "doc_id")
    checkAppend()
    // a repeated doc_id (two texts, one signature over both) and a doc too
    // short to signature (no shingle, so no band rows: it is never kept)
    val batch1 = corpus.filter(col("doc_id").isin(4, 5)).unionByName(Seq(
      (5L, "a second text under the same id about parquet row groups and footers"),
      (7L, "too short")).toDF("doc_id", "text"))
    val kept1 = kept(batch1)
    checkAppend()
    // an exact dup of history and a novel doc
    val batch2 = corpus.filter(col("doc_id") === 6).unionByName(
      corpus.filter(col("doc_id") === 0).select(lit(8L).as("doc_id"), col("text")))
    val kept2 = kept(batch2)
    checkAppend()
    val sig1 = sigs(batch1)
    assert(!sig1.contains(7L), "fixture: doc 7 must be too short to signature")
    assert(kept1 == Set(4L, 5L) && kept2 == Set(6L), s"kept $kept1 then $kept2")

    val members = spark.read.parquet(dataDir.toString).where(col("band") === -1)
      .select("id", "sig").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq
    val ids = members.map(_._1)
    assert(ids.sorted == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L),
      s"one membership row per indexed id, got ${ids.sorted}")
    val expected = sigs(history) ++ sig1.filter(e => kept1(e._1)) ++
      sigs(batch2).filter(e => kept2(e._1))
    assert(members.toMap == expected, "membership rows carry each id's batch signature")
    val bucketIds = seen.toSeq.map { case Part(_, bucket) => bucket.toInt }
    assert(bucketIds.max >= cores && bucketIds.max < 32,
      s"fixture: buckets beyond the cores, got ${bucketIds.distinct.sorted}")
  }

  test("property: survivors of any batched ingest are pairwise below threshold") {
    // 300 synthetic docs in planted near-dup groups of 4, ingested in 3
    // arbitrary batches. For any two survivors x < y: when y arrived, x
    // was already indexed (cross-batch) or a same-batch survivor — either
    // way y would have been dropped if est_jaccard(x, y) >= t. So the
    // final survivor set must contain NO pair at or above the threshold.
    val ix = new NearDupIndex(spark, tmp(), numHashes = 32, bands = 16)
    val docs = BenchScale.docs(spark, 300)
    val survivors = (0 until 3).flatMap { b =>
      ix.dedupAndAppend(docs.filter(col("doc_id") % 3 === b), "text", "doc_id", 0.5)
        .select("doc_id").collect().map(_.getLong(0))
    }.toSet
    assert(survivors.nonEmpty && survivors.size < 300,
      s"fixture should drop near-dups: kept ${survivors.size}")
    val survDocs = docs.filter(col("doc_id").isin(survivors.toSeq: _*))
    val pairs = Dedup.minhashNearDups(survDocs, "text", "doc_id", 32, 16, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.isEmpty,
      s"surviving near-dup pairs: ${pairs.take(5).toSeq} (of ${pairs.length})")
    // and a full replay of everything dedups to nothing
    assert(ix.dedupAndAppend(docs, "text", "doc_id", 0.5).count() == 0)
  }

  test("plan: history sides of probe joins never exchange (O(batch) ingest)") {
    val path = tmp()
    val ix = new NearDupIndex(spark, path, numHashes = 64, bands = 16)
    ix.append(corpus.filter(col("doc_id") <= 3), "text", "doc_id")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // worst case on purpose: no broadcast rescue, no AQE re-plan — the
    // static plan itself must keep history exchange-free
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batch = corpus.filter(col("doc_id") > 3)
      val probePlan = ix.probe(batch, "text", "doc_id").queryExecution.executedPlan
      historyStreamed(probePlan, path)
      // slim-layout scan pin: the band join's history scan must be
      // column-pruned to exclude sig (its rows are sig-NULL; reading the
      // column would drag the bytes of EVERY membership row group too),
      // while the membership-sig scan is the only one reading sig
      val histScans = probePlan.collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.mkString(",").contains(path) => s
      }
      assert(histScans.size >= 2, s"expected band + membership scans:\n$probePlan")
      val sigReaders = histScans.count(_.requiredSchema.fieldNames.contains("sig"))
      assert(sigReaders == 1,
        s"exactly the membership scan should read sig, got $sigReaders:\n$probePlan")
      // the replay/membership check dedupAndAppend runs internally: the
      // membership rows stream (band/bucket-aligned), only the batch's
      // ids exchange
      val members = ix.replayMembers(
        batch.select(col("doc_id").as("id")).distinct())
      historyStreamed(members.queryExecution.executedPlan, path)
      // the ingest probe (replay, candidate and verification joins over
      // the bucketed table) — the exact joins dedupAndAppend runs
      historyStreamed(
        ix.historyDupIds(ix.banded(batch, "text", "doc_id"), 0.5)
          .queryExecution.executedPlan, path)
      // REOPENING the index binds to the same catalog table — the
      // bucketed, exchange-free probe shape must survive a restart
      val reopened = new NearDupIndex(spark, path, numHashes = 64, bands = 16)
      historyStreamed(
        reopened.probe(batch, "text", "doc_id").queryExecution.executedPlan, path)
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  test("layout stamp guards the READ path; duplicate membership rows don't duplicate pairs") {
    // a v1 stamp (no "layout" field — sig stored per band row) must fail
    // even the read-only probe: probing v1 data with v2 code would find no
    // membership sigs and silently admit every duplicate
    val p1 = tmp()
    val metaPath = new org.apache.hadoop.fs.Path(p1, "_meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metaPath, true)
    out.write(
      """{"numHashes":64,"bands":16,"shingleSize":3,"dataBuckets":32}""".getBytes("UTF-8"))
    out.close()
    val old = new NearDupIndex(spark, p1, numHashes = 64, bands = 16)
    val e = intercept[IllegalArgumentException](
      old.probe(corpus.limit(2), "text", "doc_id"))
    assert(e.getMessage.contains("was built with"))
    // append() is replay-unaware by design, so the same doc id can hold
    // two membership rows — the probe's pair contract stays one row per
    // (id, dup_of) despite the membership fanout
    val ix = new NearDupIndex(spark, tmp(), numHashes = 64, bands = 16)
    ix.append(corpus.filter(col("doc_id") === 0), "text", "doc_id")
    ix.append(corpus.filter(col("doc_id") === 0), "text", "doc_id")
    val pairs = ix.probe(corpus.filter(col("doc_id") === 1), "text", "doc_id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 0L)),
      s"expected exactly one (1, 0) pair, got ${pairs.toSeq}")
    // conflicting re-append (same id, DIFFERENT text -> a second, different
    // stored sig): still one row per pair, with the MAX est_jaccard across
    // the stored sigs — deterministic, where an arbitrary-row dedup would
    // report whichever sig the plan happened to keep
    ix.append(corpus.filter(col("doc_id") === 4)
      .select(lit(0L).as("doc_id"), col("text")), "text", "doc_id")
    val pairs2 = ix.probe(corpus.filter(col("doc_id") === 1), "text", "doc_id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs2.length == 1 && pairs2.head._1 == 1L && pairs2.head._2 == 0L &&
      pairs2.head._3 == 1.0, // doc 1 is an exact dup of 0's ORIGINAL text
      s"expected one (1, 0, 1.0) pair, got ${pairs2.toSeq}")
  }

  test("history probe: the executed plan scans the data table three times") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val path = tmp()
    val ix = new NearDupIndex(spark, path, numHashes = 64, bands = 16)
    ix.append(corpus.filter(col("doc_id") <= 3), "text", "doc_id")
    // perfbench's posture: AQE on, default broadcast threshold. Filter
    // pushdown splits the logical bucket join per branch, so the table is
    // read once for replay (band = -1: bucket), once for candidates
    // (band >= 0: bucket, id) and once for verification (band = -1:
    // bucket, sig); each scan also reads band for its filter
    withSqlConf("spark.sql.adaptive.enabled" -> "true") {
      val dups = ix.historyDupIds(
        ix.banded(corpus.filter(col("doc_id") > 3), "text", "doc_id"), 0.5)
      dups.collect(): Unit
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.mkString(",").contains(path) => Seq(s)
        case _ => Nil
      }) ++ p.children.flatMap(scans)
      val read = scans(dups.queryExecution.executedPlan)
        .map(_.requiredSchema.fieldNames.toSeq.sorted).sortBy(_.mkString(","))
      assert(read == Seq(Seq("band", "bucket"), Seq("band", "bucket", "id"),
        Seq("band", "bucket", "sig")),
        s"data table scans (columns read): $read")
    }
  }

  test("parameter stamp: reopening with different banding fails fast") {
    val path = tmp()
    new NearDupIndex(spark, path, numHashes = 64, bands = 16)
      .append(corpus.limit(2), "text", "doc_id")
    val e = intercept[IllegalArgumentException] {
      new NearDupIndex(spark, path, numHashes = 128, bands = 32)
        .append(corpus.limit(1), "text", "doc_id")
    }
    assert(e.getMessage.contains("was built with"))
  }

  test("reopen: an index stamped with 32 buckets keeps 32 buckets and its " +
      "exchange-free probe") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val path = tmp()
    writeStamp(path, numHashes = 64, buckets = 32)
    val first = new NearDupIndex(spark, path, numHashes = 64, bands = 16)
    first.append(corpus.filter(col("doc_id") <= 3), "text", "doc_id")
    assert(stamp(path) ==
      """{"numHashes":64,"bands":16,"shingleSize":3,"dataBuckets":32,"layout":2}""")
    // a new session's catalog has no entry for the table: the reopened
    // instance recreates it from the stamp
    spark.sql(s"DROP TABLE ${first.dataTable}")
    val reopened = new NearDupIndex(spark, path, numHashes = 64, bands = 16)
    val dataDir = new java.io.File(path, "data")
    def bucketIds(): Set[Int] = dataDir.listFiles().map(_.getName)
      .collect { case BucketId(b) => b.toInt }.toSet
    val before = bucketIds()
    val dataFiles = dataDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(reopened.dedupAndAppend(corpus.filter(col("doc_id") > 3), "text", "doc_id")
      .count() > 0, "fixture: the batch has survivors")
    val numBuckets = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(first.dataTable)).bucketSpec.map(_.numBuckets)
    assert(numBuckets.contains(32), s"catalog bucket count $numBuckets")
    assert(dataDir.listFiles().count(_.getName.endsWith(".parquet")) > dataFiles)
    assert(bucketIds().forall(_ < 32) && bucketIds().exists(_ >= 4) &&
      before.exists(_ >= 4), s"file bucket ids ${bucketIds().toSeq.sorted}")
    withSqlConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      historyStreamed(reopened.probe(corpus, "text", "doc_id")
        .queryExecution.executedPlan, path)
    }
  }

  test("bucket count is layout only: 32 and default buckets keep the same survivors") {
    val docs = BenchScale.docs(spark, 300)
    val p32 = tmp()
    val pDefault = tmp()
    writeStamp(p32, numHashes = 32, buckets = 32)
    val ix32 = new NearDupIndex(spark, p32, numHashes = 32, bands = 16)
    val ixDefault = new NearDupIndex(spark, pDefault, numHashes = 32, bands = 16)
    def kept(ix: NearDupIndex, batch: org.apache.spark.sql.DataFrame): Set[Long] =
      ix.dedupAndAppend(batch, "text", "doc_id", 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = (0 until 3).flatMap { b =>
      val batch = docs.filter(col("doc_id") % 3 === b)
      val (k32, kDefault) = (kept(ix32, batch), kept(ixDefault, batch))
      assert(k32 == kDefault, s"batch $b: 32 buckets kept $k32, default kept $kDefault")
      k32
    }
    assert(survivors.nonEmpty && survivors.size < 300,
      s"fixture should drop near-dups: kept ${survivors.size}")
    // a new index takes one bucket per task slot of the local[4] session
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(stamp(pDefault) ==
      """{"numHashes":32,"bands":16,"shingleSize":3,"dataBuckets":4,"layout":2}""")
    assert(stamp(p32).contains(""""dataBuckets":32"""))
    def ids(ix: NearDupIndex): Set[Long] = ix.indexedIds.collect().map(_.getLong(0)).toSet
    assert(ids(ix32) == ids(ixDefault))
  }

  // part-<task index>-<job uuid>_<bucket id>.c000.<codec>.parquet
  private val BucketId = """part-\d{5}-.*_(\d{5})\.c000.*\.parquet""".r

  /** The layout-2 stamp an index created with `buckets` buckets writes
    * (default shingle size), so the next instance on `path` adopts it.
    */
  private def writeStamp(path: String, numHashes: Int, buckets: Int): Unit = {
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("_meta.json"),
      (s"""{"numHashes":$numHashes,"bands":16,"shingleSize":3,""" +
        s""""dataBuckets":$buckets,"layout":2}""").getBytes("UTF-8"))
  }

  private def stamp(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_meta.json")), "UTF-8")
}
