package graft

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.mv._
import graft.queries.dec

/** The reference's central correctness properties for state tables
  * (doc:934-995 and SURVEY.md §5 form 2):
  *  - merge-on-read over incrementally appended batches == direct aggregation
  *    over all raw rows;
  *  - compaction (OPTIMIZE FINAL analog) is read-equivalent;
  *  - unwritten metrics merge as identity (union-max wide table, doc:848-995);
  *  - late data lands in its own day and still reconciles (no watermark drop).
  */
class StateTableSpec extends SparkSpec {

  private def mkEvents(rows: Seq[(String, String, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("day_s", "hour_s", "uid", "etype", "value")
      .select(
        to_date(col("day_s")).as("day"),
        col("hour_s").cast(TimestampType).as("hour"),
        col("uid"), col("etype"), col("value"))
  }

  private val batch1 = mkEvents(Seq(
    ("2024-01-01", "2024-01-01 10:00:00", 1L, "view", 10.50),
    ("2024-01-01", "2024-01-01 10:00:00", 2L, "view", 1.25),
    ("2024-01-01", "2024-01-01 11:00:00", 1L, "click", 3.75),
    ("2024-01-02", "2024-01-02 09:00:00", 3L, "view", 7.00)))
  private val batch2 = mkEvents(Seq(
    ("2024-01-01", "2024-01-01 10:00:00", 1L, "view", 2.25),   // same key as batch1 rows
    ("2024-01-01", "2024-01-01 10:00:00", 4L, "view", 9.00),
    ("2024-01-02", "2024-01-02 09:00:00", 3L, "view", 1.00),
    ("2024-01-02", "2024-01-02 12:00:00", 5L, "click", 4.50)))
  // batch3 is LATE: still carries day 2024-01-01 though it "arrives" last
  private val batch3 = mkEvents(Seq(
    ("2024-01-01", "2024-01-01 10:00:00", 6L, "view", 5.00),
    ("2024-01-01", "2024-01-01 23:00:00", 1L, "view", 0.50)))

  private def newTable(dir: String): StateTable = new StateTable(
    spark, dir,
    keys = Seq("day", "hour", "etype"),
    partitionCol = "day",
    metrics = Seq(
      BitmapUvMetric("uv", col("uid")),
      SumMetric("value_sum", dec(col("value"))),
      CountMetric("cnt"),
      MedianExactMetric("value_median", col("value")),
      MaxMetric("value_max", col("value"))))

  private def direct(groupKeys: Seq[String]): DataFrame = {
    val all = batch1.unionByName(batch2).unionByName(batch3)
    all.groupBy(groupKeys.map(col): _*).agg(
      countDistinct(col("uid")).as("uv"),
      sum(dec(col("value"))).as("value_sum"),
      count(lit(1)).as("cnt"),
      percentile(col("value"), lit(0.5)).as("value_median"),
      max(col("value")).as("value_max"))
  }

  private def assertSameResult(a: DataFrame, b: DataFrame): Unit = {
    val ac = a.columns.sorted
    val aSorted = a.select(ac.map(col): _*)
    val bSorted = b.select(ac.map(col): _*)
    val aRows = aSorted.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val bRows = bSorted.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(aRows.toSeq.map(_.map {
      case d: java.math.BigDecimal => d.doubleValue()
      case x => x
    }) == bRows.toSeq.map(_.map {
      case d: java.math.BigDecimal => d.doubleValue()
      case x => x
    }))
  }

  test("merge-on-read over 3 appended batches == direct aggregation (incl. late data)") {
    val dir = tmpDir("state")
    val st = newTable(dir + "/t")
    Seq(batch1, batch2, batch3).foreach(st.appendBatch)
    assertSameResult(st.finalized(Seq("day", "hour", "etype")), direct(Seq("day", "hour", "etype")))
  }

  test("rollup to coarser keys from states == direct aggregation at those keys") {
    val dir = tmpDir("state")
    val st = newTable(dir + "/t")
    Seq(batch1, batch2, batch3).foreach(st.appendBatch)
    // note: only re-aggregable metrics survive a coarser rollup comparison
    val got = st.finalized(Seq("day", "etype"))
      .select("day", "etype", "uv", "value_sum", "cnt", "value_median", "value_max")
    assertSameResult(got, direct(Seq("day", "etype")))
  }

  test("rollupTo cascades dwm states into a persisted dws table (MV-on-MV)") {
    val dir = tmpDir("state")
    val dwm = newTable(dir + "/dwm")
    Seq(batch1, batch2, batch3).foreach(dwm.appendBatch)
    // dws carries the re-aggregable subset at (day, etype)
    val dws = new StateTable(spark, dir + "/dws",
      keys = Seq("day", "etype"), partitionCol = "day",
      metrics = Seq(
        BitmapUvMetric("uv", col("uid")),
        SumMetric("value_sum", dec(col("value"))),
        CountMetric("cnt"),
        MaxMetric("value_max", col("value"))))
    // cascade one day at a time (insert-trigger semantics: each slice once)
    dwm.rollupTo(dws, col("day") === to_date(lit("2024-01-01")))
    dwm.rollupTo(dws, col("day") === to_date(lit("2024-01-02")))
    val got = dws.finalized(Seq("day", "etype"))
    val exp = direct(Seq("day", "etype"))
      .select("day", "etype", "uv", "value_sum", "cnt", "value_max")
    assertSameResult(got, exp)
    // guard rails: unknown metric / key must be rejected
    val bad = new StateTable(spark, dir + "/bad",
      keys = Seq("day"), partitionCol = "day",
      metrics = Seq(CountMetric("nope")))
    intercept[IllegalArgumentException](dwm.rollupTo(bad))
  }

  test("compaction is read-equivalent and reduces row count (doc:953-995)") {
    val dir = tmpDir("state")
    val st = newTable(dir + "/t")
    Seq(batch1, batch2, batch3).foreach(st.appendBatch)
    val before = st.finalized().collect().map(_.toSeq).sortBy(_.mkString("|"))
    val rawBefore = st.read().count()
    st.compact()
    val after = st.finalized().collect().map(_.toSeq).sortBy(_.mkString("|"))
    val rawAfter = st.read().count()
    assert(before.toSeq == after.toSeq)
    assert(rawAfter < rawBefore, s"compaction should collapse duplicate keys ($rawBefore -> $rawAfter)")
    // idempotent
    st.compact()
    assert(st.read().count() == rawAfter)
  }

  test("ALTER ADD COLUMN analog: metrics added after data exists merge as identity") {
    import spark.implicits._
    val dir = tmpDir("state") + "/t"
    // v1 of the MV: one metric
    val v1 = new StateTable(spark, dir,
      keys = Seq("day", "id"), partitionCol = "day",
      metrics = Seq(SumMetric("m1", col("m1_src"))))
    v1.appendBatch(Seq(("2024-01-01", 1L, 10L), ("2024-01-01", 2L, 20L))
      .toDF("day_s", "id", "m1_src")
      .select(to_date(col("day_s")).as("day"), col("id"), col("m1_src")))

    // "alter table add column m2": reopen with a widened metric list
    // (ref dwm.mainpage_stat_mv_dis.sql:78-96) and append new-schema parts
    val v2 = new StateTable(spark, dir,
      keys = Seq("day", "id"), partitionCol = "day",
      metrics = Seq(SumMetric("m1", col("m1_src")), MaxMetric("m2", col("m2_src"))))
    v2.appendBatch(Seq(("2024-01-01", 1L, 5L, 100L), ("2024-01-01", 3L, 7L, 300L))
      .toDF("day_s", "id", "m1_src", "m2_src")
      .select(to_date(col("day_s")).as("day"), col("id"), col("m1_src"), col("m2_src")))

    val got = v2.finalized(Seq("id")).select("id", "m1", "m2").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1)
    // pre-ALTER rows surface m2 as NULL -> identity under merge
    assert(got.toSeq == Seq((1L, 15L, 100L), (2L, 20L, -1L), (3L, 7L, 300L)))
    // compaction rewrites everything to the widened schema and is equivalent
    v2.compact()
    val after = v2.finalized(Seq("id")).select("id", "m1", "m2").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1)
    assert(after.toSeq == got.toSeq)
  }

  test("open recovers a table stranded mid-compact (crash between renames)") {
    val dir = tmpDir("state")
    val st = newTable(dir + "/t")
    Seq(batch1, batch2).foreach(st.appendBatch)
    val expected = st.finalized().collect().map(_.toSeq).sortBy(_.mkString("|"))

    // simulate a crash after compact() staged the live table away but
    // before the rewrite swapped in: path gone, .compact.old holds the data
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir + "/t")
    val o = new org.apache.hadoop.fs.Path(dir + "/t.compact.old")
    val t = new org.apache.hadoop.fs.Path(dir + "/t.compact.tmp")
    assert(fs.rename(p, o))
    fs.mkdirs(t) // half-written rewrite left behind
    assert(!fs.exists(p))

    val reopened = newTable(dir + "/t")
    assert(fs.exists(p), "recovery must restore the staged table")
    assert(!fs.exists(o) && !fs.exists(t), "recovery must clear staging dirs")
    val got = reopened.finalized().collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(got.toSeq == expected.toSeq)
  }

  test("open recovers a table stranded mid-mutation (updateWhere/deleteWhere swap)") {
    val dir = tmpDir("state")
    val st = newTable(dir + "/t")
    Seq(batch1, batch2).foreach(st.appendBatch)
    val expected = st.finalized().collect().map(_.toSeq).sortBy(_.mkString("|"))

    // simulate a crash between the mutation's two renames: live path gone,
    // .mutate.old authoritative, a half-written .mutate.tmp left behind
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir + "/t")
    val o = new org.apache.hadoop.fs.Path(dir + "/t.mutate.old")
    val t = new org.apache.hadoop.fs.Path(dir + "/t.mutate.tmp")
    assert(fs.rename(p, o))
    fs.mkdirs(t)
    assert(!fs.exists(p))

    val reopened = newTable(dir + "/t")
    assert(fs.exists(p), "recovery must restore the staged table")
    assert(!fs.exists(o) && !fs.exists(t), "recovery must clear staging dirs")
    val got = reopened.finalized().collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(got.toSeq == expected.toSeq)
  }

  test("TTL expire drops only partitions past the horizon (ods TTL, S10)") {
    val dir = tmpDir("state")
    val st = newTable(dir + "/t")
    Seq(batch1, batch2).foreach(st.appendBatch)
    val dropped = st.expire(days = 10, today = LocalDate.parse("2024-01-12"))
    assert(dropped == Seq("day=2024-01-01"))
    assert(st.read().select("day").distinct().collect().map(_.getDate(0).toString).toSeq == Seq("2024-01-02"))
  }

  test("QuantileSketchMetric: bounded state, merge/compact round-trip, tolerance vs exact") {
    import spark.implicits._
    val dir = tmpDir("state-qsk")
    def mk(lo: Int, hi: Int) = (lo until hi)
      .map(i => ("2024-01-01", (i % 7).toString, i.toDouble)).toDF("day", "g", "v")
    def metrics = Seq(QuantileSketchMetric("v_med", col("v")), CountMetric("cnt"))
    val st = new StateTable(spark, dir + "/t",
      keys = Seq("day", "g"), partitionCol = "day", metrics = metrics)
    st.appendBatch(mk(0, 20000))
    st.appendBatch(mk(20000, 40000))
    st.appendBatch(mk(40000, 60000))
    st.compact()
    // reopen: the merged-then-compacted sketch still answers
    val st2 = new StateTable(spark, dir + "/t",
      keys = Seq("day", "g"), partitionCol = "day", metrics = metrics)
    val got = st2.finalized(Seq("day", "g")).select("g", "v_med").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = mk(0, 60000).groupBy("g")
      .agg(percentile(col("v"), lit(0.5)).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == exact.keySet)
    for ((g, m) <- exact)
      assert(math.abs(got(g) - m) <= 0.02 * 60000,
        s"group $g: sketch median ${got(g)} too far from exact $m")
    // the state is BOUNDED: each group holds ~8571 values, which
    // MedianExactMetric would store as an 8n-byte array; the sketch stays
    // far under that regardless of group size
    val maxLen = st2.read().agg(max(length(col("v_med")))).head().getInt(0)
    assert(maxLen < 8 * (60000 / 7) / 2, s"sketch state not bounded: $maxLen bytes")
  }

  test("TTL hour granularity: day + 10d + 4h expires only past the +4h boundary") {
    // the reference's full TTL expression (ods.action_001_dis.sql:21):
    // partition 2024-01-01 expires at 2024-01-11T04:00, not at midnight
    val dir = tmpDir("state")
    val st = newTable(dir + "/t")
    Seq(batch1, batch2).foreach(st.appendBatch)
    val before = st.expire(10, 4, java.time.LocalDateTime.parse("2024-01-11T04:00:00"))
    assert(before.isEmpty, "at exactly day+10d+4h the partition is not yet past the horizon")
    val after = st.expire(10, 4, java.time.LocalDateTime.parse("2024-01-11T04:00:01"))
    assert(after == Seq("day=2024-01-01"))
    assert(st.read().select("day").distinct().collect()
      .map(_.getDate(0).toString).toSeq == Seq("2024-01-02"))
  }

  test("open rescues the ledger from a stale .compact.old beside a live table") {
    val dir = tmpDir("state")
    val st = newTable(dir + "/t")
    assert(st.appendBatchExactlyOnce(batch1, batchId = 0L))
    val expected = st.finalized().collect().map(_.toSeq).sortBy(_.mkString("|"))
    // simulate a crash after compact() swapped the rewrite in but before
    // the ledger moved back: live table without `_ledger`, the superseded
    // copy (ledger inside) still at .compact.old
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir + "/t")
    val o = new org.apache.hadoop.fs.Path(dir + "/t.compact.old")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, o, false,
      spark.sparkContext.hadoopConfiguration))
    assert(fs.delete(new org.apache.hadoop.fs.Path(p, "_ledger"), true))

    val reopened = newTable(dir + "/t")
    assert(!fs.exists(o), "recovery must drop the superseded copy")
    assert(fs.exists(new org.apache.hadoop.fs.Path(p, "_ledger/batch-0")),
      "recovery must move the ledger back into the live table")
    assert(!reopened.appendBatchExactlyOnce(batch1, 0L), "a replay must stay a no-op")
    val got = reopened.finalized().collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(got.toSeq == expected.toSeq)
  }

  test("exactly-once append: replayed batch ids are no-ops, across reopen and compact") {
    val dir = tmpDir("st-eo") + "/t"
    val st = newTable(dir)
    assert(st.appendBatchExactlyOnce(batch1, batchId = 0L))
    assert(st.appendBatchExactlyOnce(batch2, batchId = 1L))
    val once = st.finalized(Seq("day", "etype")).collect().toSet
    // same ids replayed on this instance: deduplicated
    assert(!st.appendBatchExactlyOnce(batch1, 0L))
    assert(!st.appendBatchExactlyOnce(batch2, 1L))
    assert(st.finalized(Seq("day", "etype")).collect().toSet == once)
    // replay against a fresh instance (restart): the ledger is durable
    assert(!newTable(dir).appendBatchExactlyOnce(batch1, 0L))
    // the ledger survives compaction's tree rewrite
    st.compact()
    assert(!st.appendBatchExactlyOnce(batch2, 1L))
    assert(st.finalized(Seq("day", "etype")).collect().toSet == once)
    // and matches the plain-append result
    val plainDir = tmpDir("st-eo-plain") + "/t"
    val plain = newTable(plainDir)
    plain.appendBatch(batch1); plain.appendBatch(batch2)
    assert(plain.finalized(Seq("day", "etype")).collect().toSet == once)
  }

  test("exactly-once recovery: uncommitted batch traces are purged on open") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("st-eo-rec") + "/t"
    val st = newTable(dir)
    assert(st.appendBatchExactlyOnce(batch1, 0L))
    val before = st.finalized(Seq("day", "etype")).collect().toSet
    // simulate a crash mid-ingest of batch id 7: a moved batch-tagged file
    // in a partition dir and a leftover staging dir, with NO ledger marker
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val day = fs.listStatus(new Path(dir)).map(_.getPath)
      .find(_.getName.startsWith("day=")).get
    val orphanSrc = fs.listStatus(day).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    // copy an existing part file under a batch-7 name (duplicate rows)
    org.apache.hadoop.fs.FileUtil.copy(fs, orphanSrc, fs,
      new Path(day, "batch-7-orphan.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dir, "_staging/7"))
    // a fresh open purges the orphan; the committed batch is untouched
    val st2 = newTable(dir)
    assert(st2.finalized(Seq("day", "etype")).collect().toSet == before)
    assert(!fs.exists(new Path(day, "batch-7-orphan.parquet")))
    assert(!fs.exists(new Path(dir, "_staging/7")))
    // the retry of id 7 now ingests cleanly
    assert(st2.appendBatchExactlyOnce(batch2, 7L))
  }

  test("exactly-once namespaces: names colliding after sanitization stay distinct") {
    // "mv-1" and "mv_1" both sanitize to "mv_1"; without disambiguation the
    // second writer's batch 0 would be silently dropped as a replay
    val dir = tmpDir("st-eo-ns") + "/t"
    val st = newTable(dir)
    assert(st.appendBatchExactlyOnce(batch1, 0L, ns = "mv-1"))
    assert(st.appendBatchExactlyOnce(batch2, 0L, ns = "mv_1"),
      "distinct raw namespaces must not share a ledger token")
    // each namespace's own replay still dedups
    assert(!st.appendBatchExactlyOnce(batch1, 0L, ns = "mv-1"))
    assert(!st.appendBatchExactlyOnce(batch2, 0L, ns = "mv_1"))
    // both writers' rows are present
    val plainDir = tmpDir("st-eo-ns-plain") + "/t"
    val plain = newTable(plainDir)
    plain.appendBatch(batch1); plain.appendBatch(batch2)
    assert(st.finalized(Seq("day", "etype")).collect().toSet ==
      plain.finalized(Seq("day", "etype")).collect().toSet)
    // unchanged (already-clean) names keep their old tokens: a pre-existing
    // bare ledger written with ns="mv_1" is still honored by the same name
    assert(!newTable(dir).appendBatchExactlyOnce(batch2, 0L, ns = "mv_1"))
  }

  test("quantile_sketch SQL: integer and decimal literals for eps/q are accepted") {
    newTable(tmpDir("st-qs") + "/t") // constructor registers the SQL functions
    import spark.implicits._
    (1 to 100).map(_.toDouble).toDF("x").createOrReplaceTempView("qs_vals")
    // q = 1 (integer literal) and eps = 0.01 (decimal literal) both normalize
    val top = spark.sql(
      "SELECT quantile_sketch_value(quantile_sketch_agg(x, 0.01), 1) AS v FROM qs_vals")
      .head().getDouble(0)
    assert(top == 100.0, s"q=1 (max) expected 100, got $top")
    val med = spark.sql(
      "SELECT quantile_sketch_value(quantile_sketch_agg(x), 0.5) AS v FROM qs_vals")
      .head().getDouble(0)
    assert(math.abs(med - 50.0) <= 2.0, s"median expected ~50, got $med")
  }

  test("union-max wide table: unwritten metrics merge as identity (doc:848-995)") {
    import spark.implicits._
    // two "logs" write disjoint metric columns into one wide store
    val dir = tmpDir("state") + "/t"
    val st = new StateTable(spark, dir,
      keys = Seq("day", "id"), partitionCol = "day",
      metrics = Seq(SumMetric("m1", col("m1_src")), SumMetric("m2", col("m2_src"))))
    val log1 = Seq(("2024-01-01", 1L, 10001L), ("2024-01-01", 2L, 10002L),
        ("2024-01-01", 3L, 10003L), ("2024-01-01", 3L, 10001L))
      .toDF("day_s", "id", "m1_src")
      .select(to_date(col("day_s")).as("day"), col("id"), col("m1_src"),
        lit(null).cast(LongType).as("m2_src"))
    val log2 = Seq(("2024-01-01", 1L, 1001L), ("2024-01-01", 1L, 1002L),
        ("2024-01-01", 2L, 10001L), ("2024-01-01", 3L, 10001L))
      .toDF("day_s", "id", "m2_src")
      .select(to_date(col("day_s")).as("day"), col("id"),
        lit(null).cast(LongType).as("m1_src"), col("m2_src"))
    st.appendBatch(log1)
    st.appendBatch(log2)
    val got = st.finalized(Seq("id")).select("id", "m1", "m2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // doc:848-995's test.mv_union_max inputs with sum metrics on both columns:
    // the property under test is identity-merge of the unwritten side
    assert(got.toSeq == Seq((1L, 10001L, 2003L), (2L, 10002L, 10001L), (3L, 20004L, 10001L)))
  }

  test("exactly-once replay heals a torn MID-MOVE ingest (files renamed in, no marker)") {
    import org.apache.hadoop.fs.Path
    // The sharpest crash window of appendExactlyOnce: staging fully
    // written, SOME files already renamed into live partition dirs under
    // their batch-tagged names, marker not yet created. A replay of the
    // same id (what a checkpointed foreachBatch retry delivers) must
    // first erase every trace — moved files AND staging — or the batch
    // double-counts.
    val dir = tmpDir("st-torn") + "/t"
    val st = newTable(dir)
    assert(st.appendBatchExactlyOnce(batch1, 0L))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    def tearMidMove(tok: String): Unit = {
      // byte-exact replica of the crash state: stage the batch with the
      // same write shape the real path uses, then rename exactly one data
      // file into its partition dir and "crash" before the rest + marker
      val staging = new Path(dir, s"_staging/$tok")
      st.toStates(batch2).write.mode("overwrite")
        .partitionBy("day").parquet(staging.toString)
      val dayDir = fs.listStatus(staging).map(_.getPath)
        .find(_.getName.startsWith("day=")).get
      val f = fs.listStatus(dayDir).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      val target = new Path(dir, dayDir.getName)
      fs.mkdirs(target)
      assert(fs.rename(f, new Path(target, s"batch-$tok-${f.getName}")))
    }

    // same-instance replay (foreachBatch retry without restart):
    // appendExactlyOnce's own purge (Durable.appendOnce) must remove the torn traces
    tearMidMove("9")
    assert(st.appendBatchExactlyOnce(batch2, 9L))
    val reference = {
      val d = tmpDir("st-torn-ref") + "/t"
      val r = newTable(d); r.appendBatch(batch1); r.appendBatch(batch2); r
    }
    assertSameResult(st.finalized(Seq("day", "etype")),
      reference.finalized(Seq("day", "etype")))

    // fresh-instance replay (process restart): open-time recovery purges,
    // then the retry ingests cleanly — still equal to the clean reference
    tearMidMove("10")
    val st2 = newTable(dir)
    assertSameResult(st2.finalized(Seq("day", "etype")),
      reference.finalized(Seq("day", "etype")))
    assert(!fs.exists(new Path(dir, "_staging/10")))
    assert(st2.appendBatchExactlyOnce(batch3, 10L))
    // and the healed ledger still dedups every committed id
    assert(!st2.appendBatchExactlyOnce(batch2, 9L))
    assert(!st2.appendBatchExactlyOnce(batch3, 10L))
    val withB3 = tmpDir("st-torn-ref3") + "/t"
    val ref3 = newTable(withB3)
    ref3.appendBatch(batch1); ref3.appendBatch(batch2); ref3.appendBatch(batch3)
    assertSameResult(st2.finalized(Seq("day", "etype")),
      ref3.finalized(Seq("day", "etype")))
  }

  test("compactPartition folds HIVE-ESCAPED partition values (':' in the " +
      "value) instead of silently no-opping on the raw dirname") {
    import spark.implicits._
    val dir = tmpDir("st-escape") + "/t"
    val st = new StateTable(spark, dir, keys = Seq("slot", "k"),
      partitionCol = "slot",
      metrics = Seq(SumMetric("v", col("v_src")), CountMetric("cnt")))
    // a partition value partitionBy must %-encode in the directory name
    val slot = "2024-01-01 00:00:00"
    def b = Seq((slot, 1L, 10.0), (slot, 2L, 5.0), ("plain", 1L, 7.0))
      .toDF("slot", "k", "v_src")
    (1 to 3).foreach(_ => st.appendBatch(b))
    val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(slot)
    assert(escaped != slot, "fixture must exercise escaping")
    def parts(dirName: String): Int =
      new java.io.File(dir, dirName).listFiles().count(_.getName.endsWith(".parquet"))
    val before = parts(s"slot=$escaped")
    assert(before >= 3, s"expected >=3 parts, got $before")
    val mergedBefore = st.finalized().collect().map(_.toSeq).toSet

    st.compactPartition(slot) // RAW value, as a user would pass it
    assert(parts(s"slot=$escaped") < before,
      "escaped-value partition was not folded")
    assert(parts("slot=plain") == 3, "untouched partition was rewritten")
    assert(st.finalized().collect().map(_.toSeq).toSet == mergedBefore)
    // crash-window recovery round-trips the escaped staging name too
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(dir, s"slot=$escaped"),
      new org.apache.hadoop.fs.Path(dir + s".pcompact.$escaped.old")))
    val reopened = new StateTable(spark, dir, st.keys, st.partitionCol, st.metrics)
    assert(reopened.finalized().collect().map(_.toSeq).toSet == mergedBefore,
      "recovery lost the escaped-name partition")
  }

  test("read() runs no Spark job, also on the first read after an append") {
    val st = newTable(tmpDir("st-jobs") + "/t")
    st.appendBatch(batch1)
    assert(jobs(spark)(st.read()) == 0)
    st.appendBatch(batch2)
    assert(jobs(spark)(st.read()) == 0)
    st.compact()
    assert(jobs(spark)(st.read()) == 0)
    // the merge widens the decimal sum; the rewrite stores the declared width
    assert(st.read().schema("value_sum").dataType == DecimalType(28, 2))
  }

  test("a directory written before the definition file opens, reads the same rows " +
      "and has a definition afterwards") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("st-upgrade")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val states = newTable(dir + "/states") // toStates only: nothing is written
    for (withSchemaFile <- Seq(false, true)) {
      val p = s"$dir/t$withSchemaFile"
      // the earlier layout: each batch's states appended as they come, and
      // (for a table that had a partition dropped) the footer union stored
      for (b <- Seq(batch1, batch2, batch3))
        states.toStates(b).write.mode("append").partitionBy("day").parquet(p)
      val before = spark.read.option("mergeSchema", "true").parquet(p)
      if (withSchemaFile) Durable.writeText(fs, new Path(p, "_schema"), before.schema.json)
      val st = newTable(p)
      assert(fs.exists(new Path(p, "_schema")), s"no definition stored ($p)")
      val after = st.read()
      assert(after.schema.map(f => f.name -> f.dataType) ==
        before.schema.map(f => f.name -> f.dataType))
      assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty, p)
      assertSameResult(st.finalized(Seq("day", "hour", "etype")),
        direct(Seq("day", "hour", "etype")))
    }
  }

  test("every write converts to the definition; a value that does not fit " +
      "fails the write before any part lands") {
    import spark.implicits._
    val dir = tmpDir("st-conform") + "/t"
    val st = new StateTable(spark, dir, keys = Seq("day", "k"), partitionCol = "day",
      metrics = Seq(SumMetric("v", col("v_src"))))
    def rows(k: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      Seq("2024-01-01").toDF("day").select(to_date(col("day")).as("day"), k.as("k"), v.as("v"))
    st.append(rows(lit(1L), lit(10L)))
    st.append(rows(lit(1), lit(5).cast(ShortType)))         // narrower integers
    st.append(rows(lit(2).cast("decimal(10,0)"), lit("7"))) // decimal, numeric text
    def parts = new java.io.File(dir, "day=2024-01-01").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts == 3)
    assert(st.read().schema.map(_.dataType) == Seq(LongType, LongType, DateType))
    val model = Seq((1L, 15L), (2L, 7L))
    def sums = st.merged().select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(sums == model)
    for (bad <- Seq(rows(lit(3L), lit("x")), rows(lit(Long.MaxValue).cast("decimal(38,0)") * 10, lit(1L))))
      intercept[Exception](st.append(bad))
    assert(parts == 3 && sums == model)
    // a column outside the definition that is no key or metric is refused
    intercept[IllegalArgumentException](st.append(rows(lit(1L), lit(1L)).withColumn("w", lit(1))))
    st.compact()
    assert(st.read().schema.map(_.dataType) == Seq(LongType, LongType, DateType) && sums == model)
  }
}
