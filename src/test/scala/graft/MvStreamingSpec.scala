package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.mv._
import graft.queries.dec

/** Structured-Streaming MV wiring: a file-source stream of micro-batches
  * (the generators' ~2000-row insert cadence, ref make_user_action_001.py:50-62)
  * drives a MaterializedView via foreachBatch; merge-on-read must equal
  * direct aggregation over everything ingested (SURVEY §2.8 ST1/ST2).
  */
class MvStreamingSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("uid", LongType),
    StructField("etype", StringType),
    StructField("value", DoubleType)))

  test("streamed micro-batches into a state table == direct aggregation") {
    import spark.implicits._
    val srcDir = tmpDir("mvstream-src")
    val stDir = tmpDir("mvstream-state") + "/t"
    val ckDir = tmpDir("mvstream-ck")

    val st = new StateTable(spark, stDir,
      keys = Seq("day", "hour", "etype"), partitionCol = "day",
      metrics = Seq(
        BitmapUvMetric("uv", col("uid")),
        SumMetric("value_sum", dec(col("value"))),
        CountMetric("cnt")))

    val mv = new MaterializedView("mv_test",
      batch => graft.engine.Warehouse.withTimeDefaults(batch, "ts"),
      st)

    def writeBatch(rows: Seq[(String, Long, String, Double)], part: Int): Unit =
      rows.toDF("ts_s", "uid", "etype", "value")
        .select(col("ts_s").cast(TimestampType).as("ts"), col("uid"), col("etype"), col("value"))
        .coalesce(1).write.mode("append").parquet(srcDir + s"/b$part")

    // batch files appear over time; each parquet drop = one insert batch
    val b1 = Seq(("2024-01-01 10:05:00", 1L, "view", 10.0), ("2024-01-01 10:40:00", 2L, "view", 5.5))
    val b2 = Seq(("2024-01-01 10:10:00", 1L, "view", 2.0), ("2024-01-02 09:00:00", 3L, "click", 1.5))
    val b3 = Seq(("2024-01-01 23:59:00", 4L, "view", 3.25)) // late for day 1
    writeBatch(b1, 1)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir + "/*")
    val q = mv.attach(stream, Trigger.ProcessingTime("1 second"), Some(ckDir))
    try {
      writeBatch(b2, 2)
      writeBatch(b3, 3)
      // wait until all 3 batch files are ingested
      val deadline = System.currentTimeMillis() + 60000
      def ingested(): Boolean =
        try st.read().agg(sum(col("cnt"))).collect()(0).getLong(0) == 5L
        catch { case _: Exception => false }
      while (!ingested() && System.currentTimeMillis() < deadline) Thread.sleep(300)
      assert(ingested(), "stream did not ingest all batches in time")
    } finally q.stop()

    val all = (b1 ++ b2 ++ b3).toDF("ts_s", "uid", "etype", "value")
      .select(col("ts_s").cast(TimestampType).as("ts"), col("uid"), col("etype"), col("value"))
    val direct = graft.engine.Warehouse.withTimeDefaults(all, "ts")
      .groupBy("day", "hour", "etype")
      .agg(countDistinct(col("uid")).as("uv"),
        sum(dec(col("value"))).as("value_sum"),
        count(lit(1)).as("cnt"))

    val gotRows = st.finalized().select("day", "hour", "etype", "uv", "value_sum", "cnt")
      .collect().map(_.toSeq.map(_.toString)).sortBy(_.mkString("|"))
    val expRows = direct.select("day", "hour", "etype", "uv", "value_sum", "cnt")
      .collect().map(_.toSeq.map(_.toString)).sortBy(_.mkString("|"))
    assert(gotRows.toSeq == expRows.toSeq)
  }

  test("MV cascade: dwm and dws stay consistent per micro-batch, exactly-once") {
    import spark.implicits._
    val srcDir = tmpDir("cascade-src")
    val base = tmpDir("cascade-state")
    val ckDir = tmpDir("cascade-ck")

    val dwm = new StateTable(spark, base + "/dwm",
      keys = Seq("day", "hour", "etype"), partitionCol = "day",
      metrics = Seq(
        BitmapUvMetric("uv", col("uid")),
        SumMetric("value_sum", dec(col("value"))),
        CountMetric("cnt")))
    val dws = new StateTable(spark, base + "/dws",
      keys = Seq("day", "etype"), partitionCol = "day",
      metrics = Seq(
        BitmapUvMetric("uv", col("uid")),
        SumMetric("value_sum", dec(col("value"))),
        CountMetric("cnt")))

    val mv = new MaterializedView("mv_cascade",
      batch => graft.engine.Warehouse.withTimeDefaults(batch, "ts"),
      dwm, cascades = Seq(dws))

    def writeBatch(rows: Seq[(String, Long, String, Double)], part: Int): Unit =
      rows.toDF("ts_s", "uid", "etype", "value")
        .select(col("ts_s").cast(TimestampType).as("ts"), col("uid"), col("etype"), col("value"))
        .coalesce(1).write.mode("append").parquet(srcDir + s"/b$part")

    val b1 = Seq(("2024-01-01 10:05:00", 1L, "view", 10.0), ("2024-01-01 11:40:00", 2L, "view", 5.5))
    val b2 = Seq(("2024-01-01 10:10:00", 1L, "view", 2.0), ("2024-01-02 09:00:00", 3L, "click", 1.5))
    writeBatch(b1, 1)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir + "/*")
    val q = mv.attach(stream, Trigger.ProcessingTime("1 second"), Some(ckDir))
    try {
      writeBatch(b2, 2)
      val deadline = System.currentTimeMillis() + 60000
      def ingested(): Boolean =
        try dws.read().agg(sum(col("cnt"))).collect()(0).getLong(0) == 4L
        catch { case _: Exception => false }
      while (!ingested() && System.currentTimeMillis() < deadline) Thread.sleep(300)
      assert(ingested(), "cascade did not ingest all batches in time")
    } finally q.stop()

    // the persisted dws equals the dwm rolled up at (day, etype) — the
    // cascade fired once per block and never double-counted
    val viaDwm = dwm.finalized(Seq("day", "etype"))
      .select("day", "etype", "uv", "value_sum", "cnt")
      .collect().map(_.toSeq.map(_.toString)).sortBy(_.mkString("|"))
    val viaDws = dws.finalized(Seq("day", "etype"))
      .select("day", "etype", "uv", "value_sum", "cnt")
      .collect().map(_.toSeq.map(_.toString)).sortBy(_.mkString("|"))
    assert(viaDws.toSeq == viaDwm.toSeq)

    // replaying a committed batch id is a no-op on BOTH ledgers
    val replay = Seq(("2024-01-01 10:05:00", 9L, "view", 99.0))
      .toDF("ts_s", "uid", "etype", "value")
      .select(col("ts_s").cast(TimestampType).as("ts"), col("uid"), col("etype"), col("value"))
    assert(!mv.processBatchExactlyOnce(replay, 0L))
    assert(dws.read().agg(sum(col("cnt"))).collect()(0).getLong(0) == 4L)
  }

  test("streamed quantile state: micro-batch merge == one-shot sketch, replay no-op") {
    import spark.implicits._
    // the AggregateFunction-column MV contract (ref dwm.mainpage_stat_mv_dis
    // .sql:9-13) for the BOUNDED quantile state: GK summaries written per
    // micro-batch must merge across batches to the same answer (within ε)
    // as a single sketch over everything — the bitmap/HLL twins of this
    // test already pass; this pins the quantile metric's streaming face
    val srcDir = tmpDir("qstream-src")
    val stDir = tmpDir("qstream-state") + "/t"
    val ckDir = tmpDir("qstream-ck")

    def quantTable(dir: String) = new StateTable(spark, dir,
      keys = Seq("day", "etype"), partitionCol = "day",
      metrics = Seq(
        QuantileSketchMetric("v_med", col("value"), q = 0.5, eps = 0.01),
        CountMetric("cnt")))
    val st = quantTable(stDir)
    val mv = new MaterializedView("mv_quant",
      batch => graft.engine.Warehouse.withTimeDefaults(batch, "ts"), st)

    // three micro-batches; "view" spans 1..90 split across batches (so the
    // median can only be right if the states really merge), "click" is
    // batch-local
    def rows(vals: Range, etype: String): Seq[(String, Long, String, Double)] =
      vals.map(v => ("2024-01-01 10:00:00", v.toLong, etype, v.toDouble))
    val b1 = rows(1 to 30, "view") ++ rows(101 to 110, "click")
    val b2 = rows(31 to 60, "view")
    val b3 = rows(61 to 90, "view") ++ rows(111 to 130, "click")
    val total = (b1 ++ b2 ++ b3).size.toLong

    def writeBatch(rows: Seq[(String, Long, String, Double)], part: Int): Unit =
      rows.toDF("ts_s", "uid", "etype", "value")
        .select(col("ts_s").cast(TimestampType).as("ts"), col("uid"), col("etype"), col("value"))
        .coalesce(1).write.mode("append").parquet(srcDir + s"/b$part")

    writeBatch(b1, 1)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir + "/*")
    val q = mv.attach(stream, Trigger.ProcessingTime("1 second"), Some(ckDir))
    try {
      writeBatch(b2, 2)
      writeBatch(b3, 3)
      val deadline = System.currentTimeMillis() + 60000
      def ingested(): Boolean =
        try st.read().agg(sum(col("cnt"))).collect()(0).getLong(0) == total
        catch { case _: Exception => false }
      while (!ingested() && System.currentTimeMillis() < deadline) Thread.sleep(300)
      assert(ingested(), "stream did not ingest all batches in time")
    } finally q.stop()

    def medians(t: StateTable): Map[String, Double] =
      t.finalized(Seq("etype")).select("etype", "v_med")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    // streamed (3 merged GK states per group) vs one-shot (single batch):
    // each is within ε·n ranks of the exact median, so with consecutive
    // integer values they sit within ±2 values of it and of each other
    val streamed = medians(st)
    val oneShot = {
      val all = (b1 ++ b2 ++ b3).toDF("ts_s", "uid", "etype", "value")
        .select(col("ts_s").cast(TimestampType).as("ts"), col("uid"), col("etype"), col("value"))
      val plain = quantTable(tmpDir("qstream-oneshot") + "/t")
      plain.appendBatch(graft.engine.Warehouse.withTimeDefaults(all, "ts"))
      medians(plain)
    }
    assert(math.abs(streamed("view") - 45.5) <= 2.0,
      s"view median ${streamed("view")} too far from exact 45.5")
    assert(math.abs(streamed("click") - 115.5) <= 2.0,
      s"click median ${streamed("click")} too far from exact 115.5")
    for (g <- Seq("view", "click"))
      assert(math.abs(streamed(g) - oneShot(g)) <= 2.0,
        s"$g: merged-across-batches ${streamed(g)} vs one-shot ${oneShot(g)}")

    // a foreachBatch replay of a committed id must leave the sketch alone
    val replay = rows(1000 to 1050, "view").toDF("ts_s", "uid", "etype", "value")
      .select(col("ts_s").cast(TimestampType).as("ts"), col("uid"), col("etype"), col("value"))
    assert(!mv.processBatchExactlyOnce(replay, 0L))
    assert(medians(st) == streamed, "replay must not move the quantile state")
    assert(st.read().agg(sum(col("cnt"))).collect()(0).getLong(0) == total)
  }

  test("ST4: dictionary snapshot refresh between batches changes enrichment") {
    import spark.implicits._
    // transform re-reads the dim snapshot per batch — the foreachBatch analog
    // of dictionary LIFETIME reload (ref dim.dict_user_dim.sql:20)
    val dimDir = tmpDir("dict-refresh") + "/dim"
    val stDir = tmpDir("dict-refresh-state") + "/t"
    def writeDim(rows: Seq[(Long, String)]): Unit =
      rows.toDF("uid", "segment").coalesce(1)
        .write.mode("overwrite").parquet(dimDir)

    val st = new StateTable(spark, stDir,
      keys = Seq("day", "segment"), partitionCol = "day",
      metrics = Seq(CountMetric("cnt")))
    val mv = new MaterializedView("mv_dict",
      batch => {
        val dim = org.apache.spark.sql.functions.broadcast(spark.read.parquet(dimDir))
        graft.engine.Warehouse.withTimeDefaults(batch, "ts")
          .join(dim, Seq("uid"), "left_outer")
          .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))
      }, st)

    def batch(rows: Seq[(String, Long)]) =
      rows.toDF("ts_s", "uid")
        .select(col("ts_s").cast(TimestampType).as("ts"), col("uid"))

    writeDim(Seq((1L, "OLD")))
    mv.processBatch(batch(Seq(("2024-01-01 10:00:00", 1L))))
    writeDim(Seq((1L, "NEW")))   // dictionary refresh between inserts
    mv.processBatch(batch(Seq(("2024-01-01 11:00:00", 1L))))

    val got = st.finalized(Seq("segment")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("OLD" -> 1L, "NEW" -> 1L))
  }

  test("SQL-defined MV: the CH-dialect -State SELECT fires per insert batch") {
    val sf = "/root/testdata/sf0.001"
    graft.engine.Catalog.register(spark, sf)
    val st = new StateTable(spark, tmpDir("mv-sql-state") + "/t",
      keys = Seq("day", "hour", "platform"), partitionCol = "day",
      metrics = Seq(
        HllUvMetric("shown_uv", col("uid")),
        SumMetric("shown_cnt", col("show_cnt")),
        BitmapUvMetric("show_bm", col("uid"))))

    // verbatim MV SELECT shape (dwm.mainpage_stat_mv_dis.sql:40-57 + :184-200)
    val mv = MaterializedView.fromSql("mv_main_page_stat",
      """SELECT day
        |     ,hour
        |     ,platform
        |     ,uniqCombinedStateIf(uid, a.show_cnt>0) as shown_uv
        |     ,sum(a.show_cnt) as shown_cnt
        |     ,groupBitmapStateIf(uid, a.show_cnt>0) as show_bm
        |from ods.action_001_local as a
        |group by day, hour, platform""".stripMargin,
      sourceTable = "ods.action_001_local",
      target = st)

    // two insert batches (the trigger fires once per batch)
    val src = spark.table("ods.action_001_local")
    mv.processBatch(src.filter(col("uid") % 2 === 0))
    mv.processBatch(src.filter(col("uid") % 2 === 1))

    val got = st.finalized(Seq("day", "platform")).orderBy("day", "platform").collect()
    val direct = spark.sql(
      """SELECT day, platform,
        |       count(DISTINCT CASE WHEN show_cnt>0 THEN uid END) AS shown_uv,
        |       sum(show_cnt) AS shown_cnt
        |FROM ods.action_001_local
        |GROUP BY day, platform ORDER BY day, platform""".stripMargin).collect()
    assert(got.length == direct.length && got.nonEmpty)
    got.zip(direct).foreach { case (g, d) =>
      assert(g.getDate(0) == d.getDate(0) && g.getString(1) == d.getString(1))
      // bitmap UV exact; HLL within sketch tolerance; sums exact
      assert(g.getLong(4) == d.getLong(2), "bitmap UV from SQL states is exact")
      assert(math.abs(g.getLong(2) - d.getLong(2)) <= math.max(1L, d.getLong(2) / 20))
      assert(g.getLong(3) == d.getLong(3))
    }
  }

  test("torn-write chaos: a task killed mid-append replays exactly-once after restart") {
    import spark.implicits._
    // The 1000-executor production failure mode: an executor dies while a
    // foreachBatch append is writing its state files, the query crashes,
    // and the restarted stream re-delivers the SAME batch id — ClickHouse's
    // inserted-block dedup under retry. The poison udf kills the first
    // write-stage task that sees a day-2 state row (armed once), so the
    // failing attempt dies mid-write with other tasks' staging files
    // already committed — a genuinely torn write, not a pre-commit crash.
    val srcDir = tmpDir("torn-src")
    val stDir = tmpDir("torn-state") + "/t"
    val ckDir = tmpDir("torn-ck")

    val st = new StateTable(spark, stDir,
      keys = Seq("day", "hour", "etype"), partitionCol = "day",
      metrics = Seq(
        BitmapUvMetric("uv", col("uid")),
        SumMetric("value_sum", dec(col("value"))),
        CountMetric("cnt")))

    val poison = udf { (day: java.sql.Date) =>
      if (day.toString == "2024-01-02" && TornWriteInjector.armed.compareAndSet(true, false))
        throw new RuntimeException("torn-write-injection")
      true
    }.asNondeterministic() // keep it out of constant folding / pushdown reorder
    // preAggregated: the poison filter rides the STATE rows, so it throws
    // inside the write stage of appendExactlyOnce, after aggregation
    val mv = new MaterializedView("torn_mv",
      batch => graft.engine.Warehouse.withTimeDefaults(batch, "ts")
        .transform(st.toStates)
        .filter(poison(col("day"))),
      st, preAggregated = true)

    def writeBatch(rows: Seq[(String, Long, String, Double)], part: Int): Unit =
      rows.toDF("ts_s", "uid", "etype", "value")
        .select(col("ts_s").cast(TimestampType).as("ts"), col("uid"), col("etype"), col("value"))
        .coalesce(1).write.mode("append").parquet(srcDir + s"/b$part")

    val b1 = Seq(("2024-01-01 10:05:00", 1L, "view", 10.0), ("2024-01-01 10:40:00", 2L, "view", 5.5))
    val b2 = Seq(("2024-01-02 09:00:00", 3L, "click", 1.5), ("2024-01-02 11:30:00", 4L, "view", 2.0))
    val b3 = Seq(("2024-01-01 23:59:00", 5L, "view", 3.25))
    writeBatch(b1, 1); writeBatch(b2, 2); writeBatch(b3, 3)

    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir + "/*")

    TornWriteInjector.armed.set(true)
    val q1 = mv.attach(stream(), Trigger.ProcessingTime("500 milliseconds"), Some(ckDir))
    val died = try { q1.awaitTermination(60000); false }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        def chain(t: Throwable): Seq[String] =
          if (t == null) Nil else t.getMessage +: chain(t.getCause)
        assert(chain(e).exists(m => m != null && m.contains("torn-write-injection")),
          s"query died for an unexpected reason: ${chain(e)}")
        true
      } finally if (q1.isActive) q1.stop()
    assert(died, "the poison task never fired — injection broken")
    assert(!TornWriteInjector.armed.get(), "poison consumed exactly once")

    // restart from the same checkpoint: the failed batch replays with the
    // same id; the ledger + in-flight cleanup must make it exactly-once
    val q2 = mv.attach(stream(), Trigger.ProcessingTime("500 milliseconds"), Some(ckDir))
    try {
      val deadline = System.currentTimeMillis() + 60000
      def ingested(): Boolean =
        try st.read().agg(sum(col("cnt"))).collect()(0).getLong(0) == 5L
        catch { case _: Exception => false }
      while (!ingested() && System.currentTimeMillis() < deadline) Thread.sleep(300)
      assert(ingested(), "restarted stream did not finish ingesting")
    } finally q2.stop()

    val all = (b1 ++ b2 ++ b3).toDF("ts_s", "uid", "etype", "value")
      .select(col("ts_s").cast(TimestampType).as("ts"), col("uid"), col("etype"), col("value"))
    val direct = graft.engine.Warehouse.withTimeDefaults(all, "ts")
      .groupBy("day", "hour", "etype")
      .agg(countDistinct(col("uid")).as("uv"),
        sum(dec(col("value"))).as("value_sum"),
        count(lit(1)).as("cnt"))
    val gotRows = st.finalized().select("day", "hour", "etype", "uv", "value_sum", "cnt")
      .collect().map(_.toSeq.map(_.toString)).sortBy(_.mkString("|"))
    val expRows = direct.select("day", "hour", "etype", "uv", "value_sum", "cnt")
      .collect().map(_.toSeq.map(_.toString)).sortBy(_.mkString("|"))
    assert(gotRows.toSeq == expRows.toSeq,
      "replayed batch double-counted or lost rows")
  }
}

/** Arm-once poison shared with the executor threads (same JVM in local
  * mode): the first write-stage task to see the poisoned row consumes the
  * flag and dies; the replay finds it disarmed and completes.
  */
object TornWriteInjector {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
