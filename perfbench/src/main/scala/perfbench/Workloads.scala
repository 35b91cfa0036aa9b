package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{SparkEntry, Tables}
import graft.dedup.{Dedup, NearDupIndex}
import graft.mv._
import graft.queries.dec

private object Inputs {
  def manifest(input: String): JsonNode =
    new ObjectMapper().readTree(new File(input, "manifest.json"))

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rmrf(path: String): Unit = {
    def del(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del))
      f.delete()
    }
    del(new File(path))
  }
}

/** Interactive reads: a seeded sequence over declared query packs plus the
  * state-table read and its raw twin, against a compacted (day, hour,
  * event_type) state table registered as a projection of `events`.
  */
final class OlapQueries(spark: SparkSession, input: String, work: String, checkDir: String,
    seed: Long) extends Workload {

  private val packs = Seq(
    "q01_pricing_summary", "q04_join_group", "q05_dict_enrich", "q14_hourly_rollup",
    "q18_scalar_math", "q20_state_rollup", "q21_bitmap_funnel", "q22_wide_union",
    "q23_ch_dialect_mv", "q24_dictget_sql", "q25_catalog_query", "q63_asof_join",
    "q64_sessions", "q66_sequence_match")
  val names: Seq[String] = packs ++ Seq("mv_state_read", "mv_raw_read")
  private val queries = SparkEntry.queries

  // The mix's ClickHouse-dialect statements, translated by `ChSql` in traced
  // ops of the queries that carry them (the packs submit them directly).
  private val dialect = Map(
    "q23_ch_dialect_mv" ->
      """SELECT day, event_type, groupBitmapMerge(bm) AS uv,
        |       CAST(sumMerge(val_dec) AS DOUBLE) AS total_value, sumMerge(cnt) AS cnt
        |FROM (SELECT day, hour, event_type, groupBitmapState(user_id) AS bm,
        |             sumState(CAST(value AS DECIMAL(18,2))) AS val_dec, countIf(true) AS cnt
        |      FROM graft_ch_events GROUP BY day, hour, event_type)
        |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    "q24_dictget_sql" ->
      """SELECT dictGet('dim.dict_nation', 'n_name', toUInt64(c_nationkey)) AS nation,
        |       uniqExact(c_custkey) AS uv,
        |       CAST(sumIf(CAST(c_acctbal AS DECIMAL(18,2)), c_acctbal > 0) AS DOUBLE) AS pos_bal,
        |       countIf(c_acctbal > 0) AS pos_cnt
        |FROM graft_ch_customer GROUP BY nation ORDER BY nation""".stripMargin,
    "q25_catalog_query" ->
      """SELECT day, platform, uniqExact(uid) AS uv, sum(show_cnt) AS show_cnt,
        |       sum(click_cnt) AS click_cnt, sum(show_time) AS show_time_sum
        |FROM dws.action_001_dis GROUP BY day, platform ORDER BY day, platform""".stripMargin,
    "q66_sequence_match" ->
      """SELECT day, countIf(m_chain) AS u_chain, COUNT(*) AS users
        |FROM (SELECT day, user_id,
        |        sequenceMatch('(?1).*(?2).*(?3)', ts, event_type = 'view',
        |          event_type = 'click', event_type = 'purchase') AS m_chain
        |      FROM graft_seq_events GROUP BY day, user_id)
        |GROUP BY day ORDER BY day""".stripMargin)

  // raw reads run in a sibling session with no projection registered, so
  // they really aggregate raw events
  private val rawSession = spark.newSession()
  private var table: StateTable = _
  private var tablePath = ""

  def warmupOps: Int = names.size
  override def warmupBlock: Int = names.size

  // The packs register the ClickHouse-dialect functions and views on first
  // use; do it once up front, so the parallel warm-up round cannot race on
  // it (later calls are no-ops, so the timed ops run the same code).
  graft.functions.ChCompat.register(spark)
  def hasOp(i: Int): Boolean = true

  /** Op `i`: rounds of seeded permutations of the full list, so every run
    * of any length sees a near-even mix.
    */
  def nameAt(i: Int): String =
    new scala.util.Random(seed * 1000003L + i / names.size).shuffle(names).apply(i % names.size)

  def setup(instance: Int): Unit = {
    if (table != null) Projection.deregister(spark, table)
    tablePath = s"$work/state-$instance"
    Inputs.rmrf(tablePath)
    val source = Tables(spark, input).eventsWithDefaults
    val st = new StateTable(spark, tablePath,
      keys = Seq("day", "hour", "event_type"), partitionCol = "day",
      metrics = Seq(
        BitmapUvMetric("uv", col("user_id")),
        SumMetric("total_value", dec(col("value"))),
        CountMetric("cnt")))
    st.appendBatch(source)
    st.compact()
    Projection.register(spark, st, source, Seq(
      "uv" -> count_distinct(col("user_id")),
      "total_value" -> sum(dec(col("value"))),
      "cnt" -> count(lit(1))))
    table = st
  }

  private def stateRead(): DataFrame =
    table.finalized(Seq("day", "event_type"))
      .withColumn("total_value", col("total_value").cast(DoubleType))

  private def rawRead(): DataFrame =
    Tables(rawSession, input).eventsWithDefaults
      .groupBy("day", "event_type")
      .agg(count_distinct(col("user_id")).as("uv"),
        sum(dec(col("value"))).cast(DoubleType).as("total_value"),
        count(lit(1)).as("cnt"))

  private def build(name: String): DataFrame = name match {
    case "mv_state_read" => stateRead()
    case "mv_raw_read" => rawRead()
    case q => queries(q)(spark, input)
  }

  def step(i: Int, tr: Tracer, warm: Boolean): Outcome = {
    val name = nameAt(i)
    if (warm) {
      // checked too; the parquet writes also warm the path set-ups take
      build(name).write.mode("overwrite").parquet(s"$checkDir/warmup/$name")
      return Outcome(1L, Map("name" -> name))
    }
    var analysisMs = 0L
    name match {
      case "mv_state_read" => tr("mv.state_read")(Inputs.force(stateRead()))
      case "mv_raw_read" => tr("mv.raw_read")(Inputs.force(rawRead()))
      case q =>
        if (tr.active) dialect.get(q).foreach(s => tr("engine.chsql_translate")(graft.engine.ChSql(s)))
        val df = tr("queries.build")(queries(q)(spark, input))
        if (tr.active)
          analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        tr("queries.exec")(Inputs.force(df))
    }
    Outcome(1L, Map("name" -> name, "analysis_ms" -> analysisMs))
  }

  /** Writes each query's output from the instance the timed loop ran on,
    * for the checks; on all cores, like the warm-up round. A query that
    * fails here leaves no output, which fails its check. */
  def finish(): Map[String, Any] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    try names.map { n =>
      pool.submit(() => scala.util.Try(build(n).write.mode("overwrite").parquet(s"$checkDir/final/$n")))
    }.foreach(_.get())
    finally pool.shutdown()
    val oracles = SparkEntry.oracleSql
    Map("names" -> names, "oracle_sql" -> packs.flatMap(q => oracles.get(q).map(q -> _)).toMap,
      "state_path" -> tablePath,
      "state_bytes" -> Harness.du(tablePath),
      "raw_bytes" -> new File(input, "events.parquet").length,
      "state_rows" -> table.read().count(),
      "raw_rows" -> Tables(spark, input).events.count())
  }
}

/** Dedup-as-you-ingest: `NearDupIndex.dedupAndAppend` on fixed-size batches
  * of a corpus with planted near-duplicates and hot exact replicas, against
  * an index built from a history at set-up.
  */
final class DedupIngest(spark: SparkSession, input: String, work: String) extends Workload {
  private val NumHashes = 64
  private val Bands = 16
  private val m = Inputs.manifest(input)
  private val threshold = m.get("threshold").asDouble
  private val batches = m.get("batches").elements.asScala.map(_.get("file").asText).toVector
  private val batchRows = m.get("batches").elements.asScala.map(_.get("rows").asLong).toVector
  private var index: NearDupIndex = _
  private var indexPath = ""
  private var done = 0

  def warmupOps: Int = 1
  def hasOp(i: Int): Boolean = i < batches.size

  private def read(file: String) = spark.read.parquet(s"$input/$file")

  def setup(instance: Int): Unit = {
    indexPath = s"$work/ndi-$instance"
    Inputs.rmrf(indexPath)
    index = new NearDupIndex(spark, indexPath, numHashes = NumHashes, bands = Bands)
    index.append(read(m.get("history").asText), "text", "doc_id")
    done = 0
  }

  /** Candidate and verified pair counts for batch `i` against the current
    * index (history pairs) and within the batch, from the library's public
    * signature, banding and probe calls.
    */
  override def preOp(i: Int): Map[String, Any] = {
    val docs = read(batches(i))
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", NumHashes)
    val banded = sigs
      .select(col("id"), col("sig"),
        explode(Dedup.lshBuckets(col("sig"), Bands, NumHashes / Bands)).as("bk"))
      .select(col("bk.bucket").as("bucket"), col("id"), col("sig"))
      .cache()
    val histCand = index.index.select(col("bucket"), col("id").as("dup_of"))
      .join(banded, "bucket").select("id", "dup_of").distinct().count()
    val pairs = banded.as("a").join(banded.as("b"), "bucket")
      .where(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        Dedup.estJaccard(col("a.sig"), col("b.sig"), NumHashes).as("j"))
      .distinct()
    val batchCand = pairs.count()
    val batchVerified = pairs.where(col("j") >= threshold).count()
    val histVerified = index.probe(docs, "text", "doc_id", threshold).count()
    banded.unpersist()
    Map("candidate_pairs" -> (histCand + batchCand),
      "verified_pairs" -> (histVerified + batchVerified))
  }

  def step(i: Int, tr: Tracer, warm: Boolean): Outcome = {
    val docs = read(batches(i))
    val kept = tr("dedup.dedup_and_append")(index.dedupAndAppend(docs, "text", "doc_id", threshold))
    val ids = tr("dedup.collect_survivors")(kept.select("doc_id").collect().map(_.getLong(0)))
    done = i + 1
    Outcome(batchRows(i), Map("batch" -> i, "survivors" -> ids.sorted.toSeq))
  }

  def finish(): Map[String, Any] = {
    val rawFiles = m.get("history").asText +: batches.take(done)
    Map("state_bytes" -> Harness.du(indexPath),
      "raw_files" -> rawFiles,
      "raw_bytes" -> rawFiles.map(f => new File(input, f).length).sum)
  }
}
