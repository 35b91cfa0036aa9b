package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.ChCompat
import graft.queries.{dec, ChPack, ExtendedPack, MvPack, PipelinePack, RelationalPack, TextPack, VectorPack}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.1 minimum end-to-end slice) on sf0.001:
    * raw events → derived day/hour defaults (ref ods.action_001_dis.sql:3-4)
    * → broadcast dimension enrichment with default-on-miss (dictGet, ref
    * dim.dict_user_dim.sql:24) → fine-grained mergeable states (bitmap UV +
    * decimal sums; ref dwm.mainpage_stat_mv_dis.sql:28-57) → merge-on-read
    * rollup to (day, segment) (ref :60-70).
    */
  def entry(spark: SparkSession): DataFrame = {
    ChCompat.register(spark)
    val t = Tables(spark, "/root/testdata/sf0.001")
    val enriched = t.eventsWithDefaults
      .join(broadcast(t.customer), col("user_id") === col("c_custkey"), "left_outer")
      .withColumn("segment", coalesce(col("c_mktsegment"), lit("UNKNOWN")))

    // Persist through the real MV pipeline: two insert batches into a
    // day-partitioned state table, then merge-on-read at coarser keys.
    val stPath = java.nio.file.Files.createTempDirectory("graft-entry-state").toString + "/t"
    val st = new mv.StateTable(spark, stPath,
      keys = Seq("day", "hour", "segment"), partitionCol = "day",
      metrics = Seq(
        mv.BitmapUvMetric("uv", col("user_id")),
        mv.SumMetric("total_value", dec("value")),
        mv.CountMetric("cnt")))
    st.appendBatch(enriched.filter(col("event_id") % 2 === 0))
    st.appendBatch(enriched.filter(col("event_id") % 2 === 1))
    st.finalized(Seq("day", "segment"))
      .withColumn("total_value", col("total_value").cast(DoubleType))
      .orderBy("day", "segment")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each builder
    * first binds the SQL function table into its session (a registry
    * lookup once bound), so the packs themselves register nothing.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (RelationalPack.queries ++ MvPack.queries ++ ChPack.queries ++
      TextPack.queries ++ VectorPack.queries ++ ExtendedPack.queries ++
      PipelinePack.queries).map { case (name, build) =>
      name -> { (s: SparkSession, dir: String) => ChCompat.register(s); build(s, dir) }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalPack.oracle ++ MvPack.oracle ++ ChPack.oracle ++
      TextPack.oracle ++ VectorPack.oracle ++ ExtendedPack.oracle ++
      PipelinePack.oracle
}
