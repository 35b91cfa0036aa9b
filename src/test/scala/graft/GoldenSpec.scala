package graft

import org.apache.spark.sql.functions._

import graft.functions.ChCompat

/** Reference-doc goldens (FIXTURES.md §6). The billion-row case runs at
  * 1e8 in tests (CI-speed); Bench runs the full 1e9 as the throughput probe
  * against BASELINE's sumState numbers (doc:572-596).
  */
class GoldenSpec extends SparkSpec {

  test("range-sum golden: sum over 0..1e8-1 in 1000 groups, two-phase == direct") {
    val n = 100000000L
    val direct = spark.range(n).agg(sum("id")).collect()(0).getLong(0)
    assert(direct == n * (n - 1) / 2) // 4999999950000000
    // two-phase through a SimpleAggregateFunction-style partial (doc:510-605)
    val twoPhase = spark.range(n)
      .groupBy(pmod(col("id"), lit(1000)).as("g"))
      .agg(sum("id").as("s"))
      .agg(sum("s")).collect()(0).getLong(0)
    assert(twoPhase == direct)
  }

  test("state-merge toy golden: uv=7 per key, and the misuse the doc warns about") {
    ChCompat.register(spark)
    import spark.implicits._
    // doc:326-505: 4 batches of (platform, ver, uid); uniq over merged states
    // must be 7 — naively re-aggregating finalized per-batch UVs gives 2.
    val batches = Seq(
      Seq(("android", "1.1", 100L), ("android", "1.1", 101L), ("android", "1.2", 100L), ("android", "1.2", 101L)),
      Seq(("android", "1.1", 102L), ("android", "1.1", 103L), ("android", "1.2", 102L), ("android", "1.2", 103L)),
      Seq(("android", "1.1", 104L), ("android", "1.1", 105L), ("android", "1.2", 104L), ("android", "1.2", 105L)),
      Seq(("android", "1.1", 100L), ("android", "1.1", 106L), ("android", "1.2", 100L), ("android", "1.2", 106L)))
    val states = batches.map(b =>
      b.toDF("platform", "ver", "uid")
        .groupBy("platform", "ver")
        .agg(graft.functions.Bitmaps.bitmap_agg(col("uid")).as("uv_bm"),
          count_distinct(col("uid")).as("uv_naive")))
      .reduce(_ unionByName _)
    val merged = states.groupBy("platform", "ver")
      .agg(
        graft.functions.Bitmaps.bitmap_cardinality(
          graft.functions.Bitmaps.bitmap_merge_agg(col("uv_bm"))).as("uv"),
        // the WRONG way: min/max over per-batch finalized counts loses identity
        max(col("uv_naive")).as("uv_wrong"))
      .orderBy("platform", "ver").collect()
    assert(merged.map(_.getLong(2)).toSeq == Seq(7L, 7L))
    assert(merged.map(_.getLong(3)).toSeq == Seq(2L, 2L), "per-batch finalized counts cannot merge")
  }
}
