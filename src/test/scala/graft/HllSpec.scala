package graft

import org.apache.spark.sql.functions._

import graft.functions.Sketches
import graft.mv._

/** uniqCombined parity (SURVEY §2.4 A5/A6/A7): HLL estimates track exact
  * distinct counts within tolerance, and the -State/-Merge two-phase path
  * gives the SAME estimate as the one-shot aggregate (determinism of the
  * sketch under partitioned merge — the property the reference's doc proves
  * for its state tables, doc:416-505).
  */
class HllSpec extends SparkSpec {

  test("hll estimate within 3% of exact on 100k uids") {
    val df = spark.range(0, 100000).select((col("id") % 37777).as("uid"))
    val exact = 37777.0
    val est = df.agg(Sketches.uniq_combined(col("uid"))).collect()(0).getLong(0).toDouble
    assert(math.abs(est - exact) / exact < 0.03, s"estimate $est vs exact $exact")
  }

  test("state+merge estimate == one-shot estimate (two-phase determinism)") {
    val df = spark.range(0, 50000)
      .select((col("id") % 9973).as("uid"), (col("id") % 8).as("part"))
    val oneShot = df.agg(Sketches.uniq_combined(col("uid"))).collect()(0).getLong(0)
    val twoPhase = df.groupBy("part").agg(Sketches.hll_state(col("uid")).as("st"))
      .agg(Sketches.hll_estimate(Sketches.hll_merge_state(col("st"))))
      .collect()(0).getLong(0)
    assert(oneShot == twoPhase)
  }

  test("HllUvMetric in a state table merges across batches like the rest") {
    val dir = tmpDir("hll-state") + "/t"
    val st = new StateTable(spark, dir,
      keys = Seq("day"), partitionCol = "day",
      metrics = Seq(HllUvMetric("uv_approx", col("uid")), CountMetric("cnt")))
    import spark.implicits._
    val b1 = (0L to 3000L).map(u => ("2024-01-01", u)).toDF("day_s", "uid")
      .select(to_date(col("day_s")).as("day"), col("uid"))
    val b2 = (2000L to 5000L).map(u => ("2024-01-01", u)).toDF("day_s", "uid")
      .select(to_date(col("day_s")).as("day"), col("uid"))
    st.appendBatch(b1); st.appendBatch(b2)
    val est = st.finalized().select("uv_approx").collect()(0).getLong(0).toDouble
    val exact = 5001.0
    assert(math.abs(est - exact) / exact < 0.05, s"estimate $est vs exact $exact")
  }
}
