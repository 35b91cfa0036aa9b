package graft

import org.apache.spark.sql.functions._

import graft.engine.Rebalance

/** The rebalance tool's logic against planted skew: detection predicate,
  * rewrite, and the reconciliation gate (ref data_rebalance.py:159-160,
  * 192-198, 333-347).
  */
class RebalanceSpec extends SparkSpec {

  private def buildSkewed(dir: String): Unit = {
    import spark.implicits._
    // day 1: one huge file + one tiny file (skewed); day 2: even files
    val day1big = (1L to 20000L).map(i => ("2024-01-01", i)).toDF("day_s", "uid")
      .select(to_date(col("day_s")).as("day"), col("uid")).coalesce(1)
    val day1small = Seq(("2024-01-01", 99999L)).toDF("day_s", "uid")
      .select(to_date(col("day_s")).as("day"), col("uid")).coalesce(1)
    val day2 = (1L to 1000L).map(i => ("2024-01-02", i)).toDF("day_s", "uid")
      .select(to_date(col("day_s")).as("day"), col("uid")).repartition(2)
    day1big.write.partitionBy("day").mode("append").parquet(dir)
    day1small.write.partitionBy("day").mode("append").parquet(dir)
    day2.write.partitionBy("day").mode("append").parquet(dir)
  }

  test("detect → rebalance → reconcile on planted file skew") {
    val dir = tmpDir("rebalance") + "/t"
    buildSkewed(dir)

    val skewed = Rebalance.detectSkew(spark, dir, "day", low = 0.75, high = 1.0)
    assert(skewed == Seq("2024-01-01"), s"got $skewed")

    val statsBefore = Rebalance.partitionStats(spark, dir, "day")
    val d1Before = statsBefore.find(_.partition == "2024-01-01").get
    assert(d1Before.rows == 20001L)

    val report = Rebalance.rebalance(spark, dir, "day", skewed, targetFiles = 4)
    assert(report.consistent, s"reconciliation failed: ${report.inconsistent}")
    assert(report.before("2024-01-01") == 20001L)
    assert(report.after("2024-01-02") == 1000L)

    val d1After = Rebalance.partitionStats(spark, dir, "day").find(_.partition == "2024-01-01").get
    assert(d1After.rows == 20001L)
    assert(d1After.files == 4, s"expected 4 even files, got ${d1After.files}")
    // skew predicate no longer fires on the rewritten partition
    assert(Rebalance.detectSkew(spark, dir, "day").isEmpty)
  }

  test("hive-escaped partition values: stats, skew and rebalance address " +
      "the real value, and row counts come from footers") {
    val dir = tmpDir("rebalance-esc") + "/t"
    import spark.implicits._
    // ':' is %-escaped in the dirname — the exact class of value the
    // dirname-keyed row counts and rebalance filter used to silently miss
    val v = "2024-01-01 00:00:00"
    def write(n: Int): Unit = (1 to n).map(i => (v, i.toLong)).toDF("stamp", "uid")
      .coalesce(1).write.partitionBy("stamp").mode("append").parquet(dir)
    write(5000); write(1) // one big part + one tiny part -> skew fires

    val stats = Rebalance.partitionStats(spark, dir, "stamp")
    assert(stats.map(_.partition) == Seq(v), s"expected unescaped value, got $stats")
    assert(stats.head.rows == 5001L && stats.head.files == 2L)

    val skewed = Rebalance.detectSkew(spark, dir, "stamp")
    assert(skewed == Seq(v))

    val report = Rebalance.rebalance(spark, dir, "stamp", skewed, targetFiles = 2)
    assert(report.consistent, s"reconciliation failed: ${report.inconsistent}")
    assert(report.before(v) == 5001L && report.after(v) == 5001L)
  }
}
