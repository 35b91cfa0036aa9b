package graft

import org.apache.spark.sql.functions._

import graft.dedup.Blocks

/** Releasing a checkpoint leaf must not strand a lazy checkpoint built over
  * it: `Blocks.release` materializes the consumers it is handed first.
  */
class BlocksSpec extends SparkSpec {

  private def rddOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd

  test("release materializes a lazy successor checkpoint before dropping the leaf") {
    val leaf = spark.range(1000).toDF("id").localCheckpoint(eager = true)
    val successor = leaf.select((col("id") * 2).as("x")).localCheckpoint(eager = false)
    assert(!rddOf(successor).isCheckpointed, "the successor starts lazy")
    Blocks.release(leaf, successor)
    assert(successor.count() == 1000)
    assert(rddOf(successor).isCheckpointed)
    assert(successor.agg(sum("x")).head().getLong(0) == 999L * 1000L)
  }

  test("a consumer that is not a checkpoint is rejected and the leaf kept") {
    val leaf = spark.range(10).toDF("id").localCheckpoint(eager = true)
    val e = intercept[IllegalArgumentException](
      Blocks.release(leaf, leaf.select((col("id") + 1).as("y"))))
    assert(e.getMessage.contains("must be a checkpoint"))
    assert(leaf.count() == 10)
  }
}
