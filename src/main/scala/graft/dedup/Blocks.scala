package graft.dedup

import org.apache.spark.sql.DataFrame

/** Eager block release for retired localCheckpoint leaves (the CC loop's
  * and the ingest loop's §5 memory hygiene): dropping a dead leaf's blocks
  * as soon as its last consumer has materialized bounds live block-manager
  * state at O(live leaves) instead of "whatever the driver-GC-driven
  * ContextCleaner hasn't collected yet".
  */
private[graft] object Blocks {

  /** Drop a retired checkpoint leaf's blocks eagerly. Only ever call on
    * leaves whose every consumer is already materialized — a later read
    * of the frame would find neither blocks nor lineage. Spark's
    * "lineage has been truncated" WARN for such an unpersist is dropped
    * by [[graft.LogNoise]].
    */
  def release(df: DataFrame): Unit = {
    graft.LogNoise.silence()
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }
}
