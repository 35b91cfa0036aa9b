package graft.dedup

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Eager block release for retired localCheckpoint leaves (the CC loop's
  * and the ingest loop's §5 memory hygiene): dropping a dead leaf's blocks
  * as soon as its last consumer has materialized bounds live block-manager
  * state at O(live leaves) instead of "whatever the driver-GC-driven
  * ContextCleaner hasn't collected yet".
  */
private[graft] object Blocks {

  /** Drop a retired checkpoint leaf's blocks eagerly. `consumers` are the
    * checkpoints still read after the release that were built over the
    * leaf: each is materialized first if it is still lazy, because a later
    * read of a lazy consumer would find neither the leaf's blocks nor its
    * lineage. Spark's "lineage has been truncated" WARN for such an
    * unpersist is dropped by [[graft.LogNoise]].
    */
  def release(leaf: DataFrame, consumers: DataFrame*): Unit = {
    consumers.foreach { c =>
      val rdd = checkpointRdd(c).getOrElse(throw new IllegalArgumentException(
        "Blocks.release: a consumer must be a checkpoint, got\n" + c.queryExecution.analyzed))
      if (!rdd.isCheckpointed) rdd.count(): Unit
    }
    graft.LogNoise.silence()
    checkpointRdd(leaf).foreach(_.unpersist(false))
  }

  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }
}
