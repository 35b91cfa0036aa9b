package graft.similarity

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Durable

/** Shared persisted-layout plumbing of the vector indexes ([[IvfIndex]],
  * [[PqIndex]], [[IvfPqIndex]]): the parquet round-trip of the frozen
  * quantizers, the drift-baseline sidecar, and the index's use of the
  * [[graft.Durable]] protocols — the rebuild staged at `<path>-rebuild`
  * and swapped in through `<path>-old`, the exactly-once ledger under
  * `data/`. Keeping these in one place means a layout fix lands in every
  * index at once.
  */
private[similarity] object PqLayout {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // the ledger lives inside the data tree, which a rebuild replaces: it
  // must survive the swap, or a replay of a committed batch re-appends
  private val ledger = Seq("data/_ledger")

  private def swapPaths(path: String) =
    (new Path(path), new Path(s"$path-rebuild"), new Path(s"$path-old"))

  /** Open-time recovery: heal a crash inside [[rebuildAndSwap]], then
    * purge the traces of uncommitted exactly-once batches.
    */
  def recover(spark: SparkSession, path: String): Unit = {
    val (live, tmp, old) = swapPaths(path)
    val f = fs(spark, path)
    Durable.recover(f, live, tmp, old, ledger)
    Durable.recoverLedger(f, new Path(path, "data"))
  }

  /** Build a complete fresh index at the sibling path `build` is given and
    * swap it into `path`; the exactly-once ledger carries over, so a
    * corpus that includes every committed batch keeps replays no-ops.
    */
  def rebuildAndSwap(spark: SparkSession, path: String)(build: String => Unit): Unit = {
    val (live, tmp, old) = swapPaths(path)
    Durable.swap(fs(spark, path), live, tmp, old, ledger, "rebuildAndSwap")(build(tmp.toString))
  }

  /** Exactly-once append of `rows` (partitioned by `list_id`) into the
    * index's `data/` tree, keyed by a stream's batchId.
    */
  def appendOnce(spark: SparkSession, path: String, rows: DataFrame, batchId: Long): Boolean =
    Durable.appendOnce(fs(spark, path), new Path(path, "data"), "list_id", s"$batchId", rows)

  def writeCentroids(spark: SparkSession, path: String,
      cents: Array[(Int, Array[Float])]): Unit = {
    import spark.implicits._
    cents.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readCentroids(spark: SparkSession, path: String): Array[(Int, Array[Float])] =
    spark.read.parquet(path).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)

  def writeCodebook(spark: SparkSession, path: String, cb: Pq.Codebook): Unit = {
    import spark.implicits._
    (for (mi <- 0 until cb.m; c <- 0 until cb.ksub)
      yield (mi, c, cb.centroids(mi)(c).toSeq))
      .toDF("m_idx", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readCodebook(spark: SparkSession, path: String): Pq.Codebook = {
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray)
      .toMap
    val m = rows.keySet.map(_._1).max + 1
    val ksub = rows.keySet.map(_._2).max + 1
    val dim = rows((0, 0)).length * m
    Pq.Codebook(m, ksub, dim, Array.tabulate(m, ksub)((mi, c) => rows((mi, c))))
  }

  /** `_drift.json` holds one `{"<key>":<value>}` fit statistic — each
    * index keeps its own key (`mean_assign_sim`, `mean_recon_error`), so
    * existing index directories reopen.
    */
  def writeDriftBaseline(spark: SparkSession, indexPath: String, key: String,
      value: Double): Unit =
    Durable.writeText(fs(spark, indexPath), new Path(indexPath, "_drift.json"),
      s"""{"$key":$value}""")

  def readDriftBaseline(spark: SparkSession, indexPath: String, key: String): Double =
    Durable.readText(fs(spark, indexPath), new Path(indexPath, "_drift.json"))
      .flatMap(s => s""""$key":([-0-9.eE]+)""".r.findFirstMatchIn(s))
      .map(_.group(1).toDouble)
      .getOrElse(sys.error(s"$indexPath: no drift baseline — index predates build()?"))
}
