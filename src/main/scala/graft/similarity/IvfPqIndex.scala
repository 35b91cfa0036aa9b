package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted RESIDUAL IVF-PQ index — [[PqIndex]]'s layout with the
  * residual-coded payload of [[IvfPq]] (codes quantize `vec − centroid`,
  * rows carry their reconstruction norm). Same maintenance contract as
  * the other persisted indexes: crash-safe build/swap, drift metric,
  * exactly-once streamed appends.
  *
  * Layout under `path`:
  *  - `centroids/` — the frozen coarse quantizer (k-means-refined — the
  *    residual layout REQUIRES a trained coarse stage; raw sampled rows
  *    would make residuals as large as the vectors themselves);
  *  - `codebook/`  — the frozen residual PQ codebook;
  *  - `data/`      — (neighbor_id, codes ARRAY<INT>, rnorm DOUBLE)
  *    partitioned by `list_id`: nprobe searches prune to nprobe/nlist of
  *    the codes at the file level, and each candidate costs m lookups
  *    plus one stored norm — no nlist-sized norm table anywhere.
  */
final class IvfPqIndex(
    spark: SparkSession,
    path: String,
    idCol: String = "vec_id",
    vecCol: String = "embedding") {

  private val centsPath = s"$path/centroids"
  private val cbPath = s"$path/codebook"
  private val dataPath = s"$path/data"

  PqLayout.recover(spark, path)

  /** Train the (refined) coarse quantizer and residual codebook on
    * `corpus`, encode it, and write the full initial index.
    */
  def build(corpus: DataFrame, nlist: Int, m: Int = 8, ksub: Int = 16,
      lloydIterations: Int = 2): Unit = {
    val cents = Ann.refineCentroids(corpus, idCol, vecCol,
      Ann.pickCentroids(corpus, idCol, vecCol, nlist), lloydIterations)
    PqLayout.writeCentroids(spark, centsPath, cents)
    val cb = IvfPq.train(corpus, idCol, vecCol, cents, m, ksub, lloydIterations)
    PqLayout.writeCodebook(spark, cbPath, cb)
    writeBatch(corpus, cents, cb, overwrite = true)
    PqLayout.writeDriftBaseline(spark, path, "mean_recon_error", meanReconError(corpus))
  }

  /** Mean squared RESIDUAL reconstruction error of a batch under the
    * frozen quantizers — the fit statistic of what the codes store.
    */
  def meanReconError(batch: DataFrame): Double =
    IvfPq.quantizationError(batch, idCol, vecCol, centroids, codebook)

  /** The training-time error recorded by [[build]]. */
  def driftBaseline: Double = PqLayout.readDriftBaseline(spark, path, "mean_recon_error")

  /** Reconstruction-error growth over the training baseline; past a
    * chosen threshold, [[rebuildAndSwap]] offline.
    */
  def drift(batch: DataFrame): Double = meanReconError(batch) - driftBaseline

  /** Offline rebuild + crash-safe path swap (see [[PqLayout.rebuildAndSwap]]).
    * The exactly-once ledger carries over, so the corpus must include
    * every batch appended through [[appendExactlyOnce]].
    */
  def rebuildAndSwap(corpus: DataFrame, nlist: Int, m: Int = 8, ksub: Int = 16,
      lloydIterations: Int = 2): Unit =
    PqLayout.rebuildAndSwap(spark, path)(fresh =>
      new IvfPqIndex(spark, fresh, idCol, vecCol).build(corpus, nlist, m, ksub, lloydIterations))

  /** The frozen coarse centroids. */
  def centroids: Array[(Int, Array[Float])] = PqLayout.readCentroids(spark, centsPath)

  /** The frozen residual codebook. */
  def codebook: Pq.Codebook = PqLayout.readCodebook(spark, cbPath)

  private def writeBatch(batch: DataFrame, cents: Array[(Int, Array[Float])],
      cb: Pq.Codebook, overwrite: Boolean): Unit =
    IvfPq.encode(batch, idCol, vecCol, cents, cb)
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("list_id").parquet(dataPath)

  /** Encode a new batch against the frozen quantizers and append it. */
  def append(batch: DataFrame): Unit =
    writeBatch(batch, centroids, codebook, overwrite = false)

  /** Exactly-once [[append]] keyed by a stream's batchId — see
    * [[IvfIndex.appendExactlyOnce]]; returns false on a replay.
    */
  def appendExactlyOnce(batch: DataFrame, batchId: Long): Boolean =
    PqLayout.appendOnce(spark, path,
      IvfPq.encode(batch, idCol, vecCol, centroids, codebook), batchId)

  /** The persisted code table (list_id is the partition column). */
  def index: DataFrame = spark.read.parquet(dataPath)

  /** nprobe-list residual ADC search over everything indexed so far.
    * Compose with [[IvfPq.rerank]] against the original vector table when
    * exactness at the top matters.
    */
  def topK(probes: DataFrame, k: Int, nprobe: Int = 4): DataFrame =
    IvfPq.topK(index, centroids, codebook, probes, idCol, vecCol, k, nprobe)
}
