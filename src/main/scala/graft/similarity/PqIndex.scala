package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index — the on-disk form of the FAISS-style two-level
  * layout, and the PQ sibling of [[IvfIndex]]: train once (coarse
  * centroids + PQ codebook), then append embedding batches forever; the
  * stored payload is `m` small codes per vector instead of the vector.
  *
  * Layout under `path`:
  *  - `centroids/` — parquet (list_id INT, centroid ARRAY<FLOAT>): the
  *    frozen coarse quantizer;
  *  - `codebook/`  — parquet (m_idx INT, code INT, centroid ARRAY<FLOAT>):
  *    the frozen PQ codebook;
  *  - `data/`      — parquet (neighbor_id, codes ARRAY<INT>) partitioned
  *    by `list_id`: searches with `nprobe` lists prune to `nprobe/nlist`
  *    of the CODES at the file level — and the codes are already ~32×
  *    smaller than the embeddings they stand for.
  *
  * Both quantizers are deterministic (seeded init + fixed-arithmetic
  * Lloyd), so append-encoded batches are bit-identical to a rebuild with
  * the same training corpus. Distribution drift needs an offline `build`
  * + path swap, like IvfIndex.
  */
final class PqIndex(
    spark: SparkSession,
    path: String,
    idCol: String = "vec_id",
    vecCol: String = "embedding") {

  private val centsPath = s"$path/centroids"
  private val cbPath = s"$path/codebook"
  private val dataPath = s"$path/data"

  PqLayout.recover(spark, path)

  /** Train the coarse quantizer and PQ codebook on `corpus`, encode it,
    * and write the full initial index (overwrites `path`).
    */
  def build(corpus: DataFrame, nlist: Int, m: Int = 8, ksub: Int = 16,
      lloydIterations: Int = 2): Unit = {
    val cents = Ann.refineCentroids(corpus, idCol, vecCol,
      Ann.pickCentroids(corpus, idCol, vecCol, nlist), lloydIterations)
    PqLayout.writeCentroids(spark, centsPath, cents)
    val cb = Pq.trainCodebook(corpus, idCol, vecCol, m, ksub, lloydIterations)
    PqLayout.writeCodebook(spark, cbPath, cb)
    writeBatch(corpus, cents, cb, overwrite = true)
    // drift baseline: the training corpus's own quantization error
    PqLayout.writeDriftBaseline(spark, path, "mean_recon_error", meanReconError(corpus))
  }

  /** Mean squared PQ reconstruction error of a batch under the frozen
    * codebook — the fine-quantizer fit statistic (one scan, primitive
    * [[graft.functions.VectorQuant.pq_recon_error]] per row, scalar agg).
    */
  def meanReconError(batch: DataFrame): Double =
    batch.agg(avg(graft.functions.VectorQuant.pq_recon_error(
        col(vecCol), codebook.centroids)))
      .head().getDouble(0)

  /** The training-time error recorded by [[build]]. */
  def driftBaseline: Double = PqLayout.readDriftBaseline(spark, path, "mean_recon_error")

  /** Quantizer-drift metric for an incoming batch: reconstruction-error
    * growth over the training baseline (positive = the codebook fits the
    * new data worse; ~0 = same distribution). Past a chosen threshold,
    * run [[rebuildAndSwap]] offline with a corpus that includes the
    * drifted data.
    */
  def drift(batch: DataFrame): Double = meanReconError(batch) - driftBaseline

  /** Offline rebuild + path swap for quantizer drift. PQ stores only
    * codes, so the caller supplies the training corpus (the original
    * vectors, e.g. the embeddings table both quantizers were fed from);
    * the fresh index is built beside `path` and swapped in. The
    * exactly-once ledger carries over, so the corpus must include every
    * batch appended through [[appendExactlyOnce]].
    */
  def rebuildAndSwap(corpus: DataFrame, nlist: Int, m: Int = 8, ksub: Int = 16,
      lloydIterations: Int = 2): Unit =
    PqLayout.rebuildAndSwap(spark, path)(fresh =>
      new PqIndex(spark, fresh, idCol, vecCol).build(corpus, nlist, m, ksub, lloydIterations))

  /** The frozen coarse centroids. */
  def centroids: Array[(Int, Array[Float])] = PqLayout.readCentroids(spark, centsPath)

  /** The frozen PQ codebook. */
  def codebook: Pq.Codebook = PqLayout.readCodebook(spark, cbPath)

  private def batchRows(batch: DataFrame, cents: Array[(Int, Array[Float])],
      cb: Pq.Codebook): DataFrame =
    Pq.encode(batch, idCol, vecCol, cb)
      .join(Ann.ivfIndex(batch, idCol, vecCol, cents)
        .select(col("neighbor_id"), col("list_id")), Seq("neighbor_id"))

  private def writeBatch(batch: DataFrame, cents: Array[(Int, Array[Float])],
      cb: Pq.Codebook, overwrite: Boolean): Unit =
    batchRows(batch, cents, cb).write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("list_id").parquet(dataPath)

  /** Encode a new batch against the frozen quantizers and append it. */
  def append(batch: DataFrame): Unit =
    writeBatch(batch, centroids, codebook, overwrite = false)

  /** Exactly-once [[append]] keyed by a stream's batchId — see
    * [[IvfIndex.appendExactlyOnce]]; returns false on a replay.
    */
  def appendExactlyOnce(batch: DataFrame, batchId: Long): Boolean =
    PqLayout.appendOnce(spark, path,
      batchRows(batch, centroids, codebook), batchId)

  /** The persisted code table (list_id is the partition column). */
  def index: DataFrame = spark.read.parquet(dataPath)

  /** nprobe-list ADC search over everything indexed so far. */
  def topK(probes: DataFrame, k: Int, nprobe: Int = 4): DataFrame =
    Pq.ivfPqTopK(index, centroids, index, codebook, probes, idCol, vecCol, k, nprobe)
}
