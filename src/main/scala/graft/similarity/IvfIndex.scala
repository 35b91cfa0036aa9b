package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-growable IVF index — the vector twin of
  * [[graft.dedup.NearDupIndex]]: train centroids once, then ingest
  * embedding batches forever without touching history.
  *
  * Layout under `path`:
  *  - `centroids/` — parquet (list_id INT, centroid ARRAY<FLOAT>), the
  *    frozen coordinate system every append and search shares;
  *  - `data/` — parquet (neighbor_id, cvec) partitioned by `list_id`, so
  *    a search with `nprobe` lists prunes to `nprobe/nlist` of the corpus
  *    at the FILE level (partition pruning, no data read outside the
  *    probed lists).
  *
  * Centroid assignment is pointwise (each vector vs the broadcast
  * centroids), so append-built lists are bit-identical to a full rebuild
  * with the same centroids — asserted in IvfIndexSpec. Centroid DRIFT is
  * the one thing appends cannot fix: after heavy distribution shift,
  * `build` a fresh index (offline) and swap paths, exactly like a
  * ClickHouse-style background re-merge.
  */
final class IvfIndex(
    spark: SparkSession,
    path: String,
    idCol: String = "vec_id",
    vecCol: String = "embedding") {

  private val centsPath = s"$path/centroids"
  private val dataPath = s"$path/data"

  PqLayout.recover(spark, path)

  /** Train centroids on `corpus` (seeded pick + distributed Lloyd) and
    * write the full initial index. Overwrites any existing index at
    * `path`.
    */
  def build(corpus: DataFrame, nlist: Int, lloydIterations: Int = 2): Unit = {
    val c = Ann.refineCentroids(corpus, idCol, vecCol,
      Ann.pickCentroids(corpus, idCol, vecCol, nlist), lloydIterations)
    PqLayout.writeCentroids(spark, centsPath, c)
    Ann.ivfIndex(corpus, idCol, vecCol, c)
      .write.mode("overwrite").partitionBy("list_id").parquet(dataPath)
    // drift baseline: how well the training corpus fits its own centroids
    PqLayout.writeDriftBaseline(spark, path, "mean_assign_sim", meanAssignSim(corpus))
  }

  /** Mean cosine of each vector to its assigned (nearest) centroid — the
    * coarse-quantizer fit statistic. One broadcast-assign pass + a scalar
    * aggregate; nothing corpus-sized reaches the driver.
    */
  def meanAssignSim(batch: DataFrame): Double = {
    import spark.implicits._
    val cents = centroids
    val centsDf = broadcast(cents.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("list_id", "centroid"))
    Ann.ivfIndex(batch, idCol, vecCol, cents)
      .join(centsDf, Seq("list_id"))
      .agg(avg(Ann.cosine(col("cvec"), col("centroid"))))
      .head().getDouble(0)
  }

  /** The training-time fit recorded by [[build]]. */
  def driftBaseline: Double = PqLayout.readDriftBaseline(spark, path, "mean_assign_sim")

  /** Centroid-drift metric for an incoming batch: how much worse it fits
    * the frozen centroids than the training corpus did (positive = drift;
    * ~0 = same distribution). Track this over appends; past a chosen
    * threshold, run [[rebuildAndSwap]] offline.
    */
  def drift(batch: DataFrame): Double = driftBaseline - meanAssignSim(batch)

  /** The answer to centroid drift (SCALE.md §4): train fresh centroids on
    * `corpus` (typically everything indexed so far plus the drifted
    * stream), build a complete new index at a sibling path, and swap it
    * into `path`. Appends against the old centroids remain valid history;
    * the swap is the ClickHouse-style background re-merge made explicit.
    * The exactly-once ledger carries over ([[PqLayout.rebuildAndSwap]]).
    */
  def rebuildAndSwap(corpus: DataFrame, nlist: Int, lloydIterations: Int = 2): Unit =
    PqLayout.rebuildAndSwap(spark, path)(fresh =>
      new IvfIndex(spark, fresh, idCol, vecCol).build(corpus, nlist, lloydIterations))

  /** [[rebuildAndSwap]] from the index's own stored vectors — no external
    * corpus needed (IVF keeps full vectors, unlike PQ).
    */
  def rebuildFromStoredAndSwap(nlist: Int, lloydIterations: Int = 2): Unit =
    rebuildAndSwap(
      index.select(col("neighbor_id").as(idCol), col("cvec").as(vecCol)),
      nlist, lloydIterations)

  /** The frozen centroids (driver-side, nlist rows — the IVF regime). */
  def centroids: Array[(Int, Array[Float])] = PqLayout.readCentroids(spark, centsPath)

  /** Assign a new batch against the frozen centroids and append its rows
    * to the inverted lists. History is never read or rewritten.
    */
  def append(batch: DataFrame): Unit =
    Ann.ivfIndex(batch, idCol, vecCol, centroids)
      .write.mode("append").partitionBy("list_id").parquet(dataPath)

  /** Exactly-once [[append]] keyed by a stream's batchId: a foreachBatch
    * retry of a committed id is a no-op, and a crash mid-append heals on
    * the next open — the [[graft.mv.StateTable]] ledger protocol applied
    * to the inverted lists. Returns false on a deduplicated replay.
    */
  def appendExactlyOnce(batch: DataFrame, batchId: Long): Boolean =
    PqLayout.appendOnce(spark, path, Ann.ivfIndex(batch, idCol, vecCol, centroids), batchId)

  /** The persisted inverted lists (list_id is the partition column). */
  def index: DataFrame = spark.read.parquet(dataPath)

  /** nprobe-list search over everything indexed so far. */
  def topK(probes: DataFrame, k: Int, nprobe: Int = 4): DataFrame =
    Ann.ivfTopK(index, centroids, probes, idCol, vecCol, k, nprobe)
}
