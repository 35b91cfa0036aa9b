package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (PQ) for embedding columns — the compression layer
  * of large-scale ANN (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; the IVF-PQ combination is FAISS's
  * workhorse at billion-vector scale).
  *
  * The vector space is split into `m` subspaces; each subspace gets its own
  * `ksub`-centroid k-means codebook; a vector is stored as `m` small codes
  * (m bytes at ksub ≤ 256) instead of `dim` floats — a 32× shrink for
  * 64-dim float32 at m=8. Search uses ADC (asymmetric distance
  * computation): per probe, ONE lookup table of `m × ksub` partial dot
  * products is precomputed against the codebook; each candidate then costs
  * `m` table lookups instead of `dim` multiplies.
  *
  * Distribution shape (the part that matters at 100 TB):
  *  - training: one explode-to-subvectors pass per Lloyd iteration;
  *    assignment is a broadcast-codebook map; the re-estimation exchange
  *    moves O(m × ksub × dim/m) = O(ksub × dim) mean partials via the
  *    map-side-combining `mean_vector` aggregate — never vectors;
  *  - encoding: one scan, broadcast codebook, no shuffle;
  *  - search: broadcast probes (with their LUTs), scan the code table,
  *    per-probe top-k via the bounded-heap aggregate — O(probes × k)
  *    rows cross the exchange.
  *
  * Codebooks are deterministic: seeded init (smallest xxhash64(id) sample,
  * like [[Ann.pickCentroids]]) + Lloyd iterations in fixed double
  * arithmetic — no RNG state, identical on every executor.
  */
object Pq {

  /** [m][code][subdim] sub-centroids plus their squared norms. */
  final case class Codebook(
      m: Int, ksub: Int, dim: Int,
      centroids: Array[Array[Array[Float]]]) {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim: Int = dim / m
    /** |centroid|² per (m, code) — reconstruction norms are exact sums of
      * these (subspaces are orthogonal coordinate blocks). */
    lazy val cnorm2: Array[Array[Double]] =
      centroids.map(_.map(c => { var s = 0.0; var i = 0
        while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }; s }))
  }

  /** (id, m_idx, subvec) rows — the training layout. */
  private def subvectors(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    graft.engine.Warehouse.spreadForCompute(
        corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), "id")
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("vec"), i * subDim + 1, lit(subDim)))))
      .select(col("id"), col("pos").as("m_idx"), col("col").as("subvec"))

  /** Train a PQ codebook: seeded deterministic init (the `ksub` corpus rows
    * with smallest xxhash64(id) seed every subspace), then `iterations` of
    * distributed Lloyd over all subspaces at once. Empty cells keep their
    * previous centroid (the k-means empty-cluster convention).
    */
  def trainCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, iterations: Int = 2): Codebook = {
    val spark = corpus.sparkSession
    graft.functions.ChCompat.register(spark)
    val first = corpus.select(col(vecCol)).head()
    val dim = first.getSeq[Float](0).length
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val subDim = dim / m

    // init: one TakeOrdered over the corpus; sampled row j seeds code j in
    // EVERY subspace (its j-th subvector slice)
    val seed = corpus.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(ksub)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    require(seed.length == ksub, s"corpus smaller than ksub=$ksub")
    var cb = Array.tabulate(m, ksub) { (mi, c) =>
      java.util.Arrays.copyOfRange(seed(c), mi * subDim, (mi + 1) * subDim)
    }

    val sub = subvectors(corpus, idCol, vecCol, m, subDim)
    for (_ <- 1 to iterations) {
      val updated = sub
        .select(col("m_idx"),
          graft.functions.VectorQuant.pq_nearest_code(
            col("m_idx"), col("subvec"), cb).as("code"), col("subvec"))
        .groupBy("m_idx", "code")
        .agg(graft.functions.VectorOps.mean_vector(col("subvec")).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray)
        .toMap
      cb = Array.tabulate(m, ksub) { (mi, c) => updated.getOrElse((mi, c), cb(mi)(c)) }
    }
    Codebook(m, ksub, dim, cb)
  }

  /** Encode the corpus: (id, codes array<int> of length m). One scan,
    * broadcast codebook, no shuffle — persist/partition the result as the
    * compressed index (m bytes of information per vector).
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String, cb: Codebook): DataFrame = {
    graft.functions.ChCompat.register(corpus.sparkSession)
    graft.engine.Warehouse.spreadForCompute(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec")), "neighbor_id")
      .select(col("neighbor_id"),
        graft.functions.VectorQuant.pq_encode(col("vec"), cb.centroids).as("codes"))
  }

  /** ADC top-k over an encoded corpus: per probe, precompute the
    * `m × ksub` dot-product lookup table ONCE; each candidate costs m
    * lookups (dot) + m lookups (reconstruction norm). Approximate cosine =
    * dot(p, x̂) / (|p|·|x̂|); rerank against true vectors downstream if
    * exactness at the top matters.
    */
  /** Per-probe ADC tables: (probe_id, lut, pn) where lut[m·ksub + c] is the
    * dot of the probe's m-th subvector with sub-centroid c, and pn = |p|.
    * Computed ONCE per probe; every candidate afterwards costs m lookups.
    */
  private def probeTables(probes: DataFrame, cb: Codebook,
      idCol: String, vecCol: String): DataFrame = {
    graft.functions.ChCompat.register(probes.sparkSession)
    // pn = l2_norm: bit-identical to the former inline UDF (index-order
    // double sum of squares, then sqrt)
    probes.select(col(idCol).as("probe_id"),
      graft.functions.VectorQuant.pq_lut(col(vecCol), cb.centroids).as("lut"),
      graft.functions.VectorOps.l2_norm(col(vecCol)).as("pn"))
  }

  /** Score (codes, lut, pn) rows and reduce to per-probe top-k through the
    * bounded-heap aggregate (O(probes × k) rows cross the exchange).
    */
  private def scoreAndTopK(cand: DataFrame, cb: Codebook, k: Int): DataFrame = {
    val spark = cand.sparkSession
    graft.functions.ChCompat.register(spark)
    cand
      .withColumn("cos_sim", graft.functions.VectorQuant.pq_adc_score(
        col("codes"), col("lut"), col("pn"), cb.centroids))
      .groupBy("probe_id")
      .agg(graft.functions.TopK.topk_by_score(
        struct(col("cos_sim").cast(DoubleType), col("neighbor_id").cast(LongType)), k).as("nn"))
      .select(col("probe_id"), posexplode(col("nn")))
      .select(col("probe_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cos_sim"), (col("pos") + 1).cast(IntegerType).as("rank"))
  }

  /** ADC top-k over an encoded corpus: per probe, precompute the
    * `m × ksub` dot-product lookup table ONCE; each candidate costs m
    * lookups (dot) + m lookups (reconstruction norm). Approximate cosine =
    * dot(p, x̂) / (|p|·|x̂|); rerank against true vectors downstream if
    * exactness at the top matters.
    */
  def adcTopK(encoded: DataFrame, cb: Codebook, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.ChCompat.register(encoded.sparkSession)
    val p = probeTables(probes, cb, idCol, vecCol)
    val cand = encoded.crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("probe_id"))
    scoreAndTopK(cand, cb, k)
  }

  /** IVF-PQ search: prune candidates to the probes' `nprobe` nearest
    * inverted lists (the [[Ann.ivfIndex]] coarse quantizer), then ADC-score
    * only those — the FAISS-style two-level layout. `ivf` must carry
    * (neighbor_id, list_id); `encoded` the PQ codes. At 100 TB the join is
    * a broadcast of probe list ids against a list_id-partitioned code
    * table: only nprobe/nlist of the codes are even read, and each
    * candidate still costs m lookups via the probe's LUT.
    */
  def ivfPqTopK(
      ivf: DataFrame, cents: Array[(Int, Array[Float])],
      encoded: DataFrame, cb: Codebook,
      probes: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    graft.functions.ChCompat.register(ivf.sparkSession)
    val p = probeTables(probes, cb, idCol, vecCol)
      .join(probes.select(col(idCol).as("probe_id"),
        explode(graft.functions.VectorQuant.nearest_centroids(
          col(vecCol), cents, nprobe)).as("list_id")), Seq("probe_id"))
    val pruned =
      if (encoded.columns.contains("list_id")) encoded // already prejoined/stored
      else encoded.join(ivf.select(col("neighbor_id"), col("list_id")), Seq("neighbor_id"))
    val cand = pruned.join(broadcast(p), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("probe_id"))
    scoreAndTopK(cand, cb, k)
  }

  /** Mean squared reconstruction error of a codebook over the corpus —
    * the training objective; used to assert Lloyd iterations help.
    */
  def quantizationError(corpus: DataFrame, idCol: String, vecCol: String,
      cb: Codebook): Double = {
    graft.functions.ChCompat.register(corpus.sparkSession)
    corpus.select(avg(
      graft.functions.VectorQuant.pq_recon_error(col(vecCol), cb.centroids)))
      .head().getDouble(0)
  }
}
