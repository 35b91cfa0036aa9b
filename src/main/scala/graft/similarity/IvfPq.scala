package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-PQ with RESIDUAL coding — the FAISS `IndexIVFPQ` layout (Jégou et
  * al. 2011 §IV; the billion-scale workhorse): the product quantizer is
  * trained on `vec − coarse_centroid(vec)` rather than on raw vectors.
  * Residuals concentrate near the origin with far less variance than the
  * corpus itself, so the same m×ksub code budget spends its resolution on
  * the local neighborhood of each list — reconstruction error drops vs
  * raw-vector PQ at identical compression (asserted in IvfPqSpec).
  *
  * Layout per encoded row: (neighbor_id, list_id, codes[m], rnorm) where
  * rnorm = |centroid_list + decode(codes)| is the FULL reconstruction
  * norm, precomputed ONCE at encode time. Keeping the norm on the row (one
  * double) instead of in the classic nlist × m × ksub precomputed table
  * keeps search memory O(1) per candidate at any nlist — at 100 TB scale
  * nlist is 10⁴–10⁵ and that table stops being broadcastable.
  *
  * Search (ADC, asymmetric): per (probe, probed list) compute ONCE
  *   dotpc = ⟨probe, centroid_list⟩            (dim multiplies)
  *   lut   = per-subspace ⟨probe_m, codeword⟩  (m × ksub × subDim, shared
  *                                              across the probe's lists)
  * then every candidate costs m table lookups:
  *   cos ≈ (dotpc + Σ_m lut[m·ksub + code_m]) / (|p| · rnorm)
  * because ⟨p, c + r̂⟩ = ⟨p, c⟩ + ⟨p, r̂⟩ and subspaces are coordinate
  * blocks. Distribution shape: probes (with LUTs) broadcast against a
  * list_id-partitioned code table — only nprobe/nlist of the codes are
  * read; the per-probe bounded-heap top-k keeps the exchange O(probes × k).
  *
  * Reference anchor: the reference ships no ANN (stock ClickHouse); this
  * is the training-pipeline similarity-search surface the builder prompt
  * requires, scale path beyond the flat IVF of [[Ann.ivfIndex]] and the
  * raw-vector PQ of [[Pq]].
  */
object IvfPq {

  /** cid → centroid map literal for per-row centroid lookup (nlist is
    * small by IVF design — this rides the plan like the codebook literals).
    */
  private def centsMapLit(cents: Array[(Int, Array[Float])]): Column =
    typedLit(cents.map { case (cid, v) => cid -> v.toSeq }.toMap)

  /** (id, list_id, residual) — coarse assignment plus float residual.
    * zip_with/element_at are codegen'd built-ins; assignment is the same
    * [[graft.functions.VectorQuant.nearest_centroids]] kernel the flat IVF
    * uses (n = 1), so an IvfPq list_id always agrees with [[Ann.ivfIndex]].
    */
  def assignResiduals(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Float])]): DataFrame = {
    val spark = corpus.sparkSession
    graft.functions.ChCompat.register(spark)
    corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("list_id", element_at(
        graft.functions.VectorQuant.nearest_centroids(col("vec"), cents, 1), 1))
      .withColumn("residual", zip_with(
        col("vec"), element_at(centsMapLit(cents), col("list_id")),
        (x, c) => x - c))
  }

  /** Train the residual codebook: coarse-assign, subtract, then the
    * standard seeded distributed Lloyd of [[Pq.trainCodebook]] over the
    * residual frame. Deterministic end-to-end (seeded init, fixed fold).
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Float])],
      m: Int = 8, ksub: Int = 16, iterations: Int = 2): Pq.Codebook =
    Pq.trainCodebook(
      assignResiduals(corpus, idCol, vecCol, cents).select(col("id"), col("residual")),
      "id", "residual", m, ksub, iterations)

  /** Encode: (neighbor_id, list_id, codes, rnorm). One scan, broadcast
    * codebook + centroid map, no shuffle; rnorm is the full-reconstruction
    * norm |c_list + decode(codes)| precomputed here so search never needs
    * a per-(list, code) norm table.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Float])], cb: Pq.Codebook): DataFrame = {
    val spark = corpus.sparkSession
    graft.functions.ChCompat.register(spark)
    val enc = graft.engine.Warehouse.spreadForCompute(
        assignResiduals(corpus, idCol, vecCol, cents), "id")
      .withColumn("codes",
        graft.functions.VectorQuant.pq_encode(col("residual"), cb.centroids))
    enc
      .withColumn("recon", zip_with(
        element_at(centsMapLit(cents), col("list_id")),
        graft.functions.VectorQuant.pq_decode(col("codes"), cb.centroids),
        (c, r) => c + r))
      .select(col("id").as("neighbor_id"), col("list_id"), col("codes"),
        graft.functions.VectorOps.l2_norm(col("recon")).as("rnorm"))
  }

  /** ADC top-k over the residual-coded table. Probe side carries its LUT,
    * norm, and per-probed-list ⟨probe, centroid⟩; candidates cost m
    * lookups each. Returns (probe_id, neighbor_id, cos_sim, rank) with the
    * usual (-score, id) tie order.
    */
  def topK(encoded: DataFrame, cents: Array[(Int, Array[Float])],
      cb: Pq.Codebook, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val spark = encoded.sparkSession
    graft.functions.ChCompat.register(spark)
    val p = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("pvec"),
        graft.functions.VectorQuant.pq_lut(col(vecCol), cb.centroids).as("lut"),
        graft.functions.VectorOps.l2_norm(col(vecCol)).as("pn"))
      .select(col("probe_id"), col("pvec"), col("lut"), col("pn"),
        explode(graft.functions.VectorQuant.nearest_centroids(
          col("pvec"), cents, nprobe)).as("list_id"))
      .withColumn("dotpc", aggregate(
        zip_with(col("pvec"), element_at(centsMapLit(cents), col("list_id")),
          (x, c) => x.cast(DoubleType) * c.cast(DoubleType)),
        lit(0.0), (acc, x) => acc + x))
      .drop("pvec")
    val scored = encoded.join(broadcast(p), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos_sim",
        when(col("pn") === 0.0 || col("rnorm") === 0.0, lit(-2.0))
          .otherwise((col("dotpc") +
            graft.functions.VectorQuant.pq_adc_dot(col("codes"), col("lut"))) /
            (col("pn") * col("rnorm"))))
    scored
      .groupBy("probe_id")
      .agg(graft.functions.TopK.topk_by_score(
        struct(col("cos_sim").cast(DoubleType), col("neighbor_id").cast(LongType)), k).as("nn"))
      .select(col("probe_id"), posexplode(col("nn")))
      .select(col("probe_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cos_sim"), (col("pos") + 1).cast(IntegerType).as("rank"))
  }

  /** Exact rerank of an ADC shortlist — the standard refine step: fetch
    * the true vectors of the shortlisted (probe, neighbor) pairs, rescore
    * with exact double cosine (the same [[Ann.cosine]] kernel the brute
    * force uses), keep the top k. The fetch join is O(probes × shortlist),
    * never corpus-sized; probes broadcast.
    */
  def rerank(shortlist: DataFrame, corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = shortlist.sparkSession
    graft.functions.ChCompat.register(spark)
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("cvec"))
    val p = probes.select(col(idCol).cast(LongType).as("probe_id"),
      col(vecCol).as("pvec"))
    shortlist.select(col("probe_id"), col("neighbor_id"))
      .join(c, Seq("neighbor_id"))
      .join(broadcast(p), Seq("probe_id"))
      .withColumn("cos_sim", Ann.cosine(col("cvec"), col("pvec")))
      .groupBy("probe_id")
      .agg(graft.functions.TopK.topk_by_score(
        struct(col("cos_sim"), col("neighbor_id")), k).as("nn"))
      .select(col("probe_id"), posexplode(col("nn")))
      .select(col("probe_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cos_sim"), (col("pos") + 1).cast(IntegerType).as("rank"))
  }

  /** Mean squared reconstruction error of the residual codebook — measured
    * on residuals (what the codes actually store). Comparable to
    * [[Pq.quantizationError]] on raw vectors at equal m/ksub: residual
    * coding should come out strictly lower (IvfPqSpec asserts it).
    */
  def quantizationError(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Float])], cb: Pq.Codebook): Double =
    Pq.quantizationError(
      assignResiduals(corpus, idCol, vecCol, cents).select(col("id"), col("residual")),
      "id", "residual", cb)
}
