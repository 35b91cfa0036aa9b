package graft

import org.apache.spark.sql.functions._

import graft.similarity.{Ann, IvfPq, Pq}

/** Residual IVF-PQ: the residual codebook must beat raw-vector PQ at equal
  * compression (the reason the layout exists), encoding must carry exact
  * reconstruction norms, and the q86 pipeline shape (full-probe ADC
  * shortlist → exact rerank) must reduce to the brute-force answer — the
  * same property the sf0.01 DuckDB gate checks, asserted here at sf0.001
  * plus on structured (clustered) data.
  */
class IvfPqSpec extends SparkSpec {

  import spark.implicits._

  private lazy val emb = Tables(spark, "/root/testdata/sf0.001").embeddings

  /** Same clustered corpus as PqSpec: 25 seeded clusters, dim 32 — data
    * where residuals are genuinely small vs the corpus spread.
    */
  private lazy val clustered = {
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(25)(Array.fill(32)(rnd.nextFloat() * 2f - 1f))
    Seq.tabulate(500) { i =>
      val c = centers(i % 25)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
  }

  test("residual codebook: deterministic, and beats raw PQ at equal m/ksub") {
    // FAISS posture: the coarse quantizer is itself k-means-trained; with
    // raw sampled rows as "centroids" residuals can EXCEED the vectors
    // (difference of two random points) and the property would not hold
    val cents = Ann.refineCentroids(clustered, "vec_id", "embedding",
      Ann.pickCentroids(clustered, "vec_id", "embedding", nlist = 25), iterations = 3)
    val cb1 = IvfPq.train(clustered, "vec_id", "embedding", cents, m = 8, ksub = 16, iterations = 2)
    val cb2 = IvfPq.train(clustered, "vec_id", "embedding", cents, m = 8, ksub = 16, iterations = 2)
    assert(cb1.centroids.map(_.map(_.toSeq).toSeq).toSeq ==
      cb2.centroids.map(_.map(_.toSeq).toSeq).toSeq, "training must be deterministic")

    // the point of residual coding: error on what the codes store is lower
    // than raw-vector PQ with the identical code budget
    val rawCb = Pq.trainCodebook(clustered, "vec_id", "embedding", m = 8, ksub = 16, iterations = 2)
    val rawErr = Pq.quantizationError(clustered, "vec_id", "embedding", rawCb)
    val resErr = IvfPq.quantizationError(clustered, "vec_id", "embedding", cents, cb1)
    assert(resErr < rawErr,
      s"residual coding should reduce reconstruction error: raw=$rawErr residual=$resErr")
  }

  test("encode: list assignment matches flat IVF; stored rnorm is the exact recon norm") {
    val cents = Ann.pickCentroids(emb, "vec_id", "embedding", nlist = 8)
    val cb = IvfPq.train(emb, "vec_id", "embedding", cents, m = 8, ksub = 16, iterations = 1)
    val enc = IvfPq.encode(emb, "vec_id", "embedding", cents, cb).collect()
      .map(r => r.getAs[Long]("neighbor_id") ->
        ((r.getAs[Int]("list_id"), r.getAs[collection.Seq[Int]]("codes"),
          r.getAs[Double]("rnorm"))))
      .toMap

    val flat = Ann.ivfIndex(emb, "vec_id", "embedding", cents).collect()
      .map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Int]("list_id")).toMap
    assert(enc.view.mapValues(_._1).toMap == flat,
      "residual coarse assignment must agree with the flat IVF index")

    // local bit-identical replica of recon-norm: float add of centroid and
    // decoded sub-centroids, double sum of squares in index order
    val centMap = cents.toMap
    for ((id, (list, codes, rnorm)) <- enc) {
      val cent = centMap(list)
      val recon = new Array[Float](cb.dim)
      for (mi <- 0 until cb.m; i <- 0 until cb.subDim)
        recon(mi * cb.subDim + i) = cent(mi * cb.subDim + i) + cb.centroids(mi)(codes(mi))(i)
      var s = 0.0
      recon.foreach(x => s += x.toDouble * x)
      assert(rnorm == math.sqrt(s), s"rnorm mismatch for vec $id")
    }
  }

  test("q86 shape: full-probe ADC shortlist + exact rerank == brute force, bit-for-bit") {
    val probes = emb.filter(col("vec_id").isin(0, 1, 2))
    val cents = Ann.pickCentroids(emb, "vec_id", "embedding", nlist = 16)
    val cb = IvfPq.train(emb, "vec_id", "embedding", cents, m = 8, ksub = 16, iterations = 1)
    val enc = IvfPq.encode(emb, "vec_id", "embedding", cents, cb)
    val shortlist = IvfPq.topK(enc, cents, cb, probes, "vec_id", "embedding",
      k = 600, nprobe = 16)
    val got = IvfPq.rerank(shortlist, emb, probes, "vec_id", "embedding", k = 10)
      .collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))).toMap
    val want = Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 10)
      .collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))).toMap
    assert(got == want, "rerank must reproduce the exact brute-force ranking")
  }

  test("pruned residual search: nprobe<nlist recalls most of the exact answer on clustered data") {
    val probes = clustered.filter(col("vec_id") < 5)
    val cents = Ann.refineCentroids(clustered, "vec_id", "embedding",
      Ann.pickCentroids(clustered, "vec_id", "embedding", nlist = 16), iterations = 2)
    val cb = IvfPq.train(clustered, "vec_id", "embedding", cents, m = 8, ksub = 32, iterations = 2)
    val enc = IvfPq.encode(clustered, "vec_id", "embedding", cents, cb)
    val shortlist = IvfPq.topK(enc, cents, cb, probes, "vec_id", "embedding",
      k = 50, nprobe = 4)
    val reranked = IvfPq.rerank(shortlist, clustered, probes, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = Ann.bruteForceTopK(clustered, probes, "vec_id", "embedding", 10)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & reranked).size.toDouble / exact.size
    assert(recall >= 0.5, s"pruned residual search recall too low: $recall")
    // output contract: dense ranks per probe
    val ranks = IvfPq.rerank(shortlist, clustered, probes, "vec_id", "embedding", k = 10)
      .filter(col("probe_id") === 0).collect().map(_.getAs[Int]("rank")).sorted.toSeq
    assert(ranks == (1 to 10))
  }

  test("IvfPqIndex: build/append round-trip, exactly-once, drift + rebuild-and-swap") {
    import graft.similarity.IvfPqIndex
    val dir = tmpDir("ivfpq-index") + "/ix"
    val ix = new IvfPqIndex(spark, dir)
    val first = clustered.filter(col("vec_id") < 400)
    val rest = clustered.filter(col("vec_id") >= 400)
    ix.build(first, nlist = 8, m = 8, ksub = 16, lloydIterations = 1)
    ix.append(rest)

    // append-encoded rows are bit-identical to encoding directly against
    // the frozen quantizers (codes AND stored norms)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("neighbor_id"), r.getAs[Int]("list_id"),
        r.getAs[collection.Seq[Int]]("codes").toSeq, r.getAs[Double]("rnorm"))
    val stored = ix.index.collect().map(key).toSet
    val direct = graft.similarity.IvfPq
      .encode(clustered, "vec_id", "embedding", ix.centroids, ix.codebook)
      .collect().map(key).toSet
    assert(stored == direct)

    // exactly-once appends dedup replays
    val extra = clustered.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val pre = ix.index.count()
    assert(ix.appendExactlyOnce(extra, 3L), "first delivery must ingest")
    assert(!ix.appendExactlyOnce(extra, 3L), "replayed id must dedup")
    assert(ix.index.count() == pre + 10)

    // drift: training data ~0; negated vectors reconstruct badly; rebuild heals
    assert(math.abs(ix.drift(first)) < 1e-9)
    val shifted = clustered
      .select((col("vec_id") + 200000).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val d = ix.drift(shifted)
    assert(d > 0.01, s"shifted batch must raise residual recon error: $d")
    ix.rebuildAndSwap(clustered.unionByName(shifted), nlist = 8, m = 8, ksub = 16)
    assert(ix.drift(shifted) < d, "rebuild did not reduce recon error")

    // post-swap search: dense ranks, cluster-mate on top
    val top = ix.topK(clustered.filter(col("vec_id") === 7), k = 5, nprobe = 8).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(top.nonEmpty && top.minBy(_._1)._2 % 25 == 7L,
      s"post-swap search should surface a cluster-mate first: ${top.toSeq}")
  }

  test("IvfPqIndex: rebuild-and-swap keeps the exactly-once ledger") {
    import graft.similarity.IvfPqIndex
    val ix = new IvfPqIndex(spark, tmpDir("ivfpq-ledger") + "/ix")
    ix.build(clustered.filter(col("vec_id") < 400), nlist = 8, m = 8, ksub = 16,
      lloydIterations = 1)
    val b = clustered.filter(col("vec_id") >= 400)
    assert(ix.appendExactlyOnce(b, 1L), "first delivery must ingest")
    ix.rebuildAndSwap(clustered, nlist = 8, m = 8, ksub = 16, lloydIterations = 1)
    val n = ix.index.count()
    assert(n == 500)
    assert(!ix.appendExactlyOnce(b, 1L), "a replay after the rebuild must dedup")
    assert(ix.index.count() == n, "a replay after the rebuild must not append")
  }

  test("pq_decode / pq_adc_dot agree with local replicas") {
    graft.functions.ChCompat.register(spark)
    val cb = Pq.trainCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16, iterations = 1)
    val rows = emb.select(col("vec_id"),
        graft.functions.VectorQuant.pq_encode(col("embedding"), cb.centroids).as("codes"),
        graft.functions.VectorQuant.pq_decode(
          graft.functions.VectorQuant.pq_encode(col("embedding"), cb.centroids),
          cb.centroids).as("dec"),
        graft.functions.VectorQuant.pq_adc_dot(
          graft.functions.VectorQuant.pq_encode(col("embedding"), cb.centroids),
          graft.functions.VectorQuant.pq_lut(col("embedding"), cb.centroids)).as("dot"),
        graft.functions.VectorQuant.pq_lut(col("embedding"), cb.centroids).as("lut"))
      .collect()
    for (r <- rows) {
      val codes = r.getSeq[Int](1)
      val expDec = (0 until cb.m).flatMap(mi => cb.centroids(mi)(codes(mi)).toSeq)
      assert(r.getSeq[Float](2) == expDec, s"decode mismatch for vec ${r.getLong(0)}")
      val lut = r.getSeq[Double](4)
      var expDot = 0.0
      for (mi <- 0 until cb.m) expDot += lut(mi * cb.ksub + codes(mi))
      assert(r.getDouble(3) == expDot, s"adc_dot mismatch for vec ${r.getLong(0)}")
    }
  }
}
