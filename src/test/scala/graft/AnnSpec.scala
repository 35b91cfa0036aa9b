package graft

import org.apache.spark.sql.functions._

import graft.similarity.Ann

/** ANN verification: LSH path recall against the exact brute-force baseline
  * on the driver's embeddings table.
  */
class AnnSpec extends SparkSpec {

  private lazy val emb = Tables(spark, "/root/testdata/sf0.001").embeddings

  test("cosine is exact: self-similarity 1, symmetric") {
    graft.functions.ChCompat.register(spark)
    val two = emb.filter(col("vec_id") < 2)
      .select(col("vec_id"), col("embedding"))
    val selfSim = two.select(Ann.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    selfSim.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("brute-force top-k: ranks are dense, scores non-increasing") {
    val probes = emb.filter(col("vec_id") === 0)
    val out = Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", 10).collect()
    assert(out.length == 10)
    val scores = out.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  /** Five disjoint deterministic probe sets: recall floors are asserted on
    * the per-seed values AND the mean, at measured-minus-margin (measured
    * on the round-12 sf0.001 testdata; the margin absorbs a driver
    * testdata regeneration, which has happened between rounds).
    */
  private def probeSeeds: Seq[Seq[Long]] = {
    val n = emb.count()
    (0 until 5).map(seed => (0 until 5).map(i => ((seed * 13 + i * 7) % n)))
  }

  private def recallVsBrute(mkApprox: org.apache.spark.sql.DataFrame => Set[(Long, Long)])
      : Seq[Double] =
    probeSeeds.map { ids =>
      val probes = emb.filter(col("vec_id").isin(ids: _*))
      val exact = Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
        .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
      val approx = mkApprox(probes)
      (exact & approx).size.toDouble / exact.size
    }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet

  test("LSH recall@10 vs brute force: floors at measured-minus-margin over " +
      "5 seeds, and the tables-for-recall lever actually pays") {
    // the index is probe-independent: build + persist ONCE per config (the
    // signature pass is the heaviest job here — without the persist every
    // seed would recompute it)
    val built = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def lsh(t: Int, b: Int): org.apache.spark.sql.DataFrame => Set[(Long, Long)] = {
      val ix = Ann.lshIndex(emb, "vec_id", "embedding", tables = t, bits = b).persist()
      built += ix
      probes => pairs(Ann.lshTopK(ix, probes, "vec_id", "embedding", 10,
        tables = t, bits = b))
    }
    try {
    // shipped q42 parameters (16 tables x 6 bits): on 500 UNIFORM 64-dim
    // vectors the top-10 "neighbors" are barely closer than random, the
    // hardest possible LSH regime — measured per-seed 0.36-0.64, mean 0.504
    val shipped = recallVsBrute(lsh(16, 6))
    info(s"lsh 16x6 per-seed recall: ${shipped.map(r => f"$r%.2f").mkString(", ")}")
    shipped.foreach(r => assert(r >= 0.28, s"per-seed collapse: $shipped"))
    assert(shipped.sum / shipped.size >= 0.42,
      s"mean recall regressed: $shipped (measured mean 0.504)")
    // the recall lever: more, shorter tables — measured per-seed
    // 0.96-1.00, mean 0.98 at 32x4. A code regression in the signature /
    // bucket-join path fails HERE even if the noisy shipped point slips.
    val lever = recallVsBrute(lsh(32, 4))
    info(s"lsh 32x4 per-seed recall: ${lever.map(r => f"$r%.2f").mkString(", ")}")
    lever.foreach(r => assert(r >= 0.85, s"high-recall config collapsed: $lever"))
    assert(lever.sum / lever.size >= 0.92,
      s"high-recall mean regressed: $lever (measured mean 0.98)")
    assert(lever.sum > shipped.sum, "more tables must buy recall")
    } finally built.foreach(_.unpersist())
  }

  test("exhaustive LSH (bits = 0) IS brute force: single bucket per table " +
      "makes the candidate set the whole corpus (the q175 gate, pinned " +
      "here in-process too)") {
    val probes = emb.filter(col("vec_id").isin(0, 1, 2, 3, 4))
    val exact = Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).sorted.toSeq
    val ix = Ann.lshIndex(emb, "vec_id", "embedding", tables = 2, bits = 0)
    val full = Ann.lshTopK(ix, probes, "vec_id", "embedding", 10, tables = 2, bits = 0)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).sorted.toSeq
    assert(full == exact, "bits=0 LSH must equal brute force bit-for-bit")
  }

  test("IVF recall@10 vs brute force: floors at measured-minus-margin over " +
      "5 seeds, the nprobe lever pays, deterministic centroids") {
    // one persisted assignment serves every (seed, nprobe) point — the
    // centroid pick + full-corpus assignment are probe-independent
    val ivfIx = Ann.ivfIndex(emb, "vec_id", "embedding", nlist = 16).persist()
    def ivf(np: Int)(probes: org.apache.spark.sql.DataFrame) =
      pairs(Ann.ivfTopK(ivfIx, emb, probes, "vec_id", "embedding", 10,
        nlist = 16, nprobe = np))
    try {
    // shipped q44 parameters (nprobe 8 of nlist 16): measured per-seed
    // 0.62-0.84, mean 0.732 on the uniform corpus
    val shipped = recallVsBrute(ivf(8))
    info(s"ivf nprobe=8 per-seed recall: ${shipped.map(r => f"$r%.2f").mkString(", ")}")
    shipped.foreach(r => assert(r >= 0.52, s"per-seed collapse: $shipped"))
    assert(shipped.sum / shipped.size >= 0.63,
      s"mean recall regressed: $shipped (measured mean 0.732)")
    // nprobe lever: 12 of 16 lists — measured per-seed 0.80-0.96, mean 0.896
    val lever = recallVsBrute(ivf(12))
    info(s"ivf nprobe=12 per-seed recall: ${lever.map(r => f"$r%.2f").mkString(", ")}")
    lever.foreach(r => assert(r >= 0.70, s"high-recall config collapsed: $lever"))
    assert(lever.sum / lever.size >= 0.80,
      s"high-recall mean regressed: $lever (measured mean 0.896)")
    assert(lever.sum >= shipped.sum, "more probed lists must not lose recall")
    // determinism of the assignment
    val a1 = Ann.ivfIndex(emb, "vec_id", "embedding", 8).select("neighbor_id", "list_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val a2 = Ann.ivfIndex(emb, "vec_id", "embedding", 8).select("neighbor_id", "list_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a1 == a2)
    } finally ivfIx.unpersist()
  }

  test("IVF index round-trips through list_id-partitioned parquet") {
    val cents = Ann.pickCentroids(emb, "vec_id", "embedding", 8)
    val ix = Ann.ivfIndex(emb, "vec_id", "embedding", cents)
    val dir = tmpDir("ivf-ix") + "/ix"
    // the persisted form: one directory per inverted list, prunable
    ix.write.partitionBy("list_id").parquet(dir)
    val back = spark.read.parquet(dir)
    val probes = emb.filter(col("vec_id").isin(0, 1, 2))
    def run(index: org.apache.spark.sql.DataFrame) =
      Ann.ivfTopK(index, cents, probes, "vec_id", "embedding", 5, nprobe = 4)
        .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).sorted.toSeq
    assert(run(back) == run(ix), "persisted index answers identically")
  }

  test("Lloyd refinement tightens clusters and keeps IVF recall") {
    import graft.functions.VectorOps
    graft.functions.ChCompat.register(spark)
    def withinClusterSim(cents: Array[(Int, Array[Float])]): Double = {
      val bc = spark.sparkContext.broadcast(cents.toMap)
      val centCol = udf { (lid: Int) => bc.value(lid).toSeq }
      Ann.ivfIndex(emb, "vec_id", "embedding", cents)
        .withColumn("csim", Ann.cosine(col("cvec"), centCol(col("list_id"))))
        .agg(avg("csim")).collect().head.getDouble(0)
    }
    val seed = Ann.pickCentroids(emb, "vec_id", "embedding", 16)
    val refined = Ann.refineCentroids(emb, "vec_id", "embedding", seed, iterations = 2)
    assert(refined.length == seed.length)
    val before = withinClusterSim(seed)
    val after = withinClusterSim(refined)
    assert(after >= before - 1e-9,
      s"Lloyd step should not loosen clusters: $before -> $after")

    val probes = emb.filter(col("vec_id").isin(0, 1, 2, 3, 4))
    val exact = Ann.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ix = Ann.ivfIndex(emb, "vec_id", "embedding", refined)
    val approx = Ann.ivfTopK(ix, refined, probes, "vec_id", "embedding", 10, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"refined-IVF recall too low: $recall")

    // mean_vector agrees with a driver-side mean
    import spark.implicits._
    val got = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 6.0f)).toDF("v")
      .agg(VectorOps.mean_vector(col("v"))).collect().head.getSeq[Float](0)
    assert(got == Seq(2.0f, 4.0f))
  }

  test("bounded-heap top-k matches a local exact ranking (partial-merge safe, ties by id)") {
    // ground truth computed driver-side from the same double cosine
    def cosLocal(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val probe = all(0L)
    val expected = all.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cosLocal(v, probe)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(15).map(_._1)
    val probes = emb.filter(col("vec_id") === 0)
    // repartition(7) forces multi-partition partial heaps + a real merge
    val got = Ann.bruteForceTopK(emb.repartition(7), probes, "vec_id", "embedding", 15)
      .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
    assert(got == expected)
  }

  test("nearest_centroids expression is bit-identical to the UDF forms it replaced") {
    // replicate the retired closures (assign: first strict max in array
    // order; probeLists: sortBy (-sim, cid) take n) and demand 0 mismatches
    // over the whole embeddings table, so persisted IVF indexes stay valid
    def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0 || nb == 0) -2.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = Ann.pickCentroids(emb, "vec_id", "embedding", 8)
    graft.functions.ChCompat.register(spark)
    val got = emb.select(col("vec_id"),
        graft.functions.VectorQuant.nearest_centroids(col("embedding"), cents, 3).as("nc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    for ((id, v) <- vecs) {
      val exp = cents.map { case (cid, cvec) => (cid, cosineLocal(v, cvec)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(3).map(_._1).toSeq
      assert(got(id) == exp, s"probeLists mismatch for vec $id")
      var best = -1; var bestSim = -3.0
      for ((cid, cvec) <- cents) {
        val s = cosineLocal(v, cvec)
        if (s > bestSim) { bestSim = s; best = cid }
      }
      assert(got(id).head == best, s"assign mismatch for vec $id")
    }
  }

  test("LSH index bucketing is deterministic across evaluations") {
    val a = Ann.lshIndex(emb, "vec_id", "embedding", 4, 6)
      .select("neighbor_id", "tbl", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Ann.lshIndex(emb, "vec_id", "embedding", 4, 6)
      .select("neighbor_id", "tbl", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b)
  }
}
