package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.Ann

/** Declared queries for similarity search over `embeddings`
  * (Array[Float], 64-dim). Cosine arithmetic is double-precision with a
  * fixed fold order on both sides, so scores round identically; results
  * round to 6 dp to keep the hash compare away from float edge noise.
  */
object VectorPack {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Full probe-vs-corpus cosine scoring (no top-k cutoff → no ranking
    // instability in the declared result; the top-k path is q41).
    "q40_cosine_probe" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pvec"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          round(Ann.cosine(col("embedding"), col("pvec")), 6).as("cos_sim"))
        .orderBy("vec_id")
    },

    // Exact brute-force top-10 neighbors for 3 probe vectors. Deterministic
    // (double cosine in fixed fold order, ties by lowest neighbor id) —
    // oracle-backed, same list-ops technique as q40.
    "q41_knn_brute" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val probes = e.filter(col("vec_id").isin(0, 1, 2))
      Ann.bruteForceTopK(e, probes, "vec_id", "embedding", k = 10)
        .select(col("probe_id"), col("neighbor_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    },

    // LSH-bucketed approximate top-10 (scale path; recall vs q41 asserted
    // in AnnSpec — rows-only here, hash-seeded bucketing).
    "q42_knn_lsh" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val probes = e.filter(col("vec_id").isin(0, 1, 2))
      val ix = Ann.lshIndex(e, "vec_id", "embedding", tables = 16, bits = 6)
      Ann.lshTopK(ix, probes, "vec_id", "embedding", k = 10, tables = 16, bits = 6)
        .select(col("probe_id"), col("neighbor_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    },

    // Exhaustive-probe LSH = brute force (the q81/q86 construction for the
    // LSH family): with bits = 0 every table degenerates to ONE bucket, so
    // each probe's candidate set is the whole corpus — the multi-table
    // explode, (tbl, bucket) join, cross-table dedup, and exact-rerank
    // machinery all run for real, and the top-k must be bit-identical to
    // q41's brute force. q42's bits = 6 run stays the (rows-only) scale
    // path this gates; two tables so the dropDuplicates dedup is live.
    "q175_knn_lsh_full" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val probes = e.filter(col("vec_id").isin(0, 1, 2))
      val ix = Ann.lshIndex(e, "vec_id", "embedding", tables = 2, bits = 0)
      Ann.lshTopK(ix, probes, "vec_id", "embedding", k = 10,
          tables = 2, bits = 0)
        .select(col("probe_id"), col("neighbor_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    },

    // IVF-bucketed approximate top-10 (rows-only; the inverted-list scale
    // path — recall vs brute force asserted in AnnSpec).
    "q44_knn_ivf" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val probes = e.filter(col("vec_id").isin(0, 1, 2))
      // one centroid pick shared by index build and search — the corpus is
      // scanned for centroids exactly once
      val cents = Ann.pickCentroids(e, "vec_id", "embedding", nlist = 16)
      val ix = Ann.ivfIndex(e, "vec_id", "embedding", cents)
      Ann.ivfTopK(ix, cents, probes, "vec_id", "embedding", k = 10, nprobe = 8)
        .select(col("probe_id"), col("neighbor_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    },

    // Cluster-balanced diversity sampling (Curation.clusterBalancedSample,
    // the DataComp move): 8 seeded k-means clusters over the embedding
    // space, a deterministic 20-vector quota from each — dense regions
    // can't crowd the sample. iterations=0 keeps the whole path a pure
    // function of (ids, salt); rows-only in the gate (the seeded centroid
    // pick is xxhash64-ordered, which DuckDB can't mirror) — CurationSpec
    // pins determinism, quotas, and the balance property.
    "q129_cluster_sample" -> { (s, dir) =>
      graft.text.Curation.clusterBalancedSample(
          Tables(s, dir).embeddings, "vec_id", "embedding",
          k = 8, quota = 20, iterations = 0, salt = ":cbs")
        .select(col("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },

    // q129's HASH-GATED TWIN: the identical cluster-balanced-sample
    // pipeline (seeded centroid pick → nearest-centroid assignment →
    // per-cluster md5 quota draw) with the centroid pick ordered by
    // md5(id || salt) instead of xxhash64(id) — every stage is then
    // DuckDB-expressible, so assignment (cosine argmax, cid tie-break)
    // and draw are value-gated end-to-end. q129 keeps the production
    // xxhash64 pick and stays rows-only.
    "q176_cluster_sample_md5" -> { (s, dir) =>
      graft.text.Curation.clusterBalancedSample(
          Tables(s, dir).embeddings, "vec_id", "embedding",
          k = 8, quota = 20, iterations = 0, salt = ":cbs", md5Pick = true)
        .select(col("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },

    // Full-probe IVF = exhaustive search: with nprobe = nlist every
    // inverted list is scanned, and each corpus vector lives in exactly one
    // list, so the scored set — and therefore the exact top-k — must be
    // bit-identical to q41's brute force. This puts the IVF join/scoring
    // machinery itself under the DuckDB hash gate; q44's nprobe<nlist run
    // stays the (rows-only) scale path it gates.
    "q81_knn_ivf_full" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val probes = e.filter(col("vec_id").isin(0, 1, 2))
      val cents = Ann.pickCentroids(e, "vec_id", "embedding", nlist = 16)
      val ix = Ann.ivfIndex(e, "vec_id", "embedding", cents)
      Ann.ivfTopK(ix, cents, probes, "vec_id", "embedding", k = 10, nprobe = 16)
        .select(col("probe_id"), col("neighbor_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    },

    // Product-quantized ANN (rows-only; seeded-deterministic k-means
    // codebook is not SQL-mirrorable — recall proven in PqSpec via the
    // shortlist+rerank pipeline): 8 bytes per vector instead of 256, ADC
    // scoring = 8 table lookups per candidate.
    "q67_knn_pq" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val probes = e.filter(col("vec_id").isin(0, 1, 2))
      val cb = graft.similarity.Pq.trainCodebook(e, "vec_id", "embedding",
        m = 8, ksub = 16, iterations = 1)
      val enc = graft.similarity.Pq.encode(e, "vec_id", "embedding", cb)
      graft.similarity.Pq.adcTopK(enc, cb, probes, "vec_id", "embedding", k = 10)
        .select(col("probe_id"), col("neighbor_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    },

    // Residual IVF-PQ (FAISS IndexIVFPQ layout) + exact rerank, under the
    // hash gate via the q81 construction: nprobe = nlist probes every
    // list, the ADC shortlist width exceeds the corpus so the shortlist is
    // the full candidate set, and rerank rescores with the same exact
    // cosine kernel as q41 — so the declared result is q41's verbatim.
    // This gates residual encode (assignment, codes, recon norms), LUT/ADC
    // scoring (a null/NaN anywhere breaks the heap), and the refine join
    // end-to-end; ADC *ranking quality* is asserted in IvfPqSpec on
    // clustered data, where PQ's reconstruction guarantee actually bites
    // (on random uniform embeddings a partial shortlist has no recall
    // floor to promise). nprobe < nlist is the rows-only scale path q44/
    // q67 already gate.
    "q86_knn_ivfpq_rerank" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val probes = e.filter(col("vec_id").isin(0, 1, 2))
      val cents = Ann.pickCentroids(e, "vec_id", "embedding", nlist = 16)
      val cb = graft.similarity.IvfPq.train(e, "vec_id", "embedding", cents,
        m = 8, ksub = 16, iterations = 1)
      val enc = graft.similarity.IvfPq.encode(e, "vec_id", "embedding", cents, cb)
      // correctness anchor: the shortlist must COVER the corpus for the
      // ≡-brute-force guarantee to hold at any SF (600 covered sf0.01's
      // 500 vectors but not sf0.1's 2000). Recall at fixed shortlist
      // budgets is PqSpec's job; this query gates the machinery end-to-end.
      val shortlist = graft.similarity.IvfPq.topK(enc, cents, cb, probes,
        "vec_id", "embedding", k = e.count().toInt, nprobe = 16)
      graft.similarity.IvfPq.rerank(shortlist, e, probes, "vec_id", "embedding", k = 10)
        .select(col("probe_id"), col("neighbor_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    },

    // Exact all-pairs cosine near-dup — the oracle-gated verifier twin of
    // q43's LSH path (same threshold, same scoring expression). All-pairs
    // is O(n²) by definition: the declared query is the CORRECTNESS anchor
    // run at small SF; at 100 TB the LSH-bucketed q43 is the shape to run.
    "q45_cosine_neardup_exact" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos_sim", Ann.cosine(col("va"), col("vb")))
        .filter(col("cos_sim") >= 0.3)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy("id_a", "id_b")
    },

    // Embedding preprocessing: l2 norm + unit-normalize + symmetric int8
    // quantization (the storage-shrink step before ANN indexing), exploded
    // per dimension so every code and normalized value is hash-gated.
    // All per-row expression work — no shuffle until the final sort.
    "q65_embed_quantize" -> { (s, dir) =>
      Tables(s, dir).embeddings
        .select(col("vec_id"),
          graft.functions.VectorOps.l2_norm(col("embedding")).as("l2_norm"),
          graft.functions.VectorOps.l2_normalize(col("embedding")).as("nvec"),
          graft.functions.VectorOps.quantize_int8(col("embedding")).as("qvec"))
        .select(col("vec_id"), col("l2_norm"),
          posexplode(arrays_zip(col("nvec"), col("qvec"))))
        .select(col("vec_id"), col("pos").as("i"),
          round(col("col.nvec"), 6).as("nx"), col("col.qvec").as("q"),
          round(col("l2_norm"), 6).as("l2_norm"))
        .orderBy("vec_id", "i")
    },

    // Embedding-cosine near-duplicate pairs (rows-only; LSH-bucketed).
    // Threshold sits where the synthetic corpus actually has pairs — random
    // 64-dim embeddings top out near cos 0.5.
    "q43_cosine_neardup" -> { (s, dir) =>
      Ann.cosineNearDups(Tables(s, dir).embeddings, "vec_id", "embedding",
          threshold = 0.3, tables = 6, bits = 5)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy("id_a", "id_b")
    },

    // SemDeDup-style semantic dedup (Dedup.semanticClusters): cosine-
    // connected components collapse to the min-id representative. The
    // declared query runs the EXACT all-pairs anchor (mirrored by a
    // recursive-CTE oracle); the LSH candidate path is the 100 TB shape,
    // refinement-tested in DedupSpec.
    "q117_semantic_dedup" -> { (s, dir) =>
      graft.dedup.Dedup.semanticClusters(Tables(s, dir).embeddings,
          "vec_id", "embedding", threshold = 0.3, exact = true)
        .orderBy("vec_id")
    }
  )

  val oracle: Map[String, String] = Map(
    // Mirrors the fold: per-index products in double, summed in index order.
    "q40_cosine_probe" ->
      """WITH p AS (SELECT embedding AS pvec FROM embeddings WHERE vec_id = 0),
        |s AS (
        |  SELECT e.vec_id,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(p.pvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
        |  FROM embeddings e, p WHERE e.vec_id <> 0)
        |SELECT vec_id, ROUND(dot / (na * nb), 6) AS cos_sim
        |FROM s ORDER BY vec_id""".stripMargin,

    // Same mirrored per-index fold as q40, over the upper-triangle pairs;
    // threshold compares the UNROUNDED double (as Spark does).
    "q45_cosine_neardup_exact" ->
      """WITH s AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(generate_series(1, len(a.embedding)),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(dot / (na * nb), 6) AS cos_sim
        |FROM s WHERE dot / (na * nb) >= CAST(0.3 AS DOUBLE)
        |ORDER BY id_a, id_b""".stripMargin,

    // q45's exact pair set + the q49-style recursive-CTE connected
    // components, collapsed to min-id representatives.
    "q117_semantic_dedup" ->
      """WITH RECURSIVE s AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(generate_series(1, len(a.embedding)),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM s WHERE dot / (na * nb) >= CAST(0.3 AS DOUBLE)),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, l) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.l FROM edges e JOIN reach r ON r.id = e.b),
        |comp AS (SELECT id, MIN(l) AS comp FROM reach GROUP BY id)
        |SELECT e.vec_id,
        |  COALESCE(c.comp, e.vec_id) AS cluster_id,
        |  COUNT(*) OVER (PARTITION BY COALESCE(c.comp, e.vec_id)) AS cluster_size,
        |  e.vec_id = COALESCE(c.comp, e.vec_id) AS keep
        |FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,

    // Same index-order sum-of-squares fold as q40 for the norm; maxabs is
    // order-independent; the quantization expression (x·127/maxabs + 0.5,
    // floored) is mirrored operation-for-operation so the codes match as
    // integers and the rounded doubles match bit-for-bit.
    "q65_embed_quantize" ->
      """WITH b AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2n,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings)
        |SELECT vec_id, CAST(i - 1 AS INT) AS i,
        |  ROUND(CAST(embedding[i] AS DOUBLE) / l2n, 6) AS nx,
        |  CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 127.0 / mx + 0.5) AS INT) AS q,
        |  ROUND(l2n, 6) AS l2_norm
        |FROM b, UNNEST(generate_series(1, len(embedding))) t(i)
        |ORDER BY vec_id, i""".stripMargin,

    // Same mirrored fold as q40; rank on the UNROUNDED score (as Spark does),
    // ties by lowest neighbor id; rank surfaced as INT to match Spark's.
    "q41_knn_brute" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec
        |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |s AS (
        |  SELECT p.probe_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(p.pvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
        |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
        |r AS (
        |  SELECT probe_id, neighbor_id, dot / (na * nb) AS cs,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY probe_id ORDER BY dot / (na * nb) DESC, neighbor_id) AS INT) AS rank
        |  FROM s)
        |SELECT probe_id, neighbor_id, ROUND(cs, 6) AS cos_sim, rank
        |FROM r WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,

    // Full-probe residual IVF-PQ with a corpus-wide shortlist + exact
    // rerank reduces to the exact top-10 (the q81 construction), so the
    // oracle is q41's exact-cosine top-k, verbatim.
    "q86_knn_ivfpq_rerank" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec
        |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |s AS (
        |  SELECT p.probe_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(p.pvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
        |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
        |r AS (
        |  SELECT probe_id, neighbor_id, dot / (na * nb) AS cs,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY probe_id ORDER BY dot / (na * nb) DESC, neighbor_id) AS INT) AS rank
        |  FROM s)
        |SELECT probe_id, neighbor_id, ROUND(cs, 6) AS cos_sim, rank
        |FROM r WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,

    // q129's pipeline with the md5-ordered centroid pick: the pick, the
    // cosine argmax assignment (cid tie-break), and the per-cluster md5
    // quota draw are each spelled directly; cosine arithmetic is the
    // q40/q41 fixed-fold-order spelling, bit-identical to cosineVs.
    "q176_cluster_sample_md5" ->
      """WITH ord AS (
        |  SELECT vec_id, embedding,
        |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || ':cbs'), vec_id) AS rn
        |  FROM embeddings),
        |c AS (
        |  SELECT CAST(rn - 1 AS INT) AS cid, embedding AS cvec FROM ord WHERE rn <= 8),
        |s AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cs
        |  FROM embeddings e CROSS JOIN c),
        |a AS (
        |  SELECT vec_id, cid AS cluster_id
        |  FROM s
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) = 1)
        |SELECT vec_id, cluster_id
        |FROM a
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id
        |  ORDER BY substr(md5(CAST(vec_id AS VARCHAR) || ':cbs'), 1, 13), vec_id) <= 20
        |ORDER BY vec_id""".stripMargin,

    // Exhaustive LSH (bits = 0: one bucket per table) scores exactly the
    // brute-force set, so the oracle is q41's exact-cosine top-k, verbatim.
    "q175_knn_lsh_full" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec
        |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |s AS (
        |  SELECT p.probe_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(p.pvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
        |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
        |r AS (
        |  SELECT probe_id, neighbor_id, dot / (na * nb) AS cs,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY probe_id ORDER BY dot / (na * nb) DESC, neighbor_id) AS INT) AS rank
        |  FROM s)
        |SELECT probe_id, neighbor_id, ROUND(cs, 6) AS cos_sim, rank
        |FROM r WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,

    // Exhaustive IVF (nprobe = nlist) scores exactly the brute-force set,
    // so the oracle is q41's exact-cosine top-k, verbatim.
    "q81_knn_ivf_full" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec
        |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |s AS (
        |  SELECT p.probe_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pvec[i] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(p.pvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
        |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
        |r AS (
        |  SELECT probe_id, neighbor_id, dot / (na * nb) AS cs,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY probe_id ORDER BY dot / (na * nb) DESC, neighbor_id) AS INT) AS rank
        |  FROM s)
        |SELECT probe_id, neighbor_id, ROUND(cs, 6) AS cos_sim, rank
        |FROM r WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin
  )
}
