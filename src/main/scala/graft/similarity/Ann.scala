package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, same interface:
  *  - [[bruteForceTopK]]: exact — broadcast the (small) probe set against the
  *    corpus, score every pair, per-probe top-k. O(corpus × probes) but
  *    embarrassingly parallel and scan-shaped: at 100 TB this is one pass
  *    over the corpus with no shuffle except the final per-probe top-k
  *    (which AQE keeps tiny). The baseline and the verifier for the ANN path.
  *  - [[lshTopK]]: approximate — random-hyperplane LSH; corpus is bucketed by
  *    an nbits-bit sign signature (one shuffle, reusable as a persisted
  *    index), probes only score their own bucket (+ optional multiprobe on
  *    1-bit flips). Recall/cost dial = nbits/multiprobe.
  *
  * Scoring runs through the tight-loop `cosine_sim` kernel — double
  * precision, fixed fold order, no per-element boxing.
  */
object Ann {

  /** Cosine similarity of two float-array columns, computed in double.
    * Delegates to the tight-loop `cosine_sim` kernel (requires `ChCompat.register` on the session — every Ann
    * method does this; ad-hoc users call it once). Same index-order double
    * fold as the composable zip_with/aggregate form, ~an order of magnitude
    * less per-row allocation.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosine_sim(a, b)

  /** Per-probe top-k of a scored candidate set via the bounded-heap
    * [[graft.functions.TopKByScore]] aggregate: each input partition reduces
    * to ≤ k candidates per probe BEFORE the shuffle, so the exchange moves
    * O(probes × k) rows regardless of corpus size. A
    * `Window.partitionBy(probe_id)` would instead funnel every scored
    * candidate of a probe through one task — the single-task bottleneck at
    * 100 TB. Ties break by lowest neighbor_id (deterministic).
    */
  private def topKPerProbe(scored: DataFrame, k: Int): DataFrame = {
    graft.functions.ChCompat.register(scored.sparkSession)
    scored
      .groupBy("probe_id")
      .agg(graft.functions.TopK.topk_by_score(
        struct(col("cos_sim").cast(DoubleType), col("neighbor_id").cast(LongType)), k).as("nn"))
      .select(col("probe_id"), posexplode(col("nn")))
      .select(col("probe_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cos_sim"), (col("pos") + 1).cast(IntegerType).as("rank"))
  }

  /** Exact top-k cosine neighbors for each probe row.
    * `probes` must be broadcast-small (the usual query-batch case).
    * Returns (probe_id, neighbor_id, cos_sim, rank); neighbor ids are
    * surfaced as BIGINT (the heap aggregate's element type).
    */
  def bruteForceTopK(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.ChCompat.register(corpus.sparkSession)
    // no spread here: one cosine per (row × probe) is light — an extra
    // exchange costs more than single-task scoring saves (measured); the
    // heavy-signature paths (lshIndex/ivfIndex) do spread
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pvec"))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos_sim", cosine(col("cvec"), col("pvec")))
    topKPerProbe(scored, k)
  }

  /** Per-table bucket signatures from deterministic pseudo-random
    * hyperplanes: plane component for (table, bit, dim) drawn in [-1,1)
    * from xxhash64 — identical on every executor, no RNG state. Multi-table
    * LSH (L independent tables of `bits` hyperplanes each) is the standard
    * recall lever: a similar pair only needs to collide in ONE table.
    * Returns an array<struct<tbl,bucket>> of length `tables`, computed by
    * the single-pass `lsh_signatures` kernel (planes cached
    * per JVM; the composed HOF form re-hashed every (plane, dim) pair
    * per row — verified bit-identical, so persisted indexes stay valid).
    * Requires `ChCompat.register` (every entry point here does it).
    */
  private def signaturesExpr(vec: Column, tables: Int, bits: Int): Column =
    graft.functions.LshSignatures.lsh_signatures(vec, tables, bits)

  /** Build the LSH "index": one row per (corpus row × table) keyed by
    * (tbl, bucket). Persist/bucket this by the key to make repeated query
    * batches shuffle-free; size is `tables ×` corpus — the usual LSH
    * space-for-recall trade.
    */
  def lshIndex(corpus: DataFrame, idCol: String, vecCol: String,
      tables: Int = 8, bits: Int = 6): DataFrame = {
    graft.functions.ChCompat.register(corpus.sparkSession)
    // spread: the signature expression hashes tables × bits × dim values
    // per row — the heaviest per-row math in this module
    graft.engine.Warehouse.spreadForCompute(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")), "neighbor_id")
      .select(col("neighbor_id"), col("cvec"),
        explode(signaturesExpr(col("cvec"), tables, bits)).as("bk"))
      .select(col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket"),
        col("neighbor_id"), col("cvec"))
  }

  /** Approximate top-k: probes score only corpus rows sharing a bucket in
    * at least one table, then exact-rerank. `tables`/`bits` must match the
    * index build.
    */
  def lshTopK(
      index: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int,
      tables: Int = 8, bits: Int = 6): DataFrame = {
    graft.functions.ChCompat.register(index.sparkSession)
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pvec"),
        explode(signaturesExpr(col(vecCol), tables, bits)).as("bk"))
      .select(col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket"),
        col("probe_id"), col("pvec"))
    val scored = index.join(broadcast(p), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .dropDuplicates("probe_id", "neighbor_id")
      .withColumn("cos_sim", cosine(col("cvec"), col("pvec")))
    topKPerProbe(scored, k)
  }

  // ---- IVF (inverted-file) variant -----------------------------------------

  /** Deterministic centroid pick: the `nlist` corpus vectors with the
    * smallest xxhash64(id) — a seeded uniform sample standing in for k-means
    * training (a production IVF would Lloyd-iterate these; the *index shape*
    * — centroid assignment, inverted lists, nprobe search — is identical).
    * Centroids are collected to the driver and broadcast: nlist ≤ a few
    * thousand, the usual IVF regime.
    */
  def pickCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): Array[(Int, Array[Float])] =
    pickCentroids(corpus, idCol, vecCol, nlist, xxhash64(col(idCol)))

  /** [[pickCentroids]] with a caller-chosen deterministic order expression
    * (ties broken by id). The md5-prefix order [[graft.text.Curation]]'s
    * sampling already uses makes the pick SQL-oracle-mirrorable — xxhash64
    * has no DuckDB analog, md5 does.
    */
  def pickCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, order: Column): Array[(Int, Array[Float])] =
    corpus.select(col(idCol), col(vecCol))
      .orderBy(order, col(idCol))
      .limit(nlist)
      .collect()
      .zipWithIndex
      .map { case (r, i) =>
        i -> r.getSeq[Float](1).toArray
      }

  /** IVF index: each corpus row assigned to its nearest centroid's inverted
    * list. One pass over the corpus; the result is partition-prunable by
    * `list_id` when persisted (`partitionBy("list_id")`).
    */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16): DataFrame =
    ivfIndex(corpus, idCol, vecCol, pickCentroids(corpus, idCol, vecCol, nlist))

  /** Lloyd (k-means) refinement of IVF centroids, fully distributed: each
    * iteration assigns every corpus row to its nearest centroid (broadcast
    * compare, no shuffle of vectors) and recomputes centroids with the
    * map-side-combining [[graft.functions.MeanVectorAggregate]] — the
    * exchange moves O(nlist × dim) partials, never vectors. Only the
    * nlist centroid rows are collected per iteration. Empty clusters keep
    * their previous centroid. Turns [[pickCentroids]]' seeded sample into
    * proper k-means at any corpus size.
    */
  def refineCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Float])], iterations: Int = 2): Array[(Int, Array[Float])] = {
    graft.functions.ChCompat.register(corpus.sparkSession)
    var c = cents
    for (_ <- 1 to iterations) {
      val updated = ivfIndex(corpus, idCol, vecCol, c)
        .groupBy("list_id")
        .agg(graft.functions.VectorOps.mean_vector(col("cvec")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
        .toMap
      c = c.map { case (cid, old) => cid -> updated.getOrElse(cid, old) }
    }
    c
  }

  /** IVF index from pre-picked centroids — share ONE [[pickCentroids]] call
    * between index build and search instead of re-scanning the corpus for
    * each (the centroid pick is a full-corpus TakeOrdered).
    */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Float])]): DataFrame = {
    // assignment = top-1 of the primitive nearest-centroids expression
    // (tight double loop over a plan-literal centroid table) — the former
    // per-row UDF boxed every vector element nlist times on the
    // corpus-sized build path
    graft.functions.ChCompat.register(corpus.sparkSession)
    graft.engine.Warehouse.spreadForCompute(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")), "neighbor_id")
      .select(col("neighbor_id"), col("cvec"),
        graft.functions.VectorQuant.nearest_centroids(col("cvec"), cents, 1)
          .getItem(0).as("list_id"))
  }

  /** IVF search: probe the `nprobe` nearest inverted lists, exact-rerank
    * within them. Probes are broadcast; only `nprobe/nlist` of the corpus
    * is scored.
    */
  def ivfTopK(index: DataFrame, corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopK(index, pickCentroids(corpus, idCol, vecCol, nlist), probes,
      idCol, vecCol, k, nprobe)

  /** IVF search against pre-picked centroids (pair with the matching
    * [[ivfIndex]] overload to scan the corpus for centroids exactly once).
    */
  def ivfTopK(index: DataFrame, cents: Array[(Int, Array[Float])],
      probes: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int): DataFrame = {
    graft.functions.ChCompat.register(index.sparkSession)
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pvec"))
      .withColumn("list_id", explode(
        graft.functions.VectorQuant.nearest_centroids(col("pvec"), cents, nprobe)))
    val scored = index.join(broadcast(p), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos_sim", cosine(col("cvec"), col("pvec")))
    topKPerProbe(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: pairs that share
    * a bucket and clear the cosine threshold. The vector-space sibling of
    * Dedup.minhashNearDups — same no-cross-join shape.
    */
  def cosineNearDups(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, tables: Int = 8, bits: Int = 6): DataFrame = {
    graft.functions.ChCompat.register(corpus.sparkSession)
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Two compact caches instead of one fat one: the hyperplane-signature
    // pipeline (tables × bits × dim hashed dot products per row) must run
    // once — but persisting it WITH the vectors would store every embedding
    // `tables` times (the measured anti-win from the MinHash sibling). So
    // cache an id-only bucket index + the corpus vectors once, generate
    // candidate id pairs from the light index, and join vectors back for
    // the exact cosine rerank — the standard candidates-then-fetch shape.
    val base = graft.engine.Warehouse.spreadForCompute(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), "id").persist(mem)
    val ix = base
      .select(col("id"), explode(signaturesExpr(col("vec"), tables, bits)).as("bk"))
      .select(col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket"), col("id"))
      .persist(mem)
    val a = ix.select(col("tbl"), col("bucket"), col("id").as("id_a"))
    val b = ix.select(col("tbl"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(base.select(col("id").as("id_a"), col("vec").as("va")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }
}
