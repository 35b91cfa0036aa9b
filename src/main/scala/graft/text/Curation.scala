package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dataset-curation operators for training-data pipelines: deterministic
  * splits, weighted corpus mixing, context-window chunking, and sequence
  * packing. Everything here is a pure expression / window shape — no UDFs,
  * no RNG state, no driver-side data — so results are identical across
  * runs, executors, and engines (the DuckDB oracles mirror each operator
  * exactly).
  *
  * Determinism is the point: train/val/test membership and sampling
  * decisions must be a *function of the record*, not of partitioning or
  * execution order, or a re-run of the pipeline silently reshuffles the
  * split (and leaks val into train). All hashing below is md5 of the
  * record key + a caller salt, so two pipelines with different salts draw
  * independent assignments.
  */
object Curation {

  /** First hex nibble of md5(key ‖ salt) as an int in [0, 16). */
  def hashBucket16(key: Column, salt: String = ""): Column =
    conv(substring(md5(concat(key.cast(StringType), lit(salt))), 1, 1), 16, 10)
      .cast(IntegerType)

  /** First hex byte of md5(key ‖ salt) as an int in [0, 256) — the uniform
    * unit for deterministic sampling (rates quantized to 1/256).
    */
  def hashBucket256(key: Column, salt: String = ""): Column =
    conv(substring(md5(concat(key.cast(StringType), lit(salt))), 1, 2), 16, 10)
      .cast(IntegerType)

  /** Deterministic train/val/test assignment: `trainBuckets`/16 of keys go
    * to train, then `valBuckets`/16 to val, remainder to test (defaults:
    * 12/2/2 = 75%/12.5%/12.5%). Membership depends only on (key, salt).
    */
  def assignSplit(
      key: Column, salt: String = "",
      trainBuckets: Int = 12, valBuckets: Int = 2): Column = {
    require(trainBuckets >= 1 && valBuckets >= 1 && trainBuckets + valBuckets < 16,
      s"split buckets out of range: $trainBuckets/$valBuckets of 16")
    val b = hashBucket16(key, salt)
    when(b < trainBuckets, "train")
      .when(b < trainBuckets + valBuckets, "val")
      .otherwise("test")
  }

  /** Keep predicate sampling `keepOutOf256`/256 of keys, deterministically.
    * Filter-only (no shuffle); composes per-source for weighted corpus
    * mixing — e.g. downsample an over-represented language while passing
    * the rest through.
    */
  def sampleDeterministic(key: Column, keepOutOf256: Column, salt: String = ""): Column =
    hashBucket256(key, salt) < keepOutOf256

  /** Context-window chunking: split each text into windows of `size` chars
    * every `stride` chars (overlap = size − stride), the standard shape for
    * fitting long documents into a training context window. Returns
    * (idCol, chunk_id, chunk) — one output row per window; empty texts
    * produce no rows. Pure explode over a generated index sequence: the
    * operator is embarrassingly parallel and chunk ids are stable (position
    * within the document, not execution order).
    */
  def chunk(df: DataFrame, textCol: String, idCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size >= 1 && stride >= 1, s"size/stride must be >= 1: $size/$stride")
    // last window starts at the greatest multiple of `stride` < length
    val lastIdx = floor((length(col("__t")) - 1) / lit(stride))
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol).as("__t"))
      .select(col(idCol), explode(sequence(lit(0L), lastIdx)).as("chunk_id"), col("__t"))
      .select(col(idCol), col("chunk_id"),
        col("__t").substr((col("chunk_id") * stride + 1).cast(IntegerType), lit(size))
          .as("chunk"))
  }

  /** Stratified quota sampling: keep up to `quota` rows per group, drawn
    * deterministically — the rows whose md5(key ‖ salt) is smallest within
    * the group (a uniform pseudo-random order that any engine reproduces;
    * different salts draw independent samples). The corpus-mixing
    * companion to [[sampleDeterministic]]: rate-sampling thins by a
    * fraction, quota-sampling caps over-represented strata (languages,
    * sources, domains) at an absolute size.
    *
    * Scale shape: per-group selection rides the bounded-heap
    * [[graft.functions.TopK]] aggregate — each input partition reduces to
    * ≤ quota candidates per group BEFORE the shuffle (exchange is
    * O(groups × quota)), then a semi-join fetches the winners' rows. A
    * `Window.partitionBy(group)` row_number would funnel each stratum
    * through one task — the single-task bottleneck this avoids.
    *
    * The hash is truncated to 13 hex digits (52 bits): exact in the
    * heap's double score, and its numeric order equals the hex string's
    * lexicographic order, so a SQL mirror is `ORDER BY
    * substring(md5(...), 1, 13), key`. Hash ties break by lowest key.
    * `keyCol` must be unique (it identifies the sampled rows) and
    * integral (it rides the heap as a long).
    */
  def stratifiedSample(df: DataFrame, groupCols: Seq[String], keyCol: String,
      quota: Int, salt: String = ""): DataFrame = {
    require(quota >= 1, s"quota must be >= 1: $quota")
    graft.functions.ChCompat.register(df.sparkSession)
    val h = conv(substring(md5(concat(col(keyCol).cast(StringType), lit(salt))), 1, 13), 16, 10)
      .cast(LongType)
    val picked = df
      .select(groupCols.map(col) :+ col(keyCol).cast(LongType).as("__k") :+ h.as("__h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopK.topk_by_score(
        struct(negate(col("__h")).cast(DoubleType), col("__k")), quota).as("__nn"))
      .select(explode(col("__nn")).as("__e"))
      .select(col("__e.id").as("__k"))
    df.join(picked, col(keyCol).cast(LongType) === picked("__k"), "left_semi")
  }

  /** Temperature-flattened corpus mixing (the multilingual-LM sampling
    * move: draw source i with probability ∝ n_i^α, α < 1 upweighting
    * under-represented sources). Given a token/doc `targetTotal`, each
    * source keeps ≈ targetTotal · w_i/Σw_j of its rows (capped at all of
    * them), selected by the same deterministic md5 filter as
    * [[sampleDeterministic]] — membership is a function of (key, salt),
    * never of execution order.
    *
    * Exactness: at the default α = 0.5 the weight is `sqrt(n_i)` — IEEE
    * 754 requires sqrt correctly rounded, so every engine computes the
    * identical double and a SQL oracle can mirror the keep-rates exactly;
    * the weights then sum as DECIMAL (order-independent) before the final
    * double arithmetic, so the rate never depends on partitioning. Other
    * α go through `pow` (reproducible within the JVM; 1-ulp cross-engine).
    *
    * Shape: one tiny per-source count aggregate → broadcast keep-rate
    * join → filter. The corpus is scanned once and never shuffled.
    */
  def temperatureMix(docs: DataFrame, sourceCol: String, keyCol: String,
      targetTotal: Long, alpha: Double = 0.5, salt: String = ""): DataFrame = {
    require(targetTotal >= 0, s"targetTotal must be >= 0: $targetTotal")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
    val w =
      if (alpha == 0.5) sqrt(col("__n").cast(DoubleType))
      else pow(col("__n").cast(DoubleType), lit(alpha))
    val weighted = counts.withColumn("__w", w.cast(DecimalType(38, 9)))
    val tot = weighted.agg(sum(col("__w")).as("__tw"))
    val rates = weighted.crossJoin(broadcast(tot))
      .withColumn("__keep256", floor(least(lit(1.0),
        col("__w").cast(DoubleType) * lit(targetTotal.toDouble) /
          (col("__tw").cast(DoubleType) * col("__n").cast(DoubleType))) * 256)
        .cast(IntegerType))
      .select(col(sourceCol), col("__keep256"))
    docs.join(broadcast(rates), Seq(sourceCol))
      .filter(hashBucket256(col(keyCol), salt) < col("__keep256"))
      // the USING join moves the key to position 0 — restore the caller's
      // column order (the operator contract is schema-preserving filtering)
      .select(docs.columns.toSeq.map(col): _*)
  }

  /** Distinct normalized n-token shingles of an evaluation set — the probe
    * set for [[contaminationReport]]. Normalization is the dedup canonical
    * form ([[TextFunctions.normalizeForDedup]]): contamination checks must
    * not be defeated by case or punctuation differences.
    */
  def benchmarkShingles(bench: DataFrame, textCol: String, n: Int): DataFrame = {
    graft.functions.ChCompat.register(bench.sparkSession)
    bench
      .select(explode(TextFunctions.shingles(
        TextFunctions.tokens(TextFunctions.normalizeForDedup(col(textCol))), n)).as("sh"))
      .distinct()
  }

  /** Benchmark decontamination — the eval-set n-gram overlap test (the
    * GPT-3 appendix-C posture, kept by PaLM/Llama: a training document is
    * contaminated if it shares any `n`-token shingle with an evaluation
    * document; 13 tokens is the published default). Returns one row per
    * CONTAMINATED doc: (idCol, matched_shingles = distinct eval shingles
    * it contains). [[decontaminate]] is the filtering twin.
    *
    * Scale shape: eval sets are MB-sized against a 100 TB corpus, so the
    * distinct benchmark shingles broadcast; detection is ONE corpus scan
    * (normalize → shingle → broadcast hash join) and the only exchange is
    * the per-doc count over the hits — sized by contamination, not by the
    * corpus.
    */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 13): DataFrame = {
    graft.functions.ChCompat.register(docs.sparkSession)
    val probe = benchmarkShingles(bench, benchTextCol, n)
    docs
      .select(col(idCol), explode(TextFunctions.shingles(
        TextFunctions.tokens(TextFunctions.normalizeForDedup(col(textCol))), n)).as("sh"))
      .join(broadcast(probe), Seq("sh"))
      .groupBy(idCol)
      .agg(count_distinct(col("sh")).as("matched_shingles"))
  }

  /** Drop every document sharing an `n`-token shingle with the eval set —
    * an anti-join against [[contaminationReport]]'s ids; the corpus is
    * scanned once, nothing corpus-sized shuffles.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 13): DataFrame =
    docs.join(
      contaminationReport(docs, idCol, textCol, bench, benchTextCol, n)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Capacity-quantized greedy sequence packing: within each `groupCol`
    * (a shard — language, source, writer partition), documents in `orderCol`
    * order are assigned to bins of ≈`capacity` total `weightCol` (token
    * count): bin = preceding-cumulative-weight div capacity. This is the
    * deterministic, single-window approximation of first-fit bin packing
    * used to pack sequences into fixed training context windows — each bin
    * overflows by at most one document's tail, and assignment depends only
    * on the (group, order) total order, never on partitioning.
    *
    * Scale note: the running sum funnels each GROUP through one task — by
    * design. Packing is a per-shard operation in real pipelines (bins must
    * be contiguous in shard order); choose groups that fit a task, exactly
    * as a per-worker packer would.
    */
  /** Corpus TF-IDF document scores in exact integer arithmetic:
    * `score_scaled = Σ_tokens tf(t,d) · ((N·scale) div df(t))` plus the
    * document token count. The reciprocal-df weight `(N·scale) div df`
    * stands in for `ln(N/df)` so the score is a BIGINT — identical under
    * any summation order and engine (floating ln + float Σ would tie the
    * result to reduction order; an oracle-gated operator must not).
    * Rank/filters behave like classic TF-IDF: rare tokens weigh more,
    * corpus-saturated tokens weigh ~scale.
    *
    * Shape (the canonical distributed TF-IDF, no driver state):
    * tokenize → (doc, token) partial counts → token-keyed df aggregate →
    * one token-keyed join back → doc-keyed weighted sum. The df side is
    * vocabulary-sized (Zipf-bounded), never corpus-sized; N arrives as a
    * broadcast 1-row cross join, not a driver `.count()`.
    */
  def tfIdfScore(docs: DataFrame, idCol: String, textCol: String,
      scale: Long = 1000000L): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfT, "tok")
      .crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * expr(s"(n_docs * ${scale}L) div df")).as("score_scaled"))
  }

  /** Corpus-adaptive stopword removal (the C4/CCNet cleanup move where
    * the stopword list comes from the corpus itself, not a fixed table):
    * tokens present in more than `maxDfNum/maxDfDen` of all documents are
    * dropped from every document; surviving tokens keep their original
    * order. Returns `docs` with `cleanedCol` added ('' when every token
    * was dropped). The df threshold compares integers
    * (`df·den > N·num`) — no float boundary.
    *
    * Shape: the discovered stoplist is tiny BY CONSTRUCTION (only tokens
    * in >num/den of ALL docs qualify — a Zipf head, bounded by den/num),
    * so membership is a broadcast anti-join; reassembly is one doc-keyed
    * aggregate ordering (pos, token) pairs inside each value-complete
    * group, the same per-document bound every text op here carries.
    */
  def removeCorpusStopwords(docs: DataFrame, idCol: String, textCol: String,
      cleanedCol: String = "cleaned",
      maxDfNum: Int = 1, maxDfDen: Int = 2): DataFrame = {
    require(maxDfNum > 0 && maxDfDen > 0, "df threshold must be positive")
    val toks = docs.select(col(idCol),
        posexplode(split(col(textCol), " "))).toDF(idCol, "pos", "tok")
      .filter(length(col("tok")) > 0)
    val dfT = toks.select(col(idCol), col("tok")).distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val stop = dfT.crossJoin(broadcast(n))
      .filter(col("df") * lit(maxDfDen.toLong) > col("n_docs") * lit(maxDfNum.toLong))
      .select("tok")
    val cleaned = toks.join(broadcast(stop), Seq("tok"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok"))).as(cleanedCol))
    docs.join(cleaned, Seq(idCol), "left")
      .withColumn(cleanedCol, coalesce(col(cleanedCol), lit("")))
  }

  /** Token-budget corpus selection — "keep the best docs until the budget
    * is spent": documents ordered by (score DESC, id ASC) are kept while
    * the running token total BEFORE each document is still under `budget`
    * (so the document that crosses the line is the last one in). The
    * deterministic primitive behind quality-curriculum mixing ("top N
    * billion tokens by quality").
    *
    * Scale shape — NO global ordered window over the corpus: scores from
    * gate-style scorers form a SMALL set of tie-classes, so
    *   (1) per-score bucket token totals aggregate in one exchange;
    *   (2) running totals across buckets ride a window over that tiny
    *       bucket table (driver-size, like WithFill's axis);
    *   (3) every bucket is decided wholesale — fully in (prefix fits) or
    *       fully out (budget already spent) — except the ONE boundary
    *       bucket, whose docs resolve by an id-ordered prefix sum within
    *       that bucket alone (sequential by necessity — the same
    *       per-shard funnel posture packGreedy documents).
    * Precondition: every row has `tokensCol` >= 1 (filter empties first);
    * zero-token rows at an exact budget edge would make bucket-granular
    * and doc-granular verdicts disagree.
    */
  def selectByTokenBudget(docs: DataFrame, idCol: String, scoreCol: String,
      tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    val b = docs.groupBy(col(scoreCol))
      .agg(sum(col(tokensCol).cast(LongType)).as("__btok"))
    // tiny table: one row per distinct score — the unpartitioned window is
    // bounded by the scorer's value set, not the corpus
    val wB = Window.orderBy(col(scoreCol).desc)
    val cum = b.withColumn("__bcum_before",
      coalesce(sum(col("__btok")).over(wB) - col("__btok"), lit(0L)))
    val withB = docs.join(broadcast(cum), Seq(scoreCol))
    val fullyIn = col("__bcum_before") + col("__btok") <= budget
    val open = col("__bcum_before") < budget
    val wD = Window.partitionBy(col(scoreCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = withB.filter(open && !fullyIn)
      .withColumn("__din", coalesce(sum(col(tokensCol).cast(LongType)).over(wD), lit(0L)))
      .filter(col("__bcum_before") + col("__din") < budget)
      .drop("__din")
    withB.filter(fullyIn).unionByName(boundary)
      .drop("__btok", "__bcum_before")
  }

  /** Corpus-wide adjacent-token-pair frequencies — the merge-candidate
    * table of one BPE training round (count every neighboring token pair;
    * the argmax pair is the next merge). Returns (tok_a, tok_b, cnt).
    *
    * Shape: pairing is a per-row `zip_with` over two shifted slices (no
    * shuffle, no UDF); the count is ONE (tok_a, tok_b)-keyed aggregate
    * whose map-side combine absorbs hot pairs — the exchange carries at
    * most one row per distinct pair per partition, never corpus-sized.
    */
  def tokenPairCounts(docs: DataFrame, textCol: String): DataFrame = {
    val a = split(col(textCol), " ")
    val n = size(a)
    val pairs = when(n >= 2,
      zip_with(
        slice(a, lit(1), n - 1), slice(a, lit(2), n - 1),
        (x, y) => struct(x.as("tok_a"), y.as("tok_b"))))
      .otherwise(array().cast("array<struct<tok_a:string,tok_b:string>>"))
    docs.select(explode(pairs).as("p"))
      .select(col("p.tok_a").as("tok_a"), col("p.tok_b").as("tok_b"))
      .filter(length(col("tok_a")) > 0 && length(col("tok_b")) > 0)
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("cnt"))
  }

  def packGreedy(df: DataFrame, groupCol: String, orderCol: String,
      weightCol: String, capacity: Long): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1: $capacity")
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
    df.withColumn("__cum", sum(col(weightCol).cast(LongType)).over(w))
      // integer div (not floating floor): exact at any cumulative magnitude
      .withColumn("bin", expr(s"(__cum - `$weightCol`) div ${capacity}L"))
      .drop("__cum")
  }

  /** Cluster-balanced embedding sampling — the DataComp/SemDeDup-adjacent
    * diversity move: k-means-cluster the embedding space, then draw an
    * equal deterministic quota from every cluster, so dense regions can't
    * crowd the sample the way uniform sampling lets them. Composes the
    * IVF machinery ([[graft.similarity.Ann.pickCentroids]] seeded pick,
    * optional distributed Lloyd refinement, broadcast-literal assignment —
    * no vector shuffle) with [[stratifiedSample]]'s bounded-heap
    * per-cluster draw. Output: (idCol, cluster_id) for the selected rows.
    *
    * Determinism: with `iterations = 0` the whole path is a pure function
    * of (ids, salt) — seeded centroid pick, literal-table assignment, md5
    * draw. Lloyd iterations refine centroids through float mean partials
    * whose merge order is partition-dependent, so refined assignments are
    * run-stable but not bit-pinned — use 0 where exact reproducibility
    * outranks cluster quality.
    */
  def clusterBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, quota: Int, iterations: Int = 0, salt: String = "",
      md5Pick: Boolean = false): DataFrame = {
    require(k >= 1, s"cluster count must be >= 1: $k")
    import graft.similarity.Ann
    // md5Pick orders the seeded centroid pick by md5(id || salt) instead of
    // xxhash64(id): same uniform deterministic pick, but SQL-oracle-
    // mirrorable (DuckDB has md5, not xxhash64) — with iterations = 0 the
    // whole sample then hash-gates end-to-end (q176); the xxhash64 form
    // stays the production default (one hash, no string round-trip)
    val cents0 =
      if (md5Pick) Ann.pickCentroids(emb, idCol, vecCol, k,
        md5(concat(col(idCol).cast(StringType), lit(salt))))
      else Ann.pickCentroids(emb, idCol, vecCol, k)
    val cents =
      if (iterations > 0) Ann.refineCentroids(emb, idCol, vecCol, cents0, iterations)
      else cents0
    val assigned = Ann.ivfIndex(emb, idCol, vecCol, cents)
      .select(col("neighbor_id").as(idCol), col("list_id").as("cluster_id"))
    stratifiedSample(assigned, Seq("cluster_id"), idCol, quota, salt)
  }
}
