package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.text.TextFunctions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact → MinHash/LSH → SimHash → n-gram Jaccard → embedding
  * cosine (see graft.similarity for the vector side).
  *
  * Scale notes (the whole point): exact dedup is one hash-keyed shuffle;
  * MinHash/LSH turns the O(n²) near-dup problem into `bands` hash-keyed
  * shuffles plus a candidate verify — no cross join anywhere; candidate
  * pairs are bounded by bucket sizes, and every hash is a seeded xxhash64
  * (codegen'd, deterministic across runs and executors).
  */
object Dedup {

  /** Exact dedup on a normalized text — one shuffle on the text key.
    * Keeps the lowest `idCol` per duplicate group (deterministic winner:
    * ids are expected unique). Implemented as `min_by` aggregation, NOT a
    * row_number window: the aggregate gets map-side partial combine, so a
    * text duplicated a million times reduces per-partition before the
    * shuffle instead of funneling every copy through one window task —
    * the hot-key-safe shape at 100 TB.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = lower(regexp_replace(col(textCol), "\\s+", " "))
    df.groupBy(norm.as("__norm"))
      .agg(min_by(struct(df.columns.toSeq.map(col): _*), col(idCol)).as("__r"))
      .select(col("__r.*"))
  }

  /** MinHash signature from a *materialized* shingle-array column;
    * sig[j] = min over shingles of xxhash64(j, shingle).
    *
    * IMPORTANT: `shingleCol` must be a plain column reference (project the
    * shingle array in a prior select), NOT an inline
    * `shingles(tokens(text))` expression — higher-order functions are
    * interpreted, so an inline array expression would be re-evaluated for
    * every one of the `numHashes` lambda iterations (O(k·n²) regex splits
    * per row; observed as a wedged executor). Catalyst's CollapseProject
    * keeps multi-referenced non-cheap projections un-inlined, so the
    * two-step form evaluates the split exactly once per row.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int = 64): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      j => array_min(transform(shingleCol, s => xxhash64(j, s))))

  /** LSH banding: split the signature into `bands` rows of `rowsPerBand`,
    * hash each band → (band_idx, band_hash) bucket keys. Docs sharing any
    * bucket are candidate near-duplicates.
    */
  def lshBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.MinHash.lsh_buckets(sig, bands, rowsPerBand)

  /** Signature-agreement Jaccard estimate between two minhash signatures
    * (fraction of matching positions — the standard unbiased estimator).
    * Evaluated once per CANDIDATE PAIR, so it runs through the primitive
    * `sig_match_count` kernel rather than an
    * interpreted zip_with lambda (requires `ChCompat.register`, which every
    * pipeline entry point here calls).
    */
  def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    graft.functions.MinHash.sig_match_count(sigA, sigB).cast(DoubleType) / numHashes

  /** (id, sig) MinHash signatures for a corpus — the shared front of the
    * one-shot [[minhashNearDups]] pipeline and the incremental
    * [[NearDupIndex]]: explode distinct shingles, aggregate with the
    * tight-loop k-hash aggregate (shuffle keyed by doc id, no interpreted
    * per-shingle lambdas).
    */
  def minhashSignatures(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleSize: Int = 3): DataFrame = {
    graft.functions.ChCompat.register(df.sparkSession)
    // spread first: the k-hash work below must not run inside a
    // single-task scan of a small/one-row-group file
    graft.engine.Warehouse
      .spreadForCompute(df.select(col(idCol).as("id"), col(textCol).as("__text")), "id")
      .select(col("id"), tokens(col("__text")).as("toks"))
      .select(col("id"), explode(array_distinct(shingles(col("toks"), shingleSize))).as("sh"))
      .groupBy("id")
      .agg(graft.functions.MinHash.minhash_agg(col("sh"), numHashes).as("sig"))
  }

  /** Candidate near-dup pairs via MinHash+LSH, verified with the estimated
    * Jaccard from signature agreement. Returns (id_a, id_b, est_jaccard)
    * with id_a < id_b, est_jaccard >= threshold.
    */
  def minhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleSize: Int = 3): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    graft.functions.ChCompat.register(df.sparkSession)
    // explode shingles, build signatures with the tight-loop aggregate —
    // the distributed formulation (shuffle keyed by doc id), and ~100×
    // faster than evaluating k hashes in interpreted lambdas per shingle
    val sigs = minhashSignatures(df, textCol, idCol, numHashes, shingleSize)
    lshCandidatePairs(sigs,
      sig => lshBuckets(sig, bands, rowsPerBand),
      (a, b) => estJaccard(a, b, numHashes),
      threshold)
  }

  /** The banding/verify back half of MinHash+LSH, shared verbatim by the
    * production xxhash64 family ([[minhashNearDups]]) and its md5 twin
    * ([[minhashNearDupsMd5]], the DuckDB-mirrorable form the gate
    * hash-checks): band explode → bucket self-join → pair dedup →
    * signature re-join → agreement estimate ≥ threshold.
    */
  private def lshCandidatePairs(
      sigDf: DataFrame,
      buckets: Column => Column,
      est: (Column, Column) => Column,
      threshold: Double): DataFrame = {
    // persist: `sigs` feeds the band explode AND both verification joins
    // below, and the signature pipeline (tokenize + shingle + k-hash
    // aggregate) dominates the job's cost — without this the whole subtree
    // runs three times. Persist the COMPACT (id, sig) form, before the band
    // explode: caching the exploded rows would store each signature `bands`
    // times and pay columnar encode/decode on the multiplied width.
    // Lifetime: the cache stays pinned for the session (the caller's
    // result is lazy, so there is no safe unpersist point inside this
    // function); it is bounded by the (id, sig) table — numHashes×8 B
    // (or ×16 B for the md5 twin) per doc — and spills to disk, the
    // standard cost of a reusable signature table in a dedup run.
    val sigs = sigDf.persist(StorageLevel.MEMORY_AND_DISK)
    // SLIM band rows: the bucket self-join shuffles (bk, id) ONLY — the
    // numHashes-long signature array must not ride the bands× explosion
    // (it multiplies the self-join's shuffle by ~sig_bytes/16 per side; at
    // 10M docs × 16 bands that is tens of GB vs single-digit). Signatures
    // re-join by id AFTER candidate pairs are deduped, so the wide rows
    // number O(pairs), not O(docs × bands), and hot-bucket quadratic
    // candidates stay 24-byte rows.
    val withBk = sigs.select(
      col("id"), explode(buckets(col("sig"))).as("bk"))
    val a = withBk.select(col("bk"), col("id").as("id_a"))
    val b = withBk.select(col("bk"), col("id").as("id_b"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", est(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** MinHash signatures from the md5 hash family: sig[j] = MIN over
    * distinct shingles of the first 16 hex chars of md5("j:" ∥ shingle),
    * compared as (ASCII, lowercase-hex) strings. Same exploded-shingle
    * front and same one-shuffle-by-id shape as [[minhashSignatures]] —
    * only the hash family differs, chosen because BOTH engines compute
    * md5 of UTF-8 text bit-identically, so the DuckDB oracle can replay
    * the signature (and everything downstream of it) value-exactly. The
    * k min-aggregates get map-side partial combine like the production
    * aggregate; the production xxhash64 family stays the scale path
    * (8 B/lane vs 16 B and one hash vs k string md5s per shingle).
    */
  def minhashSignaturesMd5(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleSize: Int = 3): DataFrame = {
    graft.functions.ChCompat.register(df.sparkSession)
    val mins = (0 until numHashes).map { j =>
      min(substring(md5(concat(lit(s"$j:"), col("sh"))), 1, 16)).as(s"__h$j")
    }
    graft.engine.Warehouse
      .spreadForCompute(df.select(col(idCol).as("id"), col(textCol).as("__text")), "id")
      .select(col("id"), tokens(col("__text")).as("toks"))
      .select(col("id"), explode(array_distinct(shingles(col("toks"), shingleSize))).as("sh"))
      .groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(j => col(s"__h$j")): _*).as("sig"))
  }

  /** [[minhashNearDups]] with the md5 hash family — the gate's hash-green
    * twin (q178): identical pipeline ([[lshCandidatePairs]] verbatim —
    * banding, bucket self-join, pair dedup, agreement verify), md5-derived
    * signatures and band keys so DuckDB mirrors every stage value-exactly.
    */
  def minhashNearDupsMd5(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.4,
      shingleSize: Int = 3): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val sigs = minhashSignaturesMd5(df, textCol, idCol, numHashes, shingleSize)
    lshCandidatePairs(sigs,
      // band key = md5 of the band's slice joined by '|' (hex strings
      // never contain '|', so the join is collision-free)
      sig => array((0 until bands).map { b =>
        struct(lit(b).as("b"),
          md5(concat_ws("|", slice(sig, b * rowsPerBand + 1, rowsPerBand))).as("h"))
      }: _*),
      (a, b) => (size(filter(zip_with(a, b, (x, y) => x === y), p => p))
        .cast(DoubleType) / numHashes),
      threshold)
  }

  /** Exact n-gram (token-shingle) Jaccard near-dup pairs: docs joined on
    * shared shingles (shuffle on shingle), intersection counted per pair,
    * union from per-doc distinct-shingle counts. No cross join; the shingle
    * join is the scalable formulation of pairwise Jaccard.
    *
    * `maxShingleDf` caps a shingle's document frequency: a shingle shared by
    * n docs yields n² candidate rows, so one stop-phrase shingle is THE
    * quadratic hot key at scale. Shingles above the cap are dropped from
    * both the intersection AND the per-doc sizes (consistently), i.e. the
    * Jaccard is computed over the rare-shingle subsets — the standard
    * stop-shingle filter from the MinHash literature. Default keeps exact
    * semantics.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.2,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    graft.functions.ChCompat.register(df.sparkSession)
    // persist: `sh` is read three times (per-doc sizes + both self-join
    // sides); the tokenize/shingle/explode subtree must evaluate once.
    val shRaw = graft.engine.Warehouse
      .spreadForCompute(df.select(col(idCol).as("id"), col(textCol).as("__text")), "id")
      .select(col("id"), tokens(col("__text")).as("toks"))
      .select(col("id"), explode(array_distinct(shingles(col("toks"), shingleSize))).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sh =
      if (maxShingleDf == Int.MaxValue) shRaw
      else {
        // hot-shingle set is tiny by construction (only df > cap survives);
        // left_anti lets AQE broadcast it
        val hot = shRaw.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf).select("sh")
        shRaw.join(hot, Seq("sh"), "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
      }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"), col("x.sh") === col("y.sh"))
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "jaccard")
  }

  /** 64-bit SimHash over tokens: per-bit majority vote of token hashes,
    * via the single-pass `simhash64` kernel (one xxhash64
    * per token + 64 counter bumps — the composed 64-bit-lambda HOF form
    * evaluated interpreted and was the simhash pipeline's scale cost).
    * Requires `ChCompat.register` on the session (every entry point here
    * does it).
    */
  def simhash64(text: Column): Column = simhash64FromTokens(tokens(text))

  /** SimHash from a materialized token-array column — prefer this in
    * pipelines (the tokenizer then runs once, not once per reference).
    */
  def simhash64FromTokens(toks: Column): Column =
    graft.functions.Simhash.simhash64(toks)

  /** Hamming distance between two simhashes (≤ k ⇒ near-dup). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on bit chunks, then verify exact Hamming
    * distance. Same no-cross-join shape as LSH.
    *
    * Recall guarantee comes from the pigeonhole principle: a pair differing
    * in ≤ maxHamming bits, split across `maxHamming + 1` disjoint chunks,
    * must agree exactly on at least one chunk — so the chunk count is
    * DERIVED from maxHamming, not fixed (a fixed 4-chunk split silently
    * loses pairs for maxHamming ≥ 4). Higher maxHamming ⇒ more, narrower
    * chunks ⇒ bigger candidate buckets: the inherent simhash-blocking
    * recall/cost trade.
    */
  def simhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming out of range: $maxHamming")
    val chunks = maxHamming + 1
    // chunk c covers `widths(c)` bits starting at bit `offsets(c)`; widths
    // differ by at most 1 so the 64 bits are spread evenly
    val widths = Array.tabulate(chunks)(c => 64 / chunks + (if (c < 64 % chunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val chunkExprs: Seq[Column] = (0 until chunks).map { c =>
      val mask = if (widths(c) == 64) -1L else (1L << widths(c)) - 1L
      struct(lit(c).as("c"),
        call_function("shiftright", col("sh"), lit(offsets(c))).bitwiseAND(lit(mask)).as("v"))
    }
    graft.functions.ChCompat.register(df.sparkSession)
    val sigs = graft.engine.Warehouse
      .spreadForCompute(df.select(col(idCol).as("id"), col(textCol).as("__text")), "id")
      .select(col("id"), tokens(col("__text")).as("toks"))
      .select(col("id"), simhash64FromTokens(col("toks")).as("sh"))
    chunkCandidates(sigs, chunkExprs, hamming64, maxHamming)
  }

  /** The chunk-blocking back half of SimHash near-dup, shared verbatim by
    * the production xxhash64 family ([[simhashNearDups]]) and its md5
    * twin ([[simhashNearDupsMd5]]): chunk explode → chunk self-join →
    * pair dedup → exact Hamming verify. `sigs` must be (id, sh).
    */
  private def chunkCandidates(
      sigDf: DataFrame, chunkExprs: Seq[Column],
      hamming: (Column, Column) => Column, maxHamming: Int): DataFrame = {
    // persist: the simhash pipeline feeds both sides of the chunk self-join.
    // Cache the compact (id, sh) form — the chunk explode is a cheap
    // re-derivation per side (see minhashNearDups' note).
    val sigs = sigDf.persist(StorageLevel.MEMORY_AND_DISK)
    val chunked = sigs.withColumn("chunk", explode(array(chunkExprs: _*)))
    val a = chunked.select(col("chunk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("chunk"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** 64-bit md5-family SimHash as a BIT STRING: per token, the 64 bits of
    * the first 16 hex chars of md5(token) (MSB first); per bit, each
    * token occurrence votes +1/−1; the doc's bit is '1' iff the vote sum
    * is > 0 (ties → '0'). Returned as a 64-char '0'/'1' string so the
    * DuckDB oracle compares it without unsigned-64 casts. Same
    * occurrence-weighted majority vote as [[simhash64]]; only the hash
    * family (and the carrier type) differ.
    */
  def simhashBitsMd5(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    graft.functions.ChCompat.register(df.sparkSession)
    graft.engine.Warehouse
      .spreadForCompute(df.select(col(idCol).as("id"), col(textCol).as("__text")), "id")
      // conv(hex, 16, 2) is Hive/Spark unsigned-64 base conversion; lpad
      // restores the dropped leading zeros so char p is always bit p
      .select(col("id"), explode(tokens(col("__text"))).as("t"))
      .select(col("id"),
        lpad(conv(substring(md5(col("t")), 1, 16), 16, 2), 64, "0").as("bits"))
      // one row per (doc, bit): the vote sum is a plain shuffle-keyed
      // aggregate with map-side combine — no per-doc token collection
      .select(col("id"), explode(transform(sequence(lit(1), lit(64)), p =>
        struct(p.as("p"),
          when(col("bits").substr(p, lit(1)) === "1", 1).otherwise(-1).as("v")))).as("pv"))
      .groupBy(col("id"), col("pv.p").as("p"))
      .agg(sum(col("pv.v")).as("s"))
      .groupBy("id")
      .agg(concat_ws("", transform(array_sort(collect_list(struct(col("p"), col("s")))),
        x => when(x.getField("s") > 0, "1").otherwise("0"))).as("sh"))
  }

  /** [[simhashNearDups]] with the md5 hash family — the gate's hash-green
    * twin (q179): identical pigeonhole blocking ([[chunkCandidates]]
    * verbatim — `maxHamming + 1` disjoint chunks, chunk self-join, exact
    * Hamming verify) over the DuckDB-mirrorable bit-string simhash.
    */
  def simhashNearDupsMd5(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming out of range: $maxHamming")
    val chunks = maxHamming + 1
    val widths = Array.tabulate(chunks)(c => 64 / chunks + (if (c < 64 % chunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val chunkExprs: Seq[Column] = (0 until chunks).map { c =>
      struct(lit(c).as("c"),
        substring(col("sh"), offsets(c) + 1, widths(c)).as("v"))
    }
    def hammingBits(a: Column, b: Column): Column =
      aggregate(transform(sequence(lit(1), lit(64)),
          i => when(a.substr(i, lit(1)) =!= b.substr(i, lit(1)), 1L).otherwise(0L)),
        lit(0L), (acc, x) => acc + x)
    chunkCandidates(simhashBitsMd5(df, textCol, idCol), chunkExprs,
      hammingBits, maxHamming)
  }

  /** SemDeDup-style semantic deduplication: documents whose embeddings sit
    * in one connected component under cosine ≥ `threshold` collapse to the
    * min-id representative. Returns one row per input row:
    * (idCol, cluster_id, cluster_size, keep) — the same contract as the
    * n-gram cluster resolution (q49), so downstream keep-filters compose.
    *
    * `exact = true` scores ALL pairs (O(n²) — the correctness anchor, run
    * at small corpus sizes and mirrored by the SQL oracle); `exact =
    * false` generates candidates from LSH hyperplane buckets
    * ([[graft.similarity.Ann.cosineNearDups]] — the no-cross-join 100 TB
    * shape) and verifies exact cosine on candidates only. Both feed the
    * same pointer-jumping connected components, so the only recall seam is
    * candidate generation — measured in DedupSpec, not assumed.
    */
  def semanticClusters(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      exact: Boolean = false, tables: Int = 8, bits: Int = 6): DataFrame = {
    graft.functions.ChCompat.register(emb.sparkSession)
    val pairs =
      if (exact) {
        val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
        val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
        a.join(b, col("id_a") < col("id_b"))
          .withColumn("cos_sim",
            graft.similarity.Ann.cosine(col("__va"), col("__vb")))
          .filter(col("cos_sim") >= threshold)
          .select("id_a", "id_b")
      } else graft.similarity.Ann
        .cosineNearDups(emb, idCol, vecCol, threshold, tables, bits)
        .select("id_a", "id_b")
    val cc = Cluster.connectedComponents(pairs, "id_a", "id_b")
    emb.select(col(idCol))
      .join(cc.select(col("id").as(idCol), col("comp")), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col(idCol)))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("keep", col(idCol) === col("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("cluster_size"), col("keep"))
  }

  /** Duplicated-span detection — the window-fingerprint form of
    * suffix-array ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every k-token window of
    * every document is fingerprinted; a fingerprint occurring at least
    * `minCount` times corpus-wide (across documents OR repeated inside
    * one — self-repetition is duplication too) marks its k token
    * positions as duplicated. Per document: the duplicated-window count,
    * the number of tokens covered by at least one duplicated window
    * (interval union, not k·windows — overlapping spans count once), the
    * covered fraction, and the `keep` verdict (`dup_frac < maxDupFrac`,
    * the drop-or-trim filter signal).
    *
    * Scale shape: fingerprints are md5 digests, so the corpus-wide count
    * and the membership semi-join move fixed-width digests, not text.
    * Three hash-keyed exchanges (window count with map-side combine,
    * digest semi-join, per-doc aggregates) — no all-pairs step, and a
    * window duplicated a million times costs its occurrence count, never
    * a pairwise blowup (the failure mode of pair-join dedup on
    * boilerplate).
    */
  /** The REMOVAL half of span dedup (Lee et al. 2022 keep-one-occurrence
    * policy): for every duplicated k-token window fingerprint, the
    * occurrence with the smallest (doc id, position) is the CANONICAL one
    * and survives; every other occurrence marks its k token positions for
    * removal, the per-document removal set is the interval union, and the
    * text rebuilds from the surviving tokens in order. Documents shrink;
    * exactly one copy of every duplicated span remains corpus-wide (in
    * its lowest-address home) — unlike document-level dedup, boilerplate
    * shared by otherwise-distinct documents is trimmed, not the documents
    * dropped.
    *
    * Output: (idCol, n_tokens, kept_tokens, cleaned). Same exchange
    * shape as [[duplicatedSpans]] plus one min_by per fingerprint (the
    * winner election — map-side combined, one row per distinct window).
    */
  def trimDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minCount: Long = 2): DataFrame = {
    require(k >= 1, s"window size must be >= 1: $k")
    require(minCount >= 2, s"minCount < 2 marks everything duplicated: $minCount")
    val toks = df
      .select(col(idCol).as("id"),
        filter(split(col(textCol), "\\s+"), t => length(t) > 0).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("n_tokens"))
    val wins = toks
      .filter(col("n_tokens") >= k)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), col("n_tokens") - k),
          i => md5(concat_ws(" ", slice(col("toks"), i + lit(1), lit(k)))))))
      .select(col("id"), col("pos").as("w_pos"), col("col").as("win"))
    // winner election: one aggregate elects the canonical occurrence per
    // DUPLICATED fingerprint (count and min_by combine map-side)
    val winners = wins.groupBy("win")
      .agg(count(lit(1)).as("__cnt"),
        min_by(struct(col("id"), col("w_pos")), struct(col("id"), col("w_pos")))
          .as("__keep"))
      .filter(col("__cnt") >= minCount)
      .select(col("win"), col("__keep.id").as("__kid"), col("__keep.w_pos").as("__kpos"))
    val losers = wins.join(winners, Seq("win"))
      .filter(col("id") =!= col("__kid") || col("w_pos") =!= col("__kpos"))
    val removed = losers
      .select(col("id"), explode(sequence(col("w_pos"), col("w_pos") + (k - 1))).as("t"))
      .distinct()
      .groupBy("id")
      .agg(collect_list(col("t")).as("__drop"))
    toks
      .join(removed, Seq("id"), "left")
      .withColumn("__drop", coalesce(col("__drop"), typedlit(Array.empty[Int])))
      .select(col("id").as(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("__drop"))).as("kept_tokens"),
        concat_ws(" ", filter(col("toks"),
          (_, i) => not(array_contains(col("__drop"), i)))).as("cleaned"))
  }

  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minCount: Long = 2, maxDupFrac: Double = 0.5): DataFrame = {
    require(k >= 1, s"window size must be >= 1: $k")
    require(minCount >= 2, s"minCount < 2 marks everything duplicated: $minCount")
    val toks = df
      .select(col(idCol).as("id"),
        filter(split(col(textCol), "\\s+"), t => length(t) > 0).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("n_tokens"))
    val wins = toks
      .filter(col("n_tokens") >= k)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), col("n_tokens") - k),
          i => md5(concat_ws(" ", slice(col("toks"), i + lit(1), lit(k)))))))
      .select(col("id"), col("pos").as("w_pos"), col("col").as("win"))
    val dup = wins.groupBy("win").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCount)
    val marked = wins.join(dup.select("win"), Seq("win"), "left_semi")
    val perDoc = marked.groupBy("id").agg(count(lit(1)).as("dup_windows"))
    val covered = marked
      .select(col("id"), explode(sequence(col("w_pos"), col("w_pos") + (k - 1))).as("t"))
      .distinct()
      .groupBy("id").agg(count(lit(1)).as("dup_tokens"))
    toks.select(col("id"), col("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .join(covered, Seq("id"), "left")
      .na.fill(0L, Seq("dup_windows", "dup_tokens"))
      .withColumn("dup_frac",
        col("dup_tokens").cast(DoubleType) / col("n_tokens"))
      .withColumn("keep", col("dup_frac") < lit(maxDupFrac))
      .select(col("id").as(idCol), col("n_tokens"), col("dup_windows"),
        col("dup_tokens"), col("dup_frac"), col("keep"))
  }
}
