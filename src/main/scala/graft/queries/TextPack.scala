package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.dedup.Dedup
import graft.text.TextFunctions

/** Declared queries for the training-data text pipeline over `documents`:
  * dedup (exact + fuzzy), token/quality stats, fingerprints, language ID.
  * Oracles exist wherever DuckDB can express the same computation exactly;
  * hash-seeded ops (minhash/simhash, xxhash64-based) are declared without
  * oracle (driver records rows-only) and verified in ScalaTest instead.
  */
object TextPack {

  type Q = (SparkSession, String) => DataFrame

  /** documents, hash-spread across the session's parallelism: the driver's
    * parquet is a single row group (one scan task), and every query here
    * does CPU-heavy per-row work (tokenize/langid/minhash) that must not
    * run on one core. No-op on wide inputs (Warehouse.spreadForCompute).
    */
  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.engine.Warehouse.spreadForCompute(Tables(s, dir).documents, "doc_id")

  val queries: Map[String, Q] = Map(
    // Exact dedup accounting per (lang, source): md5-keyed distinct counts.
    "q30_dedup_exact" -> { (s, dir) =>
      Tables(s, dir).documents
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("docs"),
          count_distinct(col("text")).as("uniq_texts"),
          count_distinct(md5(col("text"))).as("uniq_md5"))
        .orderBy("lang", "source")
    },

    // Per-doc token/char stats (token counting over whitespace);
    // tokens materialized once, both stats derive from the array.
    "q31_doc_stats" -> { (s, dir) =>
      Tables(s, dir).documents // token split only — too light to pay a spread shuffle
        .select(col("doc_id"), col("text"), col("n_chars"),
          TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          length(col("text")).as("text_len"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("uniq_tokens"),
          col("n_chars"))
        .orderBy("doc_id")
    },

    // Quality features: stopword hits, punctuation, ratios (single double
    // division — deterministic both sides).
    "q32_quality" -> { (s, dir) =>
      // materialize tokens once; each projected feature then works on the
      // array, not its own re-tokenization (interpreted lambdas, no CSE)
      val base = docs(s, dir)
        .select(col("doc_id"), col("text"), TextFunctions.tokens(col("text")).as("toks"))
      val f = TextFunctions.qualityFeaturesFromTokens(col("toks"), col("text"))
      base.select(col("doc_id"),
          f.getField("n_tokens").as("n_tokens"),
          f.getField("stopword_cnt").as("stopword_cnt"),
          f.getField("uniq_ratio").as("uniq_ratio"),
          TextFunctions.qualityScoreFromTokens(col("toks"), col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // Doc fingerprint: min over md5'd 3-token shingles (1-perm MinHash, the
    // md5 variant so DuckDB can mirror it; the library's fast path is
    // xxhash64 — see TextFunctions.fingerprint64).
    "q33_fingerprint" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          array_min(transform(TextFunctions.shingles(col("toks"), 3), sh => md5(sh))).as("fp"))
        .orderBy("doc_id")
    },

    // Exact n-gram Jaccard near-dup pairs — shingle-join shape, no cross
    // join; shingles in >50 docs are stop-phrases and excluded consistently
    // on both sides (the quadratic-hot-key guard at scale).
    "q34_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables(s, dir).documents, "text", "doc_id",
          shingleSize = 3, threshold = 0.2, maxShingleDf = 50)
        .orderBy("id_a", "id_b")
    },

    // MinHash+LSH near-dup candidates (seeded xxhash64 — no SQL oracle;
    // recall vs exact Jaccard is asserted in DedupSpec).
    "q35_minhash_neardup" -> { (s, dir) =>
      Dedup.minhashNearDups(Tables(s, dir).documents, "text", "doc_id",
          numHashes = 64, bands = 16, threshold = 0.4)
        .orderBy("id_a", "id_b")
    },

    // SimHash near-dup candidates (rows-only; verified in DedupSpec).
    // maxHamming=3 is the standard 64-bit simhash radius: 4 chunks of 16
    // bits, bucket load N/2^16 — the scale-safe operating point. Larger
    // radii derive more, narrower chunks whose buckets grow toward N
    // (the inherent simhash-blocking trade, see Dedup.simhashNearDups).
    "q36_simhash_neardup" -> { (s, dir) =>
      Dedup.simhashNearDups(Tables(s, dir).documents, "text", "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },

    // q35's HASH-GATED TWIN (the q176/q129 pattern): the identical
    // MinHash+LSH pipeline — Dedup.lshCandidatePairs verbatim: band
    // explode, bucket self-join, pair dedup, signature re-join, agreement
    // estimate — with the hash family swapped from seeded xxhash64 to
    // md5, which both engines compute bit-identically over UTF-8 text.
    // This puts the banding/blocking machinery itself (not just its
    // recall properties) under the DuckDB value gate; q35 keeps the
    // production family and stays rows-only. Parameters are q35's
    // verbatim (64 hashes, 16 bands of 4, threshold 0.4) — ONLY the
    // hash family differs.
    "q178_minhash_md5" -> { (s, dir) =>
      Dedup.minhashNearDupsMd5(Tables(s, dir).documents, "text", "doc_id",
          numHashes = 64, bands = 16, threshold = 0.4)
        .orderBy("id_a", "id_b")
    },

    // q36's HASH-GATED TWIN: the identical pigeonhole chunk-blocking
    // pipeline — Dedup.chunkCandidates verbatim: 4 disjoint 16-bit
    // chunks, chunk self-join, pair dedup, exact Hamming verify — over
    // the md5-family bit-string simhash (per-token md5 bits, occurrence-
    // weighted majority vote), so DuckDB replays signature, blocking,
    // and verify value-exactly. q36 keeps the production xxhash64
    // simhash and stays rows-only.
    "q179_simhash_md5" -> { (s, dir) =>
      Dedup.simhashNearDupsMd5(Tables(s, dir).documents, "text", "doc_id",
          maxHamming = 3)
        .orderBy("id_a", "id_b")
    },

    // Language ID heuristic (rows-only; sanity-checked in TextSpec).
    // Language ID: stopword-vote argmax, exactly mirrored by the DuckDB
    // oracle (list lambdas for token hits, replace-count for zh chars,
    // CASE cascade reproducing greatest-struct tie-breaking).
    "q37_langid" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), col("text"),
          TextFunctions.lowerTokens(col("text")).as("ltoks"))
        // argmax struct materialized once; the verdict reads the column
        // twice (see langBestFromTokens' doc — conditional branches get
        // no CSE, so the inline form pays the 5 hit passes up to twice)
        .select(col("doc_id"), col("text"),
          TextFunctions.langBestFromTokens(col("ltoks"), col("text")).as("__lang_best"))
        .select(col("doc_id"),
          TextFunctions.langIdFromBest(col("__lang_best")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // End-to-end corpus-cleaning pipeline — the composition a training-data
    // run actually executes: score (language ID + quality + token count) →
    // gate (quality ≥ 0.6, ≥ 5 tokens, identified language) → exact-dedup
    // (keep lowest doc_id per identical text) → dataset-card stats per
    // predicted language. One scan, one dedup shuffle (by text — identical
    // payloads co-locate), one small aggregation; every stage is the
    // declared-and-gated form of an operator proven alone (q37/q32/q30).
    "q39_corpus_pipeline" -> { (s, dir) =>
      import graft.functions.ComputeOnce.once
      // the CHEAP conjunct of the gate runs AT THE SCAN (guide §2.3
      // "shuffle fewer bytes" / r14 verdict): ws_token_count is a
      // zero-allocation byte scan, so short docs are dropped for one pass
      // over the text and never shuffle. The n_tokens >= 5 conjunct below
      // is then redundant but kept verbatim (a plain attribute compare)
      // so the declared gate is unchanged.
      val pre = Tables(s, dir).documents
        .filter(TextFunctions.tokenCount(col("text")) >= 5)
      // DEDUP FIRST (guide §2.4 remove-shuffles-outright): lang_pred,
      // n_tokens and quality are pure functions of text, so identical
      // texts score identically and a duplicate group passes or fails the
      // gate AS A WHOLE — score-then-dedup and dedup-then-score keep the
      // same winner (min doc_id over the group, whose lang rides the
      // min_by struct) and the same card rows. Deduping first means
      //  (a) the text exchange IS the compute spread — r14's shape paid a
      //      doc_id spread exchange AND the text exchange; this moves the
      //      whole corpus exactly once, and
      //  (b) the scoring pipeline runs once per DISTINCT text (at corpus
      //      scale, the duplicated fraction never tokenizes twice).
      // min_by dedup, not a row_number window: partial aggregation absorbs
      // a hot duplicated text map-side (see Dedup.exact's scale note).
      val deduped = pre
        .groupBy(col("text"))
        .agg(min_by(struct(col("doc_id"), col("lang")), col("doc_id")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"), col("text"))
      val scored = deduped
        .select(col("doc_id"), col("lang"), col("text"),
          TextFunctions.tokens(col("text")).as("toks"))
        // lowered tokens via the same one-pass primitive (byte-identical
        // to transform(toks, lower) — per-token toLowerCase)
        .select(col("doc_id"), col("lang"), col("text"), col("toks"),
          TextFunctions.lowerTokens(col("text")).as("ltoks"))
        // the langid argmax struct materialized ONCE: the verdict below
        // reads it twice (condition + branch), and conditional branches
        // are not subexpression-eliminated — inline, the 5 hit-count
        // passes would run up to twice per row (see langBestFromTokens)
        .select(col("doc_id"), col("lang"), col("text"), col("toks"),
          TextFunctions.langBestFromTokens(col("ltoks"), col("text")).as("__lang_best"))
        // the three score columns are PINNED (ComputeOnce): without the
        // pin, PushDownPredicates inlines them into the `kept` filter
        // below this projection — the scoring tree would evaluate twice
        // per surviving row (r14's measured q39 defect). Pinned, each
        // score is computed exactly once, where it is projected — which
        // sits ABOVE the dedup aggregate, so the pin cannot block any
        // further pushdown. Values are bit-identical; only placement
        // changes.
        .select(col("doc_id"), col("lang"),
          once(TextFunctions.langIdFromBest(col("__lang_best"))).as("lang_pred"),
          once(size(col("toks"))).as("n_tokens"),
          once(TextFunctions.qualityScoreFromTokens(col("toks"), col("text"))).as("quality"))
      val kept = scored.filter(
        col("quality") >= lit(0.6) && col("n_tokens") >= 5 && col("lang_pred") =!= "und")
      // label × prediction card: surfaces the langid confusion structure of
      // the kept corpus, not just its size
      kept.groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("kept_docs"),
          sum(col("n_tokens").cast(LongType)).as("total_tokens"),
          sum(col("quality").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_quality"))
        .orderBy("lang", "lang_pred")
    },

    // BPE-ish regex tokenizer (letter runs | digit runs | single symbol),
    // the subword-style counterpart of q31's whitespace tokens — DuckDB
    // mirrors the exact regex through regexp_extract_all.
    "q46_bpeish_tokens" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextFunctions.bpeishTokens(col("text")).as("bt"))
        .select(col("doc_id"),
          size(col("bt")).as("n_bpeish"),
          size(array_distinct(col("bt"))).as("uniq_bpeish"))
        .orderBy("doc_id")
    },

    // Dedup-grade normalization under the gate: the corpus text is clean,
    // so a messy variant is CONSTRUCTED identically on both engines
    // (upper-cased head + punctuation + doubled spacing) — the hash then
    // proves lowercase folding, Unicode-class punctuation stripping, and
    // whitespace collapse agree with DuckDB's independent regex engine.
    // The invariant column pins the property that matters: normalizing
    // the messy form recovers the normalization of the original.
    "q82_normalize_dedup" -> { (s, dir) =>
      val messy = concat(upper(substring(col("text"), 1, 40)), lit(" ,,  !! "),
        col("text"), lit("  ...  "))
      docs(s, dir).select(
          col("doc_id"),
          TextFunctions.normalizeForDedup(messy).as("norm_text"),
          md5(TextFunctions.normalizeForDedup(messy)).as("norm_sig"),
          (TextFunctions.normalizeForDedup(messy) ===
            concat(lower(substring(col("text"), 1, 40)), lit(" "), col("text")))
            .as("recovers_original"))
        .orderBy("doc_id")
    },

    // Gopher-style repetition filters (Rae et al. 2021 §A1.1: duplicate
    // n-gram fractions and the most-frequent-n-gram character fraction —
    // the standard repetition quality gates before training). Duplicate
    // fractions are pure array expressions; the top 2-gram is the
    // aggregation-shaped mode per doc (explode → count → max_by with a
    // total (cnt, gram) order, so ties are deterministic in both engines).
    "q93_repetition" -> { (s, dir) =>
      val base = graft.engine.Warehouse.spreadForCompute(docs(s, dir), "doc_id")
        .select(col("doc_id"), col("text"),
          TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("text"),
          size(col("toks")).as("n_tokens"),
          TextFunctions.shingles(col("toks"), 2).as("g2"),
          TextFunctions.shingles(col("toks"), 3).as("g3"))
      def dupFrac(g: Column): Column =
        when(size(g) === 0, lit(0.0))
          .otherwise((size(g) - size(array_distinct(g))).cast(DoubleType) / size(g))
      val top = base.select(col("doc_id"), explode(col("g2")).as("sh"))
        .groupBy("doc_id", "sh").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(max_by(struct(col("sh"), col("cnt")),
          struct(col("cnt"), col("sh"))).as("top"))
        .select(col("doc_id"), col("top.sh").as("top_2gram"),
          col("top.cnt").as("top_2gram_count"))
      val charFrac =
        when(length(col("text")) === 0, lit(null))
          .otherwise((length(col("top_2gram")) * col("top_2gram_count"))
            .cast(DoubleType) / length(col("text")))
      base.join(top, Seq("doc_id"), "left_outer")
        .withColumn("dup2", dupFrac(col("g2")))
        .withColumn("dup3", dupFrac(col("g3")))
        .withColumn("tcf", charFrac)
        .select(col("doc_id"), col("n_tokens"),
          round(col("dup2"), 6).as("dup_2gram_frac"),
          round(col("dup3"), 6).as("dup_3gram_frac"),
          col("top_2gram"), col("top_2gram_count"),
          round(col("tcf"), 6).as("top_char_frac"),
          (coalesce(col("tcf"), lit(0.0)) <= 0.2 && col("dup3") <= 0.6).as("keep"))
        .orderBy("doc_id")
    },

    // Compressibility boilerplate signal (CCNet-family pipelines drop
    // pages that compress too well — repetition compresses). The signal
    // is the ORDER-1 SHANNON BOUND — per-doc bigram conditional entropy
    // H(next char | char), the bits/char an order-1 coder approaches —
    // which both engines compute exactly (integer bigram counts, one
    // log2 per bigram type), unlike the raw JDK-zlib output size whose
    // byte count no SQL oracle can mirror. zlib `compression_ratio`
    // stays in the library (TextFunctions) pinned by TextSpec's
    // ordering/determinism properties; this declared form hash-gates
    // the same repetition-compresses decision on an oracle-stable
    // statistic. Threshold 1.9 bits/char sits ≥1e-4 from every doc at
    // sf0.01 AND sf0.1 (float noise is ~1e-12 — no knife edge). Scale
    // shape: bigram counts collapse per (doc, bigram) in the groupBy's
    // map-side combine (≤ charset² rows per doc reach the wire), then
    // everything per-doc rides ONE doc_id repartition — both windows
    // and the final per-doc fold reuse it (subset-clustering rule).
    "q157_compression_quality" -> { (s, dir) =>
      val d = docs(s, dir)
      val n = length(col("text"))
      val chars = split(col("text"), "")
      val bg = d.select(col("doc_id"),
        explode(zip_with(
          slice(chars, lit(1), greatest(n - 1, lit(0))),
          slice(chars, lit(2), greatest(n - 1, lit(0))),
          (a, b) => concat(a, b))).as("bg"))
      val c = bg.groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .repartition(col("doc_id"))
      val wx = Window.partitionBy(col("doc_id"), substring(col("bg"), 1, 1))
      val wd = Window.partitionBy(col("doc_id"))
      val h = c
        .withColumn("cx", sum(col("c")).over(wx))
        .withColumn("nb", sum(col("c")).over(wd))
        .groupBy("doc_id")
        .agg((-sum(col("c").cast(DoubleType) *
            log2(col("c").cast(DoubleType) / col("cx"))) / max(col("nb")))
          .as("h1"))
      d.select(col("doc_id"), col("n_chars"))
        .join(h, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_chars"),
          round(col("h1"), 6).as("h1_bits_r6"),
          round(col("h1") / 8, 6).as("cr_bound_r6"),
          coalesce(col("h1") < 1.9, lit(false)).as("boilerplate_suspect"))
        .orderBy("doc_id")
    },

    // Benchmark decontamination under the gate: the "eval set" is 20-token
    // snippets (normalized tokens 5..24) of every 10th document — both
    // engines construct the identical eval set from the corpus itself, so
    // the report (which docs share an 8-token shingle with it, and how
    // many distinct shingles) is fully hash-checked. n=8 instead of the
    // published 13 keeps the snippets long enough to shingle at this SF.
    "q87_decontaminate" -> { (s, dir) =>
      val d = docs(s, dir)
      val norm = graft.text.TextFunctions.normalizeForDedup(col("text"))
      val bench = d.filter(col("doc_id") % 10 === 0)
        .select(array_join(
          slice(graft.text.TextFunctions.tokens(norm), 5, 20), " ").as("bench_text"))
      graft.text.Curation.contaminationReport(d, "doc_id", "text",
          bench, "bench_text", n = 8)
        .orderBy("doc_id")
    },

    // PII-style redaction under the gate: emails/URLs/long digit runs are
    // injected deterministically per doc, then scrubbed — both engines
    // construct and redact the same strings, so the hash proves the three
    // sentinel regexes (and their precedence) agree.
    "q83_redact_pii" -> { (s, dir) =>
      val dirty = concat(
        lit("contact user"), col("doc_id").cast("string"), lit("@example.com visit "),
        lit("https://ex.io/p/"), col("doc_id").cast("string"), lit("?id=99887766554 call "),
        (col("doc_id") * 1000000 + 7654321).cast("string"), lit(" - "), col("text"))
      docs(s, dir).select(
          col("doc_id"),
          TextFunctions.redactPii(dirty).as("clean_text"),
          (length(dirty) - length(TextFunctions.redactPii(dirty))).as("removed_chars"))
        .orderBy("doc_id")
    },

    // Multimodal plumbing smoke: text bytes as fake blobs through the
    // batched decode-stub pipeline, plus the REAL header sniffer (text
    // bytes classify as 'unknown' format — the corrupt-blob path).
    "q38_multimodal_features" -> { (s, dir) =>
      val media = graft.multimodal.Multimodal.fakeMediaFromText(
        Tables(s, dir).documents, "doc_id", "text")
        // sniff before the batched extractor: non-blob columns pass through,
        // so no second scan or join is needed
        .withColumn("sniffed", graft.multimodal.Multimodal.imageMeta(col("blob"))("format"))
      graft.multimodal.Multimodal.extractFeatures(media)
        .select(col("media_id"), col("modality"), col("n_bytes"),
          size(col("features")).as("feature_dim"), col("sniffed"))
        .orderBy("media_id")
    }
  )

  val oracle: Map[String, String] = Map(
    // Mirror of the order-1 entropy bound: integer bigram counts, the
    // same -(SUM(c·log2(c/cx)))/N expression shape, rounded at the edge.
    "q157_compression_quality" ->
      """WITH bg AS (
        |  SELECT doc_id, chars[i] || chars[i+1] AS bg
        |  FROM (SELECT doc_id, string_split_regex(text, '') AS chars
        |        FROM documents),
        |       unnest(range(1, len(chars))) AS u(i)),
        |c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |cx AS (
        |  SELECT doc_id, bg, c,
        |         sum(c) OVER (PARTITION BY doc_id, substr(bg, 1, 1)) AS cx,
        |         sum(c) OVER (PARTITION BY doc_id) AS nb
        |  FROM c),
        |h AS (
        |  SELECT doc_id,
        |         -SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE) / cx)) / MAX(nb) AS h1
        |  FROM cx GROUP BY doc_id)
        |SELECT d.doc_id, d.n_chars,
        |       round(h.h1, 6) AS h1_bits_r6,
        |       round(h.h1 / 8, 6) AS cr_bound_r6,
        |       COALESCE(h.h1 < 1.9, false) AS boilerplate_suspect
        |FROM documents d LEFT JOIN h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Same messy construction, DuckDB's RE2 doing the normalization;
    // 'g' = global replace (Spark's regexp_replace default).
    // Mirror: list shingles for the duplicate fractions, a windowed mode
    // pick (cnt DESC, gram DESC — the max_by (cnt, gram) order) for the
    // top 2-gram; all fractions on unrounded doubles, rounded at the edge.
    "q93_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, text, toks,
        |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS g2,
        |    list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
        |  FROM tok),
        |cnts AS (
        |  SELECT doc_id, sh, COUNT(*) AS cnt
        |  FROM (SELECT doc_id, unnest(g2) AS sh FROM g) GROUP BY 1, 2),
        |top AS (
        |  SELECT doc_id, sh AS top_2gram, cnt AS top_2gram_count FROM cnts
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, sh DESC) = 1),
        |f AS (
        |  SELECT g.doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |    CASE WHEN len(g2) = 0 THEN 0.0
        |      ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) END AS dup2,
        |    CASE WHEN len(g3) = 0 THEN 0.0
        |      ELSE CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) END AS dup3,
        |    t.top_2gram, t.top_2gram_count,
        |    CASE WHEN len(text) = 0 THEN NULL
        |      ELSE CAST(len(t.top_2gram) * t.top_2gram_count AS DOUBLE) / len(text)
        |    END AS tcf
        |  FROM g LEFT JOIN top t ON g.doc_id = t.doc_id)
        |SELECT doc_id, n_tokens,
        |  ROUND(dup2, 6) AS dup_2gram_frac, ROUND(dup3, 6) AS dup_3gram_frac,
        |  top_2gram, top_2gram_count, ROUND(tcf, 6) AS top_char_frac,
        |  (COALESCE(tcf, 0.0) <= 0.2 AND dup3 <= 0.6) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    // Mirrors the pipeline stage-for-stage: normalize (q82's regex chain),
    // tokenize (split on the collapsed single spaces), slice the eval
    // snippets, shingle both sides with 8-grams, join, count distinct.
    // COUNT of a DISTINCT set is BIGINT on both engines.
    "q87_decontaminate" ->
      """WITH norm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[^\p{L}\p{Nd}\s]+', ' ', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS toks
        |  FROM norm),
        |bench AS (
        |  SELECT DISTINCT array_to_string(bt[i:i+7], ' ') AS sh
        |  FROM (SELECT toks[5:24] AS bt FROM tok WHERE doc_id % 10 = 0) b,
        |    UNNEST(generate_series(1, len(bt) - 7)) AS t(i)),
        |docsh AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS sh
        |  FROM tok, UNNEST(generate_series(1, len(toks) - 7)) AS t(i))
        |SELECT doc_id, COUNT(*) AS matched_shingles
        |FROM docsh JOIN bench USING (sh)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q82_normalize_dedup" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    upper(substring(text, 1, 40)) || ' ,,  !! ' || text || '  ...  ' AS messy,
        |    lower(substring(text, 1, 40)) || ' ' || text AS expect
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, expect,
        |    trim(regexp_replace(regexp_replace(lower(messy),
        |      '[^\p{L}\p{Nd}\s]+', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
        |  FROM m)
        |SELECT doc_id, norm_text, md5(norm_text) AS norm_sig,
        |  norm_text = expect AS recovers_original
        |FROM n ORDER BY doc_id""".stripMargin,

    // Same injected PII, DuckDB's RE2 doing the scrubbing.
    "q83_redact_pii" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com visit https://ex.io/p/' || CAST(doc_id AS VARCHAR) ||
        |    '?id=99887766554 call ' ||
        |    CAST(doc_id * 1000000 + 7654321 AS VARCHAR) || ' - ' || text AS dirty
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, dirty,
        |    regexp_replace(regexp_replace(regexp_replace(dirty,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |      '[0-9]{7,}', '<NUM>', 'g') AS clean_text
        |  FROM d)
        |SELECT doc_id, clean_text,
        |  length(dirty) - length(clean_text) AS removed_chars
        |FROM r ORDER BY doc_id""".stripMargin,

    "q30_dedup_exact" ->
      """SELECT lang, source, COUNT(*) AS docs,
        | COUNT(DISTINCT text) AS uniq_texts, COUNT(DISTINCT md5(text)) AS uniq_md5
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q31_doc_stats" ->
      """SELECT doc_id, LENGTH(text) AS text_len,
        | len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens,
        | len(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS uniq_tokens,
        | n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q32_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
        |    text
        |  FROM documents)
        |SELECT doc_id, len(toks) AS n_tokens,
        | len(list_filter(toks, x -> list_contains(
        |   ['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','at','by','it','this','that'],
        |   lower(x)))) AS stopword_cnt,
        | CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
        | -- all-DOUBLE arithmetic in Spark's evaluation order, so the sum's
        | -- floating-point bits match exactly (decimal literals would not)
        | (CASE WHEN len(toks) BETWEEN 5 AND 10000
        |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
        | + (CASE WHEN CAST(len(list_filter(toks, x -> list_contains(
        |     ['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','at','by','it','this','that'],
        |     lower(x)))) AS DOUBLE) / len(toks) > 0.01
        |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
        | + (CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.2
        |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
        | + (CASE WHEN CAST(length(text) AS DOUBLE) / len(toks) BETWEEN 2.0 AND 12.0
        |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
        |   AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    // gates the multimodal PLUMBING outputs (batch shape, byte counts,
    // sniffed format); the stub feature values themselves are not compared.
    // The sniff CASE mirrors ImageMetaExpr for the prefixes text CAN carry
    // (ASCII 'GIF8'/'BM'; PNG's 0x89 and JPEG's 0xFF are not valid UTF-8
    // lead bytes, so text never sniffs as those).
    "q38_multimodal_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        | 'image' AS modality,
        | CAST(strlen(text) AS BIGINT) AS n_bytes,
        | CAST(16 AS INT) AS feature_dim,
        | CASE WHEN text LIKE 'GIF8%' AND strlen(text) >= 10 THEN 'gif'
        |      WHEN text LIKE 'BM%' AND strlen(text) >= 26 THEN 'bmp'
        |      ELSE 'unknown' END AS sniffed
        |FROM documents ORDER BY media_id""".stripMargin,

    // Composes the proven q37 (langid) + q32 (quality) fragments verbatim,
    // then the q30-style dedup as a QUALIFY, then decimal-exact card stats.
    "q39_corpus_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ltoks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang, text, toks,
        |    len(list_filter(ltoks, x -> list_contains(
        |      ['the','and','of','to','in','is','that','it','was','for'], x))) AS h_en,
        |    len(list_filter(ltoks, x -> list_contains(
        |      ['der','die','das','und','ist','nicht','ein','mit','auf','für'], x))) AS h_de,
        |    len(list_filter(ltoks, x -> list_contains(
        |      ['el','la','los','las','es','y','que','en','un','una'], x))) AS h_es,
        |    len(list_filter(ltoks, x -> list_contains(
        |      ['le','la','les','et','est','que','un','une','dans','pour'], x))) AS h_fr,
        |    (length(text) - length(replace(text, '的', ''))) +
        |    (length(text) - length(replace(text, '是', ''))) +
        |    (length(text) - length(replace(text, '了', ''))) +
        |    (length(text) - length(replace(text, '在', ''))) +
        |    (length(text) - length(replace(text, '我', ''))) +
        |    (length(text) - length(replace(text, '有', ''))) +
        |    (length(text) - length(replace(text, '和', ''))) +
        |    (length(text) - length(replace(text, '不', ''))) +
        |    (length(text) - length(replace(text, '这', ''))) +
        |    (length(text) - length(replace(text, '他', ''))) AS h_zh
        |  FROM t),
        |scored AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN text IS NULL THEN 'und'
        |         WHEN greatest(h_en, h_de, h_es, h_fr, h_zh) = 0 THEN 'und'
        |         WHEN h_zh = greatest(h_en, h_de, h_es, h_fr, h_zh) THEN 'zh'
        |         WHEN h_fr = greatest(h_en, h_de, h_es, h_fr) THEN 'fr'
        |         WHEN h_es = greatest(h_en, h_de, h_es) THEN 'es'
        |         WHEN h_en = greatest(h_en, h_de) THEN 'en'
        |         ELSE 'de' END AS lang_pred,
        |    len(toks) AS n_tokens,
        |    (CASE WHEN len(toks) BETWEEN 5 AND 10000
        |          THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
        |    + (CASE WHEN CAST(len(list_filter(toks, x -> list_contains(
        |        ['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','at','by','it','this','that'],
        |        lower(x)))) AS DOUBLE) / len(toks) > 0.01
        |          THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
        |    + (CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.2
        |          THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
        |    + (CASE WHEN CAST(length(text) AS DOUBLE) / len(toks) BETWEEN 2.0 AND 12.0
        |          THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
        |      AS quality
        |  FROM h),
        |kept AS (
        |  SELECT * FROM scored
        |  WHERE quality >= CAST(0.6 AS DOUBLE) AND n_tokens >= 5 AND lang_pred <> 'und'),
        |dedup AS (
        |  SELECT * FROM kept
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1)
        |SELECT lang, lang_pred, COUNT(*) AS kept_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
        |FROM dedup GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q37_langid" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, text,
        |    len(list_filter(toks, x -> list_contains(
        |      ['the','and','of','to','in','is','that','it','was','for'], x))) AS h_en,
        |    len(list_filter(toks, x -> list_contains(
        |      ['der','die','das','und','ist','nicht','ein','mit','auf','für'], x))) AS h_de,
        |    len(list_filter(toks, x -> list_contains(
        |      ['el','la','los','las','es','y','que','en','un','una'], x))) AS h_es,
        |    len(list_filter(toks, x -> list_contains(
        |      ['le','la','les','et','est','que','un','une','dans','pour'], x))) AS h_fr,
        |    (length(text) - length(replace(text, '的', ''))) +
        |    (length(text) - length(replace(text, '是', ''))) +
        |    (length(text) - length(replace(text, '了', ''))) +
        |    (length(text) - length(replace(text, '在', ''))) +
        |    (length(text) - length(replace(text, '我', ''))) +
        |    (length(text) - length(replace(text, '有', ''))) +
        |    (length(text) - length(replace(text, '和', ''))) +
        |    (length(text) - length(replace(text, '不', ''))) +
        |    (length(text) - length(replace(text, '这', ''))) +
        |    (length(text) - length(replace(text, '他', ''))) AS h_zh
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL THEN 'und'
        |       WHEN greatest(h_en, h_de, h_es, h_fr, h_zh) = 0 THEN 'und'
        |       WHEN h_zh = greatest(h_en, h_de, h_es, h_fr, h_zh) THEN 'zh'
        |       WHEN h_fr = greatest(h_en, h_de, h_es, h_fr) THEN 'fr'
        |       WHEN h_es = greatest(h_en, h_de, h_es) THEN 'es'
        |       WHEN h_en = greatest(h_en, h_de) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin,

    "q46_bpeish_tokens" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish,
        | len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS uniq_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q33_fingerprint" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS h
        |  FROM tok, UNNEST(generate_series(1, len(toks) - 2)) AS t(i))
        |SELECT doc_id, MIN(h) AS fp FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q178: the md5-family MinHash+LSH replay, stage for stage — distinct
    // 3-shingles, 64 per-seed MIN(md5) lanes, 16 band keys from md5 of
    // the '|'-joined 4-lane slice, bucket self-join, pair dedup,
    // agreement/64 ≥ 0.4. est_jaccard = k/64 is binary-exact in DOUBLE,
    // so the hash compare is safe.
    "q178_minhash_md5" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
        |  FROM tok, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)),
        |hx AS (
        |  SELECT doc_id, j, MIN(substr(md5(CAST(j AS VARCHAR) || ':' || sh), 1, 16)) AS h
        |  FROM sh, UNNEST(generate_series(0, 63)) AS tj(j)
        |  GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, list(h ORDER BY j) AS sig FROM hx GROUP BY doc_id),
        |bk AS (
        |  SELECT doc_id, b, md5(array_to_string(sig[b*4+1 : b*4+4], '|')) AS h
        |  FROM sig, UNNEST(generate_series(0, 15)) AS tb(b)),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM bk x JOIN bk y ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id),
        |est AS (
        |  SELECT id_a, id_b,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 64.0 AS est_jaccard
        |  FROM pairs JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // q179: the md5-family SimHash replay — per-token 64 md5 bits (MSB
    // first: nibble = strpos in the hex alphabet, bit = MSB-first divisor
    // then parity), occurrence-weighted ±1 votes summed per (doc, bit),
    // '1' iff sum > 0, 4 disjoint 16-bit chunks, chunk self-join, exact
    // Hamming ≤ 3 on the bit strings.
    "q179_simhash_md5" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |pv AS (
        |  SELECT doc_id, p,
        |    SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(t), 1 + (p-1)//4, 1)) - 1)
        |              // CASE (p-1)%4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END % 2 = 1
        |        THEN 1 ELSE -1 END) AS s
        |  FROM tok, UNNEST(generate_series(1, 64)) AS tp(p)
        |  GROUP BY doc_id, p),
        |sh AS (
        |  SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sh
        |  FROM pv GROUP BY doc_id),
        |ck AS (
        |  SELECT doc_id, sh, c, substr(sh, c*16 + 1, 16) AS cv
        |  FROM sh, UNNEST(generate_series(0, 3)) AS tc(c)),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.sh AS sh_a, y.sh AS sh_b
        |  FROM ck x JOIN ck y ON x.c = y.c AND x.cv = y.cv AND x.doc_id < y.doc_id),
        |ham AS (
        |  SELECT id_a, id_b,
        |    CAST(list_sum(list_transform(generate_series(1, 64),
        |      i -> CASE WHEN substr(sh_a, i, 1) <> substr(sh_b, i, 1) THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        |  FROM pairs)
        |SELECT id_a, id_b, hamming FROM ham
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,

    "q34_ngram_jaccard" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
        |  FROM tok, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)),
        |sh AS (
        |  SELECT doc_id, sh FROM sh0
        |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= 50),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_b, id_a, inter,
        |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin
  )
}
