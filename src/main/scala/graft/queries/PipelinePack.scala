package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.dedup.{Cluster, Dedup}
import graft.text.{Curation, Importance, TextFunctions}

/** Declared queries for dataset-curation operators — the steps between
  * "scored corpus" and "training shards": deterministic splits, corpus
  * mixing, context-window chunking, sequence packing, duplicate-cluster
  * resolution, and per-group quality curation. Every query here is
  * oracle-gated: the operators are hash-deterministic by construction
  * (md5 buckets, total-order windows, min-label components), so DuckDB
  * can mirror them exactly.
  */
object PipelinePack {

  type Q = (SparkSession, String) => DataFrame

  // q32's exact quality expression, reused by the q62 oracle (the DuckDB
  // mirror of TextFunctions.qualityScoreFromTokens — all-DOUBLE arithmetic
  // in Spark's evaluation order so the float bits match)
  private val qualitySql =
    """(CASE WHEN len(toks) BETWEEN 5 AND 10000
      |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
      |+ (CASE WHEN CAST(len(list_filter(toks, x -> list_contains(
      |    ['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','at','by','it','this','that'],
      |    lower(x)))) AS DOUBLE) / len(toks) > 0.01
      |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
      |+ (CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.2
      |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
      |+ (CASE WHEN CAST(length(text) AS DOUBLE) / len(toks) BETWEEN 2.0 AND 12.0
      |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)""".stripMargin

  val queries: Map[String, Q] = Map(
    // Deterministic train/val/test split (12/2/2 sixteenths by md5 bucket)
    // with the per-split dataset card. Membership is a function of doc_id
    // alone — re-runs and engine changes cannot leak rows across splits.
    "q27_dataset_split" -> { (s, dir) =>
      Tables(s, dir).documents
        .select(Curation.assignSplit(col("doc_id"), salt = ":split").as("split"),
          col("lang"), col("n_chars"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .orderBy("split", "lang")
    },

    // Context-window chunking: 200-char windows every 150 chars (50-char
    // overlap). Emits stable per-document window ids and the chunk md5 —
    // the downstream shard-writer's dedup key.
    "q28_doc_chunks" -> { (s, dir) =>
      Curation.chunk(Tables(s, dir).documents, "text", "doc_id",
          size = 200, stride = 150)
        .select(col("doc_id"), col("chunk_id"),
          length(col("chunk")).as("chunk_len"), md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },

    // Sequence packing: per-language shards, documents in doc_id order
    // packed into ≈2048-token bins; per-bin fill stats.
    "q29_pack_sequences" -> { (s, dir) =>
      val base = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"), size(col("toks")).as("n_tokens"))
      Curation.packGreedy(base, "lang", "doc_id", "n_tokens", capacity = 2048)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens").cast(LongType)).as("bin_tokens"))
        .orderBy("lang", "bin")
    },

    // Corpus TF-IDF scoring in exact integer arithmetic (reciprocal-df
    // weights, Curation.tfIdfScore): the canonical distributed shape —
    // token df aggregate, token-keyed join back, doc-keyed weighted sum.
    "q100_tfidf" -> { (s, dir) =>
      Curation.tfIdfScore(Tables(s, dir).documents, "doc_id", "text")
        .orderBy("doc_id")
    },

    // DSIR data selection, exact integer anchor (Importance.featureHits):
    // per-document summed corpus frequencies of its unigram+bigram
    // features in the target corpus (lang='en') and the raw corpus —
    // pins the featurization + counting machinery the hashed scoring
    // path reuses, in pure integers DuckDB mirrors exactly.
    "q123_dsir_hits" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Importance.featureHits(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text")
        .select(col("doc_id"), col("n_feats"), col("tgt_hits"), col("raw_hits"))
        .orderBy("doc_id")
    },

    // Real BPE token counting (Bpe.train on the corpus word-frequency
    // table + the bpeEncode expression): per-document piece counts under
    // 40 learned merges next to the whitespace/char baselines (40 lands
    // mid-fusion on the testdata's small vocabulary — 100 merges fuse
    // every word whole and the count collapses to the word count). Training
    // is deterministic (lexicographic tie-breaks, (count,word) vocab
    // cut); rows-only in the gate at this 40-merge depth, with the SAME
    // train+encode path hash-gated exactly by q177_bpe_exact's 5-merge
    // DuckDB replay (unrolled training rounds + recursive-CTE apply);
    // BpeSpec additionally pins the classic-example merges, rank-order
    // application, reconstruction, and monotonicity.
    "q125_bpe_encode" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val merges = graft.text.Bpe.train(docs, "text", numMerges = 40)
      docs.select(col("doc_id"),
          graft.text.Bpe.tokenCount(col("text"), merges).as("n_bpe"),
          size(split(col("text"), " ")).as("n_ws_tokens"),
          length(regexp_replace(col("text"), " ", "")).as("n_chars"))
        .orderBy("doc_id")
    },

    // The exact-oracle twin of q125: the SAME production train + encode
    // path (Bpe.train driver loop, Bpe.bpeEncode greedy apply) under a
    // 5-merge budget DuckDB replays move-for-move — unrolled training
    // rounds (weighted pair counts → (cnt DESC, a, b) argmax → fuse pass)
    // and a recursive-CTE apply loop whose fuse pass is a left-to-right
    // list_reduce fold, provably identical to the Scala pass (a fused
    // symbol a+b can never equal a, so fold-compare-last is the greedy
    // scan). Hash-gates pieces AND counts, so the encode path — not just
    // q102's pair counting — is oracle-proven.
    "q177_bpe_exact" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val merges = graft.text.Bpe.train(docs, "text", numMerges = 5)
      docs
        .withColumn("p", graft.text.Bpe.encode(col("text"), merges))
        .select(col("doc_id"), size(col("p")).as("n_bpe"),
          array_join(col("p"), "|").as("pieces"))
        .orderBy("doc_id")
    },

    // DSIR production path: hashed-ngram importance scores (8192 buckets,
    // α=0.5) + deterministic Gumbel-top-k resample of 100 docs. Float
    // log-weights have no stable cross-engine bit pattern (rows-only in
    // the gate); ImportanceSpec pins determinism, target-affinity, and
    // the hashed/exact agreement property.
    "q124_dsir_select" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val scored = Importance.dsirScores(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text")
      Importance.resampleTopK(scored, "doc_id", "dsir_score", 100, seed = 7L)
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("dsir_score"), 4).as("score_r4"))
        .orderBy("doc_id")
    },

    // Exact-feature DSIR log weights (Importance.dsirScoresExact): the
    // no-hash twin of q124's production path — add-α ratios over the
    // exact feature vocabulary, document weight = Σ ratios. Pure SQL
    // shape (feature joins + one log per side in a fixed expression
    // tree), so the float model math the hashed path shares HASH-GATES
    // here at 1e-6 rounding.
    "q161_dsir_exact" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Importance.dsirScoresExact(docs,
          docs.filter(col("lang") === "en"), "doc_id", "text")
        .select(col("doc_id"), col("n_feats"),
          round(col("dsir_lw"), 6).as("lw_r6"))
        .orderBy("doc_id")
    },

    // The REMOVAL half of span dedup (Dedup.trimDuplicatedSpans — Lee et
    // al.'s keep-one-occurrence policy): each duplicated 5-token window
    // survives only at its lowest-(doc, pos) home; every other occurrence's
    // positions drop and the text rebuilds from the survivors. The exact
    // cleaned strings hash-gate.
    "q134_trim_spans" -> { (s, dir) =>
      Dedup.trimDuplicatedSpans(Tables(s, dir).documents, "text", "doc_id",
          k = 5, minCount = 2)
        .orderBy("doc_id")
    },

    // CCNet-style perplexity quality scoring (LangModel): an add-α bigram
    // LM trained on the en slice scores every document; per-doc mean NLL
    // and perplexity. Join-based exact scoring (the KenLM role) — the
    // broadcast-hash twin is q124's DSIR path. Hash-gated at 1e-6/1e-4
    // rounding (cross-libm ln/exp ulp differences are ~1e-12 relative,
    // orders below the anchor); LangModelSpec additionally pins the
    // hand-computed model and the separation property.
    "q130_perplexity" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val (bg, cx, v) = graft.text.LangModel.train(
        docs.filter(col("lang") === "en"), "text")
      graft.text.LangModel.score(docs, "doc_id", "text", bg, cx, v)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("nll"), 6).as("nll_r6"), round(col("ppl"), 4).as("ppl_r4"))
        .orderBy("doc_id")
    },

    // Corpus-adaptive stopword removal: tokens in >78% of all documents
    // (39/50 — chosen to split the testdata's df spectrum so both kept
    // and dropped tokens are exercised) drop from every document; the
    // cleaned text keeps token order.
    "q101_stopword_clean" -> { (s, dir) =>
      Curation.removeCorpusStopwords(Tables(s, dir).documents,
          "doc_id", "text", maxDfNum = 39, maxDfDen = 50)
        .select(col("doc_id"), col("lang"), col("cleaned"),
          length(col("cleaned")).as("clean_chars"))
        .orderBy("doc_id")
    },

    // Token-budget corpus selection (Curation.selectByTokenBudget): the
    // best docs by (quality DESC, doc_id) until an 8k-token budget is
    // spent — bucket-granular verdicts, doc-level resolution only inside
    // the one boundary tie-class.
    "q104_token_budget" -> { (s, dir) =>
      val scored = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("text"),
          TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"),
          size(col("toks")).as("n_tokens"),
          TextFunctions.qualityScoreFromTokens(col("toks"), col("text")).as("quality"))
        .filter(col("n_tokens") > 0)
      Curation.selectByTokenBudget(scored, "doc_id", "quality", "n_tokens",
          budget = 8000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
        .orderBy("doc_id")
    },

    // BPE merge-candidate table: corpus-wide adjacent-token-pair counts
    // (Curation.tokenPairCounts), top-50 under a total (cnt, pair) order —
    // the first round of byte-pair-encoding tokenizer training as one
    // aggregate. TakeOrdered tail, no global sort.
    "q102_bpe_pairs" -> { (s, dir) =>
      Curation.tokenPairCounts(Tables(s, dir).documents, "text")
        .orderBy(col("cnt").desc, col("tok_a"), col("tok_b"))
        .limit(50)
    },

    // Duplicate-cluster resolution: q34's exact near-dup pairs → connected
    // components (min-label propagation + pointer jumping) → one canonical
    // doc per cluster. The step pairwise dedup output actually needs: a~b,
    // b~c must drop TWO of {a,b,c}, which pair-at-a-time filtering misses.
    "q49_dup_clusters" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleSize = 3, threshold = 0.2, maxShingleDf = 50)
      val cc = Cluster.connectedComponents(pairs, "id_a", "id_b")
      docs.select(col("doc_id"))
        .join(cc.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("comp"), col("doc_id")))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .withColumn("keep", col("doc_id") === col("cluster_id"))
        .select("doc_id", "cluster_id", "cluster_size", "keep")
        .orderBy("doc_id")
    },

    // Weighted corpus mixing: rebalance the en-heavy corpus by keeping en
    // at 64/256 deterministically, everything else in full. Filter-only —
    // no shuffle until the card aggregation.
    "q61_corpus_mix" -> { (s, dir) =>
      Tables(s, dir).documents
        .filter(col("lang") =!= "en" ||
          Curation.sampleDeterministic(col("doc_id"), lit(64), salt = ":mix"))
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    },

    // Temperature-flattened mixing (Curation.temperatureMix, α = 0.5):
    // over-represented languages are downsampled toward ∝ sqrt(n) shares
    // of a 250-doc target — en keeps ~35% of its rows, fr ~65%. The
    // EXACT selected membership is hash-gated: sqrt is IEEE-correctly-
    // rounded on every engine and the weight total sums as DECIMAL, so
    // the oracle reproduces each keep-rate bit-for-bit.
    "q108_temperature_mix" -> { (s, dir) =>
      Curation.temperatureMix(Tables(s, dir).documents, "lang", "doc_id",
          targetTotal = 250, alpha = 0.5, salt = ":temp")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // Duplicated-span detection (Dedup.duplicatedSpans — Lee et al. 2022
    // ExactSubstr dedup in its window-fingerprint form): 5-token windows
    // occurring ≥2 times corpus-wide mark their positions duplicated;
    // per-doc covered-token counts (interval union) drive the
    // drop-or-trim verdict at 50%. On this corpus: 71 docs carry some
    // duplication, 47 cross the drop line, 24 are partial — all three
    // verdict classes exercised.
    "q126_dup_spans" -> { (s, dir) =>
      Dedup.duplicatedSpans(Tables(s, dir).documents, "text", "doc_id",
          k = 5, minCount = 2, maxDupFrac = 0.5)
        .orderBy("doc_id")
    },

    // Stratified quota sampling: cap every source at 10 docs, drawn by
    // the deterministic md5 order (Curation.stratifiedSample — bounded-
    // heap per-group selection, not a window funnel). Both engines rank
    // by the same 13-hex-digit md5 prefix, so the exact sampled set is
    // hash-gated.
    "q89_stratified_sample" -> { (s, dir) =>
      Curation.stratifiedSample(Tables(s, dir).documents, Seq("source"), "doc_id",
          quota = 10, salt = ":strat")
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // Per-language quality curation: top-5 docs by quality score via the
    // bounded-heap topk_by_score aggregate — every partition reduces to ≤ k
    // rows per group BEFORE the shuffle (the scale-safe form of the
    // row_number-window top-k; ties broken by lowest doc_id, so the result
    // is total-order deterministic).
    "q62_quality_topk" -> { (s, dir) =>
      val scored = graft.engine.Warehouse
        .spreadForCompute(Tables(s, dir).documents, "doc_id")
        .select(col("doc_id"), col("lang"), col("text"),
          TextFunctions.tokens(col("text")).as("toks"))
        .select(col("lang"),
          struct(
            TextFunctions.qualityScoreFromTokens(col("toks"), col("text")).as("score"),
            col("doc_id").cast(LongType).as("id")).as("si"))
      scored.groupBy("lang")
        .agg(graft.functions.TopK.topk_by_score(col("si"), 5).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).as("rk"),
          col("col.id").as("doc_id"), col("col.score").as("quality"))
        .orderBy("lang", "rk")
    }
  )

  // ---- q177's DuckDB BPE replay -------------------------------------
  // Symbol sequences ride as chr(31)-delimited strings with leading and
  // trailing delimiters, so substring containment of  ␟a␟b␟  is EXACT
  // adjacent-pair presence (symbols never contain the delimiter). One
  // fuse pass = left-to-right fold: fuse when the accumulator ends with
  // ␟a and the next symbol is b — equivalent to Bpe.applyMerges' scan
  // because a fused symbol a+b can never equal a (b is nonempty), so a
  // fresh fusion is never re-consumed within the pass.
  private def bpeFuse(s: String, a: String, b: String): String =
    s"""(list_reduce(list_prepend(chr(1), list_filter(string_split($s, chr(31)), z -> z <> '')),
       |    (acc, x) -> CASE WHEN x = $b AND ends_with(acc, chr(31) || $a)
       |      THEN left(acc, length(acc) - length($a) - 1) || chr(31) || $a || $b
       |      ELSE acc || chr(31) || x END)[2:] || chr(31))""".stripMargin
  private def bpeHasPair(s: String, a: String, b: String): String =
    s"contains($s, chr(31) || $a || chr(31) || $b || chr(31))"

  /** Train(5 merges) + encode, replayed exactly: unrolled rounds of
    * weighted pair counts over the word-frequency dictionary, the
    * (cnt DESC, a, b) argmax, and the dictionary fuse pass; then the
    * apply loop as a recursive CTE (lowest-rank pair present → one fuse
    * pass → repeat) — Bpe.train/applyMerges move-for-move.
    */
  private val bpeOracleSql: String = {
    val numMerges = 5
    val syms = "(chr(31) || array_to_string(list_concat(" +
      "chars[1:len(chars)-1], [chars[len(chars)] || '</w>']), chr(31)) || chr(31))"
    val head =
      s"""WITH RECURSIVE words_all AS (
         |  SELECT w, count(*) AS cnt FROM (
         |    SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w
         |    FROM documents) GROUP BY w),
         |words AS (
         |  SELECT w, cnt FROM words_all ORDER BY cnt DESC, w LIMIT 50000),
         |vocab0 AS (
         |  SELECT w, cnt, $syms AS s
         |  FROM (SELECT w, cnt, string_split_regex(w, '') AS chars FROM words)),
         |allw AS (
         |  SELECT w, $syms AS s
         |  FROM (SELECT w, string_split_regex(w, '') AS chars FROM words_all))""".stripMargin
    val rounds = (0 until numMerges).map { k =>
      s"""pairs$k AS (
         |  SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt) AS pc
         |  FROM (SELECT cnt, list_filter(string_split(s, chr(31)), z -> z <> '') AS syms
         |        FROM vocab$k),
         |       unnest(range(1, len(syms))) AS u(i)
         |  GROUP BY 1, 2),
         |best$k AS (SELECT a, b FROM pairs$k ORDER BY pc DESC, a, b LIMIT 1),
         |vocab${k + 1} AS (
         |  SELECT v.w, v.cnt, ${bpeFuse("v.s", "m.a", "m.b")} AS s
         |  FROM vocab$k v CROSS JOIN best$k m)""".stripMargin
    }
    val mergesCte = "merges AS (" + (0 until numMerges)
      .map(k => s"SELECT $k AS rank, a, b FROM best$k")
      .mkString(" UNION ALL ") + ")"
    // encode seeds from ALL corpus words (allw), not the LIMIT-capped
    // training dictionary — Bpe.encode applies merges to every word, so
    // above 50k distinct words the two sets differ and a vocab0 seed
    // would silently drop out-of-dictionary words from the oracle
    val encode =
      s"""enc(w, s) AS (
         |  SELECT w, s FROM allw
         |  UNION ALL
         |  SELECT e.w, ${bpeFuse("e.s", "m.a", "m.b")}
         |  FROM (SELECT w, s,
         |          (SELECT min(rank) FROM merges mm
         |           WHERE ${bpeHasPair("s", "mm.a", "mm.b")}) AS r
         |        FROM enc) e
         |  JOIN merges m ON m.rank = e.r),
         |final AS (
         |  SELECT w, s FROM enc
         |  WHERE (SELECT min(rank) FROM merges mm
         |         WHERE ${bpeHasPair("s", "mm.a", "mm.b")}) IS NULL),
         |wcount AS (
         |  SELECT w, len(list_filter(string_split(s, chr(31)), z -> z <> '')) AS np,
         |         array_to_string(list_filter(string_split(s, chr(31)), z -> z <> ''), '|') AS pieces
         |  FROM final),
         |docw AS (
         |  SELECT doc_id, ws[pos] AS w, pos FROM (
         |    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
         |    FROM documents),
         |    unnest(generate_series(1, len(ws))) AS u(pos))""".stripMargin
    val tail =
      """SELECT d.doc_id,
        |  CAST(COALESCE(agg.n_bpe, 0) AS INT) AS n_bpe,
        |  COALESCE(agg.pieces, '') AS pieces
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, SUM(wc.np) AS n_bpe,
        |         string_agg(wc.pieces, '|' ORDER BY dw.pos) AS pieces
        |  FROM docw dw JOIN wcount wc ON wc.w = dw.w
        |  GROUP BY doc_id) agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    (Seq(head) ++ rounds ++ Seq(mergesCte, encode)).mkString(",\n") + "\n" + tail
  }

  val oracle: Map[String, String] = Map(
    "q177_bpe_exact" -> bpeOracleSql,
    "q27_dataset_split" ->
      """WITH s AS (
        |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 1)
        |                   BETWEEN '0' AND '9'
        |              OR substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 1) IN ('a','b')
        |              THEN 'train'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 1) IN ('c','d')
        |              THEN 'val'
        |              ELSE 'test' END AS split,
        |         lang, n_chars
        |  FROM documents)
        |SELECT split, lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q28_doc_chunks" ->
      """SELECT doc_id, i AS chunk_id,
        |  length(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS chunk_len,
        |  md5(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS chunk_md5
        |FROM documents,
        |  UNNEST(generate_series(0, CAST(floor((length(text) - 1) / 150) AS BIGINT))) t(i)
        |WHERE length(text) > 0
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q29_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT lang, n_tokens,
        |    (CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT)
        |      - n_tokens) // 2048 AS bin
        |  FROM t)
        |SELECT lang, bin, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same integer TF-IDF: df over per-doc distinct tokens, reciprocal
    // weights via integer division (// floors like Spark's div on
    // positives), BIGINT sums — exact under any summation order.
    "q100_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, t.tok
        |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
        |  WHERE length(t.tok) > 0),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id,
        |       CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       CAST(sum(tf * ((n_docs * 1000000) // df)) AS BIGINT) AS score_scaled
        |FROM tf JOIN dft USING (tok), n
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // the bigram-LM mirror: \s+ regex tokens (LangModel splits on \s+,
    // unlike the DSIR space-split), en-slice bigram/context counts +
    // distinct-token vocab, per-doc mean of -ln((c2+α)/(c1+α(V+1))),
    // ppl = exp(mean); 1e-6/1e-4 rounding absorbs cross-libm ulps
    "q130_perplexity" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split_regex(text, '\s+'),
        |                     x -> length(x) > 0) AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, lang, t,
        |         unnest(generate_series(1, len(t) - 1)) AS i
        |  FROM tk WHERE len(t) >= 2),
        |pairs AS (
        |  SELECT doc_id, lang, t[CAST(i AS INT)] AS ctx,
        |         t[CAST(i AS INT) + 1] AS nxt
        |  FROM idx),
        |big AS (
        |  SELECT ctx, nxt, count(*) AS c2 FROM pairs
        |  WHERE lang = 'en' GROUP BY 1, 2),
        |ctxc AS (
        |  SELECT ctx, count(*) AS c1 FROM pairs WHERE lang = 'en' GROUP BY 1),
        |voc AS (
        |  SELECT count(DISTINCT w) AS v
        |  FROM (SELECT unnest(t) AS w FROM tk WHERE lang = 'en') q),
        |sc AS (
        |  SELECT p.doc_id, count(*) AS nb,
        |         sum(-ln((CAST(coalesce(b.c2, 0) AS DOUBLE) + 0.5) /
        |                 (CAST(coalesce(c.c1, 0) AS DOUBLE)
        |                  + 0.5 * (CAST(v AS DOUBLE) + 1.0)))) AS s
        |  FROM pairs p
        |  LEFT JOIN big b ON p.ctx = b.ctx AND p.nxt = b.nxt
        |  LEFT JOIN ctxc c ON p.ctx = c.ctx
        |  CROSS JOIN voc
        |  GROUP BY p.doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(sc.nb, 0) AS BIGINT) AS n_bigrams,
        |       ROUND(sc.s / CAST(sc.nb AS DOUBLE), 6) AS nll_r6,
        |       ROUND(EXP(sc.s / CAST(sc.nb AS DOUBLE)), 4) AS ppl_r4
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // exact-vocabulary DSIR: q123's feature multiset, full-outer count
    // join for the vocabulary, totals from the joined table, one ln per
    // side in the same cast-then-combine order as the Spark tree
    "q161_dsir_exact" ->
      """WITH u AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id,
        |         unnest(toks || list_transform(range(1, len(toks)),
        |                                       i -> toks[i] || '_' || toks[i+1])) AS f
        |  FROM u),
        |tgt AS (
        |  SELECT f, count(*) AS tc FROM feats
        |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
        |  GROUP BY f),
        |rawc AS (SELECT f, count(*) AS rc FROM feats GROUP BY f),
        |j AS (
        |  SELECT coalesce(t.f, r.f) AS f,
        |         coalesce(t.tc, 0) AS t, coalesce(r.rc, 0) AS r
        |  FROM tgt t FULL OUTER JOIN rawc r ON t.f = r.f),
        |tot AS (SELECT sum(t) AS tt, sum(r) AS rt, count(*) AS v FROM j),
        |lr AS (
        |  SELECT f,
        |         ln((CAST(t AS DOUBLE) + 0.5) /
        |            (CAST(tt AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
        |       - ln((CAST(r AS DOUBLE) + 0.5) /
        |            (CAST(rt AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))) AS lrv
        |  FROM j, tot),
        |sc AS (
        |  SELECT fe.doc_id, count(*) AS nf, sum(l.lrv) AS s
        |  FROM feats fe JOIN lr l ON fe.f = l.f GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(sc.nf, 0) AS BIGINT) AS n_feats,
        |       ROUND(sc.s, 6) AS lw_r6
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // features = unigrams ++ adjacent bigrams ('_'-joined); DuckDB's
    // 1-indexed list lambdas rebuild the same multiset, then the two
    // count tables join back per document feature occurrence.
    "q123_dsir_hits" ->
      """WITH u AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id,
        |         unnest(toks || list_transform(range(1, len(toks)),
        |                                       i -> toks[i] || '_' || toks[i+1])) AS f
        |  FROM u),
        |tgt AS (
        |  SELECT f, count(*) AS tgt_cnt FROM feats
        |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
        |  GROUP BY f),
        |rawc AS (SELECT f, count(*) AS raw_cnt FROM feats GROUP BY f)
        |SELECT fe.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_feats,
        |       CAST(sum(coalesce(t.tgt_cnt, 0)) AS BIGINT) AS tgt_hits,
        |       CAST(sum(r.raw_cnt) AS BIGINT) AS raw_hits
        |FROM feats fe
        |LEFT JOIN tgt t USING (f)
        |JOIN rawc r USING (f)
        |GROUP BY fe.doc_id
        |ORDER BY fe.doc_id""".stripMargin,

    // unnest + generate_subscripts keeps token positions, so the cleaned
    // string reassembles in original order; stoplist = tokens in >39/50
    // of docs by integer compare.
    "q101_stopword_clean" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |toks2 AS (SELECT * FROM toks WHERE length(tok) > 0),
        |dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks2 GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |stop AS (SELECT tok FROM dft, n WHERE df * 50 > n_docs * 39),
        |kept AS (
        |  SELECT doc_id, tok, pos FROM toks2
        |  WHERE tok NOT IN (SELECT tok FROM stop)),
        |clean AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |       COALESCE(c.cleaned, '') AS cleaned,
        |       CAST(length(COALESCE(c.cleaned, '')) AS INT) AS clean_chars
        |FROM documents d LEFT JOIN clean c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // the oracle is the direct formulation the bucket decomposition must
    // equal: one global cumulative sum over (quality DESC, doc_id), keep
    // while the running total BEFORE the doc is under budget.
    "q104_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, text,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, lang, CAST(len(toks) AS INT) AS n_tokens,
         |         $qualitySql AS quality
         |  FROM t WHERE len(toks) > 0),
         |o AS (
         |  SELECT *, COALESCE(SUM(n_tokens) OVER (
         |    ORDER BY quality DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM s)
         |SELECT doc_id, lang, n_tokens, quality
         |FROM o WHERE cum_before < 8000
         |ORDER BY doc_id""".stripMargin,

    // aligned twin unnests over shifted 1-based list slices reproduce the
    // zip_with pairing exactly; same total order at the top-50 cut.
    "q102_bpe_pairs" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS a FROM documents),
        |pairs AS (
        |  SELECT unnest(a[1:len(a)-1]) AS tok_a, unnest(a[2:len(a)]) AS tok_b
        |  FROM toks WHERE len(a) >= 2)
        |SELECT tok_a, tok_b, count(*) AS cnt
        |FROM pairs
        |WHERE length(tok_a) > 0 AND length(tok_b) > 0
        |GROUP BY 1, 2
        |ORDER BY cnt DESC, tok_a, tok_b
        |LIMIT 50""".stripMargin,

    // q34's pair CTE chain verbatim, then components as the transitive
    // closure's per-node minimum (recursive CTE — the oracle twin of the
    // distributed min-label loop).
    "q49_dup_clusters" ->
      """WITH RECURSIVE tok AS (
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
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, l) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.l FROM edges e JOIN reach r ON r.id = e.b),
        |comp AS (SELECT id, MIN(l) AS comp FROM reach GROUP BY id)
        |SELECT d.doc_id,
        |  COALESCE(c.comp, d.doc_id) AS cluster_id,
        |  COUNT(*) OVER (PARTITION BY COALESCE(c.comp, d.doc_id)) AS cluster_size,
        |  d.doc_id = COALESCE(c.comp, d.doc_id) AS keep
        |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |ORDER BY doc_id""".stripMargin,

    // 64/256 = first md5 hex byte < '40' (two fixed-width hex digits
    // compare lexicographically == numerically)
    "q61_corpus_mix" ->
      """SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE lang <> 'en'
        |   OR substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 2) < '40'
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // keep-rate mirror: identical expression order (w·T)/(tw·n), decimal
    // weight total, and the md5 byte compared against the rate's 2-digit
    // hex rendering (fixed-width lowercase hex orders like the integer).
    "q108_temperature_mix" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n,
        |        CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(38,9)) AS w FROM c),
        |t AS (SELECT SUM(w) AS tw FROM w),
        |r AS (SELECT lang,
        |        CAST(floor(least(1.0,
        |          CAST(w AS DOUBLE) * 250.0 / (CAST(tw AS DOUBLE) * CAST(n AS DOUBLE))
        |        ) * 256) AS INT) AS keep256
        |      FROM w, t)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN r USING (lang)
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':temp'), 1, 2)
        |      < printf('%02x', keep256)
        |ORDER BY d.doc_id""".stripMargin,

    // window fingerprints as md5 over the space-joined 5-token slice;
    // coverage = COUNT(DISTINCT position) over exploded spans — the same
    // interval-union the Spark side computes.
    "q126_dup_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM tok),
        |w AS (
        |  SELECT doc_id, i - 1 AS w_pos, md5(array_to_string(toks[i:i+4], ' ')) AS win
        |  FROM base, UNNEST(generate_series(1, n_tokens - 4)) t(i)
        |  WHERE n_tokens >= 5),
        |d AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
        |m AS (SELECT doc_id, w_pos FROM w WHERE win IN (SELECT win FROM d)),
        |pw AS (SELECT doc_id, COUNT(*) AS dup_windows FROM m GROUP BY doc_id),
        |cov AS (
        |  SELECT doc_id, COUNT(DISTINCT t) AS dup_tokens
        |  FROM m, UNNEST(generate_series(w_pos, w_pos + 4)) s(t)
        |  GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(b.n_tokens AS INT) AS n_tokens,
        |  CAST(COALESCE(pw.dup_windows, 0) AS BIGINT) AS dup_windows,
        |  CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE) / b.n_tokens AS dup_frac,
        |  (CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE) / b.n_tokens) < 0.5 AS keep
        |FROM base b
        |LEFT JOIN pw USING (doc_id)
        |LEFT JOIN cov USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    // winner election mirrors as ROW_NUMBER-1 over (doc, pos); removal =
    // 0-based loser-window positions against 1-based token subscripts;
    // reassembly is q101's ordered string_agg.
    "q134_trim_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM tok),
        |w AS (
        |  SELECT doc_id, i - 1 AS w_pos, md5(array_to_string(toks[i:i+4], ' ')) AS win
        |  FROM base, UNNEST(generate_series(1, n_tokens - 4)) t(i)
        |  WHERE n_tokens >= 5),
        |m AS (
        |  SELECT doc_id, w_pos,
        |         COUNT(*) OVER (PARTITION BY win) AS cnt,
        |         ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, w_pos) AS rn
        |  FROM w),
        |losers AS (SELECT doc_id, w_pos FROM m WHERE cnt >= 2 AND rn > 1),
        |drop0 AS (
        |  SELECT DISTINCT doc_id, t
        |  FROM losers, UNNEST(generate_series(w_pos, w_pos + 4)) s(t)),
        |tokpos AS (
        |  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
        |  FROM base),
        |kept AS (
        |  SELECT tp.doc_id, tp.tok, tp.pos
        |  FROM tokpos tp
        |  LEFT JOIN drop0 d ON d.doc_id = tp.doc_id AND d.t = tp.pos - 1
        |  WHERE d.doc_id IS NULL),
        |clean AS (
        |  SELECT doc_id, COUNT(*) AS kept_tokens,
        |         string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |  FROM kept GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(b.n_tokens AS INT) AS n_tokens,
        |  CAST(COALESCE(c.kept_tokens, 0) AS INT) AS kept_tokens,
        |  COALESCE(c.cleaned, '') AS cleaned
        |FROM base b LEFT JOIN clean c USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    // The deterministic draw: rank within each source by the 13-hex-digit
    // md5 prefix (fixed-width hex compares lexicographically ==
    // numerically), ties by doc_id — the mirror of the heap's
    // (-hash, lowest-id) order.
    "q89_stratified_sample" ->
      """SELECT doc_id, source, lang, n_chars
        |FROM documents
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY source
        |  ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 13), doc_id) <= 10
        |ORDER BY doc_id""".stripMargin,

    "q62_quality_topk" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, text,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, lang,
         |$qualitySql
         |    AS quality
         |  FROM t)
         |SELECT lang,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS INT) AS rk,
         |  doc_id, quality
         |FROM q
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) <= 5
         |ORDER BY lang, rk""".stripMargin
  )
}
