package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** N-gram language-model perplexity scoring — the CCNet quality filter
  * (Wenzek et al. 2020: score every document with a LM trained on a
  * trusted corpus, keep the low-perplexity tail; the KenLM role in that
  * pipeline, reduced to an add-α bigram model).
  *
  * Distributed shape — the JOIN-based twin of [[Importance.dsirScores]]'
  * broadcast-hash scoring, for when the model must stay exact (no bucket
  * collisions) and the vocabulary doesn't fit one row:
  *
  *  1. `train`: ONE exchange collapses the training corpus to bigram and
  *     unigram-context count tables (map-side combined; table size =
  *     vocabulary², which Zipf keeps far under corpus size).
  *  2. `score`: documents explode to (context, next) pairs, LEFT-join the
  *     two count tables on their n-gram keys (the Zipf-head keys are the
  *     skew seam — both joins are plain hash joins AQE can split), and
  *     re-group per document: per-token mean of
  *     `-ln((c(u,v) + α) / (c(u) + α·(V+1)))`, with unseen contexts and
  *     words falling back to the same α-smoothed floor. `ppl = exp(mean)`.
  *
  * Scores are IEEE doubles whose ln/exp last bits differ across math
  * libraries, so declared queries gate rows-only; LangModelSpec pins the
  * semantics (hand-computable tiny LM, separation of target-like from
  * off-target documents, determinism).
  */
object LangModel {

  private def toks(textCol: Column): Column =
    filter(split(textCol, "\\s+"), t => length(t) > 0)

  /** Train the add-α bigram model: returns (bigrams, contexts, vocabSize).
    * `bigrams`: (ctx, nxt, c2) counts; `contexts`: (ctx, c1) counts —
    * c1 counts context OCCURRENCES AS bigram-left positions, so the
    * conditional normalizes exactly.
    */
  def train(corpus: DataFrame, textCol: String): (DataFrame, DataFrame, Long) = {
    val t = corpus.select(toks(col(textCol)).as("__t")).filter(size(col("__t")) >= 2)
    // bigram pairs built per-row (zip of the shifted slices) — never
    // leave the row before the counting exchange
    val zipped = t.select(explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("ctx"), b.as("nxt")))).as("p"))
      .select(col("p.ctx").as("ctx"), col("p.nxt").as("nxt"))
    val bigrams = zipped.groupBy("ctx", "nxt").agg(count(lit(1)).as("c2"))
    val contexts = zipped.groupBy("ctx").agg(count(lit(1)).as("c1"))
    val vocab = corpus.select(explode(toks(col(textCol))).as("w"))
      .agg(count_distinct(col("w"))).collect()(0).getLong(0)
    (bigrams, contexts, vocab)
  }

  /** Score each document against a trained model: per-token mean negative
    * log-likelihood (`nll`) and perplexity (`ppl`), plus the token count.
    * Documents with fewer than 2 tokens have no bigrams → null scores.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      bigrams: DataFrame, contexts: DataFrame, vocabSize: Long,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be > 0: $alpha")
    val t = docs.select(col(idCol).as("__id"), toks(col(textCol)).as("__t"))
    val pairs = t.filter(size(col("__t")) >= 2)
      .select(col("__id"), explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("ctx"), b.as("nxt")))).as("p"))
      .select(col("__id"), col("p.ctx").as("ctx"), col("p.nxt").as("nxt"))
    val denomV = lit(alpha) * (lit(vocabSize).cast(DoubleType) + lit(1.0))
    val nllTok = -log(
      (coalesce(col("c2"), lit(0L)).cast(DoubleType) + lit(alpha)) /
        (coalesce(col("c1"), lit(0L)).cast(DoubleType) + denomV))
    val scored = pairs
      .join(bigrams, Seq("ctx", "nxt"), "left")
      .join(contexts, Seq("ctx"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_bigrams"), sum(nllTok).as("__nll_sum"))
      .select(col("__id"),
        col("n_bigrams"),
        (col("__nll_sum") / col("n_bigrams").cast(DoubleType)).as("nll"),
        exp(col("__nll_sum") / col("n_bigrams").cast(DoubleType)).as("ppl"))
    docs.select(col(idCol))
      .join(scored.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
  }

  /** The composed filter: train on `target`, score `docs`, keep the
    * lowest-perplexity fraction `keepFrac` (CCNet's head/middle cut),
    * ties broken by id for determinism.
    */
  def perplexityFilter(docs: DataFrame, target: DataFrame, idCol: String,
      textCol: String, keepFrac: Double, alpha: Double = 0.5): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1, s"keepFrac in (0,1]: $keepFrac")
    val (bg, cx, v) = train(target, textCol)
    val scored = score(docs, idCol, textCol, bg, cx, v, alpha)
      .filter(col("ppl").isNotNull)
    val n = scored.count()
    val k = math.max(1L, math.ceil(n * keepFrac).toLong)
    scored.orderBy(col("ppl"), col(idCol)).limit(k.toInt)
  }
}
