package graft

import graft.text.LangModel

/** Bigram-LM perplexity scoring: hand-computed tiny model, smoothing
  * floors for unseen events, and the separation property the CCNet
  * filter rests on (target-like documents score lower perplexity).
  */
class LangModelSpec extends SparkSpec {

  test("score matches the hand-computed add-α bigram model") {
    import spark.implicits._
    val target = Seq(Tuple1("a b a b a c")).toDF("text")
    // bigrams: (a,b)=2 (b,a)=2 (a,c)=1; contexts: a=3 b=2; V=3
    val (bg, cx, v) = LangModel.train(target, "text")
    assert(v == 3L)
    assert(bg.collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap ==
      Map(("a", "b") -> 2L, ("b", "a") -> 2L, ("a", "c") -> 1L))
    assert(cx.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("a" -> 3L, "b" -> 2L))

    val docs = Seq((1L, "a b"), (2L, "c c"), (3L, "a")).toDF("id", "text")
    val got = LangModel.score(docs, "id", "text", bg, cx, v, alpha = 0.5)
      .orderBy("id").collect()
    // doc 1: -ln((2+.5)/(3+.5*4)) = ln 2 → ppl 2
    assert(got(0).getLong(1) == 1L)
    assert(math.abs(got(0).getDouble(3) - 2.0) < 1e-12)
    // doc 2: unseen ctx AND bigram → -ln(.5/2) = ln 4 → ppl 4
    assert(math.abs(got(1).getDouble(3) - 4.0) < 1e-12)
    // doc 3: one token, no bigrams → null scores, n_bigrams 0
    assert(got(2).getLong(1) == 0L && got(2).isNullAt(3))
  }

  test("perplexity separates target-like documents from off-target ones") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def sent(vocab: Seq[String], n: Int) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val tgtVocab = Seq("alpha", "beta", "gamma", "delta")
    val offVocab = Seq("zork", "quux", "blarg", "wibble")
    val target = (1 to 50).map(_ => Tuple1(sent(tgtVocab, 20))).toDF("text")
    val docs = ((1 to 20).map(i => (i.toLong, sent(tgtVocab, 15))) ++
      (21 to 40).map(i => (i.toLong, sent(offVocab, 15)))).toDF("id", "text")
    val kept = LangModel.perplexityFilter(docs, target, "id", "text", keepFrac = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept.size == 20)
    assert(kept.forall(_ <= 20), s"off-target docs survived the filter: $kept")
  }
}
