package graft

import org.apache.spark.sql.functions._

import graft.text.Bpe

/** BPE training + encoding: the classic Sennrich example, determinism,
  * and the non-increasing-token-count property.
  */
class BpeSpec extends SparkSpec {

  import spark.implicits._

  test("train learns the classic frequent-pair merges") {
    // Sennrich's running example shape: 'low' x5, 'lowest' x2 — the
    // corpus' dominant pair is (l,o), then (lo,w)
    val docs = Seq.fill(5)("low").mkString(" ") + " lowest lowest"
    val df = Seq(docs).toDF("text")
    val merges = Bpe.train(df, "text", numMerges = 2, vocabCap = 100)
    // pair mass: (l,o) = 7; then (lo, w</w>) = 5 (the end-of-word form
    // outweighs mid-word (lo,w) = 2)
    assert(merges.map(m => (m.left, m.right)) ===
      Seq(("l", "o"), ("lo", "w" + Bpe.EndOfWord)))
  }

  test("encode applies merges in rank order with end-of-word marker") {
    graft.functions.ChCompat.register(spark)
    val docs = Seq.fill(5)("low").mkString(" ") + " lowest lowest"
    val df = Seq(docs).toDF("text")
    val merges = Bpe.train(df, "text", numMerges = 2, vocabCap = 100)
    val enc = Seq("low lowest unseen").toDF("text")
      .select(Bpe.encode($"text", merges).as("p"))
      .collect()(0).getSeq[String](0)
    assert(enc === Seq(
      // 'low' fuses completely: l+o → lo, lo+w</w> → low</w>
      "low</w>",
      // 'lowest' gets only (l,o): mid-word (lo,w) was never learned
      "lo", "w", "e", "s", "t</w>",
      // unseen word falls back to characters (no OOV failure)
      "u", "n", "s", "e", "e", "n</w>"))
  }

  test("more merges never increase the token count; zero merges = chars") {
    graft.functions.ChCompat.register(spark)
    val df = Tables(spark, "/root/testdata/sf0.001").documents.limit(50)
    val m0 = Bpe.train(df, "text", 0)
    val m20 = Bpe.train(df, "text", 20)
    val m100 = Bpe.train(df, "text", 100)
    val counts = df.select(
      Bpe.tokenCount($"text", m0).as("c0"),
      Bpe.tokenCount($"text", m20).as("c20"),
      Bpe.tokenCount($"text", m100).as("c100"),
      length(regexp_replace($"text", " ", "")).as("chars")).collect()
    counts.foreach { r =>
      assert(r.getInt(0) >= r.getInt(1) && r.getInt(1) >= r.getInt(2))
      // zero merges: one symbol per character (the </w> marker rides the
      // last character, adding no symbol)
      assert(r.getInt(0) === r.getInt(3))
    }
    // training is deterministic
    assert(Bpe.train(df, "text", 20) === m20)
  }

  test("concatenating pieces reconstructs the original words") {
    graft.functions.ChCompat.register(spark)
    val df = Tables(spark, "/root/testdata/sf0.001").documents.limit(30)
    val merges = Bpe.train(df, "text", 50)
    val bad = df.select($"text",
        array_join(Bpe.encode($"text", merges), "").as("glued"))
      .withColumn("orig",
        concat(regexp_replace($"text", "\\s+", Bpe.EndOfWord), lit(Bpe.EndOfWord)))
      .filter($"glued" =!= $"orig")
    assert(bad.count() === 0)
  }

  test("supplementary-plane characters are ONE symbol, not two surrogates") {
    graft.functions.ChCompat.register(spark)
    // U+1D11E (musical G clef) needs a surrogate pair in UTF-16 — a
    // code-unit split would shear it into two invalid half symbols,
    // diverging from the q177 DuckDB oracle's code-point split
    val clef = new String(Character.toChars(0x1D11E))
    val df = Seq(s"$clef$clef a", s"$clef$clef a").toDF("text")
    val merges = Bpe.train(df, "text", 1)
    // the only repeated pair is (clef, clef</w>): whole-char symbols
    assert(merges.head.left == clef &&
      merges.head.right == clef + Bpe.EndOfWord, merges)
    val pieces = df.select(Bpe.encode($"text", merges)).head().getSeq[String](0)
    assert(pieces == Seq(clef + clef + Bpe.EndOfWord, "a" + Bpe.EndOfWord),
      pieces)
  }
}
