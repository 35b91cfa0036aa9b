package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Fuzzy-dedup verification: seeded-hash methods against exact Jaccard
  * ground truth on a corpus with planted near-duplicates.
  */
class DedupSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.ChCompat.register(spark)
  }

  private lazy val docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills of the valley"
    Seq(
      (0L, base),
      (1L, base),                                              // exact dup of 0
      (2L, base.replace("green", "bright")),                   // near dup of 0
      (3L, base + " and the wind blows"),                      // near dup of 0
      (4L, "completely different words about spark catalyst optimizer plans and shuffles in a cluster"),
      (5L, "another unrelated document mentioning bitmap funnels state merges and materialized views here"),
      (6L, "the quick brown fox sleeps under the old oak tree near the river bend all day long today")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps one row per normalized text, lowest id wins") {
    val out = Dedup.exact(docs, "text", "doc_id")
    assert(out.count() == 6)
    assert(out.filter(col("doc_id") === 1).count() == 0) // dup of 0 dropped
    assert(out.filter(col("doc_id") === 0).count() == 1)
  }

  test("minhash LSH candidates cover all high-Jaccard pairs (recall vs exact)") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain true near-dup pairs")
    val mh = Dedup.minhashNearDups(docs, "text", "doc_id", 64, 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(mh), s"missed pairs: ${exact -- mh}")
  }

  test("minhash est_jaccard tracks exact jaccard within 0.25") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, threshold = 0.0)
      .select(col("id_a"), col("id_b"), col("jaccard")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val mh = Dedup.minhashNearDups(docs, "text", "doc_id", 128, 32, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    for (((a, b), est) <- mh; ex <- exact.get((a, b)))
      assert(math.abs(est - ex) < 0.25, s"pair ($a,$b): est=$est exact=$ex")
  }

  test("md5-family twins behave like their production families on the planted corpus") {
    // q178's pipeline: same recall property as the xxhash64 minhash —
    // every high-exact-Jaccard pair must surface as a candidate
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashNearDupsMd5(docs, "text", "doc_id",
        numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.subsetOf(mh.keySet), s"missed pairs: ${exact -- mh.keySet}")
    // the exact dup (0,1) must agree on EVERY lane
    assert(mh.get((0L, 1L)).contains(1.0), s"exact dup est: ${mh.get((0L, 1L))}")
    // q179's signature: 64-char '0'/'1' string, deterministic, identical
    // docs identical, and the exact dup pair at Hamming 0 through the
    // full blocking pipeline
    val bits = Dedup.simhashBitsMd5(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bits.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    assert(bits(0L) == bits(1L))
    val sh = Dedup.simhashNearDupsMd5(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(sh.get((0L, 1L)).contains(0L), s"exact dup hamming: ${sh.get((0L, 1L))}")
  }

  test("simhash: identical docs at distance 0, planted near-dups closer than unrelated") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(0, 1) == 0)
    assert(ham(0, 2) < ham(0, 4), "near-dup should be closer than unrelated")
    assert(ham(0, 3) < ham(0, 5))
  }

  test("simhashNearDups finds the planted cluster and nothing unrelated at k=10") {
    val pairs = Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(4L, 5L) })
  }

  test("simhash blocking is lossless: every pair within maxHamming is returned (pigeonhole)") {
    import spark.implicits._
    // a corpus dense enough to produce pairs across the whole 0..12 Hamming
    // range — the maxHamming ≥ 4 regime the old fixed-4-chunk blocking lost
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
    val corpus = (0 until 40).map { i =>
      val txt = (0 until 12).map(j => words((i * 7 + j * (1 + i % 3)) % words.size)).mkString(" ")
      (i.toLong, txt)
    }.toDF("doc_id", "text")
    val maxHamming = 12
    val sigs = corpus.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= maxHamming
    } yield (a, b)).toSet
    assert(truth.nonEmpty, "fixture should contain pairs within Hamming 12")
    val got = Dedup.simhashNearDups(corpus, "text", "doc_id", maxHamming = maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"missed: ${truth -- got}, spurious: ${got -- truth}")
  }

  test("ngram shingle-DF cap drops stop-phrase candidates but keeps rare-shingle pairs") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter for daily updates and exclusive offers today"
    val corpus = ((0 until 12).map { i =>
      (i.toLong, s"$boiler unique document number $i talks about topic${i} and subject${i} only")
    } :+ (100L, "rare matching pair of documents sharing many uncommon shingles together always")
      :+ (101L, "rare matching pair of documents sharing many uncommon shingles together forever"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3,
        threshold = 0.1, maxShingleDf = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // boilerplate shingles (df=12 > 5) no longer link the 12 spam docs...
    assert(!capped.exists { case (a, b) => a < 12 && b < 12 },
      s"boilerplate-only pairs survived the cap: $capped")
    // ...but the genuinely-near pair on rare shingles is still found
    assert(capped.contains((100L, 101L)))
  }

  test("semanticClusters: exact path resolves known cosine clusters to min-id reps") {
    import spark.implicits._
    // two tight clusters ({0,1,2} around e1, {10,11} around e2) + an
    // isolated vector; clusters are transitive via the shared direction
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.14f, 0.0f)),
      (2L, Array(0.99f, -0.14f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.0f)),
      (11L, Array(0.0f, 0.99f, 0.14f)),
      (20L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Dedup.semanticClusters(vecs, "vec_id", "embedding",
        threshold = 0.9, exact = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got(0L) == (0L, 3L, true) && got(1L) == (0L, 3L, false)
      && got(2L) == (0L, 3L, false), s"cluster A wrong: $got")
    assert(got(10L) == (10L, 2L, true) && got(11L) == (10L, 2L, false))
    assert(got(20L) == (20L, 1L, true), "singleton must be its own kept rep")
  }

  test("duplicatedSpans: coverage is the interval union, verdicts split on the threshold") {
    import spark.implicits._
    // 10 tokens each; docs 0 and 1 share tokens 0..5 ("a b c d e f") —
    // with k=3 that is 4 duplicated windows covering 6 tokens per doc;
    // doc 2 repeats its own 3-token phrase ("x y z ... x y z") — SELF-
    // repetition, 2 occurrences of one fingerprint → 6 covered tokens;
    // doc 3 shares nothing.
    val docs = Seq(
      (0L, "a b c d e f g1 h1 i1 j1"),
      (1L, "a b c d e f g2 h2 i2 j2"),
      (2L, "x y z m1 m2 m3 m4 x y z"),
      (3L, "p q r s t u v w pp qq")).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpans(docs, "text", "doc_id", k = 3,
        minCount = 2, maxDupFrac = 0.5)
      .orderBy("doc_id")
      .as[(Long, Int, Long, Long, Double, Boolean)].collect()
    assert(r(0) == ((0L, 10, 4L, 6L, 0.6, false)))
    assert(r(1) == ((1L, 10, 4L, 6L, 0.6, false)))
    assert(r(2) == ((2L, 10, 2L, 6L, 0.6, false)))
    assert(r(3) == ((3L, 10, 0L, 0L, 0.0, true)))
  }

  test("duplicatedSpans matches a brute-force window count on the planted corpus") {
    // brute force: materialize every k-window string, count occurrences,
    // mark positions, union intervals per doc — pure Scala ground truth
    val k = 4
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val wins = rows.flatMap { case (id, t) =>
      val ts = t.split("\\s+").filter(_.nonEmpty)
      ts.sliding(k).zipWithIndex.map { case (w, i) => (id, i, w.mkString(" ")) }
    }
    val counts = wins.groupBy(_._3).view.mapValues(_.length).toMap
    val dupPos = wins.filter(w => counts(w._3) >= 2)
    val expWindows = dupPos.groupBy(_._1).view.mapValues(_.length).toMap
    val expCovered = dupPos.groupBy(_._1).view
      .mapValues(_.flatMap(w => w._2 until (w._2 + k)).distinct.length).toMap
    val got = Dedup.duplicatedSpans(docs, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    for ((id, dw, dt) <- got) {
      assert(dw == expWindows.getOrElse(id, 0).toLong, s"doc $id windows")
      assert(dt == expCovered.getOrElse(id, 0).toLong, s"doc $id coverage")
    }
  }

  test("trimDuplicatedSpans keeps the canonical occurrence, trims the rest") {
    import spark.implicits._
    // docs 0 and 1 share "a b c d e f"; doc 0 is the lowest home, so the
    // span survives there and doc 1 loses tokens 0..5; doc 2 self-repeats
    // "x y z" — the pos-0 copy survives, the pos-7 copy trims
    val docs = Seq(
      (0L, "a b c d e f g1 h1 i1 j1"),
      (1L, "a b c d e f g2 h2 i2 j2"),
      (2L, "x y z m1 m2 m3 m4 x y z")).toDF("doc_id", "text")
    val r = Dedup.trimDuplicatedSpans(docs, "text", "doc_id", k = 3)
      .orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect()
    assert(r(0) == ((0L, 10, 10, "a b c d e f g1 h1 i1 j1")),
      "canonical home must keep everything")
    assert(r(1) == ((1L, 10, 4, "g2 h2 i2 j2")),
      "the non-canonical copy trims the shared span")
    assert(r(2) == ((2L, 10, 7, "x y z m1 m2 m3 m4")),
      "self-repetition keeps the first copy only")
    // corpus-wide: exactly one copy of every formerly-duplicated window
    // remains after the trim
    val cleaned = Dedup.trimDuplicatedSpans(docs, "text", "doc_id", k = 3)
      .select(col("doc_id"), col("cleaned").as("text"))
    val still = Dedup.duplicatedSpans(cleaned, "text", "doc_id", k = 3)
      .agg(sum(col("dup_windows"))).collect().head.getLong(0)
    assert(still == 0L, "no duplicated window may survive the trim")
  }

  test("semanticClusters: LSH path is a refinement of the exact clustering") {
    // LSH candidates ⊆ exact pairs (candidates are exact-cosine verified),
    // so every LSH cluster must sit inside one exact cluster — the only
    // seam is recall, never precision.
    val emb = graft.Tables(spark, "/root/testdata/sf0.001").embeddings
    val exact = Dedup.semanticClusters(emb, "vec_id", "embedding",
        threshold = 0.3, exact = true)
      .select("vec_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Dedup.semanticClusters(emb, "vec_id", "embedding",
        threshold = 0.3, tables = 8, bits = 5)
      .select("vec_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lsh.keySet == exact.keySet)
    // refinement: ids sharing an LSH cluster share the exact cluster
    val violations = lsh.groupBy(_._2).values.flatMap { members =>
      val exactLabels = members.keys.map(exact).toSet
      if (exactLabels.size > 1) Some(members.keys.toSeq.sorted) else None
    }
    assert(violations.isEmpty, s"LSH clusters crossing exact clusters: $violations")
    // and the LSH path must find most of the merges — floor at measured-
    // minus-margin (round-12 measurement at (8,5): 406/485 = 0.837; the
    // margin absorbs a driver testdata regeneration)
    val exactMerged = exact.count { case (id, c) => id != c }
    val lshMerged = lsh.count { case (id, c) => id != c }
    assert(exactMerged > 0, "testdata should contain cosine>=0.3 clusters")
    assert(lshMerged >= (exactMerged * 0.72).toInt,
      s"LSH recall collapsed: $lshMerged of $exactMerged merges (measured 0.837)")
    // the tables-for-recall lever (16x4 measured 477/485 = 0.984): a
    // regression in the signature/bucket path fails here even if the
    // shipped point slips
    val lever = Dedup.semanticClusters(emb, "vec_id", "embedding",
        threshold = 0.3, tables = 16, bits = 4)
      .select("vec_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val leverMerged = lever.count { case (id, c) => id != c }
    assert(leverMerged >= (exactMerged * 0.90).toInt,
      s"high-recall config collapsed: $leverMerged of $exactMerged (measured 0.984)")
  }
}
