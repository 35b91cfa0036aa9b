package graft

/** Wiring guard for the driver contract: every declared query must
  * analyze (resolve + plan) against the smallest testdata, and every
  * oracle key must name a declared query. Catches pack/SparkEntry
  * breakage inside `sbt test` without waiting for the full Verify gate.
  */
class QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every declared query analyzes at sf0.001") {
    val (names, leftOutProblems) = sweptQueries(dir)
    val failures = leftOutProblems ++ names.flatMap { name =>
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        df.queryExecution.optimizedPlan // force analysis + optimization
        if (df.schema.isEmpty) Some(s"$name: empty schema") else None
      } catch { case e: Exception => Some(s"$name: ${e.getMessage.take(200)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the flagship entry merges both insert batches into unique (day, segment) rows") {
    val rows = SparkEntry.entry(spark).select("day", "segment").collect()
    assert(rows.nonEmpty)
    val keys = rows.map(r => (r.get(0), r.getString(1)))
    assert(keys.distinct.length == keys.length,
      s"duplicate rollup keys: ${keys.diff(keys.distinct).take(5).mkString(", ")}")
  }

  test("every oracle entry names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("the declared ledger shape holds: only seeded-hash queries lack oracles") {
    // derived, not hardcoded: totals move every round; the invariant is
    // WHICH queries are allowed to skip the DuckDB oracle (seeded-hash
    // algorithms with no SQL mirror), and that nothing new joins that set
    // silently.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // q35/q36 keep the production xxhash64 families; their banding/
    // blocking pipelines hash-gate exactly via the md5-family twins
    // q178_minhash_md5 / q179_simhash_md5 (round 14), which run
    // Dedup.lshCandidatePairs / chunkCandidates verbatim
    assert(rowsOnly == Set("q35_minhash_neardup", "q36_simhash_neardup",
      "q42_knn_lsh", "q43_cosine_neardup", "q44_knn_ivf", "q67_knn_pq",
      // sipHash64/xxHash64/intHash64 have no DuckDB implementation; the
      // bit-exactness evidence is HashesSpec's published reference vectors
      "q122_hash_shard",
      // float log-weights have no stable cross-engine bit pattern; the
      // integer anchor q123 hash-gates the shared featurization/counting
      "q124_dsir_select",
      // the 40-merge production form stays rows-only; the SAME train+
      // encode path hash-gates exactly via q177_bpe_exact's 5-merge
      // DuckDB replay (round 13)
      "q125_bpe_encode",
      // the seeded centroid pick is xxhash64-ordered (no DuckDB mirror);
      // CurationSpec pins determinism, quotas, and balance
      "q129_cluster_sample"),
      // (q130 graduated to the hash gate in round 9: 1e-6/1e-4-rounded
      // NLL/ppl anchors absorb cross-libm ln/exp ulps)
      // (q157 graduated in round 13: the declared signal is now the
      // order-1 entropy bound, oracle-exact; zlib compression_ratio
      // stays in the library behind TextSpec)
      s"rows-only set changed: $rowsOnly — update COVERAGE.md's ledger")
    assert(SparkEntry.oracleSql.size == SparkEntry.queries.size - rowsOnly.size)
  }

  test("COVERAGE.md's headline counts equal the registry (no hand-count drift)") {
    // round-8 lesson: the ledger said 161 while the registry (and the
    // driver) had 160. The headline is the round's contract — derive it.
    val src = scala.io.Source.fromFile("COVERAGE.md")
    val text = try src.mkString finally src.close()
    val headline = """(?m)^(\d+) declared queries; (\d+) oracle-backed""".r
    val ms = headline.findAllMatchIn(text).toSeq
    assert(ms.nonEmpty, "COVERAGE.md lost its '<N> declared queries; <M> oracle-backed' headline")
    val last = ms.head // newest entry is prepended at the ledger top
    assert(last.group(1).toInt == SparkEntry.queries.size,
      s"COVERAGE says ${last.group(1)} declared; registry has ${SparkEntry.queries.size}")
    assert(last.group(2).toInt == SparkEntry.oracleSql.size,
      s"COVERAGE says ${last.group(2)} oracle-backed; registry has ${SparkEntry.oracleSql.size}")
  }
}
