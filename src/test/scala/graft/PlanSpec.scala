package graft

import org.apache.spark.sql.execution.FileSourceScanExec

/** Plan-shape regression guards: the scale posture (pushdown, pruning,
  * broadcasts, pre-shuffle top-k reduction, single-scan pipelines) asserted
  * mechanically on the declared queries, so a refactor that silently
  * devolves a plan — a lost broadcast hint, a filter that stops reaching
  * parquet, a window where an aggregate belongs — fails `sbt test` instead
  * of surfacing as a 100 TB incident. AQE is disabled for this suite only
  * (suites run sequentially in the forked test JVM): under AQE the
  * unexecuted plan is an opaque AdaptiveSparkPlanExec; without it,
  * `executedPlan` is the full static tree the assertions need. The shapes
  * asserted here (pushdown, broadcast, TakeOrdered, aggregate style) are
  * decided before AQE's runtime re-planning, which only re-partitions or
  * upgrades joins — it never walks these back.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.adaptive.enabled")
    super.afterAll()
  }

  private def planOf(name: String) =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan

  private def planStr(name: String) = planOf(name).toString

  test("q02: comparison predicates are pushed to the parquet scan") {
    val scans = planOf("q02_filter_project").collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_ != "[]")),
      "expected non-empty PushedFilters on the lineitem scan")
  }

  test("q01: scan is column-pruned to the referenced subset") {
    val scans = planOf("q01_pricing_summary").collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // lineitem is 16 columns wide; the pricing summary needs 7
    assert(scans.head.requiredSchema.length <= 7,
      s"scan reads ${scans.head.requiredSchema.length} columns: ${scans.head.requiredSchema.fieldNames.mkString(",")}")
  }

  test("q04/q05: dimension joins broadcast — the fact side never shuffles for the join") {
    for (q <- Seq("q04_join_group", "q05_dict_enrich")) {
      val p = planStr(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: expected a broadcast join")
      assert(!p.contains("SortMergeJoin"), s"$q: dim join degraded to SMJ")
    }
  }

  test("q12: top-k plans as TakeOrderedAndProject, not global sort") {
    val p = planStr("q12_topk")
    assert(p.contains("TakeOrderedAndProject"), "expected TakeOrderedAndProject")
  }

  test("q171: the raw-events aggregate is projection-routed — the plan scans " +
      "the state table, never the raw file") {
    val p = planStr("q171_projection_route")
    assert(p.contains("graft-q171"), s"expected the state-table scan:\n$p")
    assert(!p.contains("events.parquet"), s"raw events scan survived routing:\n$p")
  }

  test("q172: both box-filter dimensions reach the z-ordered scan as pushed filters") {
    val scans = planOf("q172_zorder_scan").collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "[]")
    for (c <- Seq("user_id", "event_id"))
      assert(pushed.contains(s"GreaterThanOrEqual($c") && pushed.contains(s"LessThanOrEqual($c"),
        s"expected both $c bounds pushed; got $pushed")
  }

  test("q41: brute-force top-k reduces via the heap aggregate, no per-probe window") {
    val p = planStr("q41_knn_brute")
    assert(p.contains("ObjectHashAggregate"),
      "expected the TopKByScore ObjectHashAggregate")
    assert(!p.contains("Window"),
      "per-probe Window would funnel all scored candidates through one task")
  }

  test("q39: the corpus pipeline is a single documents scan") {
    val scans = planOf("q39_corpus_pipeline").collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1,
      s"pipeline should scan documents once, found ${scans.length} scans")
  }

  test("q62: per-group quality top-k reduces via the heap aggregate, no window") {
    val p = planStr("q62_quality_topk")
    assert(p.contains("ObjectHashAggregate"),
      "expected the TopKByScore ObjectHashAggregate")
    assert(!p.contains("Window"),
      "a per-language Window would sort every scored doc through one task")
  }

  test("q35: the LSH band self-join exchanges (bucket, id) only — no signature") {
    // the k-long signature array must never ride the bands× explosion:
    // it re-joins by id on the deduped pairs. A `sig` attribute inside a
    // bucket-keyed exchange means the wide-row shape crept back (at 10M
    // docs that is ~90 GB of self-join shuffle instead of ~6 GB).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // disable broadcast: at test SF the band sides would broadcast and
    // leave no bucket-keyed ShuffleExchange to inspect — production-size
    // corpora take the sort-merge path this pin is about
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables(spark, dir).documents
      val plan = graft.dedup.Dedup.minhashNearDups(docs, "text", "doc_id", 32, 16, 0.5)
        .queryExecution.executedPlan
      val bucketExchanges = plan.collect {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "bk") => e }
      assert(bucketExchanges.nonEmpty, "expected bucket-keyed band exchanges")
      for (e <- bucketExchanges)
        assert(!e.output.exists(_.name.startsWith("sig")),
          s"banded exchange carries a signature column: ${e.output.map(_.name)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("Curation.chunk is shuffle-free (pure explode)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables(spark, dir).documents
    val plan = graft.text.Curation.chunk(docs, "text", "doc_id", 200, 150)
      .queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "chunking must not exchange — it is embarrassingly parallel")
  }

  test("q61: deterministic mixing filters before the aggregation's exchange") {
    // the md5 sample predicate must sit under the aggregate (filter-only
    // pre-shuffle), not after it
    val p = planOf("q61_corpus_mix")
    val agg = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a }
    assert(agg.nonEmpty)
    val filterUnderAgg = agg.last.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }
    assert(filterUnderAgg.nonEmpty, "sample filter should precede the aggregate")
  }

  test("no accidental cartesian products in the relational pack") {
    // q07 is the deliberate cross join; every other relational query must
    // plan without a cartesian/nested-loop join
    for (q <- Seq("q01_pricing_summary", "q02_filter_project", "q04_join_group",
        "q06_subquery_join", "q08_compound_join", "q09_having_skew")) {
      val p = planStr(q)
      assert(!p.contains("CartesianProduct"), s"$q: CartesianProduct in plan")
    }
  }

  test("q44/q67: quantizer paths run on primitive expressions, no Scala UDFs") {
    // IVF assignment/probing and the PQ encode/LUT/score path were
    // interpreted per-row closures until round 5 — a ScalaUDF in these
    // plans means the boxed hot loop crept back
    for (q <- Seq("q44_knn_ivf", "q67_knn_pq")) {
      assert(!planStr(q).contains("UDF"), s"$q: interpreted UDF in plan")
    }
  }

  private def hashExchanges(name: String): Int =
    "Exchange hashpartitioning".r.findAllIn(planStr(name)).length

  // Per-query exchange ceilings (ShuffleExchangeExec nodes in the plan
  // TREE — hash AND range partitionings; subtrees persisted by the query
  // itself collapse into InMemoryRelation, which is what executes, so the
  // count is stable regardless of suite order). Measured from the plans as
  // shipped (`graft.Dev plan` prints current numbers). A regression — a lost
  // broadcast, a new accidental shuffle — fails by query name; a NEW query
  // must declare its budget here before it ships.
  private val exchangeBudgets = Map(
    "q01_pricing_summary" -> 2, "q02_filter_project" -> 1, "q03_like" -> 1,
    "q04_join_group" -> 2, "q05_dict_enrich" -> 3, "q06_subquery_join" -> 5,
    "q07_cross_join" -> 1, "q08_compound_join" -> 2, "q09_having_skew" -> 2,
    "q10_distinct" -> 2, "q11_count_distinct" -> 3, "q12_topk" -> 0,
    "q13_union_all" -> 3, "q14_hourly_rollup" -> 2, "q15_json_extract" -> 2,
    "q16_agg_if" -> 3, "q17_token_explode" -> 2, "q18_scalar_math" -> 1,
    "q19_median" -> 2, "q20_state_rollup" -> 3, "q21_bitmap_funnel" -> 2,
    "q22_wide_union" -> 3, "q23_ch_dialect_mv" -> 3, "q24_dictget_sql" -> 3,
    "q25_catalog_query" -> 3, "q26_limit_by" -> 2, "q27_dataset_split" -> 2,
    "q28_doc_chunks" -> 1, "q29_pack_sequences" -> 2, "q30_dedup_exact" -> 3,
    "q31_doc_stats" -> 1, "q32_quality" -> 2, "q33_fingerprint" -> 2,
    "q34_ngram_jaccard" -> 1, "q35_minhash_neardup" -> 1, "q36_simhash_neardup" -> 1,
    // md5-family twins: the SAME lshCandidatePairs/chunkCandidates
    // pipelines as q35/q36 (the persist boundary hides the signature
    // subtree's exchanges, identically), so the same budget of 1
    "q178_minhash_md5" -> 1, "q179_simhash_md5" -> 1,
    // q39: one corpus exchange (the text dedup, which doubles as the
    // compute spread — dedup-first restructure, r15) + card agg + sort
    "q37_langid" -> 2, "q38_multimodal_features" -> 1, "q39_corpus_pipeline" -> 3,
    "q40_cosine_probe" -> 1, "q41_knn_brute" -> 2, "q42_knn_lsh" -> 3,
    // exhaustive (bits=0) LSH: same shape as q42 — signature explode +
    // (tbl,bucket) join + dedup + heap rerank
    "q175_knn_lsh_full" -> 3,
    // md5-pick cluster sample: q129's shape (assignment scan + the
    // stratified draw's group/explode/semi-join)
    "q176_cluster_sample_md5" -> 4,
    "q43_cosine_neardup" -> 1, "q44_knn_ivf" -> 2, "q45_cosine_neardup_exact" -> 1,
    "q46_bpeish_tokens" -> 2, "q47_freq_topk" -> 2, "q48_retention" -> 3,
    // q49: docs-side exchange + window + final sort. The cluster-map side
    // of the join is exchange-FREE (the CC result leaf keeps hash(id)
    // partitioning); a static broadcast of it would be wrong at scale, and
    // AQE still broadcasts a small one at runtime.
    "q49_dup_clusters" -> 3, "q50_window_running" -> 2, "q51_rollup" -> 2,
    "q52_semi_join" -> 1, "q53_anti_join" -> 1, "q54_intersect" -> 2,
    "q55_except" -> 2, "q56_string_funcs" -> 1, "q57_case_buckets" -> 2,
    "q58_null_handling" -> 3, "q59_scalar_subquery" -> 2, "q60_salted_join" -> 2,
    "q61_corpus_mix" -> 2, "q62_quality_topk" -> 3, "q63_asof_join" -> 3,
    "q64_sessions" -> 2, "q65_embed_quantize" -> 1, "q66_sequence_match" -> 3,
    "q67_knn_pq" -> 2, "q68_uniq_up_to" -> 3, "q69_topk_weighted" -> 2,
    "q70_sum_map" -> 2, "q71_ch_scalars" -> 1, "q72_ch_arrays" -> 1,
    "q73_window_funnel" -> 3, "q74_ddl_replay" -> 2, "q75_full_outer" -> 3,
    "q76_cube" -> 2, "q77_window_frames" -> 2, "q78_argmax" -> 2,
    "q79_range_join" -> 2,
    // q80: the asof view (tagged union window: one exchange per side
    // inside the checkpointless union = 2) + the final range sort; the
    // WHERE rides the window output
    "q80_asof_sql" -> 3,
    // q81: full-probe IVF — same shape as q44 (list join + top-k + sort)
    "q81_knn_ivf_full" -> 2,
    // q82/q83: compute-spread (regex-heavy rows) + final sort — no
    // aggregation, no join
    "q82_normalize_dedup" -> 2, "q83_redact_pii" -> 2,
    // q84: hourly agg (2: partial+final under the alias group-by) + the
    // hole anti-join's tiny-key exchange + the densified sort — all over
    // a 24-row report tail
    "q84_with_fill" -> 4,
    // q85: grouping-sets expand + distinct-agg exchanges + final sort
    "q85_with_totals" -> 3,
    // q86: the ADC shortlist heap agg + the rerank fetch join + final
    // sort; probes and LUTs broadcast, the code table never re-exchanges
    "q86_knn_ivfpq_rerank" -> 3,
    // q87: doc-shingle explode feeds the broadcast probe join (no
    // exchange), then per-doc count agg + sort; the bench side's distinct
    // adds its own small exchange
    "q87_decontaminate" -> 4,
    // q88: right-side min(struct) dedup agg + the outer join's exchange;
    // the deterministic pick is aggregation-shaped, not a window funnel
    "q88_any_join_sql" -> 2,
    // q89: per-stratum heap agg + the winners' semi-join fetch
    "q89_stratified_sample" -> 2,
    // q90: ANY dedup agg + join exchange + the quantile agg
    "q90_quantiles_multi" -> 3,
    // q91: sample predicate rides the scan (no exchange of its own);
    // group agg + sort
    "q91_sample_clause" -> 2,
    // q92: three-way by-name union into one agg + sort — the union
    // itself is exchange-free
    "q92_merge_tables" -> 2,
    // q93: the top-2-gram mode agg (partial+final over (doc, gram)) +
    // the report join back to the expression side + final sort
    "q93_repetition" -> 3,
    // q94: inlined-constant filter rides the scan; group agg + sort
    "q94_scalar_with" -> 2,
    // q95: explode is per-row; token-frequency agg + sort
    "q95_array_join_clause" -> 2,
    // q96: LIMIT BY rewrite = one window over the BY key + final sort
    "q96_limit_by_sql" -> 2,
    // q97/q98: expression-only batteries — the sort is the one exchange
    "q97_url_funcs" -> 1, "q98_string_search" -> 1,
    // q99: the FINAL merged() aggregate + final sort
    "q99_final_clause" -> 2,
    // q100: (doc,tok) tf agg + tok df agg + scalar-N agg + tok join +
    // doc-keyed sum + sort — the canonical distributed TF-IDF spine
    "q100_tfidf" -> 6,
    // q101: same spine minus the weight join (stoplist broadcasts)
    "q101_stopword_clean" -> 5,
    // q102: per-row zip_with pairing + ONE pair-keyed count; top-50 is
    // TakeOrdered, not a sort exchange
    "q102_bpe_pairs" -> 1,
    // q103: per-row array folds; the sort is the one exchange
    "q103_ch_array_math" -> 1,
    // q104: bucket-total agg + tiny bucket window + boundary-bucket window
    // + final sort; the corpus side only broadcast-joins the bucket table
    "q104_token_budget" -> 4,
    // q105: four hand-built state branches + the merge agg + sort over
    // literally a 16-row input — all exchanges carry constants
    "q105_doc_handrows" -> 5,
    // q106: ROLLUP expand feeds one grouping agg + the final sort
    "q106_with_rollup" -> 2,
    // q107: per-row aggregate() folds; the sort is the one exchange
    "q107_array_reduce" -> 1,
    // q108: per-source count agg + the keep-rate rate agg + result group
    // agg + final sort; the rate table itself broadcasts back to the docs
    "q108_temperature_mix" -> 4,
    // q109: the ANY-pick min(struct) agg + the right-outer join exchange
    "q109_any_right_sql" -> 2,
    // q110/q111: right-side daily agg + the asof window's union exchange +
    // final sort — same spine as q63/q80
    "q110_asof_using_sql" -> 3,
    "q111_asof_tolerance" -> 3,
    // q112: dictGet rides the scan (broadcast map); group agg + sort
    "q112_item_dict_sql" -> 2,
    // q113: the streaming cascade runs at construction; the DECLARED plan
    // is the wide table's merge-on-read agg + final sort
    "q113_stream_cascade" -> 2,
    // q114: purchase-side agg + the forward-asof union exchange + sort
    "q114_asof_forward_sql" -> 3,
    // q115: the streaming window agg runs at construction; the DECLARED
    // plan reads the memory sink — its one exchange is the final sort
    "q115_stream_tumbling" -> 1,
    // q116: hour agg + the fill union's singleton windows (run-id prefix
    // sum + per-run offset) + final sort — all report-sized
    "q116_fill_interpolate" -> 4,
    // q117: the exact-anchor all-pairs feed + CC relax exchanges + the
    // cluster-size window + final sort
    "q117_semantic_dedup" -> 4,
    // q118: expression-only battery — the sort is the one exchange
    "q118_ch_date_math" -> 1,
    // q119: group agg + final sort
    "q119_avg_family" -> 2,
    // q120: the bucketed JOIN is exchange-free (WarehouseSpec pins it);
    // the non-bucket-key regroup + final sort remain
    "q120_bucketed_join" -> 2,
    // q121: expression-only hash battery — the sort is the one exchange
    "q121_half_md5" -> 1,
    // q122: bucket group agg (with distinct-uid expand) + final sort
    "q122_hash_shard" -> 3,
    // q170: same profile shape as q122 over the staged assignment
    "q170_shard_parity" -> 3,
    // q171: projection-routed — the raw-events aggregate is rewritten onto
    // the state table, so the plan is one merge agg over the (pruned)
    // states scan + the final sort; the raw file never enters the plan
    "q171_projection_route" -> 2,
    // q172: the z-ordered rewrite happens at construction; the declared
    // plan is the box-filtered scan + group agg + final sort
    "q172_zorder_scan" -> 2,
    // q173: one group agg over events (scalar tail functions ride the
    // grouping key; the z-test/bitmap-transform finishers are post-agg
    // scalars) + the final sort
    "q173_dialect_tail" -> 2,
    // q174: the rank-with-ties wrap — the body's rows converge into the
    // single-partition rank window (a final-LIMIT clause: the window sees
    // the query OUTPUT, not the corpus — SCALE.md §1); the outer total
    // order rides the same exchange
    "q174_with_ties" -> 1,
    // q123: exact anchor — feature-keyed tgt/raw count aggs + the
    // per-doc feature join + doc regroup + final sort (the deliberately
    // join-heavy shape; the hashed q124 path is the scale shape)
    "q123_dsir_hits" -> 7,
    // q124: two bucket-count aggs + the buckets-row densify/collect +
    // the top-k (TakeOrderedAndProject, no global sort) + final sort;
    // the ratios array broadcasts
    "q124_dsir_select" -> 9,
    // q125: training runs at construction (word-frequency collect); the
    // DECLARED plan is one scan + the encode expression + final sort
    "q125_bpe_encode" -> 1,
    // q126: window-count agg + digest semi-join + per-doc window/coverage
    // aggs + final sort — every exchange keyed by md5 digest or doc id
    "q126_dup_spans" -> 5,
    // q127: the one raw-moment group agg + final sort
    "q127_stats_moments" -> 2,
    // q128: the CSV write happens at construction; the declared plan is
    // the text scan + group agg + final sort
    "q128_csv_roundtrip" -> 2,
    // q129: spread repartition + per-cluster heap agg + the semi-join
    // back + final sort; centroid pick collects at construction
    "q129_cluster_sample" -> 4,
    // q165: one grouped aggregation (value→Σweight maps, distinct-value
    // sized) + the output sort
    "q165_interp_quantile" -> 2,
    // q166: one grouped aggregation (sorted-value collects + per-group
    // Welford map) + the output sort
    "q166_quantile_anova" -> 2,
    // q167: per-day collect_set agg, the shrinking intersection fold,
    // and the output sort
    "q167_array_intersect" -> 3,
    // q168: one grouped aggregation (O(1) bitwise/arg states) + sort
    "q168_bit_aggs" -> 2,
    // q169: grouped CTE + the translated running-window trio; the
    // SinglePartition exchange is the global ORDER BY the user asked
    // for (CH computes the deprecated originals single-threaded too),
    // and the final sort + partitioned window reuse that ordering
    "q169_running_window" -> 2,
    // q163: ONE grouped aggregation carrying all four matrix/t states
    // (O(k²) doubles each) + the output sort
    "q163_stat_matrix" -> 2,
    // q164: dow pre-count agg + the positional-collector agg + sort
    "q164_array_insert" -> 3,
    // q162: two map-side-combined bitmap aggregations (day states, the
    // cross-day fold) + the output sort; raw ids move exactly once
    "q162_bitmap_fold" -> 3,
    // q161: exact-vocab DSIR — tgt/raw feature-count aggs into the
    // PERSISTED full-outer vocab join (totals + ratios both read the
    // cache, so those aggs run once), then the feature-keyed score join
    // and per-doc regroup; the exact twin is join-heavy by design (the
    // hashed q124 path is the scale shape)
    "q161_dsir_exact" -> 4,
    // q130: bigram/context count aggs + the per-doc regroup + final
    // sort; the n-gram joins ride the count aggs' partitioning
    "q130_perplexity" -> 4,
    // q131: one group agg (ordered-collect + sum) + final sort
    "q131_group_array_sorted" -> 2,
    // q132: expression-only JSON battery — group agg + final sort
    "q132_ch_json" -> 2,
    // q133: expression-only cast battery — group agg + final sort
    "q133_ch_casts" -> 2,
    // q134: winner-election agg + loser join + removal-set agg + final
    // sort — the q126 spine plus one min_by per fingerprint
    "q134_trim_spans" -> 4,
    // q135: one global bitmap aggregate; the algebra is scalar on the
    // single result row
    "q135_bitmap_algebra" -> 1,
    // q136: one object-hash group agg (ForEach lanes) + final sort
    "q136_foreach" -> 2,
    // q137: one hash group agg + final sort
    "q137_stat_pack" -> 2,
    // q138: global single-group aggregate — one partial→final exchange
    // per the two scalar subquery entropies plus the main agg
    "q138_entropy_assoc" -> 3,
    // q139–q142: one object-hash group agg + final sort each
    "q139_interval_sum" -> 2,
    "q140_delta_sum" -> 2,
    "q141_weighted_quantile" -> 2,
    "q142_rank_corr" -> 2,
    // q143: per-row scalar distances, one global sort
    "q143_string_distance" -> 1,
    // q144: events AUC aggregate (1) + its min re-agg (1) + the lineitem
    // sort (1); the AUC scalar broadcasts onto the per-row battery
    "q144_array_battery" -> 3,
    // q145: per-row date scalars, one global sort
    "q145_date_helpers" -> 1,
    // q146: per-row geo/format scalars, one global sort
    "q146_geo_format" -> 1,
    // q147: one global two-sample aggregate (partial → final)
    "q147_two_sample_tests" -> 1,
    // q148: one object-hash group agg + final sort
    "q148_sequence_aggs" -> 2,
    // q149: one object-hash group agg + final sort
    "q149_sketch_aggs" -> 2,
    // q150: singleValueOrNull's COUNT(DISTINCT) two-phase (2) broadcast
    // onto per-row map/date scalars + final sort (1)
    "q150_maps_dates" -> 3,
    // q151: one object-hash group agg + final sort
    "q151_sequence_next_node" -> 2,
    // q152: embeddings self-join (broadcast) + per-row scalars + sort
    "q152_vector_bits" -> 2,
    // q153: per-row text scalars, one global sort
    "q153_html_text" -> 1,
    // q154: one object-hash group agg + final sort
    "q154_ks_ztest" -> 2,
    // q155: tumble bucket agg with COUNT(DISTINCT) two-phase + final sort
    "q155_tumble_windows" -> 3,
    // q156: two row_number windows (1 each) + the bucket join + final sort
    "q156_qualify_distinct_on" -> 4,
    // q157: bigram-count groupBy, the one doc_id repartition both windows
    // and the per-doc fold reuse, + final sort
    "q157_compression_quality" -> 3,
    // q177: the corpus is scanned once into the word-frequency collect
    // (the training dictionary); encode is a scalar expression — the one
    // exchange is the final sort
    "q177_bpe_exact" -> 1,
    // q158: one group agg (the expanded -If buckets ride it) + final sort
    "q158_resample" -> 2,
    // q159: partial-state agg + merge re-agg + final sort
    "q159_stat_state_merge" -> 3,
    // q160: one object-hash group agg + final sort
    "q160_time_decayed" -> 2)

  // broadcast nested-loop joins are legitimate exactly where a small probe
  // set is broadcast against the corpus (deliberate cross-join shapes)
  private val bnljAllowed = Set("q07_cross_join", "q40_cosine_probe",
    "q41_knn_brute", "q45_cosine_neardup_exact", "q59_scalar_subquery",
    "q67_knn_pq",
    // the 1-row corpus-count broadcast (scalar N), not a data cross join
    "q100_tfidf", "q101_stopword_clean",
    // the 1-row weight-total broadcast inside temperatureMix's keep-rate
    "q108_temperature_mix",
    // the 1-row hashed-ngram log-ratios array broadcast (DSIR scoring)
    "q124_dsir_select",
    // the 1-row totals broadcast onto the vocabulary ratio table
    "q161_dsir_exact",
    // q117's exact anchor shares q45's all-pairs shape (id_a < id_b join)
    "q117_semantic_dedup",
    // the 1-row AUC scalar broadcast onto the per-row array battery
    "q144_array_battery",
    // the 1-row singleValueOrNull scalars broadcast onto the map battery
    "q150_maps_dates")

  test("table-driven sweep: every declared query holds its exchange budget") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // cache entries left by other suites move the InMemoryRelation
    // boundaries inside persisted pipelines; start from the state
    // `graft.Dev plan` measures (only each query's OWN persists in play)
    spark.sharedState.cacheManager.clearCache()
    val (names, leftOutProblems) = sweptQueries(dir)
    // every query is checked; all offenders are reported in one failure
    val offenders = leftOutProblems ++ names.flatMap { name =>
      try {
        val p = planOf(name)
        val ex = p.collect { case e: ShuffleExchangeExec => e }.length
        Seq(
          exchangeBudgets.get(name) match {
            case None => Some(
              s"""$name: new query without a declared exchange budget — it plans $ex; add "$name" -> $ex""")
            case Some(budget) if ex > budget =>
              Some(s"$name: plan grew to $ex exchanges (budget $budget)")
            case _ => None
          },
          Option.when(p.collect { case c: CartesianProductExec => c }.nonEmpty)(
            s"$name: CartesianProduct in plan"),
          Option.when(!bnljAllowed(name) &&
              p.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty)(
            s"$name: unexpected nested-loop join"),
          // every per-row hot loop is a Catalyst expression; an interpreted
          // Scala UDF anywhere in a declared plan is a regression
          Option.when(p.toString.contains("UDF"))(s"$name: interpreted UDF in plan")
        ).flatten
      } catch { case e: Exception => Seq(s"$name: plan failed: $e") }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("asof/session/aggregate plans keep their exchange budgets") {
    // q63: one exchange per union side feeding ONE window pass; no joins
    assert(hashExchanges("q63_asof_join") <= 2,
      s"asof join grew extra shuffles: ${hashExchanges("q63_asof_join")}")
    assert(!planStr("q63_asof_join").contains("CartesianProduct"))
    // q64: the session aggregation must REUSE the window's user_id
    // partitioning (HashPartitioning(user) satisfies clustering on
    // (user, session_seq)) — exactly one exchange end-to-end
    assert(hashExchanges("q64_sessions") == 1,
      s"sessionize should be a single-exchange pipeline: ${hashExchanges("q64_sessions")}")
    // q69/q70: object-hash aggregates, one partial/final exchange each
    assert(hashExchanges("q69_topk_weighted") == 1)
    assert(hashExchanges("q70_sum_map") == 1)
  }
}
