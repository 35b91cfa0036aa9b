package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.Tables
import graft.functions.{ChCompat, Dictionaries}

/** Declared queries exercising the ClickHouse-dialect SQL surface itself —
  * the `-State`/`-Merge`/`-If` combinators and SQL `dictGet` running
  * through `spark.sql`, gated against DuckDB oracles. Exact variants only
  * (bitmap UV, count distinct): the approximate HLL forms are covered by
  * tolerance assertions in ChCompatSpec instead.
  */
object ChPack {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Two-phase MV dance written in the CH dialect verbatim
    // (ref dwm.mainpage_stat_mv_dis.sql:28-70, exact-bitmap variant :184-200):
    // inner -State at (day,hour,event_type), outer -Merge to (day,event_type).
    "q23_ch_dialect_mv" -> { (s, dir) =>
      Tables(s, dir).eventsWithDefaults.createOrReplaceTempView("graft_ch_events")
      s.sql(
        """SELECT day, event_type,
          |       groupBitmapMerge(bm) AS uv,
          |       CAST(sumMerge(val_dec) AS DOUBLE) AS total_value,
          |       sumMerge(cnt) AS cnt
          |FROM (
          |  SELECT day, hour, event_type,
          |         groupBitmapState(user_id) AS bm,
          |         sumState(CAST(value AS DECIMAL(18,2))) AS val_dec,
          |         countIf(true) AS cnt
          |  FROM graft_ch_events
          |  GROUP BY day, hour, event_type)
          |GROUP BY day, event_type
          |ORDER BY day, event_type""".stripMargin)
    },

    // db.table catalog layer (ref ods.action_001_dis.sql:2,31): the
    // reference's layered names queried directly; the oracle mirrors the
    // view's deterministic column derivations over raw events.
    "q25_catalog_query" -> { (s, dir) =>
      graft.engine.Catalog.register(s, dir)
      s.sql(
        """SELECT day, platform,
          |       uniqExact(uid) AS uv,
          |       sum(show_cnt) AS show_cnt,
          |       sum(click_cnt) AS click_cnt,
          |       sum(show_time) AS show_time_sum
          |FROM dws.action_001_dis
          |GROUP BY day, platform
          |ORDER BY day, platform""".stripMargin)
    },

    // The item-dim side of the catalog (ref dim.dict_item_dim.sql:24-27
    // usage comment: dictGet('dim.dict_item_dim','type_id',toUInt64(item_id)))
    // — per-item-type engagement with a price-weighted click revenue, both
    // attributes resolved through the broadcast dictionary in SQL.
    "q112_item_dict_sql" -> { (s, dir) =>
      graft.engine.Catalog.register(s, dir)
      s.sql(
        """SELECT dictGet('dim.dict_item_dim', 'type_id', toUInt64(item_id)) AS type_id,
          |       sum(show_cnt) AS shows,
          |       sum(click_cnt) AS clicks,
          |       sum(click_cnt * dictGet('dim.dict_item_dim', 'price', toUInt64(item_id))) AS click_rev
          |FROM dws.action_001_dis
          |GROUP BY type_id
          |ORDER BY type_id""".stripMargin)
    },

    // The CH date-arithmetic battery: dateDiff in all eight units
    // (boundary-crossing semantics — NOT complete intervals), the
    // add*/subtract* family, toUnixTimestamp, Sunday/Monday week starts,
    // toDayOfWeek/Year, toStartOfYear — plus avgIf/avgWeighted per day.
    "q118_ch_date_math" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_dm_events")
      graft.engine.ChSql.run(s,
        """SELECT event_id,
          |  dateDiff('second', ts, toDateTime('2024-01-15 12:00:00')) AS d_sec,
          |  dateDiff('minute', ts, toDateTime('2024-01-15 12:00:00')) AS d_min,
          |  dateDiff('hour',   ts, toDateTime('2024-01-15 12:00:00')) AS d_hour,
          |  dateDiff('day',    ts, toDateTime('2024-01-15 12:00:00')) AS d_day,
          |  dateDiff('week',   ts, toDateTime('2024-01-15 12:00:00')) AS d_week,
          |  dateDiff('month',  ts, toDateTime('2024-02-20 00:00:00')) AS d_month,
          |  dateDiff('quarter', ts, toDateTime('2024-07-01 00:00:00')) AS d_quarter,
          |  dateDiff('year',   ts, toDateTime('2026-01-01 00:00:00')) AS d_year,
          |  toUnixTimestamp(ts) AS ux,
          |  toUnixTimestamp(addDays(ts, 3)) AS ux_add_d,
          |  toUnixTimestamp(subtractHours(ts, 7)) AS ux_sub_h,
          |  toUnixTimestamp(addMonths(ts, 1)) AS ux_add_mo,
          |  toUnixTimestamp(addSeconds(ts, 90)) AS ux_add_s,
          |  toStartOfWeek(ts) AS week_sun,
          |  toStartOfWeek(ts, 1) AS week_mon,
          |  toDayOfWeek(ts) AS dow,
          |  toDayOfYear(ts) AS doy,
          |  toStartOfYear(ts) AS y0
          |FROM graft_dm_events
          |WHERE event_id % 17 = 0
          |ORDER BY event_id""".stripMargin)
    },

    // avgIf / avgWeighted per day over events — the missing -If/-Weighted
    // average aggregates next to sumIf/countIf/minIf/maxIf.
    "q119_avg_family" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_avg_events")
      s.sql(
        """SELECT toDate(ts) AS day,
          |  round(avgIf(user_id, event_type = 'purchase'), 6) AS avg_uid_purchase,
          |  round(avgWeighted(user_id, user_id % 7 + 1), 6) AS avg_uid_weighted,
          |  count(*) AS cnt
          |FROM graft_avg_events
          |GROUP BY day
          |ORDER BY day""".stripMargin)
    },

    // CH hash family, DuckDB-mirrorable slice: halfMD5 is first-8-MD5-
    // bytes big-endian, so `lpad(hex(halfMD5(x)),16,'0')` must equal
    // DuckDB's `upper(substr(md5(x),1,16))` value-for-value — gating the
    // expression + codegen + the byte-level MD5/endianness convention.
    "q121_half_md5" -> { (s, dir) =>
      Tables(s, dir).documents.createOrReplaceTempView("graft_hm_docs")
      s.sql(
        """SELECT doc_id,
          |       lpad(hex(halfMD5(text)), 16, '0')   AS h_text,
          |       lpad(hex(halfMD5(source)), 16, '0') AS h_source,
          |       pmod(halfMD5(concat(source, '/', CAST(doc_id AS STRING))), 64) AS shard
          |FROM graft_hm_docs
          |WHERE doc_id % 3 = 0
          |ORDER BY doc_id""".stripMargin)
    },

    // The sharding/sampling primitives CH puts under SAMPLE BY /
    // Distributed keys: sipHash64 / xxHash64 / intHash64 bucket counts
    // over events uids, in CH spelling through the ChSql dialect layer
    // (which owns the xxHash64 → chXxHash64 rewrite — the bare name would
    // shadow Spark's seed-42 built-in). No DuckDB mirror exists for these
    // algorithms (rows-only in the gate); the bit-exactness evidence is
    // HashesSpec's published reference vectors, and this query pins the
    // end-to-end sharding shape (every bucket hit, totals preserved).
    // VERDICT r9 #8: the hash-shard invariants promoted into the HASH gate.
    // sipHash64 has no DuckDB implementation, so an oracle can never
    // recompute the bucket — instead the shard ASSIGNMENT itself is staged
    // as parquet at a path keyed by the SF dir, and both engines read the
    // same bytes: Spark profiles its own stage; the oracle re-derives the
    // identical per-bucket profile AND gates it behind two independently
    // checked invariants (stage row count == raw events count; one bucket
    // per uid). A violated invariant empties the oracle's result, failing
    // the row-count compare — DuckDB is the verifier, not a mirror.
    "q170_shard_parity" -> { (s, dir) =>
      val stage = s"/tmp/graft_q170_stage_${new java.io.File(dir).getName}"
      Tables(s, dir).events.select(col("event_id"), col("user_id"))
        .withColumn("sip_bucket", expr("pmod(sipHash64(user_id), 16)"))
        .coalesce(4)
        .write.mode("overwrite").parquet(stage)
      s.read.parquet(stage).createOrReplaceTempView("graft_shard_stage")
      s.sql(
        """SELECT sip_bucket, count(*) AS cnt, count(DISTINCT user_id) AS uids
          |FROM graft_shard_stage
          |GROUP BY sip_bucket ORDER BY sip_bucket""".stripMargin)
    },

    "q122_hash_shard" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_hs_events")
      graft.engine.ChSql.run(s,
        """SELECT pmod(sipHash64(user_id), 16)  AS sip_bucket,
          |       count(*)                       AS cnt,
          |       count(DISTINCT user_id)        AS uids,
          |       min(pmod(xxHash64(user_id), 16))  AS xx_min,
          |       max(pmod(intHash64(user_id), 16)) AS int_max
          |FROM graft_hs_events
          |GROUP BY sip_bucket
          |ORDER BY sip_bucket""".stripMargin)
    },

    // CH topK (SpaceSaving heavy hitters) in its exact regime: per-day
    // top-3 event types. Distinct event types ≪ the sketch's 64-counter
    // capacity, so no eviction happens anywhere — estimates are exact
    // counts with err 0, and the DuckDB count/row_number mirror hash-gates
    // the whole partial/merge/eval path of the aggregate.
    "q47_freq_topk" -> { (s, dir) =>
      import org.apache.spark.sql.types.IntegerType
      Tables(s, dir).eventsWithDefaults
        .groupBy("day")
        .agg(graft.functions.FreqTopK.freq_topk(col("event_type"), 3).as("t"))
        .select(col("day"), org.apache.spark.sql.functions.posexplode(col("t")))
        .select(col("day"),
          (col("pos") + org.apache.spark.sql.functions.lit(1)).cast(IntegerType).as("rank"),
          col("col.value").as("etype"), col("col.est").as("cnt"), col("col.err").as("err"))
        .orderBy("day", "rank")
    },

    // CH retention(): per-(day, user) view→click / view→purchase cohort
    // flags, rolled up to per-day funnel counts — the relational twin of
    // the bitmap funnel (q21), via the composed boolean-Max aggregate.
    // (Array indexing is Spark's 0-based form.)
    "q48_retention" -> { (s, dir) =>
      Tables(s, dir).eventsWithDefaults.createOrReplaceTempView("graft_ret_events")
      s.sql(
        """SELECT day,
          |       SUM(r[0]) AS u_view,
          |       SUM(r[1]) AS u_view_click,
          |       SUM(r[2]) AS u_view_purchase,
          |       COUNT(*) AS users
          |FROM (
          |  SELECT day, user_id,
          |         retention(event_type = 'view', event_type = 'click',
          |                   event_type = 'purchase') AS r
          |  FROM graft_ret_events
          |  GROUP BY day, user_id)
          |GROUP BY day
          |ORDER BY day""".stripMargin)
    },

    // CH `LIMIT n BY group` (top-2 orders per customer by price): the
    // dialect clause Spark's parser lacks, via ChCompat.limitBy. BY key is
    // o_custkey (high-cardinality) — the scale-safe shape; deterministic
    // tie-break on o_orderkey.
    "q26_limit_by" -> { (s, dir) =>
      val o = Tables(s, dir).orders
      ChCompat.limitBy(
          o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
          n = 2,
          by = Seq(col("o_custkey")),
          order = Seq(col("o_totalprice").desc, col("o_orderkey")))
        .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    },

    // CH sequenceMatch / sequenceCount (the funnel-family member next to
    // windowFunnel and retention): per-(day, user) event-chain checks rolled
    // up per day — existence of view→click→purchase, a time-guarded
    // view→click within the hour, and the greedy non-overlapping
    // view→purchase chain count. Events carry no (user, ts) ties in the
    // testdata, so the oracle's ts-order mirrors the aggregate's
    // (ts, mask)-order exactly.
    "q66_sequence_match" -> { (s, dir) =>
      Tables(s, dir).eventsWithDefaults.createOrReplaceTempView("graft_seq_events")
      s.sql(
        """SELECT day,
          |       countIf(m_chain) AS u_chain,
          |       countIf(m_quick) AS u_quick,
          |       CAST(SUM(n_vp) AS BIGINT) AS vp_chains,
          |       COUNT(*) AS users
          |FROM (
          |  SELECT day, user_id,
          |         sequenceMatch('(?1).*(?2).*(?3)', ts,
          |           event_type = 'view', event_type = 'click',
          |           event_type = 'purchase') AS m_chain,
          |         sequenceMatch('(?1).*(?t<=3600)(?2)', ts,
          |           event_type = 'view', event_type = 'click') AS m_quick,
          |         sequenceCount('(?1).*(?2)', ts,
          |           event_type = 'view', event_type = 'purchase') AS n_vp
          |  FROM graft_seq_events
          |  GROUP BY day, user_id)
          |GROUP BY day
          |ORDER BY day""".stripMargin)
    },

    // CH uniqUpTo(N)(x): exact distinct count saturating at N+1, with a
    // HARD O(N) per-group state bound (the point vs count distinct's
    // expand plan: "does this group exceed N distinct" never buffers more
    // than N+1 values, and saturated partials merge as one byte).
    // Covers saturated (N=10 over users), unsaturated (N=5000), and
    // string-typed (N=3 over event types) paths in one query.
    "q68_uniq_up_to" -> { (s, dir) =>
      Tables(s, dir).eventsWithDefaults.createOrReplaceTempView("graft_upto_events")
      s.sql(
        """SELECT day,
          |       uniqUpTo(10, user_id) AS uv_up10,
          |       uniqUpTo(5000, user_id) AS uv_up5000,
          |       uniqUpTo(3, event_type) AS types_up3,
          |       uniqExact(user_id) AS uv_exact
          |FROM graft_upto_events
          |GROUP BY day
          |ORDER BY day""".stripMargin)
    },

    // CH topKWeighted in its exact regime (5 event types ≪ 64-counter
    // capacity — no eviction, est = exact weight sum, err = 0): per-day
    // top-3 event types by summed integer-scaled value.
    "q69_topk_weighted" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{IntegerType, LongType}
      Tables(s, dir).eventsWithDefaults
        .withColumn("w", floor(col("value") * 1000).cast(LongType))
        .groupBy("day")
        .agg(graft.functions.FreqTopK.freq_topk_weighted(col("event_type"), col("w"), 3).as("t"))
        .select(col("day"), posexplode(col("t")))
        .select(col("day"), (col("pos") + lit(1)).cast(IntegerType).as("rank"),
          col("col.value").as("etype"), col("col.est").as("wsum"), col("col.err").as("err"))
        .orderBy("day", "rank")
    },

    // CH sumMap: per-day map of event_type → summed scaled value carried
    // as ONE state per group (distinct keys, not rows), exploded back to
    // rows for the gate. minMap/maxMap share the aggregate (spec-covered).
    "q70_sum_map" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.LongType
      Tables(s, dir).eventsWithDefaults
        .withColumn("w", floor(col("value") * 1000).cast(LongType))
        .groupBy("day")
        .agg(graft.functions.MapAggregates.sum_map(
          array(col("event_type")), array(col("w"))).as("m"))
        .select(col("day"), col("m.values").as("vals"), posexplode(col("m.keys")))
        .select(col("day"), col("col").as("etype"),
          element_at(col("vals"), col("pos") + lit(1)).as("vsum"))
        .orderBy("day", "etype")
    },

    // CH scalar-dialect battery: the date-partitioning staples
    // (toYYYYMM/toStartOfMonth/toMonday), formatDateTime (MySQL-style
    // specifiers, %i = minute), splitByChar/arrayStringConcat,
    // empty/notEmpty, intDiv — all per-row expressions, gated row-exact.
    // CH ARRAY JOIN clause under the gate: per-token frequencies via the
    // row-expanding FROM modifier (bare form — the array column is
    // replaced by its elements).
    "q95_array_join_clause" -> { (s, dir) =>
      Tables(s, dir).documents.filter(col("doc_id") < 50)
        .select(col("doc_id"),
          graft.text.TextFunctions.tokens(col("text")).as("tok"))
        .createOrReplaceTempView("graft_ajc_docs")
      graft.engine.ChSql.run(s,
        """SELECT tok, count(*) AS cnt
          |FROM graft_ajc_docs ARRAY JOIN tok
          |GROUP BY tok ORDER BY tok""".stripMargin)
    },

    // CH scalar WITH aliases under the gate: expression-first constants
    // inlined through filter and select — the oracle writes them inline.
    "q94_scalar_with" -> { (s, dir) =>
      Tables(s, dir).lineitem.createOrReplaceTempView("graft_sw_lineitem")
      graft.engine.ChSql.run(s,
        """WITH 25 AS qty_cut, 0.05 AS disc_cut
          |SELECT l_returnflag, count(*) AS cnt,
          |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
          |FROM graft_sw_lineitem
          |WHERE l_quantity > qty_cut AND l_discount >= disc_cut
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // CH merge() table function: three shard views unioned by name with
    // the _table virtual column attributing each row — counts and exact
    // id ranges per shard under the gate.
    "q92_merge_tables" -> { (s, dir) =>
      val e = Tables(s, dir).events
      e.filter(col("event_id") % 3 === 0).createOrReplaceTempView("graft_evt_shard_a")
      e.filter(col("event_id") % 3 === 1).createOrReplaceTempView("graft_evt_shard_b")
      e.filter(col("event_id") % 3 === 2).createOrReplaceTempView("graft_evt_shard_c")
      s.sql(
        """SELECT _table, count(*) AS cnt,
          |       min(event_id) AS min_id, max(event_id) AS max_id
          |FROM merge('default', '^graft_evt_shard')
          |GROUP BY _table ORDER BY _table""".stripMargin)
    },

    // CH SAMPLE clause: a fixed quarter of documents offset past the
    // midpoint of the hash space, keyed by doc_id. The md5-range predicate
    // is a pure key function, so the exact slice — membership, counts,
    // sums — sits under the hash gate.
    "q91_sample_clause" -> { (s, dir) =>
      Tables(s, dir).documents.createOrReplaceTempView("graft_sample_docs")
      val q =
        """SELECT lang, count(*) AS docs, sum(n_chars) AS chars
          |FROM graft_sample_docs SAMPLE 0.25 OFFSET 0.5
          |GROUP BY lang ORDER BY lang""".stripMargin
      graft.engine.ChSql.run(s, q, graft.engine.ChSql.Scope(sampleKey = _ => Some("doc_id")))
    },

    // CH plural quantiles (one pass, array out, exploded per quantile)
    // plus the GLOBAL keyword shim: the dialect text uses GLOBAL ANY JOIN
    // — GLOBAL strips (Catalyst owns distribution), ANY rewrites the parsed
    // join (ChAnyJoin), quantilesExact aggregates the flat spelling.
    "q90_quantiles_multi" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem.select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .createOrReplaceTempView("graft_qm_lines")
      t.orders.select(col("o_orderkey"), col("o_orderpriority"))
        .createOrReplaceTempView("graft_qm_orders")
      val sql =
        """SELECT o.o_orderpriority AS pri,
          |       quantilesExact(l.l_quantity, 0.25, 0.5, 0.75, 0.9) AS qs,
          |       count(*) AS cnt
          |FROM graft_qm_lines l GLOBAL ANY INNER JOIN graft_qm_orders o
          |  ON l.l_orderkey = o.o_orderkey
          |GROUP BY o.o_orderpriority""".stripMargin
      graft.engine.ChSql.run(s, sql)
        .select(org.apache.spark.sql.functions.posexplode(col("qs")),
          col("pri"), col("cnt"))
        .select(col("pri"), col("pos").as("qi"), col("col").as("q"), col("cnt"))
        .orderBy("pri", "qi")
    },

    "q71_ch_scalars" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_scalar_events")
      s.sql(
        """SELECT event_id,
          |       toYYYYMM(ts) AS yyyymm,
          |       toYYYYMMDD(ts) AS yyyymmdd,
          |       toStartOfMonth(ts) AS month_start,
          |       toMonday(ts) AS week_monday,
          |       toYear(ts) AS y, toHour(ts) AS h,
          |       formatDateTime(ts, '%Y-%m-%d %H:%i:%S') AS formatted,
          |       arrayStringConcat(splitByChar(':', props), '|') AS props_split,
          |       notEmpty(event_type) AS has_type,
          |       intDiv(event_id, 7) AS id_div7
          |FROM graft_scalar_events
          |ORDER BY event_id""".stripMargin)
    },

    // CH array-function battery over tokenized documents: lambda-first
    // arrayMap/arrayFilter/arrayCount, has/indexOf (CH's 0-when-absent),
    // arrayDistinct/arraySort/arraySlice composition — all HOF/array
    // expressions, gated row-exact.
    "q72_ch_arrays" -> { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("toks"))
        .createOrReplaceTempView("graft_arr_docs")
      s.sql(
        """SELECT doc_id,
          |       arrayCount(t -> length(t) > 4, toks) AS long_toks,
          |       arrayUniq(toks) AS uniq_toks,
          |       has(toks, 'the') AS has_the,
          |       indexOf(toks, 'the') AS the_pos,
          |       arrayStringConcat(arraySlice(arraySort(arrayDistinct(toks)), 1, 3), ',') AS first3,
          |       arrayExists(t -> t = 'data', toks) AS mentions_data
          |FROM graft_arr_docs
          |ORDER BY doc_id""".stripMargin)
    },

    // The doc's hand-built-rows state-merge lesson run FILE-VERBATIM
    // (doc:412-495): `FROM system.one ARRAY JOIN [(tuple), ...] AS a`
    // with positional tuple access a.1/a.2/a.3, four UNION ALL "batches"
    // of uniqCombinedState, merged with uniqCombinedMerge — the golden
    // uv=7 case. Exercises the whole shim chain: bracket array literals →
    // array(), tuple literals → tuple(), a.N → a.colN, the
    // expression-operand ARRAY JOIN rewrite, and system.one. The SQL is
    // extracted from the reference doc at runtime (run-the-original
    // posture, like q74's script replay); only the deterministic ORDER BY
    // is appended.
    "q105_doc_handrows" -> { (s, dir) =>
      // locate by listing (the filename is non-ASCII; a literal would tie
      // correctness to the JVM's filename encoding)
      val docsDir = java.nio.file.Paths.get(graft.engine.ChReplay.scriptsDir,
        "..", "..", "docs").normalize()
      val stream = java.nio.file.Files.list(docsDir)
      val docPath = try {
        val it = stream.iterator()
        var found: java.nio.file.Path = null
        while (it.hasNext && found == null) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".md")) found = p
        }
        require(found != null, s"no .md doc under $docsDir")
        found
      } finally stream.close()
      val txt = new String(java.nio.file.Files.readAllBytes(docPath), "UTF-8")
      val anchor = txt.indexOf("uniqCombinedMerge(xx) AS uv")
      require(anchor >= 0, s"doc anchor not found in $docPath")
      val sql = txt.substring(txt.lastIndexOf("SELECT", anchor),
        txt.indexOf("Query id:", anchor)).trim
      val replay = new graft.engine.ChReplay(s,
        graft.engine.ChReplay.scratchWarehouse("graft-q105"))
      replay.runQuery(sql + "\nORDER BY platform, ver")
    },

    // CH array series math (arrayEnumerate / arrayCumSum / arrayDifference
    // / arrayCompact / arraySum / arrayMin / arrayMax / arrayPop*) over
    // per-doc token-length arrays — the per-row fold/index-lambda family
    // a series analyst leans on; all expression-composed, bigint lanes.
    "q103_ch_array_math" -> { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("toks"))
        .createOrReplaceTempView("graft_arrm_docs")
      s.sql(
        """SELECT doc_id,
          |       concat_ws(',', arraySlice(arrayEnumerate(toks), 1, 3)) AS enum3,
          |       concat_ws(',', arrayCumSum(lens)) AS cum_lens,
          |       concat_ws(',', arrayDifference(lens)) AS diffs,
          |       concat_ws(',', arrayCompact(lens)) AS rle_heads,
          |       arraySum(lens) AS sum_len,
          |       arrayMin(lens) AS min_len,
          |       arrayMax(lens) AS max_len,
          |       size(arrayPopFront(lens)) AS popf_n,
          |       size(arrayPopBack(lens)) AS popb_n
          |FROM (
          |  SELECT doc_id, toks, arrayMap(t -> toUInt64(length(t)), toks) AS lens
          |  FROM graft_arrm_docs)
          |ORDER BY doc_id""".stripMargin)
    },

    // CH arrayReduce('agg', arr): the aggregate-by-name face of the
    // per-row array family — plan-time dispatch onto the arrayX
    // lowerings (q103's machinery), here over the same token-length
    // lanes so every supported name is value-gated at once.
    "q107_array_reduce" -> { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("toks"))
        .createOrReplaceTempView("graft_arrr_docs")
      s.sql(
        """SELECT doc_id,
          |       arrayReduce('sum', lens) AS r_sum,
          |       arrayReduce('min', lens) AS r_min,
          |       arrayReduce('max', lens) AS r_max,
          |       arrayReduce('avg', lens) AS r_avg,
          |       arrayReduce('count', lens) AS r_cnt,
          |       arrayReduce('uniqExact', lens) AS r_uniq,
          |       arrayReduce('any', lens) AS r_any,
          |       arrayReduce('anyLast', lens) AS r_last
          |FROM (
          |  SELECT doc_id, arrayMap(t -> toUInt64(length(t)), toks) AS lens
          |  FROM graft_arrr_docs)
          |ORDER BY doc_id""".stripMargin)
    },

    // windowFunnel under the hash gate: the two-level case (view →
    // purchase within the hour) is exactly SQL-expressible — a chain
    // exists iff some purchase has a strictly-earlier view within the
    // window, i.e. the latest preceding view's gap clears it (minimal gap
    // ⇒ existence-equivalent; no (user, ts) ties in the testdata). Deeper
    // funnels are brute-force-verified in WindowFunnelSpec.
    "q73_window_funnel" -> { (s, dir) =>
      Tables(s, dir).eventsWithDefaults.createOrReplaceTempView("graft_wf_events")
      s.sql(
        """SELECT day,
          |       countIf(lvl >= 1) AS u_view,
          |       countIf(lvl = 2) AS u_funnel,
          |       COUNT(*) AS users
          |FROM (
          |  SELECT day, user_id,
          |         windowFunnel(ts, 3600, event_type = 'view',
          |                      event_type = 'purchase') AS lvl
          |  FROM graft_wf_events
          |  GROUP BY day, user_id)
          |GROUP BY day
          |ORDER BY day""".stripMargin)
    },

    // SQL dictGet enrichment (ref dim.dict_user_dim.sql:24-27): broadcast
    // point-lookup, no shuffle of the fact side beyond the aggregation.
    "q24_dictget_sql" -> { (s, dir) =>
      val t = Tables(s, dir)
      Dictionaries.register(s, "dim.dict_nation",
        t.nation.select(col("n_nationkey"), col("n_name")), keyCol = "n_nationkey")
      t.customer.createOrReplaceTempView("graft_ch_customer")
      s.sql(
        """SELECT dictGet('dim.dict_nation', 'n_name', toUInt64(c_nationkey)) AS nation,
          |       uniqExact(c_custkey) AS uv,
          |       CAST(sumIf(CAST(c_acctbal AS DECIMAL(18,2)), c_acctbal > 0) AS DOUBLE) AS pos_bal,
          |       countIf(c_acctbal > 0) AS pos_cnt
          |FROM graft_ch_customer
          |GROUP BY nation
          |ORDER BY nation""".stripMargin)
    },

    // CH PREWHERE + GROUP BY ... WITH TOTALS + trailing FORMAT, all via
    // the string-level ChSql shims: PREWHERE reads as a pushed filter,
    // TOTALS becomes GROUPING SETS ((keys), ()) — the grand-total row's
    // keys are NULL (the Spark/DuckDB convention; CH renders defaults).
    "q85_with_totals" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_totals_events")
      graft.engine.ChSql.run(s,
        """SELECT event_type, count(*) AS n, uniqExact(user_id) AS uv
          |FROM graft_totals_events PREWHERE user_id % 7 = 0
          |GROUP BY event_type WITH TOTALS
          |ORDER BY event_type
          |FORMAT TabSeparated""".stripMargin)
    },

    // CH GROUP BY ... WITH ROLLUP (ChSql.withRollupCube): hierarchical
    // subtotals — (flag, status), (flag), () — in ONE pass; Spark lowers
    // ROLLUP to a single Expand + hash aggregate, no per-level re-scan,
    // so at 100 TB this costs one scan + one shuffle like the plain
    // GROUP BY. Super-aggregate keys are NULL (Spark/DuckDB convention;
    // CH renders type defaults — same documented divergence as TOTALS).
    "q106_with_rollup" -> { (s, dir) =>
      Tables(s, dir).lineitem.createOrReplaceTempView("graft_ru_lineitem")
      graft.engine.ChSql.run(s,
        """SELECT l_returnflag, l_linestatus,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       count(*) AS n
          |FROM graft_ru_lineitem
          |GROUP BY l_returnflag, l_linestatus WITH ROLLUP
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },

    // CH URL function battery over deterministically synthesized URLs
    // (the testdata carries no URL column; both sides build the same
    // string from customer keys, then THIS side parses it back with the
    // ParseUrl-composed CH functions while the oracle re-derives each
    // part from the raw pieces — an independent construction/parse
    // cross-check). Expression-only, codegen'd, no UDF.
    "q97_url_funcs" -> { (s, dir) =>
      Tables(s, dir).customer.createOrReplaceTempView("graft_url_customer")
      s.sql(
        """SELECT url,
          |       protocol(url) AS proto,
          |       domain(url) AS host,
          |       domainWithoutWWW(url) AS host_nw,
          |       topLevelDomain(url) AS tld,
          |       path(url) AS pth,
          |       pathFull(url) AS pth_full,
          |       queryString(url) AS qs,
          |       fragment(url) AS frag,
          |       extractURLParameter(url, 'id') AS p_id,
          |       extractURLParameter(url, 'n') AS p_n,
          |       cutQueryStringAndFragment(url) AS base,
          |       cutWWW(url) AS no_www
          |FROM (
          |  SELECT concat('https://www.seg-', lower(c_mktsegment), '.example.com',
          |                '/cust/', CAST(c_custkey AS STRING),
          |                '?id=', CAST(c_custkey % 97 AS STRING),
          |                '&n=', CAST(c_nationkey AS STRING),
          |                '#s', CAST(c_custkey % 5 AS STRING)) AS url
          |  FROM graft_url_customer)
          |ORDER BY url""".stripMargin)
    },

    // CH string-search battery (position / hasToken / multiSearchAny /
    // countSubstrings / match) over the documents corpus; booleans cast
    // to BIGINT so both engines hash the same ints.
    "q98_string_search" -> { (s, dir) =>
      s.read.parquet(dir + "/documents.parquet").createOrReplaceTempView("graft_ss_docs")
      s.sql(
        """SELECT doc_id,
          |       CAST(position(text, 'merge') AS BIGINT) AS pos_merge,
          |       CAST(positionCaseInsensitive(text, 'MERGE') AS BIGINT) AS pos_ci,
          |       CAST(hasToken(text, 'merge') AS BIGINT) AS has_merge,
          |       CAST(multiSearchAny(text, array('spark', 'flink')) AS BIGINT) AS any_hit,
          |       countSubstrings(text, 'table') AS n_table,
          |       CAST(match(text, 'h..h') AS BIGINT) AS re_hit
          |FROM graft_ss_docs
          |ORDER BY doc_id""".stripMargin)
    },

    // CH LIMIT n BY (engine.ChLimitBy): per-group heads in ORDER BY
    // order — top-2 orders per customer bucket by price, the SQL face of
    // q26's Scala-API limitBy. One window over the BY key, no driver
    // funnel; total ORDER BY (unique o_orderkey) keeps it deterministic.
    "q96_limit_by_sql" -> { (s, dir) =>
      Tables(s, dir).orders.createOrReplaceTempView("graft_lb_orders")
      graft.engine.ChSql.run(s,
        """SELECT o_custkey % 10 AS bucket, o_orderkey, o_totalprice
          |FROM graft_lb_orders
          |ORDER BY bucket, o_totalprice DESC, o_orderkey
          |LIMIT 2 BY bucket""".stripMargin)
    },

    // CH ORDER BY ... WITH FILL (operators.WithFill): a sparse hourly
    // report densified onto the 0..24 grid — missing hours surface with
    // null counts, original rows untouched; the CH report-densification
    // modifier a time-series user expects.
    "q84_with_fill" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_fill_events")
      graft.engine.ChSql.run(s,
        """SELECT toHour(ts) AS h, count(*) AS purchases
          |FROM graft_fill_events
          |WHERE event_type = 'purchase' AND user_id % 50 = 0
          |GROUP BY h
          |ORDER BY h WITH FILL FROM 0 TO 24""".stripMargin)
    },

    // WITH FILL + INTERPOLATE (both supported forms: carry-forward and
    // linear per-step accumulation) — CH evaluates the expression against
    // the PREVIOUS row, so `max_uid + 10` climbs by 10 per filled hour.
    "q116_fill_interpolate" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_fill2_events")
      graft.engine.ChSql.run(s,
        """SELECT toHour(ts) AS h, count(*) AS purchases, max(user_id) AS max_uid
          |FROM graft_fill2_events
          |WHERE event_type = 'purchase' AND user_id % 97 = 0
          |GROUP BY h
          |ORDER BY h WITH FILL FROM 0 TO 24
          |  INTERPOLATE (purchases AS purchases, max_uid AS max_uid + 10)""".stripMargin)
    },

    // The -ForEach combinator family (sum/min/max/avgForEach): element-
    // wise aggregation of per-row arrays — metric lanes per event type.
    // Integer lanes keep BIGINT-exact sums under any merge order; avg is
    // exact-sum / presence-count, one double division per lane.
    "q136_foreach" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_fe_events")
      s.sql(
        """SELECT event_type,
          |       concat_ws(',', sumForEach(lanes)) AS lane_sums,
          |       concat_ws(',', minForEach(lanes)) AS lane_mins,
          |       concat_ws(',', maxForEach(lanes)) AS lane_maxs,
          |       element_at(avgForEach(lanes), 1) AS avg_hi,
          |       element_at(avgForEach(lanes), 2) AS avg_mod10,
          |       element_at(avgForEach(lanes), 3) AS avg_mod7
          |FROM (
          |  SELECT event_type,
          |         array(CASE WHEN value > 2.5 THEN 1L ELSE 0L END,
          |               user_id % 10, event_id % 7) AS lanes
          |  FROM graft_fe_events)
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // CH one-pass helper aggregates: sumCount's (sum, count) tuple,
    // boundingRatio's endpoint slope, simpleLinearRegression's (k, b) —
    // all composite built-in aggregates (codegen'd, map-side combined),
    // no custom state.
    "q137_stat_pack" -> { (s, dir) =>
      Tables(s, dir).lineitem.createOrReplaceTempView("graft_stat_li")
      s.sql(
        """SELECT l_returnflag,
          |       sumCount(CAST(l_quantity AS BIGINT)).sum AS qty_sum,
          |       sumCount(CAST(l_quantity AS BIGINT)).count AS qty_cnt,
          |       round(boundingRatio(l_orderkey * 10 + l_linenumber,
          |                           l_extendedprice), 6) AS bratio,
          |       round(simpleLinearRegression(l_quantity, l_extendedprice).k, 6) AS slr_k,
          |       round(simpleLinearRegression(l_quantity, l_extendedprice).b, 6) AS slr_b
          |FROM graft_stat_li
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },

    // The CH categorical-statistics family: Shannon entropy and the
    // association measures (cramersV / bias-corrected, theilsU,
    // contingency) over event_type × a bounded user cohort — one
    // pair-count map per aggregate, map-side combined, sorted-order
    // float reduction (bit-deterministic under any partitioning).
    "q138_entropy_assoc" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_ent_events")
      s.sql(
        """SELECT round(entropy(event_type), 6) AS h_type,
          |       round(entropy(user_id % 10), 6) AS h_mod,
          |       round(cramersV(event_type, user_id % 3), 6) AS cv,
          |       round(cramersVBiasCorrected(event_type, user_id % 3), 6) AS cvbc,
          |       round(theilsU(event_type, user_id % 3), 6) AS tu,
          |       round(contingency(event_type, user_id % 3), 6) AS cg
          |FROM graft_ent_events""".stripMargin)
    },

    // CH intervalLengthSum: union length of [start, end] segments per
    // group (overlaps once, adjacent merge) — compacted-island state,
    // O(islands) through the exchange; integral in, BIGINT-exact out.
    "q139_interval_sum" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_iv_events")
      s.sql(
        """SELECT event_type,
          |       intervalLengthSum(user_id * 37 % 10000,
          |                         user_id * 37 % 10000 + event_id % 7) AS covered
          |FROM graft_iv_events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // CH deltaSumTimestamp: positive consecutive deltas in (ts, value)
    // order — the deterministic deltaSum (plain deltaSum keeps CH's own
    // merge-order caveat and stays spec-tested).
    "q140_delta_sum" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_ds_events")
      s.sql(
        """SELECT event_type,
          |       round(deltaSumTimestamp(value, ts), 6) AS dsum
          |FROM graft_ds_events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // CH quantileExactWeighted / medianExactWeighted: exact weighted
    // quantiles over a value → Σweight map (CH's ascending-scan rule:
    // first value with accumulated ≥ level·total) — integer in/out,
    // hash-exact.
    "q141_weighted_quantile" -> { (s, dir) =>
      Tables(s, dir).lineitem.createOrReplaceTempView("graft_wq_li")
      s.sql(
        """SELECT l_returnflag,
          |       quantileExactWeighted(CAST(l_quantity AS BIGINT), l_linenumber, 0.5D) AS wmed,
          |       medianExactWeighted(CAST(l_quantity AS BIGINT), l_linenumber) AS wmed2,
          |       quantileExactWeighted(CAST(l_quantity AS BIGINT), l_linenumber, 0.9D) AS wq90
          |FROM graft_wq_li
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },

    // CH rankCorr: exact Spearman correlation (average ranks on ties,
    // Pearson over rank pairs in sorted order) — group-sized state like
    // medianExact; the rank transform is inherently per-group-global.
    "q142_rank_corr" -> { (s, dir) =>
      Tables(s, dir).lineitem.createOrReplaceTempView("graft_rc_li")
      s.sql(
        """SELECT l_returnflag,
          |       round(rankCorr(l_quantity, l_extendedprice), 6) AS rc,
          |       round(rankCorr(l_quantity, l_discount), 6) AS rc_disc
          |FROM graft_rc_li
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },

    // The CH string-distance family (record-linkage / fuzzy-dedup
    // primitives): editDistance, true Damerau-Levenshtein, Jaro /
    // Jaro-Winkler, byte Hamming, character-set Jaccard — every value
    // mirrored by the DuckDB built-in of the same definition.
    // (ngramDistance / ngramSearch have no DuckDB twin — spec-pinned.)
    "q143_string_distance" -> { (s, dir) =>
      Tables(s, dir).part.createOrReplaceTempView("graft_sd_part")
      s.sql(
        """SELECT p_partkey,
          |       editDistance(p_name, p_type) AS ed,
          |       damerauLevenshteinDistance(substring(p_name, 1, 12),
          |                                  substring(p_type, 1, 12)) AS dl,
          |       round(jaroSimilarity(p_name, p_type), 6) AS js,
          |       round(jaroWinklerSimilarity(p_name, p_type), 6) AS jw,
          |       byteHammingDistance(rpad(p_name, 10, '.'),
          |                           rpad(p_type, 10, '.')) AS bh,
          |       round(stringJaccardIndex(p_name, p_type), 6) AS sj
          |FROM graft_sd_part
          |WHERE p_partkey <= 500
          |ORDER BY p_partkey""".stripMargin)
    },

    // The CH array-completion battery: arrayProduct / rotate / shingles
    // over per-row lineitem triples (DuckDB list-algebra mirrors),
    // scan-shaped ops (cumSumNonNegative, fill/reverseFill,
    // split/reverseSplit) pinned on literals, and exact ROC arrayAUC per
    // event_type against a rank-window mirror.
    "q144_array_battery" -> { (s, dir) =>
      Tables(s, dir).lineitem.createOrReplaceTempView("graft_ab_li")
      Tables(s, dir).events.createOrReplaceTempView("graft_ab_events")
      s.sql(
        """WITH li AS (
          |  SELECT l_orderkey, l_linenumber,
          |         array(CAST(l_linenumber AS BIGINT),
          |               CAST(l_quantity AS BIGINT),
          |               l_partkey % 7 + 1) AS arr
          |  FROM graft_ab_li WHERE l_orderkey <= 200),
          |auc AS (
          |  SELECT event_type,
          |         round(arrayAUC(collect_list(value),
          |                        collect_list(CAST(user_id % 2 AS INT))), 6) AS auc
          |  FROM graft_ab_events GROUP BY event_type)
          |SELECT l_orderkey, l_linenumber,
          |       arrayProduct(arr) AS prod,
          |       concat_ws(',', arrayRotateLeft(arr, 1)) AS rotl,
          |       concat_ws(',', arrayRotateRight(arr, 1)) AS rotr,
          |       concat_ws(';', transform(arrayShingles(arr, 2),
          |                                a -> concat_ws(',', a))) AS sh,
          |       concat_ws(',', arrayCumSumNonNegative(array(1, 1, -4, 1))) AS ccs,
          |       concat_ws(',', arrayFill(x -> x != 0, array(1, 0, 2, 0, 0, 3))) AS fil,
          |       concat_ws(',', arrayReverseFill(x -> x != 0, array(1, 0, 2, 0, 0, 3))) AS rfil,
          |       concat_ws(';', transform(arraySplit(x -> x = 1, array(0, 0, 1, 0, 1)),
          |                                a -> concat_ws(',', a))) AS spl,
          |       concat_ws(';', transform(arrayReverseSplit(x -> x = 1, array(0, 0, 1, 0, 1)),
          |                                a -> concat_ws(',', a))) AS rspl,
          |       a.auc
          |FROM li CROSS JOIN (SELECT min(auc) AS auc FROM auc) a
          |ORDER BY l_orderkey, l_linenumber, prod, rotl""".stripMargin)
    },

    // The CH date-helper battery: timeSlot(s), epoch-relative unit
    // numbers, Modified Julian Day round-trip, month/day names, age()
    // complete-unit arithmetic, plus transform() value remapping and the
    // multiSearch needle-array family — all composites over codegen'd
    // built-ins.
    "q145_date_helpers" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_dh_events")
      s.sql(
        """SELECT event_id,
          |       timeSlot(ts) AS slot,
          |       size(timeSlots(ts, 3600)) AS nslots,
          |       toRelativeHourNum(ts) AS rel_hour,
          |       toRelativeDayNum(ts) AS rel_day,
          |       toRelativeMonthNum(ts) AS rel_month,
          |       toModifiedJulianDay(toDate(ts)) AS mjd,
          |       fromModifiedJulianDay(toModifiedJulianDay(toDate(ts))) AS mjd_rt,
          |       monthName(ts) AS mname,
          |       dateName('weekday', ts) AS wname,
          |       age('hour', timestamp'2024-01-01 00:00:00', ts) AS age_h,
          |       age('day', timestamp'2024-01-01 00:00:00', ts) AS age_d,
          |       transform(event_type, array('view', 'purchase'),
          |                 array('V', 'P'), '?') AS tcode,
          |       concat_ws(',', multiSearchAllPositions(event_type,
          |                                              array('ie', 'ur', 'xx'))) AS mpos,
          |       multiSearchAny(event_type, array('chase', 'zz')) AS many
          |FROM graft_dh_events
          |WHERE event_id <= 500
          |ORDER BY event_id""".stripMargin)
    },

    // The CH geo + display-format battery: haversine great-circle
    // distances over synthetic coordinates (formula-mirrored in DuckDB),
    // geohash round-trips, ray-cast pointInPolygon, and the readable
    // formatters / unicode bar — deterministic pins where no SQL mirror
    // exists.
    "q146_geo_format" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_geo_events")
      s.sql(
        """WITH pts AS (
          |  SELECT event_id,
          |         CAST(user_id % 360 AS DOUBLE) - 180 + 0.5 AS lon,
          |         CAST(user_id % 170 AS DOUBLE) - 85 + 0.25 AS lat
          |  FROM graft_geo_events WHERE event_id <= 500)
          |SELECT event_id,
          |       round(greatCircleDistance(lon, lat, -73.9857D, 40.7484D), 2) AS gcd,
          |       round(geohashDecode(geohashEncode(lon, lat, 9)).longitude, 2) AS gh_lon,
          |       round(geohashDecode(geohashEncode(lon, lat, 9)).latitude, 2) AS gh_lat,
          |       pointInPolygon(tuple(lon, lat),
          |                      array(tuple(-180.0D, -90.0D), tuple(0.0D, -90.0D),
          |                            tuple(0.0D, 90.0D), tuple(-180.0D, 90.0D))) AS west,
          |       geohashEncode(10.40744D, 57.64911D, 11) AS gh_pin,
          |       pointInPolygon(tuple(3.0D, 3.0D),
          |                      array(tuple(6.0D, 0.0D), tuple(8.0D, 4.0D),
          |                            tuple(5.0D, 8.0D), tuple(0.0D, 2.0D))) AS pip_pin,
          |       formatReadableSize(1110) AS fsize,
          |       formatReadableQuantity(1110) AS fqty,
          |       formatReadableTimeDelta(117) AS fdelta,
          |       bar(5, 0, 10, 10) AS bar5,
          |       bar(2.25D, 0, 10, 10) AS bar_frac
          |FROM pts
          |ORDER BY event_id""".stripMargin)
    },

    // The CH two-sample test family: Student / Welch t statistics and the
    // tie-corrected Mann-Whitney U over the even/odd user cohorts —
    // Welford O(1) state for the t-tests, rank collection for U; the
    // statistics mirror in DuckDB aggregate/window SQL (p-values have no
    // DuckDB special functions and are spec-pinned instead).
    "q147_two_sample_tests" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_tt_events")
      s.sql(
        """SELECT round(studentTTest(value, user_id % 2).t_statistic, 6) AS st_t,
          |       round(welchTTest(value, user_id % 2).t_statistic, 6) AS wt_t,
          |       round(mannWhitneyUTest(value, user_id % 2).u_statistic, 1) AS mw_u,
          |       count(*) AS n
          |FROM graft_tt_events""".stripMargin)
    },

    // CH multivariate matrices (corrMatrix/covarSampMatrix/covarPopMatrix
    // — centered co-moment state, stable where raw Σxy sums cancel) + the
    // one-sample t; matrix entries gate against DuckDB's pairwise
    // corr/covar at 1e-6 rounding, p-values are spec-pinned.
    "q163_stat_matrix" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_smx_events")
      s.sql(
        """WITH t AS (
          |  SELECT event_type,
          |         CAST(user_id % 97 AS DOUBLE) u,
          |         value v,
          |         CAST(event_id % 31 AS DOUBLE) w
          |  FROM graft_smx_events),
          |a AS (
          |  SELECT event_type,
          |         corrMatrix(u, v, w) cm,
          |         covarSampMatrix(u, v, w) cs,
          |         covarPopMatrix(u, v, w) cp,
          |         studentTTestOneSample(v, 50.0D) t1
          |  FROM t GROUP BY event_type)
          |SELECT event_type,
          |       round(cm[0][1], 6) AS c_uv,
          |       round(cm[0][2], 6) AS c_uw,
          |       round(cm[1][2], 6) AS c_vw,
          |       round(cs[0][1], 6) AS cs_uv,
          |       round(cp[1][2], 6) AS cp_vw,
          |       round(t1.t_statistic, 6) AS t_one
          |FROM a ORDER BY event_type""".stripMargin)
    },

    // groupArrayInsertAt (positional collector over pre-counted slots —
    // distinct positions per group, so CH's unspecified-collision caveat
    // never triggers) + the arrayShiftLeft/Right scalar completions.
    "q164_array_insert" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_gai_events")
      s.sql(
        """WITH dow AS (
          |  SELECT event_type, dayofweek(ts) - 1 AS d, COUNT(*) AS cnt
          |  FROM graft_gai_events GROUP BY 1, 2),
          |arr AS (
          |  SELECT event_type, groupArrayInsertAt(cnt, d, 0L, 7) AS a
          |  FROM dow GROUP BY event_type)
          |SELECT event_type,
          |       concat_ws(',', a) AS counts,
          |       concat_ws(',', arrayShiftLeft(a, 2)) AS shl2,
          |       concat_ws(',', arrayShiftRight(a, 3, -1L)) AS shr3,
          |       concat_ws(',', arrayShiftLeft(a, -1)) AS shl_neg
          |FROM arr ORDER BY event_type""".stripMargin)
    },

    // quantileInterpolatedWeighted: the midpoint-interpolated weighted
    // percentile (p_i = (cum_i − w_i/2)/W, linear between midpoints) —
    // mirrored in DuckDB by explicit window cumsums + arg_max/arg_min
    // bracket selection, in the same double expression order.
    "q165_interp_quantile" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_iq_events")
      s.sql(
        """WITH t AS (
          |  SELECT event_type,
          |         CAST(user_id % 50 AS DOUBLE) v,
          |         event_id % 7 + 1 AS wt
          |  FROM graft_iq_events)
          |SELECT event_type,
          |       round(quantileInterpolatedWeighted(v, wt, 0.25D), 6) AS q25,
          |       round(medianInterpolatedWeighted(v, wt), 6) AS q50,
          |       round(quantileInterpolatedWeighted(v, wt, 0.9D), 6) AS q90
          |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    // CH's deprecated block-order trio through the ChSql.runningWindow
    // translation: runningDifference / neighbor / runningAccumulate run
    // as deterministic window forms over the block's explicit ORDER BY
    // (lagInFrame/leadInFrame + <agg>Merge running frame). The state
    // column comes from a grouped CTE — the CH runningAccumulate doc
    // idiom — and merges per event_type (the reset-on-change grouping
    // argument). DuckDB mirrors with plain lag/lead/windowed SUM.
    "q169_running_window" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_rw_events")
      graft.engine.ChSql.run(s,
        """WITH h AS (
          |  SELECT event_type, toStartOfHour(ts) AS hr,
          |         sumState(CAST(user_id % 97 AS BIGINT)) AS st,
          |         CAST(count(*) AS BIGINT) AS c
          |  FROM graft_rw_events GROUP BY event_type, toStartOfHour(ts))
          |SELECT event_type, hr,
          |       runningDifference(c) AS dc,
          |       neighbor(c, 1) AS next_c,
          |       neighbor(c, -1, CAST(-1 AS BIGINT)) AS prev_c,
          |       runningAccumulate(st, event_type) AS run_sum
          |FROM h
          |ORDER BY event_type, hr""".stripMargin)
    },

    // bitwise integer folds + the argMin/argMax -If combinators, all
    // directly mirrored by DuckDB's bit_and/bit_or/bit_xor and
    // arg_min/arg_max FILTER.
    "q168_bit_aggs" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_ba_events")
      s.sql(
        """SELECT event_type,
          |       groupBitAnd(user_id + 1024) AS band,
          |       groupBitOr(user_id % 4096) AS bor,
          |       groupBitXor(user_id) AS bxor,
          |       argMaxIf(user_id, event_id, event_id % 3 = 0) AS amx,
          |       argMinIf(user_id, event_id, event_id % 3 = 0) AS amn
          |FROM graft_ba_events
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    // groupArrayIntersect: the across-rows set-intersection aggregate —
    // hour-buckets active on EVERY day of an event_type; the per-day
    // arrays come from collect_set, the fold only ever shrinks past its
    // seed. Sorted output; set-theoretic DuckDB mirror.
    "q167_array_intersect" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_ai_events")
      s.sql(
        """WITH a AS (
          |  SELECT event_type, to_date(ts) AS day,
          |         collect_set(CAST(hour(ts) % 6 AS BIGINT)) AS hrs
          |  FROM graft_ai_events GROUP BY 1, 2)
          |SELECT event_type,
          |       concat_ws(',', groupArrayIntersect(hrs)) AS common_hours
          |FROM a GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    // Excel-convention exact quantiles + one-way ANOVA. Inclusive = R-7,
    // which DuckDB's quantile_cont implements INDEPENDENTLY — a genuine
    // cross-implementation parity gate; Exclusive mirrors the rank
    // formula op-for-op; the F statistic mirrors the ssb/ssw closed form
    // (p-values are spec-pinned via the F = t² bridge).
    "q166_quantile_anova" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_qa_events")
      s.sql(
        """WITH t AS (
          |  SELECT event_type,
          |         CAST(user_id % 41 AS DOUBLE) v,
          |         value,
          |         user_id % 3 AS grp
          |  FROM graft_qa_events)
          |SELECT event_type,
          |       round(quantileExactInclusive(v, 0.3D), 6) AS inc30,
          |       round(quantileExactInclusive(v, 0.77D), 6) AS inc77,
          |       round(quantileExactExclusive(v, 0.3D), 6) AS exc30,
          |       round(medianExactExclusive(v), 6) AS exc50,
          |       round(analysisOfVariance(value, grp).f_statistic, 6) AS f3
          |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    // CH sequence aggregates: time-weighted exponentialMovingAverage
    // (deterministic ts-sorted weighting) and the maxIntersections sweep
    // over half-open intervals — both mirrored by explicit DuckDB
    // aggregate/window SQL. (groupArrayMovingSum/Avg carry CH's
    // arrival-order caveat and stay spec-pinned on one partition.)
    "q148_sequence_aggs" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_sq_events")
      s.sql(
        """SELECT event_type,
          |       round(exponentialMovingAverage(value,
          |               toUnixTimestamp(ts), 3600.0D), 6) AS ema,
          |       maxIntersections(user_id % 1000,
          |                        user_id % 1000 + event_id % 20) AS mx,
          |       maxIntersectionsPosition(user_id % 1000,
          |                                user_id % 1000 + event_id % 20) AS mx_pos
          |FROM graft_sq_events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // CH sketch/display aggregates under exact regimes: uniqTheta (theta
    // sketch — exact below its 4096 nominal entries; 150/1500 distinct
    // here), anyHeavy (Boyer-Moore — guaranteed at the planted 2/3
    // majority), histogram (adaptive centroids — exact when distinct ≤
    // bins), sparkbar over a full residue domain.
    "q149_sketch_aggs" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_sk_events")
      s.sql(
        """SELECT event_type,
          |       uniqTheta(user_id) AS ut,
          |       anyHeavy(CASE WHEN event_id % 3 < 2 THEN 'M'
          |                     ELSE concat('x', event_id) END) AS heavy,
          |       concat_ws(';', transform(histogram(CAST(user_id % 4 AS DOUBLE), 8),
          |                b -> concat(b.lower, ':', b.upper, ':', b.height))) AS hist,
          |       sparkbar(CAST(user_id % 8 AS DOUBLE), 1.0D, 8) AS bar
          |FROM graft_sk_events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // CH Map functions (mapAdd/mapPopulateSeries/mapFromArrays over
    // Spark's native MapType, sorted-key rendering) + the remaining date
    // completions (toTime, ISO week/year, last day, toStartOfInterval on
    // both interval kinds, parseDateTime [BestEffort], fromUnixTimestamp,
    // dateTrunc spelling) and singleValueOrNull.
    "q150_maps_dates" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_mp_events")
      s.sql(
        """WITH sv AS (
          |  SELECT singleValueOrNull(CASE WHEN event_type = 'view'
          |                                THEN event_type END) AS only_view,
          |         singleValueOrNull(user_id % 2) AS mixed
          |  FROM graft_mp_events)
          |SELECT event_id,
          |       concat_ws(',', transform(map_entries(
          |         mapAdd(mapFromArrays(array(1L, 2L), array(event_id, user_id)),
          |                mapFromArrays(array(2L, 3L), array(10L, 20L)))),
          |         e -> concat(e.key, ':', e.value))) AS madd,
          |       concat_ws(',', transform(map_entries(
          |         mapPopulateSeries(mapFromArrays(array(1L, 4L),
          |                                         array(event_id % 5, 7L)))),
          |         e -> concat(e.key, ':', e.value))) AS mpop,
          |       mapContains(mapFromArrays(array('a', 'b'), array(1, 2)), 'a') AS mhas,
          |       CAST(toTime(ts) AS STRING) AS tt,
          |       toISOWeek(ts) AS iw,
          |       toISOYear(ts) AS iy,
          |       CAST(toLastDayOfMonth(ts) AS STRING) AS ld,
          |       CAST(toStartOfInterval(ts, INTERVAL 15 MINUTE) AS STRING) AS si15,
          |       CAST(toStartOfInterval(ts, INTERVAL 2 MONTH) AS STRING) AS si2m,
          |       CAST(parseDateTime('2024-03-05 10:20:30',
          |                          '%Y-%m-%d %H:%i:%S') AS STRING) AS pdt,
          |       CAST(parseDateTimeBestEffort('2024/03/05 10:20:30') AS STRING) AS pbe,
          |       fromUnixTimestamp(1700000000, '%Y-%m-%d') AS fut,
          |       CAST(dateTrunc('hour', ts) AS STRING) AS dtr,
          |       sv.only_view, sv.mixed
          |FROM graft_mp_events CROSS JOIN sv
          |WHERE event_id <= 300
          |ORDER BY event_id""".stripMargin)
    },

    // CH sequenceNextNode: the next-event-after-chain funnel aggregate —
    // 'head' (chain anchored at the user's first event) and
    // 'first_match' (chain anchored at the first cond1 hit), both
    // forward. Mirrored by DuckDB ordered-list indexing per user.
    "q151_sequence_next_node" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_snn_events")
      s.sql(
        """SELECT user_id,
          |       sequenceNextNode('forward', 'head', ts, event_type, true,
          |                        event_type = 'view',
          |                        event_type = 'click') AS after_vc,
          |       sequenceNextNode('forward', 'first_match', ts, event_type, true,
          |                        event_type = 'signup') AS after_signup,
          |       sequenceNextNode('backward', 'last_match', ts, event_type, true,
          |                        event_type = 'purchase') AS before_last_purchase
          |FROM graft_snn_events
          |WHERE user_id <= 200
          |GROUP BY user_id
          |ORDER BY user_id""".stripMargin)
    },

    // CH vector math over the embeddings table (dot/norm/distance family,
    // double-lane folds mirroring DuckDB's list functions on DOUBLE[])
    // plus the encoding / bit / IPv4 scalar battery over events.
    "q152_vector_bits" -> { (s, dir) =>
      Tables(s, dir).embeddings.createOrReplaceTempView("graft_vm_emb")
      Tables(s, dir).events.createOrReplaceTempView("graft_vm_events")
      s.sql(
        """WITH v AS (
          |  SELECT e1.vec_id AS id1, e1.embedding AS a, e2.embedding AS b
          |  FROM graft_vm_emb e1 JOIN graft_vm_emb e2 ON e2.vec_id = e1.vec_id + 1
          |  WHERE e1.vec_id <= 100),
          |vm AS (
          |  SELECT id1,
          |         round(dotProduct(a, b), 4) AS dp,
          |         round(L1Norm(a), 4) AS n1,
          |         round(L2Norm(a), 4) AS n2,
          |         round(LinfNorm(a), 4) AS ninf,
          |         round(L1Distance(a, b), 4) AS d1,
          |         round(L2Distance(a, b), 4) AS d2,
          |         round(cosineDistance(a, b), 6) AS cd,
          |         round(L2Norm(normalizeL2(a)), 6) AS unit
          |  FROM v),
          |eb AS (
          |  SELECT event_id,
          |         hex(user_id) AS hx,
          |         base64Encode(event_type) AS b64,
          |         base64Decode(base64Encode(event_type)) AS b64rt,
          |         bitAnd(user_id, 255L) AS band,
          |         bitXor(user_id, 170L) AS bxor,
          |         bitShiftLeft(user_id % 1024, 2) AS bshl,
          |         bitCount(user_id) AS bcnt,
          |         bitTest(user_id, 3) AS btst,
          |         IPv4NumToString(user_id * 7919 % 4294967296) AS ip,
          |         IPv4StringToNum(IPv4NumToString(user_id * 7919 % 4294967296)) AS ipn,
          |         isIPv4String(IPv4NumToString(user_id)) AS isip,
          |         isIPv4String(event_type) AS notip,
          |         IPv4CIDRToRange('192.168.5.77', 24).lower AS cidr_lo,
          |         IPv4CIDRToRange('192.168.5.77', 24).upper AS cidr_hi,
          |         exp2(user_id % 10) AS e2,
          |         intExp2(user_id % 20) AS ie2,
          |         roundToExp2(user_id + 1) AS rte
          |  FROM graft_vm_events WHERE event_id <= 300)
          |SELECT eb.*, vm.dp, vm.n1, vm.n2, vm.ninf, vm.d1, vm.d2, vm.cd, vm.unit
          |FROM eb JOIN vm ON vm.id1 = eb.event_id % 100 + 1
          |ORDER BY eb.event_id""".stripMargin)
    },

    // CH HTML/text-hygiene functions — extractTextFromHTML (the raw-web
    // half of a training-data pipeline: script/style/comment removal,
    // CDATA kept verbatim, whitespace collapse), regex group capture,
    // Unicode normalization/repair, query fingerprinting, raw JSON
    // array splitting.
    "q153_html_text" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_ht_events")
      s.sql(
        """SELECT event_id,
          |  extractTextFromHTML(concat(
          |    '<html><head><style>b{}</style></head><body>',
          |    '<script>var x=1;</script><h1>', event_type,
          |    '</h1><p>id <b>', CAST(event_id AS STRING),
          |    '</b><!-- hidden --></p></body></html>')) AS text,
          |  extractTextFromHTML('<p>A<![CDATA[<raw>]]>B</p>') AS cdata_pin,
          |  concat_ws('|', transform(
          |    extractAllGroupsVertical(concat(event_type, '=',
          |      CAST(event_id AS STRING)), '(\\w+)=(\\d+)'),
          |    a -> concat_ws(',', a))) AS grp_v,
          |  normalizeUTF8NFC(event_type) AS nfc,
          |  isValidUTF8(event_type) AS valid,
          |  toValidUTF8(event_type) AS repaired,
          |  normalizeQuery(concat('SELECT * FROM t WHERE id = ',
          |    CAST(event_id AS STRING), " AND name = 'x'")) AS nq,
          |  concat_ws(',', JSONExtractArrayRaw(concat('[1, "a", {"k": ',
          |    CAST(event_id AS STRING), '}]'))) AS jraw,
          |  JSONArrayLength(concat('[1,2,3,', CAST(event_id AS STRING), ']')) AS jlen
          |FROM graft_ht_events
          |WHERE event_id <= 300
          |ORDER BY event_id""".stripMargin)
    },

    // CH distribution tests completing the two-sample family:
    // kolmogorovSmirnovTest's exact ECDF max-gap (mirrored by window
    // cumulative counts) and meanZTest with known variances; erf-family
    // special functions pinned on literals (machine-precision
    // commons-math3 — no DuckDB twin).
    "q154_ks_ztest" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_kz_events")
      s.sql(
        """SELECT event_type,
          |       round(kolmogorovSmirnovTest(value, user_id % 2).d_statistic, 6) AS ksd,
          |       round(meanZTest(value, user_id % 2, 2000.0D, 2000.0D,
          |                       0.95D).z_statistic, 6) AS z,
          |       round(erf(0.5D), 6) AS erf_pin,
          |       round(tgamma(5.0D), 1) AS tg_pin
          |FROM graft_kz_events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // CH window-view tumble buckets through the dialect — GROUP BY
    // tumble(ts, INTERVAL) expands via Spark's TimeWindowing rule; the
    // bucket bounds and counts mirror the epoch-grid arithmetic.
    "q155_tumble_windows" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_tw_events")
      s.sql(
        """SELECT CAST(win.start AS STRING) AS ws,
          |       CAST(win.end AS STRING) AS we,
          |       cnt,
          |       uv
          |FROM (
          |  SELECT tumble(ts, INTERVAL 6 HOUR) AS win,
          |         count(*) AS cnt,
          |         count(DISTINCT user_id) AS uv
          |  FROM graft_tw_events
          |  GROUP BY tumble(ts, INTERVAL 6 HOUR))
          |ORDER BY ws""".stripMargin)
    },

    // CH QUALIFY + DISTINCT ON dialect clauses: the post-window filter
    // and the first-row-per-group shorthand (CH executes DISTINCT ON as
    // LIMIT 1 BY — so does the rewrite).
    "q156_qualify_distinct_on" -> { (s, dir) =>
      Tables(s, dir).orders.createOrReplaceTempView("graft_qd_orders")
      val top = graft.engine.ChSql.run(s,
        """SELECT o_custkey, o_orderkey, o_totalprice,
          |       row_number() OVER (PARTITION BY o_custkey
          |                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |FROM graft_qd_orders
          |QUALIFY rn <= 2
          |ORDER BY o_custkey, rn""".stripMargin)
      top.createOrReplaceTempView("graft_qd_top")
      val first = graft.engine.ChSql.run(s,
        """SELECT DISTINCT ON (bucket)
          |       o_custkey % 10 AS bucket, o_orderkey, o_totalprice
          |FROM graft_qd_orders
          |ORDER BY bucket, o_totalprice DESC, o_orderkey""".stripMargin)
      first.createOrReplaceTempView("graft_qd_first")
      s.sql(
        """SELECT t.o_custkey, t.o_orderkey, t.o_totalprice, t.rn,
          |       f.bucket, f.o_orderkey AS b_orderkey
          |FROM graft_qd_top t
          |LEFT JOIN graft_qd_first f ON f.bucket = t.o_custkey % 10 AND t.rn = 1
          |ORDER BY t.o_custkey, t.rn""".stripMargin)
    },

    // The CH -Resample combinator: per-subinterval aggregates as one
    // array — bounds are literals, so the buckets expand into plain -If
    // aggregates at registration (codegen'd, map-side combined); plus
    // plural weighted quantiles and the capped distinct collect.
    "q158_resample" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_rs_events")
      s.sql(
        """SELECT event_type,
          |       concat_ws(',', sumResample(CAST(user_id % 100 AS BIGINT),
          |                                  user_id % 40, 0, 40, 10)) AS sums,
          |       concat_ws(',', countResample(event_id,
          |                                    user_id % 40, 0, 40, 10)) AS cnts,
          |       concat_ws(',', quantilesExactWeighted(
          |         CAST(user_id % 50 AS BIGINT), 1 + event_id % 3,
          |         0.25D, 0.5D, 0.75D)) AS wqs,
          |       concat_ws(',', groupUniqArrayCapped(user_id % 7, 3)) AS cap3
          |FROM graft_rs_events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // -State/-Merge combinators for the count-map statistics: per-day
    // entropy/weighted-quantile partials merge to the same value the
    // one-shot aggregate computes — CH's MV-incremental contract,
    // mirrored by DuckDB's direct entropy / cumulative-weight scan.
    "q159_stat_state_merge" -> { (s, dir) =>
      Tables(s, dir).eventsWithDefaults.createOrReplaceTempView("graft_sm_events")
      s.sql(
        """WITH partials AS (
          |  SELECT event_type, day,
          |         entropyState(user_id % 10) AS h_state,
          |         quantileExactWeightedState(CAST(user_id % 50 AS BIGINT),
          |                                    1 + event_id % 3) AS q_state
          |  FROM graft_sm_events
          |  GROUP BY event_type, day)
          |SELECT event_type,
          |       round(entropyMerge(h_state), 6) AS h,
          |       quantileExactWeightedMerge(q_state, 0.5D) AS q50
          |FROM partials
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // CH exponentialTimeDecayed* window-function family as ts-anchored
    // aggregates: every point weighted exp(−(t_max − t)/λ) — mirrored by
    // the same formula over DuckDB's EXP.
    "q160_time_decayed" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_td_events")
      s.sql(
        """SELECT event_type,
          |       round(exponentialTimeDecayedSum(value,
          |               toUnixTimestamp(ts), 7200.0D), 6) AS dsum,
          |       round(exponentialTimeDecayedCount(value,
          |               toUnixTimestamp(ts), 7200.0D), 6) AS dcnt,
          |       round(exponentialTimeDecayedAvg(value,
          |               toUnixTimestamp(ts), 7200.0D), 6) AS davg
          |FROM graft_td_events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // The full CH bitmap algebra beyond and/or (xor/andnot +
    // cardinalities, membership predicates, array round-trip, extrema,
    // subset slicing, bitmapBuild) in one verbatim-SQL battery over
    // view/purchase uid bitmaps, each value mirrored by DuckDB list
    // algebra over the same distinct-uid sets.
    "q135_bitmap_algebra" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_bm_events")
      s.sql(
        """WITH b AS (
          |  SELECT groupBitmapStateIf(user_id, event_type = 'view') AS bv,
          |         groupBitmapStateIf(user_id, event_type = 'purchase') AS bp
          |  FROM graft_bm_events WHERE user_id < 500)
          |SELECT bitmapCardinality(bv) AS n_view,
          |       bitmapCardinality(bp) AS n_buy,
          |       bitmapXorCardinality(bv, bp) AS n_xor,
          |       bitmapAndnotCardinality(bv, bp) AS n_viewonly,
          |       bitmapHasAll(bv, bitmapSubsetLimit(bv, 0, 10)) AS hasall_self,
          |       bitmapHasAny(bv, bp) AS overlap,
          |       bitmapContains(bv, 42) AS has42,
          |       bitmapMin(bp) AS min_buy,
          |       bitmapMax(bp) AS max_buy,
          |       concat_ws(',', bitmapToArray(bitmapSubsetLimit(bp, 100, 5))) AS first5_ge100,
          |       bitmapCardinality(bitmapSubsetInRange(bv, 100, 200)) AS views_100_200,
          |       bitmapCardinality(subBitmap(bv, 10, 7)) AS sub7,
          |       bitmapCardinality(bitmapAndnot(bv, bitmapBuild(array(1L, 2L, 3L)))) AS minus3
          |FROM b""".stripMargin)
    },

    // The CH numeric cast family (toInt8/16/32/64, toUInt8/16 wrap mod
    // 2^n, toFloat32/64, toDecimalN with the 9/18/38-digit widths) in
    // verbatim SQL; inputs are integral or decimal-exact so every cast
    // value-gates (sum of toDecimal64 goes through the exact decimal
    // accumulator before ONE double cast).
    "q133_ch_casts" -> { (s, dir) =>
      Tables(s, dir).lineitem.createOrReplaceTempView("graft_cast_li")
      s.sql(
        """SELECT l_returnflag,
          |       sum(toInt32(l_quantity)) AS q_sum,
          |       sum(toInt8(l_linenumber)) AS ln_sum,
          |       sum(toUInt8(l_orderkey)) AS u8_sum,
          |       sum(toUInt16(l_orderkey)) AS u16_sum,
          |       CAST(sum(toDecimal64(l_extendedprice, 2)) AS DOUBLE) AS price_sum,
          |       min(toFloat32(l_discount)) AS disc_min,
          |       max(toInt64(l_partkey)) AS pk_max
          |FROM graft_cast_li
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },

    // The CH JSON function family (JSONExtract*/JSONHas/JSONLength +
    // visitParam fast-path spellings) through verbatim SQL over the
    // events props column — typed extraction, presence tests, and the
    // array-length/object-size length contract, all value-gated against
    // DuckDB's json extension.
    "q132_ch_json" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_json_events")
      s.sql(
        """SELECT event_type,
          |       count(CASE WHEN JSONHas(props, 'k') THEN 1 END) AS has_k,
          |       count(CASE WHEN visitParamHas(props, 'missing') THEN 1 END) AS has_missing,
          |       min(JSONExtractInt(props, 'k')) AS min_k,
          |       max(JSONExtractFloat(props, 'k')) AS max_kf,
          |       min(JSONExtractString(props, 'k')) AS min_ks,
          |       sum(JSONLength(props)) AS key_counts
          |FROM graft_json_events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },

    // groupArraySorted(x, N) (the bounded ordered-collect aggregate) +
    // arrayIntersect through the dialect: lowest-5 doc ids per language
    // and keyword-vocabulary hits per doc, both value-gated. The
    // intersection is arraySort-wrapped — CH and Spark both return
    // first-array order, but the gate compares canonical forms.
    "q131_group_array_sorted" -> { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), col("lang"),
          graft.text.TextFunctions.tokens(col("text")).as("toks"))
        .createOrReplaceTempView("graft_gas_docs")
      s.sql(
        """SELECT lang,
          |       concat_ws(',', groupArraySorted(doc_id, 5)) AS low_ids,
          |       sum(n_kw) AS kw_hits
          |FROM (
          |  SELECT lang, doc_id,
          |         size(arrayIntersect(arrayDistinct(toks),
          |              array('table', 'scan', 'row', 'agg'))) AS n_kw
          |  FROM graft_gas_docs)
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)
    }
  )

  /** DuckDB oracle SQL per declared query — split per-family into
    * [[ChOraclesDialect]] (q23–q136 dialect mirrors) and
    * [[ChOraclesStats]] (q131–q160 function-family mirrors) in round 9;
    * this concatenation is the single map SparkEntry consumes.
    */
  val oracle: Map[String, String] = ChOraclesDialect.sql ++ ChOraclesStats.sql
}
