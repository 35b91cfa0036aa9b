package graft

import org.apache.spark.sql.functions._

import graft.engine.Catalog
import graft.functions.ChCompat

/** The reference's ClickHouse SQL runs verbatim after ChCompat.register +
  * Catalog.register — the dialect-parity surface: `-State`/`-Merge`/`-If`
  * combinators, SQL dictGet, db.table names, and the doc's golden cases.
  */
class ChCompatSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("reference-shaped UV/PV query runs verbatim-ish and matches DataFrame form") {
    ChCompat.register(spark)
    Tables(spark, sf).events.createOrReplaceTempView("action_log")

    // shape of dwm.mainpage_stat_mv_dis.sql:60-70 / dict_user_dim.sql:24-27
    val sqlOut = spark.sql(
      """SELECT toDate(ts) AS day,
        |       toStartOfHour(ts) AS hour,
        |       uniqExact(user_id) AS uv,
        |       uniqCombined(user_id) AS uv_approx,
        |       toUInt64(sum(value)) AS pv_value
        |FROM action_log
        |WHERE event_type = 'view'
        |GROUP BY day, hour
        |ORDER BY day, hour""".stripMargin)

    val dfOut = Tables(spark, sf).events
      .filter(col("event_type") === "view")
      .groupBy(to_date(col("ts")).as("day"), date_trunc("HOUR", col("ts")).as("hour"))
      .agg(count_distinct(col("user_id")).as("uv"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("uv_approx"),
        sum(col("value")).cast("long").as("pv_value"))
      .orderBy("day", "hour")

    val a = sqlOut.collect().map(_.toSeq.map(String.valueOf)).toSeq
    val b = dfOut.collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("bitmap funnel SQL: groupBitmap states + bitmapAndCardinality (doc:1207-1238)") {
    ChCompat.register(spark)
    Tables(spark, sf).events.createOrReplaceTempView("action_log")

    val out = spark.sql(
      """WITH bm AS (
        |  SELECT toDate(ts) AS day,
        |         bitmap_agg(CASE WHEN event_type = 'view' THEN user_id END) AS view_bm,
        |         bitmap_agg(CASE WHEN event_type = 'click' THEN user_id END) AS click_bm
        |  FROM action_log GROUP BY day)
        |SELECT day,
        |       bitmapCardinality(view_bm) AS view_uv,
        |       bitmapAndCardinality(view_bm, click_bm) AS vc_uv,
        |       bitmapCardinality(bitmapAnd(view_bm, click_bm)) AS vc_uv2,
        |       bitmapCardinality(bitmapOr(view_bm, click_bm)) AS vor_uv,
        |       bitmapOrCardinality(view_bm, click_bm) AS vor_uv2
        |FROM bm ORDER BY day""".stripMargin).collect()

    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) == r.getLong(3), "and-cardinality forms must agree")
      assert(r.getLong(4) == r.getLong(5), "or-cardinality forms must agree")
      assert(r.getLong(1) >= r.getLong(2), "funnel monotone: view_uv >= view∧click")
    }
    // cross-check one day against exact distinct
    Tables(spark, sf).eventsWithDefaults.createOrReplaceTempView("e2")
    val exact = spark.sql(
      """SELECT day, count(DISTINCT CASE WHEN event_type='view' THEN user_id END) FROM e2
        |GROUP BY day ORDER BY day""".stripMargin).collect()
    assert(out.map(_.getLong(1)).toSeq == exact.map(_.getLong(1)).toSeq)
  }

  test("groupBitmap one-shot and medianExact match their exact counterparts") {
    ChCompat.register(spark)
    Tables(spark, sf).lineitem.createOrReplaceTempView("li")
    val r = spark.sql(
      """SELECT l_returnflag,
        |       groupBitmap(l_suppkey) AS uv,
        |       uniqExact(l_suppkey) AS uv_exact,
        |       medianExact(l_quantity) AS med,
        |       percentile(l_quantity, 0.5) AS med_builtin
        |FROM li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).collect()
    r.foreach { row =>
      assert(row.getLong(1) == row.getLong(2))
      assert(row.getDouble(3) == row.getDouble(4))
    }
  }

  test("golden uv=7 state-merge case (doc:480-505)") {
    ChCompat.register(spark)
    // the doc's four insert batches, each pre-aggregated to a state, then
    // merged — uniqCombinedMerge and groupBitmapMerge both recover uv=7
    val out = spark.sql(
      """WITH batches AS (
        |  SELECT platform, ver,
        |         uniqCombinedState(uid) AS xx,
        |         groupBitmapState(uid) AS bm
        |  FROM VALUES
        |    (1,'android','1.1',1001),(1,'android','1.1',1002),(1,'android','1.1',1003),(1,'android','1.1',1004),
        |    (2,'android','1.2',1009),(2,'android','1.2',1010),(2,'android','1.2',1130),(2,'android','1.2',1131),
        |    (3,'android','1.1',2001),(3,'android','1.1',3002),(3,'android','1.1',1003),(3,'android','1.1',3004),
        |    (4,'android','1.2',2009),(4,'android','1.2',1010),(4,'android','1.2',2130),(4,'android','1.2',2131)
        |    AS t(batch, platform, ver, uid)
        |  GROUP BY batch, platform, ver)
        |SELECT platform, ver,
        |       uniqCombinedMerge(xx) AS uv,
        |       groupBitmapMerge(bm) AS uv_exact
        |FROM batches GROUP BY platform, ver ORDER BY platform, ver""".stripMargin).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(2) == 7L, s"uniqCombinedMerge uv for ${r.getString(1)}")
      assert(r.getLong(3) == 7L, s"groupBitmapMerge uv for ${r.getString(1)}")
    }

    // CH consistency guarantee: one-shot == merge-of-states, exactly
    Tables(spark, sf).events.createOrReplaceTempView("consistency_src")
    val oneshot = spark.sql(
      "SELECT uniqCombined(user_id) FROM consistency_src").collect().head.getLong(0)
    val merged = spark.sql(
      """SELECT uniqCombinedMerge(st)
        |FROM (SELECT uniqCombinedState(user_id) AS st
        |      FROM consistency_src GROUP BY pmod(event_id, 7))""".stripMargin)
      .collect().head.getLong(0)
    assert(oneshot == merged, "uniqCombined == merge of its states")
  }

  test("flagship MV SELECT + read-side merge run verbatim through db.table catalog") {
    Catalog.register(spark, sf)
    // MV SELECT with gender dict enrichment + median state
    // (dwm.mainpage_stat_mv_dis.sql:100-131, bitmap columns :184-200)
    val mv = spark.sql(
      """SELECT day
        |     ,hour
        |     ,platform
        |     ,ver
        |     ,item_id
        |     ,dictGet('dim.dict_user_dim', 'gender', toUInt64(uid)) as gender
        |     ,uniqCombinedStateIf(uid, a.show_cnt>0) as shown_uv
        |     ,sum(a.show_cnt) as shown_cnt
        |     ,uniqCombinedStateIf(uid, a.click_cnt>0) as click_uv
        |     ,sum(a.click_cnt) as click_cnt
        |     ,sum(toUInt64(show_time/1000)) as show_time_sum
        |     ,medianExactState(toUInt32(show_time/1000)) as show_time_median
        |     ,groupBitmapStateIf(uid, a.show_cnt>0) as show_bm
        |     ,groupBitmapStateIf(uid, a.click_cnt>0) as click_bm
        |from ods.action_001_local as a
        |group by day, hour, platform, ver, item_id, gender""".stripMargin)
    val stDir = tmpDir("ch-mv-state")
    mv.write.mode("overwrite").parquet(stDir)
    Catalog.registerParquet(spark, "dws.mainpage_stat_mv_dis", stDir)

    // read-side merge, verbatim shape (dwm.mainpage_stat_mv_dis.sql:60-70)
    val merged = spark.sql(
      """SELECT day
        |     ,platform
        |     ,uniqCombinedMerge(shown_uv) as shown_uv
        |     ,sum(shown_cnt) as shown_cnt
        |     ,uniqCombinedMerge(click_uv) as click_uv
        |     ,sum(click_cnt) as click_cnt
        |     ,sum(show_time_sum) as show_time_sum
        |from dws.mainpage_stat_mv_dis
        |group by day, platform
        |order by day, platform""".stripMargin).collect()

    val direct = spark.sql(
      """SELECT day, platform,
        |       count(DISTINCT CASE WHEN show_cnt>0 THEN uid END) AS shown_uv,
        |       sum(show_cnt) AS shown_cnt,
        |       count(DISTINCT CASE WHEN click_cnt>0 THEN uid END) AS click_uv,
        |       sum(click_cnt) AS click_cnt,
        |       sum(toUInt64(show_time/1000)) AS show_time_sum
        |FROM ods.action_001_local
        |GROUP BY day, platform ORDER BY day, platform""".stripMargin).collect()

    assert(merged.length == direct.length && merged.nonEmpty)
    merged.zip(direct).foreach { case (m, d) =>
      assert(m.getDate(0) == d.getDate(0) && m.getString(1) == d.getString(1))
      // HLL states merge to within sketch tolerance of the exact uv
      assert(math.abs(m.getLong(2) - d.getLong(2)) <= math.max(1L, d.getLong(2) / 20),
        s"shown_uv ${m.getLong(2)} vs exact ${d.getLong(2)}")
      assert(math.abs(m.getLong(4) - d.getLong(4)) <= math.max(1L, d.getLong(4) / 20))
      // SimpleAggregateFunction(sum) re-sums are exact
      assert(m.getLong(3) == d.getLong(3))
      assert(m.getLong(5) == d.getLong(5))
      assert(m.getLong(6) == d.getLong(6))
    }

    // bitmap read-side funnel, verbatim shape (dwm.mainpage_stat_mv_dis.sql:280-290)
    val funnel = spark.sql(
      """select day
        |     ,gender
        |     ,bitmapCardinality(groupBitmapMergeState(show_bm)) as shown_uv
        |     ,bitmapAndCardinality(groupBitmapMergeState(show_bm),groupBitmapMergeState(click_bm)) as show_click_uv
        |from dws.mainpage_stat_mv_dis
        |group by day,gender
        |order by day,gender""".stripMargin).collect()
    val funnelDirect = spark.sql(
      """WITH peruser AS (
        |  SELECT day, dictGet('dim.dict_user_dim', 'gender', toUInt64(uid)) AS gender, uid,
        |         max(show_cnt) AS v, max(click_cnt) AS c
        |  FROM ods.action_001_local GROUP BY day, gender, uid)
        |SELECT day, gender,
        |       count(CASE WHEN v > 0 THEN 1 END) AS shown_uv,
        |       count(CASE WHEN v > 0 AND c > 0 THEN 1 END) AS show_click_uv
        |FROM peruser GROUP BY day, gender ORDER BY day, gender""".stripMargin).collect()
    assert(funnel.length == funnelDirect.length && funnel.nonEmpty)
    funnel.zip(funnelDirect).foreach { case (f, d) =>
      assert(f.getDate(0) == d.getDate(0) && f.getString(1) == d.getString(1))
      assert(f.getLong(2) == d.getLong(2), "bitmap shown_uv is exact")
      assert(f.getLong(3) == d.getLong(3), "bitmap show∧click uv is exact")
    }

    // median state family merges to the builtin percentile answer
    val med = spark.sql(
      """SELECT platform, medianExactMerge(show_time_median) AS med
        |FROM dws.mainpage_stat_mv_dis GROUP BY platform ORDER BY platform""".stripMargin).collect()
    val medDirect = spark.sql(
      """SELECT platform, percentile(toUInt32(show_time/1000), 0.5) AS med
        |FROM ods.action_001_local GROUP BY platform ORDER BY platform""".stripMargin).collect()
    med.zip(medDirect).foreach { case (m, d) =>
      assert(math.abs(m.getDouble(1) - d.getDouble(1)) < 1e-9)
    }
  }

  test("quantileTDigest -State family: bounded two-phase quantile within tolerance") {
    Catalog.register(spark, sf)
    spark.sql(
      """SELECT platform, hour, quantileTDigestState(toUInt32(show_time/1000)) AS st
        |FROM ods.action_001_local GROUP BY platform, hour""".stripMargin)
      .createOrReplaceTempView("qtd_states")
    val merged = spark.sql(
      """SELECT platform, quantileTDigestMerge(st) AS med,
        |       quantileTDigestMerge(st, 0.9) AS p90
        |FROM qtd_states GROUP BY platform ORDER BY platform""".stripMargin).collect()
    val direct = spark.sql(
      """SELECT platform, percentile(toUInt32(show_time/1000), 0.5) AS med
        |FROM ods.action_001_local GROUP BY platform ORDER BY platform""".stripMargin).collect()
    assert(merged.length == direct.length && merged.nonEmpty)
    merged.zip(direct).foreach { case (m, d) =>
      val exact = d.getDouble(1)
      // eps=0.01 RANK error: near the median of this smooth distribution
      // that is a small value shift — 10% value tolerance is generous
      assert(math.abs(m.getDouble(1) - exact) <= math.max(1.0, exact * 0.1),
        s"${m.getString(0)}: sketch median ${m.getDouble(1)} vs exact $exact")
      assert(m.getDouble(2) >= m.getDouble(1),
        "parameterized p90 must not be below the median")
    }
  }

  test("dictGet SQL equals the join form (dim.dict_user_dim.sql:24-44)") {
    Catalog.register(spark, sf)
    // the doc's multi-value shape (dict_user_dim.sql:47-50). Dialect note:
    // `group by platform` would hit Spark's source-column-over-alias
    // resolution (the action table also has a platform column; CH prefers
    // the alias) — gender isn't a source column, so the alias resolves.
    val viaDict = spark.sql(
      """select dictGet('dim.dict_user_dim', 'gender', toUInt64(uid)) as gender
        |      ,uniqCombined(uid) as uv
        |from dws.action_001_dis
        |group by gender order by gender""".stripMargin).collect()
    val viaJoin = spark.sql(
      """select t2.gender as gender, uniqCombined(t1.uid) as uv
        |from dws.action_001_dis t1
        |join dim.dict_user_dim t2 on toUInt64(t1.uid) = t2.uid
        |group by gender order by gender""".stripMargin).collect()
    assert(viaDict.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      viaJoin.map(r => (r.getString(0), r.getLong(1))).toSeq)
    assert(viaDict.nonEmpty)

    // missing key -> declared default (age -1) or CH type default ('')
    val miss = spark.sql(
      """SELECT dictGet('dim.dict_user_dim', 'gender', toUInt64(999999999)) AS g,
        |       dictGet('dim.dict_user_dim', 'age', toUInt64(999999999)) AS a""".stripMargin)
      .collect().head
    assert(miss.getString(0) == "")
    assert(miss.getShort(1) == (-1).toShort)
  }

  test("merge() table function: regex union by name, _table attribution, NULL fill") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    Seq((1, "a"), (2, "b")).toDF("id", "v").createOrReplaceTempView("chm_part_one")
    Seq((3, "c", 9.5)).toDF("id", "v", "extra").createOrReplaceTempView("chm_part_two")
    Seq((99, "z")).toDF("id", "v").createOrReplaceTempView("chm_other")

    val got = spark.sql(
      "SELECT _table, id, v, extra FROM merge('default', '^chm_part') ORDER BY id")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == Seq(
      ("chm_part_one", 1, "a", None), ("chm_part_one", 2, "b", None),
      ("chm_part_two", 3, "c", Some(9.5))))

    val e = intercept[Exception] {
      spark.sql("SELECT * FROM merge('default', '^no_such_prefix_x')").collect()
    }
    assert(e.getMessage.contains("no tables"))

    // database-scoped: temp views must NOT leak into another db's merge
    // (listTables returns them for any db argument)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_merge_other")
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM merge('graft_merge_other', '^chm_part')").collect()
    }
    assert(e2.getMessage.contains("no tables"),
      s"temp views leaked into graft_merge_other: ${e2.getMessage}")
  }

  test("arrayJoin duplicates the row per element, like CH (explode semantics)") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    Seq((1, Seq("a", "b")), (2, Seq("c")), (3, Seq.empty[String]))
      .toDF("id", "arr").createOrReplaceTempView("chaj_t")
    val got = spark.sql("SELECT id, arrayJoin(arr) AS v FROM chaj_t ORDER BY id, v")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    // empty arrays drop the row — CH arrayJoin semantics
    assert(got == Seq((1, "a"), (1, "b"), (2, "c")))
  }

  test("plural quantiles: one aggregation pass, array out, exact and sketch forms") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("x").createOrReplaceTempView("chq_t")
    val r = spark.sql(
      """SELECT quantilesExact(x, 0.0, 0.5, 1.0) AS qs,
        |       quantilesTDigest(x, 0.25, 0.5) AS qt FROM chq_t""".stripMargin).head()
    assert(r.getSeq[Double](0) == Seq(1.0, 3.0, 5.0))
    assert(r.getSeq[Double](1)(1) == 3.0)
  }

  test("ChSql shims: PREWHERE (merging), FORMAT strip, WITH TOTALS rewrite") {
    import graft.engine.ChSql
    import spark.implicits._
    def norm(s: String) = s.replaceAll("\\s+", " ").trim
    assert(norm(ChSql.prewhere("SELECT x FROM t PREWHERE a > 0")) ==
      "SELECT x FROM t WHERE a > 0")
    // PREWHERE + WHERE conjoin (CH applies both); BOTH sides are
    // parenthesized so a top-level OR in the companion binds CH-style:
    // p AND (a OR b), not (p AND a) OR b
    assert(norm(ChSql.prewhere("SELECT x FROM t PREWHERE a > 0 WHERE b < 2")) ==
      "SELECT x FROM t WHERE (a > 0) AND (b < 2)")
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE a = 1 OR b = 2")) ==
      "SELECT x FROM t WHERE (p) AND (a = 1 OR b = 2)")
    // the companion expression is clause-bounded: trailing GROUP BY /
    // ORDER BY / LIMIT stay outside the injected parens
    assert(norm(ChSql.prewhere(
      "SELECT a, count(*) FROM t PREWHERE p WHERE b = 1 OR c = 2 GROUP BY a LIMIT 5")) ==
      "SELECT a, count(*) FROM t WHERE (p) AND (b = 1 OR c = 2) GROUP BY a LIMIT 5")
    // call-form keyword lookalikes in the PREWHERE expression (CH's
    // format() function) are NOT clause enders — the companion WHERE
    // must still be found and merged
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE format('{}', d) = 'a' WHERE b = 1")) ==
      "SELECT x FROM t WHERE (format('{}', d) = 'a') AND (b = 1)")
    // quoted identifiers named after clause keywords are masked out of
    // the keyword scans entirely (backtick and double-quote forms)
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE `offset` > 0 WHERE \"format\" = 1")) ==
      "SELECT x FROM t WHERE (`offset` > 0) AND (\"format\" = 1)")
    // UNQUOTED keyword-named columns in expression position are not
    // clause enders either: the grammar-shape guard demands each
    // keyword's clause shape (LIMIT+number, SETTINGS name=, FORMAT ident
    // at end, WINDOW ident AS), so `format = 1` / `x + offset > 10` /
    // `settings = 1` / `window > 5` stay inside the companion
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE format = 1")) ==
      "SELECT x FROM t WHERE (p) AND (format = 1)")
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE offset > 0 WHERE b = 1")) ==
      "SELECT x FROM t WHERE (offset > 0) AND (b = 1)")
    assert(norm(ChSql.prewhere(
      "SELECT a, count(*) FROM t PREWHERE p WHERE x + offset > 10 OR settings = 1 " +
        "GROUP BY a")) ==
      "SELECT a, count(*) FROM t WHERE (p) AND (x + offset > 10 OR settings = 1) GROUP BY a")
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE window > 5 AND b = format")) ==
      "SELECT x FROM t WHERE (p) AND (window > 5 AND b = format)")
    // ...while the real clause shapes still end the companion: LIMIT with
    // a number AND with a parenthesized constant (never a function call)
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE b = 1 LIMIT 5")) ==
      "SELECT x FROM t WHERE (p) AND (b = 1) LIMIT 5")
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE b = 1 LIMIT (1+1)")) ==
      "SELECT x FROM t WHERE (p) AND (b = 1) LIMIT (1+1)")
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE b = 1 FORMAT TabSeparated")) ==
      "SELECT x FROM t WHERE (p) AND (b = 1) FORMAT TabSeparated")
    // ...and the rarer valid clause forms: FORMAT before a trailing
    // SETTINGS, a quoted format/window name, a {param:Type} LIMIT value
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE b = 1 FORMAT JSON SETTINGS max_threads = 1")) ==
      "SELECT x FROM t WHERE (p) AND (b = 1) FORMAT JSON SETTINGS max_threads = 1")
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE b = 1 FORMAT `JSONEachRow`")) ==
      "SELECT x FROM t WHERE (p) AND (b = 1) FORMAT `JSONEachRow`")
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE b = 1 WINDOW `w` AS (ORDER BY x)")) ==
      "SELECT x FROM t WHERE (p) AND (b = 1) WINDOW `w` AS (ORDER BY x)")
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE b = 1 LIMIT {n:UInt64}")) ==
      "SELECT x FROM t WHERE (p) AND (b = 1) LIMIT {n:UInt64}")
    // doubled-quote escapes inside a quoted clause name still tokenize
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE b = 1 WINDOW `a``b` AS (ORDER BY x)")) ==
      "SELECT x FROM t WHERE (p) AND (b = 1) WINDOW `a``b` AS (ORDER BY x)")
    // a SETTINGS follower must be clause-SHAPED (name =): format/settings
    // as columns in one expression never truncate the companion
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE p WHERE x < format AND settings = 1")) ==
      "SELECT x FROM t WHERE (p) AND (x < format AND settings = 1)")
    // ...and the strip layer accepts the same shapes the scanner does:
    // quoted format names, and FORMAT in either order around SETTINGS
    assert(norm(ChSql.stripFormat("SELECT x FROM t FORMAT `JSONEachRow`")) ==
      "SELECT x FROM t")
    assert(norm(ChSql("SELECT x FROM t ORDER BY x FORMAT JSON SETTINGS max_threads = 1")) ==
      "SELECT x FROM t ORDER BY x")
    assert(norm(ChSql("SELECT x FROM t ORDER BY x SETTINGS max_threads = 1 FORMAT `JSON`")) ==
      "SELECT x FROM t ORDER BY x")
    // strip layer matches the scanner on doubled-quote-escaped names and
    // never splits an identifier ending in "...settings" mid-word
    assert(norm(ChSql("SELECT x FROM t ORDER BY x SETTINGS max_threads = 1 FORMAT `a``b`")) ==
      "SELECT x FROM t ORDER BY x")
    assert(norm(ChSql.stripFormat("SELECT 1 FORMAT myformatsettings x = 1")) ==
      "SELECT 1 FORMAT myformatsettings x = 1")
    // quote chars bound tokens without whitespace, on BOTH sides of the
    // name and in BOTH quote styles — asserted on stripFormat directly
    assert(norm(ChSql("SELECT 1 FORMAT `JSON`SETTINGS max_threads = 1")) ==
      "SELECT 1")
    assert(norm(ChSql.stripFormat("SELECT 1 FORMAT`JSON`")) == "SELECT 1")
    assert(norm(ChSql.stripFormat(
      "SELECT 1 FORMAT \"JSON\"SETTINGS max_threads = 1")) ==
      "SELECT 1 SETTINGS max_threads = 1")
    // stripSettings' trailing-FORMAT lookahead shares the same boundary
    // rule (one sub-pattern, so the two strips cannot drift)
    assert(norm(ChSql.stripSettings(
      "SELECT 1 SETTINGS max_threads = 1 FORMAT`JSON`")) ==
      "SELECT 1 FORMAT`JSON`")
    // a settings value token is possessive: the trailing-FORMAT lookahead
    // can never split it, at word-char or non-word-char boundaries alike
    assert(norm(ChSql.stripSettings("SELECT 1 SETTINGS a = 1format x")) ==
      "SELECT 1 SETTINGS a = 1format x")
    assert(norm(ChSql.stripSettings("SELECT 1 SETTINGS a = x-format json")) ==
      "SELECT 1 SETTINGS a = x-format json")
    // a column named format under a statement-final sort direction is a
    // KEY, not an output-format clause — in the strip layer and in the
    // runningWindow ORDER-keys scan alike
    assert(norm(ChSql.stripFormat("SELECT x FROM t ORDER BY format ASC")) ==
      "SELECT x FROM t ORDER BY format ASC")
    assert(norm(ChSql.runningWindow(
      "SELECT runningDifference(v) AS d FROM t ORDER BY format DESC")) ==
      "SELECT ((v) - lagInFrame(v, 1, v) OVER (ORDER BY format DESC)) AS d " +
        "FROM t ORDER BY format DESC")
    // ...while a real FORMAT clause after the keys still strips
    assert(norm(ChSql.stripFormat("SELECT x FROM t ORDER BY k FORMAT JSON")) ==
      "SELECT x FROM t ORDER BY k")
    // a clause never crosses a statement boundary: the second statement's
    // WHERE is not this PREWHERE's companion
    assert(norm(ChSql.prewhere(
      "SELECT a FROM t PREWHERE p; SELECT b FROM u WHERE c")) ==
      "SELECT a FROM t WHERE p; SELECT b FROM u WHERE c")
    // CH double-quoted identifiers translate to backticks (Spark's
    // default parser would read "x" as a STRING literal); doubled-quote
    // escapes unwrap, strings keep their double-quote bytes
    assert(norm(ChSql.chQuotedIdents("SELECT \"offset\" FROM t WHERE \"a\"\"b\" = 1")) ==
      "SELECT `offset` FROM t WHERE `a\"b` = 1")
    assert(norm(ChSql.chQuotedIdents("SELECT 'he said \"hi\"' AS s FROM t")) ==
      "SELECT 'he said \"hi\"' AS s FROM t")
    assert(norm(ChSql("SELECT \"offset\" FROM t PREWHERE \"offset\" > 0 WHERE b = 1")) ==
      "SELECT `offset` FROM t WHERE (`offset` > 0) AND (b = 1)")
    // control escapes in a double-quoted identifier DECODE (CH string
    // rules), they don't just drop the backslash
    assert(ChSql.chQuotedIdents("SELECT \"a\\nb\" FROM t") ==
      "SELECT `a\nb` FROM t")
    // the shared escape table pins CH's lexer edges: \e is ESC, \N the
    // empty NULL spelling, ASCII controls (<= 0x1F) drop the backslash,
    // DEL and unknown chars KEEP it (the LIKE-convenience rule)
    assert(ChSql.chEscape("e", 0) == ("\u001B", 1))
    assert(ChSql.chEscape("N", 0) == ("", 1))
    assert(ChSql.chEscape("\u0001q", 0) == ("\u0001", 1))
    assert(ChSql.chEscape("\u007Fq", 0) == ("\\\u007F", 1))
    assert(ChSql.chEscape("gq", 0) == ("\\g", 1))
    assert(ChSql.chEscape("x41", 0) == ("A", 3))
    // apply() is per-statement: strips anchor inside each statement and
    // a trio call windows by ITS OWN statement's ORDER BY
    assert(norm(ChSql("SELECT 1 FORMAT JSON; SELECT 2 FORMAT CSV")) ==
      "SELECT 1 ; SELECT 2")
    assert(norm(ChSql(
      "SELECT 1; SELECT runningDifference(v) AS d FROM t ORDER BY v")) ==
      "SELECT 1; SELECT ((v) - lagInFrame(v, 1, v) OVER (ORDER BY v)) AS d " +
        "FROM t ORDER BY v")
    // a WHERE inside a subquery of the PREWHERE expression belongs to the
    // subquery — the clause pair matches at the same paren depth only
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE k IN (SELECT k2 FROM u WHERE z = 1) WHERE b = 2")) ==
      "SELECT x FROM t WHERE (k IN (SELECT k2 FROM u WHERE z = 1)) AND (b = 2)")
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE k IN (SELECT k2 FROM u WHERE z = 1)")) ==
      "SELECT x FROM t WHERE k IN (SELECT k2 FROM u WHERE z = 1)")
    // nested PREWHEREs each merge within their OWN block, iteratively —
    // no stale-offset corruption across edits
    assert(norm(ChSql.prewhere(
      "SELECT x FROM t PREWHERE k IN (SELECT k2 FROM u PREWHERE p WHERE z = 1) WHERE b = 2")) ==
      "SELECT x FROM t WHERE (k IN (SELECT k2 FROM u WHERE (p) AND (z = 1) )) AND (b = 2)")
    // the WHERE of a later UNION branch (or past any clause keyword) is
    // NOT this PREWHERE's companion
    assert(norm(ChSql.prewhere(
      "SELECT a FROM t PREWHERE p UNION ALL SELECT a FROM u WHERE w = 1")) ==
      "SELECT a FROM t WHERE p UNION ALL SELECT a FROM u WHERE w = 1")
    assert(norm(ChSql.prewhere(
      "SELECT a, count(*) FROM t PREWHERE p GROUP BY a")) ==
      "SELECT a, count(*) FROM t WHERE p GROUP BY a")
    assert(norm(ChSql.stripFormat("SELECT 1 FORMAT TabSeparated;")) == "SELECT 1")
    // SETTINGS strip: single and multi-knob, composed with FORMAT either
    // side, and a mid-query 'settings' name is left alone
    assert(norm(ChSql.stripSettings("SELECT 1 SETTINGS max_threads = 8")) == "SELECT 1")
    assert(norm(ChSql.stripSettings(
      "SELECT 1 SETTINGS max_threads = 8, max_memory_usage = 10000000;")) == "SELECT 1 ;")
    assert(norm(ChSql(
      "SELECT a FROM t ORDER BY a SETTINGS max_threads = 4 FORMAT Pretty")) ==
      "SELECT a FROM t ORDER BY a")
    assert(norm(ChSql.stripSettings("SELECT settings FROM t WHERE a = 1")) ==
      "SELECT settings FROM t WHERE a = 1")
    // quoted values may contain commas/semicolons — and doubled-quote
    // escapes, whose quote chars survive string masking
    assert(norm(ChSql.stripSettings(
      "SELECT 1 SETTINGS log_comment = 'a,b;c', max_threads = 2")) == "SELECT 1")
    assert(norm(ChSql.stripSettings(
      "SELECT 1 SETTINGS log_comment = 'it''s a test'")) == "SELECT 1")
    // CH bracket array literals -> array(); tuple elements -> tuple();
    // subscripts and string contents stay; grouping parens stay
    assert(norm(ChSql.chLiterals("SELECT [1, 2, 3] AS a")) ==
      "SELECT array(1, 2, 3) AS a")
    assert(norm(ChSql.chLiterals("SELECT [('x', 1), ('y', 2)] AS a")) ==
      "SELECT array(tuple('x', 1), tuple('y', 2)) AS a")
    assert(norm(ChSql.chLiterals("SELECT [[1,2],[3]] AS a")) ==
      "SELECT array(array(1, 2), array(3)) AS a")
    assert(norm(ChSql.chLiterals("SELECT arr[1] FROM t WHERE s = '[x]'")) ==
      "SELECT arr[1] FROM t WHERE s = '[x]'")
    assert(norm(ChSql.chLiterals("SELECT [(1+2), 3] AS a")) ==
      "SELECT array((1+2), 3) AS a")
    // positional tuple access a.1 -> a.col1; floats untouched
    assert(ChSql.tupleIndex("SELECT a.1, a.23 FROM t WHERE x = 1.5") ==
      "SELECT a.col1, a.col23 FROM t WHERE x = 1.5")
    assert(ChSql.tupleIndex("SELECT 'a.1' FROM t") == "SELECT 'a.1' FROM t")
    // quoted identifiers pass through the in-place rewrites verbatim —
    // a column literally named `a.1` is not positional tuple access
    assert(ChSql.tupleIndex("SELECT `a.1`, \"b.2\" FROM t") ==
      "SELECT `a.1`, \"b.2\" FROM t")
    // a backslash-escaped quote must not flip the code/literal parity:
    // text after 'don\'t v1.1' is code (p.1 rewrites, xxHash64 rewrites),
    // text inside it is data (v1.1 stays)
    assert(ChSql.tupleIndex("SELECT 'don\\'t v1.1' AS s, p.1 FROM t") ==
      "SELECT 'don\\'t v1.1' AS s, p.col1 FROM t")
    assert(ChSql.xxHash("SELECT 'esc\\' xxHash64(' AS s, xxHash64(k) FROM t") ==
      "SELECT 'esc\\' xxHash64(' AS s, chXxHash64(k) FROM t")
    // keyword shims match on the masked text: a literal containing
    // 'where'/'with totals' is data, and group slices keep literal bytes
    assert(norm(ChSql.prewhere("SELECT 'where' AS w FROM t PREWHERE a > 0")) ==
      "SELECT 'where' AS w FROM t WHERE a > 0")
    assert(norm(ChSql.withTotals(
      "SELECT a, max('with totals') AS s, count(*) FROM t GROUP BY a WITH TOTALS")) ==
      "SELECT a, max('with totals') AS s, count(*) FROM t " +
        "GROUP BY GROUPING SETS ((a), ())")
    assert(norm(ChSql.withTotals("SELECT a, count(*) FROM t GROUP BY a WITH TOTALS")) ==
      "SELECT a, count(*) FROM t GROUP BY GROUPING SETS ((a), ())")
    // WITH ROLLUP / WITH CUBE lower onto Spark's own hierarchies; composed
    // ChSql() keeps a WITH TOTALS suffix out of a rollup key list
    assert(norm(ChSql.withRollupCube(
      "SELECT a, b, count(*) FROM t GROUP BY a, b WITH ROLLUP")) ==
      "SELECT a, b, count(*) FROM t GROUP BY ROLLUP(a, b)")
    assert(norm(ChSql.withRollupCube(
      "SELECT a, b, count(*) FROM t GROUP BY a, b WITH CUBE ORDER BY a")) ==
      "SELECT a, b, count(*) FROM t GROUP BY CUBE(a, b) ORDER BY a")
    assert(norm(ChSql("SELECT a FROM t GROUP BY a WITH ROLLUP SETTINGS max_threads = 2")) ==
      "SELECT a FROM t GROUP BY ROLLUP(a)")
    // GLOBAL drops before joins and IN, stays elsewhere (it could be a name)
    assert(norm(ChSql.stripGlobal("SELECT 1 FROM a GLOBAL ANY LEFT JOIN b ON a.k = b.k")) ==
      "SELECT 1 FROM a ANY LEFT JOIN b ON a.k = b.k")
    assert(norm(ChSql.stripGlobal("SELECT 1 FROM a GLOBAL JOIN b USING (k)")) ==
      "SELECT 1 FROM a JOIN b USING (k)")
    assert(norm(ChSql.stripGlobal("SELECT x FROM t WHERE k GLOBAL IN (SELECT k FROM s)")) ==
      "SELECT x FROM t WHERE k IN (SELECT k FROM s)")
    assert(norm(ChSql.stripGlobal("SELECT x FROM t WHERE k GLOBAL NOT IN (1, 2)")) ==
      "SELECT x FROM t WHERE k NOT IN (1, 2)")
    assert(norm(ChSql.stripGlobal("SELECT global FROM t")) == "SELECT global FROM t")
    // CH scalar WITH (expression-first): inlined through the body,
    // chained references resolve, string literals untouched
    assert(norm(ChSql.scalarWith("WITH 2 AS n SELECT n + 1 AS v FROM t WHERE x < n")) ==
      "SELECT (2) + 1 AS v FROM t WHERE x < (2)")
    assert(norm(ChSql.scalarWith("WITH 2 AS a, a * 3 AS b SELECT b FROM t")) ==
      "SELECT ((2) * 3) FROM t")
    // a quoted identifier spelling the alias name is NOT a reference to
    // it — `n` the column survives while bare n inlines
    assert(norm(ChSql.scalarWith("WITH 2 AS n SELECT `n` AS x, n AS y FROM t")) ==
      "SELECT `n` AS x, (2) AS y FROM t")
    assert(norm(ChSql.scalarWith("WITH 10 AS lim SELECT 'lim is lim' AS s, lim FROM t")) ==
      "SELECT 'lim is lim' AS s, (10) FROM t")
    // real CTE lists pass through untouched (Spark owns them)
    val cte = "WITH t2 AS (SELECT x FROM t) SELECT x FROM t2"
    assert(ChSql.scalarWith(cte) == cte)
    // end-to-end: a scalar WITH query actually runs
    Seq(1, 2, 3, 9).toDF("v").createOrReplaceTempView("chsw_t")
    val swGot = spark.sql(ChSql("WITH 3 AS cutoff SELECT count(*) AS n FROM chsw_t WHERE v <= cutoff"))
      .head().getLong(0)
    assert(swGot == 3L)

    // end-to-end: totals row appended, both filters applied
    Seq((1, "x"), (2, "x"), (3, "y"), (8, "y")).toDF("v", "g")
      .createOrReplaceTempView("chsql_t")
    val got = spark.sql(ChSql(
      """SELECT g, count(*) AS n FROM chsql_t
        |PREWHERE v < 5 WHERE v > 1
        |GROUP BY g WITH TOTALS ORDER BY g FORMAT CSV""".stripMargin))
      .collect().map(r => (if (r.isNullAt(0)) "TOTALS" else r.getString(0)) -> r.getLong(1))
    assert(got.toSeq == Seq("TOTALS" -> 2L, "x" -> 1L, "y" -> 1L))
  }

  test("ChSql runningWindow: deprecated block-order trio translates; no ORDER BY rejects") {
    import graft.engine.ChSql
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    def norm(s: String) = s.replaceAll("\\s+", " ").trim

    // string-level forms
    assert(norm(ChSql.runningWindow("SELECT runningDifference(v) AS d FROM t ORDER BY k")) ==
      "SELECT ((v) - lagInFrame(v, 1, v) OVER (ORDER BY k)) AS d FROM t ORDER BY k")
    assert(norm(ChSql.runningWindow("SELECT neighbor(v, 2) AS n FROM t ORDER BY k LIMIT 5")) ==
      "SELECT (leadInFrame(v, (2), defaultValueOfArgumentType(v)) OVER (ORDER BY k)) " +
        "AS n FROM t ORDER BY k LIMIT 5")
    assert(norm(ChSql.runningWindow("SELECT neighbor(v, -1, 9) AS p FROM t ORDER BY k DESC")) ==
      "SELECT (leadInFrame(v, (-1), (9)) OVER (ORDER BY k DESC)) AS p FROM t ORDER BY k DESC")
    // state column from a subquery: the producing <agg>State names the merge
    assert(norm(ChSql.runningWindow(
      "SELECT runningAccumulate(st) AS r FROM (SELECT k, sumState(v) AS st FROM t GROUP BY k) ORDER BY k")) ==
      "SELECT (sumMerge(st) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "AS r FROM (SELECT k, sumState(v) AS st FROM t GROUP BY k) ORDER BY k")
    // inline state degenerates to the raw running aggregate; the second
    // argument is CH's reset-on-change grouping -> PARTITION BY
    assert(norm(ChSql.runningWindow(
      "SELECT runningAccumulate(sumState(v), g) AS r FROM t ORDER BY g, k")) ==
      "SELECT (sum(v) OVER (PARTITION BY (g) ORDER BY g, k " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS r FROM t ORDER BY g, k")
    // a subquery block rewrites against its OWN order by, not the outer one
    assert(norm(ChSql.runningWindow(
      "SELECT d FROM (SELECT runningDifference(v) AS d FROM t ORDER BY v) ORDER BY d")) ==
      "SELECT d FROM (SELECT ((v) - lagInFrame(v, 1, v) OVER (ORDER BY v)) AS d FROM t ORDER BY v) ORDER BY d")
    // function names inside string literals are NOT calls
    val lit = "SELECT 'neighbor(v, 1)' AS s FROM t"
    assert(ChSql.runningWindow(lit) == lit)
    // CH resolves function names case-SENSITIVELY: other casings are not
    // the deprecated trio and pass through to the resolver untouched
    val cased = "SELECT NEIGHBOR(v, 1) AS n, RUNNINGDIFFERENCE(v) AS d FROM t ORDER BY k"
    assert(ChSql.runningWindow(cased) == cased)
    // ordering the block by the trio call's own SELECT alias is valid CH
    // (block order, then sort) but unresolvable as a window key — reject
    // with the fix named, not Spark's unresolved-column error
    val ea = intercept[IllegalArgumentException](ChSql.runningWindow(
      "SELECT runningDifference(v) AS d FROM t ORDER BY d"))
    assert(ea.getMessage.contains("alias"), s"got: ${ea.getMessage}")
    // ...but an ORDER BY key that is a real input column (or an identity
    // alias — bare or table-qualified) still rewrites
    assert(norm(ChSql.runningWindow(
      "SELECT k AS k, runningDifference(v) AS d FROM t ORDER BY k")).contains(
      "OVER (ORDER BY k)"))
    assert(norm(ChSql.runningWindow(
      "SELECT t.k AS k, runningDifference(v) AS d FROM t ORDER BY k")).contains(
      "OVER (ORDER BY k)"))
    // a leading scalar WITH list must not skip the alias-key guard (the
    // SELECT keyword is located at depth 0, not string-start-anchored)
    val eaw = intercept[IllegalArgumentException](ChSql.runningWindow(
      "WITH 2 AS c SELECT runningDifference(v) AS d FROM t ORDER BY d"))
    assert(eaw.getMessage.contains("alias"))
    // a backslash-escaped quote does NOT terminate the literal: the call
    // after it still rewrites and the ORDER BY is still found
    assert(norm(ChSql.runningWindow(
      "SELECT 'don\\'t (' AS s, runningDifference(v) AS d FROM t ORDER BY k")) ==
      "SELECT 'don\\'t (' AS s, ((v) - lagInFrame(v, 1, v) OVER (ORDER BY k)) " +
        "AS d FROM t ORDER BY k")
    // a trio call nested in another trio call's ARGUMENT would become a
    // window inside a window — rejected at rewrite time with the subquery
    // workaround named (not Spark's opaque nested-window AnalysisException)
    val en = intercept[IllegalArgumentException](ChSql.runningWindow(
      "SELECT runningDifference(neighbor(v, 1)) AS d FROM t ORDER BY k"))
    assert(en.getMessage.contains("subquery"))
    // an error raised from a SUBQUERY inside the argument is NOT the
    // nested-window case — it passes through undisguised (here: the
    // subquery's grouped runningAccumulate violates the leading-key rule)
    val esub = intercept[IllegalArgumentException](ChSql.runningWindow(
      "SELECT neighbor((SELECT runningAccumulate(sumState(v), g) AS r " +
        "FROM t2 ORDER BY x, g LIMIT 1), 1) AS n FROM u ORDER BY k"))
    assert(esub.getMessage.contains("leading ORDER BY key"),
      s"got: ${esub.getMessage}")
    // ...but a trio call inside a SCALAR-SUBQUERY argument is its own
    // block: it rewrites against the SUBQUERY's ORDER BY, the outer call
    // against the outer block's — no rejection
    val sub = norm(ChSql.runningWindow(
      "SELECT neighbor((SELECT runningDifference(v) AS d FROM t2 ORDER BY v LIMIT 1), 1) AS n " +
        "FROM u ORDER BY k"))
    assert(sub.contains("OVER (ORDER BY v)") && sub.contains("OVER (ORDER BY k)"))
    // grouped runningAccumulate demands the grouping LEAD the ORDER BY:
    // CH resets on value change in row order, which PARTITION BY matches
    // only when the order clusters the grouping
    val eg = intercept[IllegalArgumentException](ChSql.runningWindow(
      "SELECT runningAccumulate(sumState(v), g) AS r FROM t ORDER BY k, g"))
    assert(eg.getMessage.contains("leading ORDER BY key"))

    // rejection: block-order dependence without an explicit ORDER BY
    for (bad <- Seq(
        "SELECT runningDifference(v) FROM t",
        "SELECT runningAccumulate(sumState(v)) FROM t",
        "SELECT neighbor(v, 1) FROM t",
        // subquery call cannot borrow the OUTER block's ORDER BY
        "SELECT d FROM (SELECT runningDifference(v) AS d FROM t) ORDER BY d")) {
      val e = intercept[IllegalArgumentException](ChSql.runningWindow(bad))
      assert(e.getMessage.contains("ORDER BY"), s"for: $bad")
    }
    // unknown state column: merge function cannot be inferred
    val e2 = intercept[IllegalArgumentException](
      ChSql.runningWindow("SELECT runningAccumulate(mystery) FROM t ORDER BY k"))
    assert(e2.getMessage.contains("merge"))

    // end-to-end semantics on a five-row series (CH doc values):
    // runningDifference first row = 0; neighbor default = TYPE default (0)
    Seq((1L, 10L), (2L, 13L), (3L, 13L), (4L, 20L), (5L, 18L))
      .toDF("k", "v").createOrReplaceTempView("chrw_t")
    val rows = spark.sql(ChSql(
      """SELECT k, runningDifference(v) AS d,
        |       neighbor(v, 1) AS nx,
        |       neighbor(v, -1, -1) AS pv,
        |       runningAccumulate(sumState(v)) AS run
        |FROM chrw_t ORDER BY k""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (1L, 0L, 13L, -1L, 10L),
      (2L, 3L, 13L, 10L, 23L),
      (3L, 0L, 20L, 13L, 36L),
      (4L, 7L, 18L, 13L, 56L),
      (5L, -2L, 0L, 20L, 74L)))

    // end-to-end state-column form: per-group running accumulation over a
    // grouped subquery (the CH runningAccumulate doc idiom)
    val acc = spark.sql(ChSql(
      """SELECT g, k, runningAccumulate(st, g) AS r
        |FROM (SELECT CAST(v % 2 AS BIGINT) AS g, CAST(v AS BIGINT) AS k, sumState(v) AS st
        |      FROM (SELECT explode(sequence(1, 6)) AS v) GROUP BY v % 2, v)
        |ORDER BY g, k""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(acc.toSeq == Seq(
      (0L, 2L, 2L), (0L, 4L, 6L), (0L, 6L, 12L),
      (1L, 1L, 1L), (1L, 3L, 4L), (1L, 5L, 9L)))

    // defaultValueOfArgumentType: type defaults, not values
    val dv = spark.sql(
      "SELECT defaultValueOfArgumentType(5), defaultValueOfArgumentType('x'), " +
        "defaultValueOfArgumentType(1.5D)").head()
    assert(dv.getInt(0) == 0 && dv.getString(1) == "" && dv.getDouble(2) == 0.0)
  }

  test("COMPLEX_KEY_HASHED dictGet: tuple and flat key forms, defaults, nulls") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    // (country, tier) -> cpm dictionary: a string+int tuple key
    val dim = Seq(
      ("US", 1, 9.5, "premium"), ("US", 2, 4.0, "mid"),
      ("DE", 1, 7.25, "premium")).toDF("country", "tier", "cpm", "segment")
    graft.functions.Dictionaries.registerComplex(spark, "dim.dict_cpm", dim,
      Seq("country", "tier"), defaults = Map("cpm" -> -1.0))
    Seq(("US", 1), ("US", 2), ("DE", 1), ("FR", 1))
      .toDF("country", "tier").createOrReplaceTempView("cpm_probe")

    val got = spark.sql(
      """SELECT country, tier,
        |       dictGet('dim.dict_cpm', 'cpm', tuple(country, tier)) AS cpm,
        |       dictGet('dim.dict_cpm', 'segment', country, tier) AS segment
        |FROM cpm_probe ORDER BY country, tier""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getString(3)))
    assert(got.toSeq == Seq(
      ("DE", 1, 7.25, "premium"),
      ("FR", 1, -1.0, ""),    // missing key: declared default / type default
      ("US", 1, 9.5, "premium"),
      ("US", 2, 4.0, "mid")))

    // a null key component is a missing key, not an error
    val nullKey = spark.sql(
      "SELECT dictGet('dim.dict_cpm', 'cpm', tuple(CAST(NULL AS STRING), 1)) AS c")
      .collect().head.getDouble(0)
    assert(nullKey == -1.0)

    // arity and kind mismatches fail with clear messages
    val arity = intercept[Exception](spark.sql(
      "SELECT dictGet('dim.dict_cpm', 'cpm', tuple('US', 1, 2))").collect())
    assert(arity.getMessage.contains("key is (country, tier)"))
    val kind = intercept[Exception](spark.sql(
      "SELECT dictGet('dim.dict_cpm', 'cpm', toUInt64(1))").collect())
    assert(kind.getMessage.contains("complex (tuple) key"))
  }

  test("CREATE DICTIONARY with COMPLEX_KEY_HASHED layout replays onto the tuple registry") {
    import spark.implicits._
    val ddl =
      """CREATE DICTIONARY dim.dict_geo_price (
        |  country String,
        |  tier UInt32,
        |  price Float64 default -1
        |)
        |PRIMARY KEY country, tier
        |SOURCE(CLICKHOUSE(db 'dim' table 'geo_price_src'))
        |LIFETIME(MIN 60 MAX 120)
        |LAYOUT(COMPLEX_KEY_HASHED())""".stripMargin
    val parsed = graft.engine.ChDdl.parse(ddl)
    val d = parsed.collect { case x: graft.engine.ChDdl.CreateDictionary => x }.head
    assert(d.primaryKeys == Seq("country", "tier"))
    assert(d.isComplexKey)
    assert(d.layout.equalsIgnoreCase("COMPLEX_KEY_HASHED"))

    val replay = new graft.engine.ChReplay(spark,
      graft.engine.ChReplay.scratchWarehouse("graft-ckh-dict"))
    replay.bind("dim.geo_price_src",
      Seq(("US", 1, 9.5), ("DE", 2, 3.5)).toDF("country", "tier", "price"))
    parsed.foreach(replay.execute)
    val got = replay.runQuery(
      "SELECT dictGet('dim.dict_geo_price', 'price', tuple('DE', 2)) AS p, " +
        "dictGet('dim.dict_geo_price', 'price', tuple('XX', 9)) AS miss")
      .collect().head
    assert(got.getDouble(0) == 3.5)
    assert(got.getDouble(1) == -1.0) // declared default
  }

  test("action_002 MV + join-of-aggregates read query run verbatim (dwm:239-326)") {
    Catalog.register(spark, sf)
    // the 002 log's wide-table MV SELECT, verbatim shape (dwm:274-296)
    val mv002 = spark.sql(
      """SELECT day
        |     ,hour
        |     ,platform
        |     ,ver
        |     ,item_id
        |     ,dictGet('dim.dict_user_dim', 'gender', toUInt64(uid)) as gender
        |     ,uniqCombinedStateIf(uid, a.action_a_cnt>0) as acta_uv
        |     ,sum(a.action_a_cnt) as acta_cnt
        |     ,uniqCombinedStateIf(uid, a.action_b_cnt>0) as actb_uv
        |     ,sum(a.action_b_cnt) as actb_cnt
        |     ,groupBitmapStateIf(uid, a.action_a_cnt>0) as acta_bm
        |     ,groupBitmapStateIf(uid, a.action_d_sum>0) as actd_bm
        |from ods.action_002_local as a
        |group by day, hour, platform, ver, item_id, gender""".stripMargin)
    assert(mv002.count() > 0)

    // the doc's left-join-of-aggregate-subqueries read (dwm:300-326;
    // `USING (day, gender)` takes parens in Spark)
    val joined = spark.sql(
      """select t1.day, t1.gender, shown_uv, click_uv, acta_uv, actb_uv
        |from (
        |  SELECT day
        |       ,dictGet('dim.dict_user_dim', 'gender', toUInt64(uid)) as gender
        |       ,uniqCombinedIf(uid, a.show_cnt>0) as shown_uv
        |       ,uniqCombinedIf(uid, a.click_cnt>0) as click_uv
        |  from dws.action_001_dis as a
        |  group by day, gender
        |) as t1
        |left join (
        |  SELECT day
        |       ,dictGet('dim.dict_user_dim', 'gender', toUInt64(uid)) as gender
        |       ,uniqCombinedIf(uid, a.action_a_cnt>0) as acta_uv
        |       ,uniqCombinedIf(uid, a.action_b_cnt>0) as actb_uv
        |  from dws.action_002_dis as a
        |  group by day, gender
        |) as t2
        |USING (day, gender)
        |ORDER BY day, gender""".stripMargin).collect()
    assert(joined.nonEmpty)
    val exact = spark.sql(
      """SELECT day, dictGet('dim.dict_user_dim', 'gender', toUInt64(uid)) AS gender,
        |       count(DISTINCT CASE WHEN show_cnt>0 THEN uid END) AS shown_uv
        |FROM dws.action_001_dis GROUP BY day, gender ORDER BY day, gender""".stripMargin)
      .collect()
    joined.zip(exact).foreach { case (j, e) =>
      assert(j.getDate(0) == e.getDate(0) && j.getString(1) == e.getString(1))
      assert(math.abs(j.getLong(2) - e.getLong(2)) <= math.max(1L, e.getLong(2) / 20))
      assert(!j.isNullAt(4), "left-join brings 002 metrics for matching keys")
    }
  }

  test("dictGet plans as a broadcast map probe, not a join") {
    ChCompat.register(spark)
    val t = Tables(spark, sf)
    graft.functions.Dictionaries.register(spark, "dim.plan_nation",
      t.nation.select(col("n_nationkey"), col("n_name")), keyCol = "n_nationkey")
    t.customer.createOrReplaceTempView("plan_cust")
    val plan = spark.sql(
      """SELECT dictGet('dim.plan_nation', 'n_name', toUInt64(c_nationkey)) AS nation,
        |       count(1) AS cnt
        |FROM plan_cust GROUP BY nation""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"dictGet must not plan a join:\n$plan")
  }

  test("dictGet handles non-string attribute types and odd keys") {
    import spark.implicits._
    ChCompat.register(spark)
    val dim = Seq((1L, java.sql.Date.valueOf("2024-03-01"), BigDecimal("12.50"), 3.5))
      .toDF("k", "d", "m", "x")
      .select(col("k"), col("d"), col("m").cast("decimal(18,2)").as("m"), col("x"))
    graft.functions.Dictionaries.register(spark, "dim.typed_test", dim, keyCol = "k")
    val hit = spark.sql(
      """SELECT dictGet('dim.typed_test', 'd', toUInt64(1)) AS d,
        |       dictGet('dim.typed_test', 'm', toUInt64(1)) AS m,
        |       dictGet('dim.typed_test', 'x', toUInt64(1)) AS x""".stripMargin)
      .collect().head
    assert(hit.getDate(0) == java.sql.Date.valueOf("2024-03-01"))
    assert(hit.getDecimal(1) == new java.math.BigDecimal("12.50"))
    assert(hit.getDouble(2) == 3.5)
    // missing key: date/decimal have no CH-style default -> NULL; double -> 0
    val miss = spark.sql(
      """SELECT dictGet('dim.typed_test', 'd', toUInt64(99)) AS d,
        |       dictGet('dim.typed_test', 'm', toUInt64(99)) AS m,
        |       dictGet('dim.typed_test', 'x', toUInt64(99)) AS x""".stripMargin)
      .collect().head
    assert(miss.isNullAt(0) && miss.isNullAt(1))
    assert(miss.getDouble(2) == 0.0)
    // uncastable key behaves as missing instead of failing the job
    val weird = spark.sql(
      "SELECT dictGet('dim.typed_test', 'x', 'not-a-number') AS x").collect().head
    assert(weird.getDouble(0) == 0.0)
    graft.functions.Dictionaries.drop("dim.typed_test")
  }

  test("re-registering a dictionary swaps the snapshot (LIFETIME refresh)") {
    import spark.implicits._
    ChCompat.register(spark)
    graft.functions.Dictionaries.register(spark, "dim.refresh_test",
      Seq((1L, "old")).toDF("k", "v"), keyCol = "k")
    assert(spark.sql("SELECT dictGet('dim.refresh_test', 'v', toUInt64(1))")
      .collect().head.getString(0) == "old")
    // the LIFETIME(MIN..MAX) cycle (ref dim.dict_user_dim.sql:20) is
    // "re-register per refresh": the next parse sees the new snapshot
    graft.functions.Dictionaries.register(spark, "dim.refresh_test",
      Seq((1L, "new")).toDF("k", "v"), keyCol = "k")
    assert(spark.sql("SELECT dictGet('dim.refresh_test', 'v', toUInt64(1))")
      .collect().head.getString(0) == "new")
    graft.functions.Dictionaries.drop("dim.refresh_test")
  }

  test("-If combinators match their CASE-form equivalents") {
    ChCompat.register(spark)
    Tables(spark, sf).events.createOrReplaceTempView("action_log")
    val r = spark.sql(
      """SELECT sumIf(value, event_type = 'view') AS s1,
        |       sum(CASE WHEN event_type = 'view' THEN value END) AS s2,
        |       countIf(event_type = 'view') AS c1,
        |       count(CASE WHEN event_type = 'view' THEN 1 END) AS c2,
        |       uniqExactIf(user_id, event_type = 'view') AS u1,
        |       count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS u2,
        |       minIf(value, event_type = 'view') AS m1,
        |       min(CASE WHEN event_type = 'view' THEN value END) AS m2,
        |       maxIf(value, event_type = 'view') AS x1,
        |       max(CASE WHEN event_type = 'view' THEN value END) AS x2,
        |       uniqCombinedIf(user_id, event_type = 'view') AS a1,
        |       uniqExactIf(user_id, event_type = 'view') AS a2
        |FROM action_log""".stripMargin).collect().head
    assert(r.getDouble(0) == r.getDouble(1))
    assert(r.getLong(2) == r.getLong(3))
    assert(r.getLong(4) == r.getLong(5))
    assert(r.getDouble(6) == r.getDouble(7))
    assert(r.getDouble(8) == r.getDouble(9))
    // HLL vs exact within 5%
    assert(math.abs(r.getLong(10) - r.getLong(11)) <= math.max(1L, r.getLong(11) / 20))
  }

  test("states written by the Scala Metric API merge via the SQL combinators") {
    import graft.mv._
    Catalog.register(spark, sf)
    val st = new StateTable(spark, tmpDir("interop") + "/t",
      keys = Seq("day", "event_type"), partitionCol = "day",
      metrics = Seq(
        HllUvMetric("uv_hll", col("user_id")),
        BitmapUvMetric("uv_bm", col("user_id")),
        SumMetric("value_sum", queries.dec(col("value")))))
    val ev = Tables(spark, sf).eventsWithDefaults
    st.appendBatch(ev.filter(col("event_id") % 2 === 0))
    st.appendBatch(ev.filter(col("event_id") % 2 === 1))
    Catalog.registerParquet(spark, "dws.state_interop", st.path)

    val viaSql = spark.sql(
      """SELECT event_type,
        |       uniqCombinedMerge(uv_hll) AS uv_hll,
        |       groupBitmapMerge(uv_bm) AS uv_bm,
        |       sumMerge(value_sum) AS value_sum
        |FROM dws.state_interop
        |GROUP BY event_type ORDER BY event_type""".stripMargin).collect()
    val viaApi = st.finalized(Seq("event_type")).orderBy("event_type").collect()
    assert(viaSql.length == viaApi.length && viaSql.nonEmpty)
    viaSql.zip(viaApi).foreach { case (s, a) =>
      assert(s.getString(0) == a.getString(0))
      assert(s.getLong(1) == a.getLong(1), "HLL states interoperate bit-for-bit")
      assert(s.getLong(2) == a.getLong(2), "bitmap states interoperate")
      assert(s.getDecimal(3) == a.getDecimal(3), "sum partials re-sum identically")
    }
  }

  test("byteSize shows the state-size story; hostName evaluates (doc:507-607)") {
    ChCompat.register(spark)
    val r = spark.sql(
      """SELECT byteSize('abc') AS b1,
        |       byteSize(uniqCombinedState(id)) AS hll_sz,
        |       byteSize(groupBitmapState(id)) AS bm_sz,
        |       byteSize(sumState(id)) AS sum_sz,
        |       hostName() AS h
        |FROM range(1000)""".stripMargin).collect().head
    assert(r.getLong(0) == 3L)
    // the doc's point: mergeable sketch states cost bytes, simple sums don't
    assert(r.getLong(1) > r.getLong(3) && r.getLong(2) > r.getLong(3))
    assert(r.getString(4).nonEmpty)
  }

  test("argMax/any/groupArray/quantile/multiIf/toTypeName aliases behave") {
    ChCompat.register(spark)
    Tables(spark, sf).lineitem.createOrReplaceTempView("li_alias")
    val r = spark.sql(
      """SELECT argMax(l_orderkey, l_quantity) AS am,
        |       max_by(l_orderkey, l_quantity) AS am2,
        |       argMin(l_orderkey, l_quantity) AS an,
        |       min_by(l_orderkey, l_quantity) AS an2,
        |       size(groupArray(l_linenumber)) AS ga,
        |       count(l_linenumber) AS ga2,
        |       size(groupUniqArray(l_returnflag)) AS gu,
        |       uniqExact(l_returnflag) AS gu2,
        |       quantileExact(l_quantity, 0.5) AS q,
        |       percentile(l_quantity, 0.5) AS q2,
        |       quantileTDigest(l_quantity, 0.5) AS qt,
        |       any_value(l_returnflag) AS a1,
        |       anyLast(l_returnflag) AS a2
        |FROM li_alias""".stripMargin).collect().head
    // Spark's boolean `any` must remain the built-in OR aggregate
    val anyOr = spark.sql(
      "SELECT any(l_quantity > 0) FROM li_alias").collect().head.getBoolean(0)
    assert(anyOr)
    assert(r.getLong(0) == r.getLong(1) && r.getLong(2) == r.getLong(3))
    assert(r.getInt(4).toLong == r.getLong(5))
    assert(r.getInt(6).toLong == r.getLong(7))
    assert(r.getDouble(8) == r.getDouble(9))
    assert(!r.isNullAt(10) && !r.isNullAt(11) && !r.isNullAt(12))

    val s = spark.sql(
      """SELECT multiIf(1 < 2, 'x', 1 > 2, 'y', 'z') AS mi,
        |       toTypeName(l_orderkey) AS tn
        |FROM li_alias LIMIT 1""".stripMargin).collect().head
    assert(s.getString(0) == "x")
    assert(s.getString(1) == "BIGINT")
  }

  test("numbers(N) table function generates like CH (doc:565-597)") {
    ChCompat.register(spark)
    val r = spark.sql(
      "SELECT count(1) AS c, sum(number) AS s, min(number) AS mn FROM numbers(1000)")
      .collect().head
    assert(r.getLong(0) == 1000L)
    assert(r.getLong(1) == 499500L)
    assert(r.getLong(2) == 0L)
    // CH's offset form: numbers(10, 5) = rows 10..14
    val o = spark.sql(
      "SELECT min(number) AS mn, max(number) AS mx, count(1) AS c FROM numbers(10, 5)")
      .collect().head
    assert((o.getLong(0), o.getLong(1), o.getLong(2)) == ((10L, 14L, 5L)))
    // malformed forms fail with the intended message, not a raw cast error
    val e = intercept[Exception] { spark.sql("SELECT * FROM numbers(1.5)").collect() }
    assert(e.getMessage.contains("integer literal") ||
      Option(e.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("toUInt32 wraps mod 2^32; interval/now/today scalars evaluate") {
    ChCompat.register(spark)
    val r = spark.sql(
      """SELECT toUInt32(-1) AS w1,
        |       toUInt32(4.9) AS w2,
        |       toUInt32(4294967301) AS w3,
        |       CAST('2021-06-06' AS DATE) + toIntervalDay(92) + toIntervalHour(5) AS ttl,
        |       CAST('2021-06-06' AS DATE) + INTERVAL 92 DAY + INTERVAL 5 HOUR AS ttl_native,
        |       now() AS n, today() AS t""".stripMargin).collect().head
    assert(r.getLong(0) == 4294967295L)
    assert(r.getLong(1) == 4L)
    assert(r.getLong(2) == 5L)
    assert(r.get(3) == r.get(4), "toIntervalDay/Hour TTL arithmetic matches native INTERVAL")
    assert(!r.isNullAt(5) && !r.isNullAt(6))
  }

  test("dateDiff: boundary-crossing semantics, negatives, literal-safe rewrite") {
    ChCompat.register(spark)
    val r = spark.sql(graft.engine.ChSql(
      """SELECT
        |  dateDiff('day',    toDateTime('2024-01-01 23:59:59'), toDateTime('2024-01-02 00:00:01')) AS dd,
        |  dateDiff('hour',   toDateTime('2024-01-01 10:59:00'), toDateTime('2024-01-01 11:01:00')) AS dh,
        |  dateDiff('month',  toDateTime('2024-01-31 00:00:00'), toDateTime('2024-02-01 00:00:00')) AS dm,
        |  dateDiff('week',   toDateTime('2024-01-14 00:00:00'), toDateTime('2024-01-15 00:00:00')) AS dw,
        |  dateDiff('year',   toDateTime('2024-12-31 23:59:59'), toDateTime('2025-01-01 00:00:00')) AS dy,
        |  dateDiff('second', toDateTime('2024-01-01 00:00:00'), toDateTime('2024-01-01 00:00:02')) AS ds,
        |  dateDiff('day',    toDateTime('2024-01-05 00:00:00'), toDateTime('2024-01-02 12:00:00')) AS neg
        |""".stripMargin).trim).head()
    // 2 seconds apart but a day boundary crossed — CH counts 1 (Spark's
    // native complete-interval timestampdiff would say 0)
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 1L, "hour boundary")
    assert(r.getLong(2) == 1L, "month boundary")
    assert(r.getLong(3) == 1L, "Sunday->Monday crosses the week boundary")
    assert(r.getLong(4) == 1L, "year boundary")
    assert(r.getLong(5) == 2L)
    assert(r.getLong(6) == -3L, "reversed operands count negative")
    // the rewrite must not touch string literals containing 'dateDiff('
    val lit = spark.sql(graft.engine.ChSql(
      "SELECT 'dateDiff(''x'') in text' AS t")).head().getString(0)
    assert(lit == "dateDiff('x') in text")
  }

  test("retention flags fire across DIFFERENT rows of a group, gated on the base") {
    import spark.implicits._
    ChCompat.register(spark)
    Seq(
      (1L, "view"), (1L, "click"),            // base + step on separate rows
      (2L, "click"), (2L, "purchase"),        // steps without the base
      (3L, "view"),                           // base only
      (4L, "view"), (4L, "purchase"))         // base + later step
      .toDF("uid", "et").createOrReplaceTempView("graft_ret_toy")
    val got = spark.sql(
      """SELECT uid, retention(et = 'view', et = 'click', et = 'purchase') AS r
        |FROM graft_ret_toy GROUP BY uid ORDER BY uid""".stripMargin)
      .as[(Long, Seq[Int])].collect().toSeq
    assert(got == Seq(
      (1L, Seq(1, 1, 0)),
      (2L, Seq(0, 0, 0)), // no base -> later conditions don't count (CH semantics)
      (3L, Seq(1, 0, 0)),
      (4L, Seq(1, 0, 1))))
  }

  test("limitBy keeps the first n rows per group in order (CH LIMIT n BY)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("a", 1, 30.0), ("a", 2, 30.0), ("a", 3, 10.0),
      ("b", 4, 5.0), ("c", 5, 1.0), ("c", 6, 2.0), ("c", 7, 3.0))
      .toDF("g", "id", "score")
    val out = ChCompat.limitBy(df, 2,
        by = Seq(col("g")), order = Seq(col("score").desc, col("id")))
      .orderBy("g", "id")
      .as[(String, Int, Double)].collect().toSeq
    // ties (a,1)/(a,2) at 30.0 break by id; b keeps its single row; c keeps
    // the two highest scores
    assert(out == Seq(("a", 1, 30.0), ("a", 2, 30.0), ("b", 4, 5.0),
      ("c", 6, 2.0), ("c", 7, 3.0)))
  }

  test("-ForEach combinators: element-wise lanes, ragged arrays, empty groups") {
    ChCompat.register(spark)
    import spark.implicits._
    // ragged: result length = longest; each lane aggregates where present
    Seq(Seq(1L, 10L), Seq(2L, 20L, 300L), Seq(3L)).toDF("a")
      .createOrReplaceTempView("graft_fe_rag")
    val r = spark.sql(
      """SELECT sumForEach(a) AS s, minForEach(a) AS mn, maxForEach(a) AS mx,
        |       avgForEach(a) AS av FROM graft_fe_rag""".stripMargin).head()
    assert(r.getSeq[Long](0) == Seq(6L, 30L, 300L))
    assert(r.getSeq[Long](1) == Seq(1L, 10L, 300L))
    assert(r.getSeq[Long](2) == Seq(3L, 20L, 300L))
    assert(r.getSeq[Double](3) == Seq(2.0, 15.0, 300.0),
      "avg divides by per-lane presence count")
    // double arrays ride double lanes
    val d = spark.sql(
      "SELECT sumForEach(a) AS s FROM VALUES (array(1.5D, 2.0D)), (array(0.5D, 1.0D)) t(a)")
      .head().getSeq[Double](0)
    assert(d == Seq(2.0, 3.0))
    // partition-merge agreement: same result at any parallelism
    val big = (1 to 997).map(i => Seq(i.toLong, (i % 13).toLong))
    val one = big.toDF("a").repartition(1)
      .selectExpr("sumForEach(a) AS s").head().getSeq[Long](0)
    val many = big.toDF("a").repartition(17)
      .selectExpr("sumForEach(a) AS s").head().getSeq[Long](0)
    assert(one == many)
  }

  test("statistical aggregates: entropy, association family, closed forms") {
    ChCompat.register(spark)
    import spark.implicits._
    // uniform 2-value distribution → exactly 1 bit
    Seq("a", "a", "b", "b").toDF("x").createOrReplaceTempView("graft_ent2")
    assert(spark.sql("SELECT entropy(x) e FROM graft_ent2").head().getDouble(0) == 1.0)
    // 3:1 split → 2 − (3·log2 3)/4
    Seq("a", "a", "a", "b").toDF("x").createOrReplaceTempView("graft_ent31")
    val h = spark.sql("SELECT entropy(x) e FROM graft_ent31").head().getDouble(0)
    assert(math.abs(h - (2.0 - 3.0 * math.log(3) / math.log(2) / 4.0)) < 1e-12)
    // perfect association: x == y → cramersV = theilsU = 1, contingency = √(n/2n)
    Seq(("a", "a"), ("b", "b"), ("a", "a"), ("b", "b"))
      .toDF("x", "y").createOrReplaceTempView("graft_asc_perfect")
    val p = spark.sql(
      """SELECT cramersV(x, y) cv, theilsU(x, y) tu, contingency(x, y) cg
        |FROM graft_asc_perfect""".stripMargin).head()
    assert(p.getDouble(0) == 1.0)
    assert(p.getDouble(1) == 1.0)
    assert(math.abs(p.getDouble(2) - math.sqrt(0.5)) < 1e-12)
    // independence: each (x, y) cell equally filled → chi2 = 0 → all zero
    val ind = for (x <- Seq("a", "b"); y <- Seq("p", "q")) yield (x, y)
    ind.toDF("x", "y").createOrReplaceTempView("graft_asc_ind")
    val z = spark.sql(
      """SELECT cramersV(x, y) cv, cramersVBiasCorrected(x, y) cvbc,
        |       theilsU(x, y) tu, contingency(x, y) cg FROM graft_asc_ind""".stripMargin).head()
    assert(z.getDouble(0) == 0.0 && z.getDouble(1) == 0.0 &&
      z.getDouble(2) == 0.0 && z.getDouble(3) == 0.0)
    // parallelism invariance (sorted-order eval): 17 partitions == 1
    val big = (1 to 500).map(i => (s"k${i % 7}", s"v${i % 3}"))
    def cvAt(parts: Int) = big.toDF("x", "y").repartition(parts)
      .selectExpr("cramersV(x, y) cv", "entropy(x) h").head()
    assert(cvAt(1) == cvAt(17))
  }

  test("quantileExactWeighted: CH ascending-scan rule, weights, types") {
    ChCompat.register(spark)
    import spark.implicits._
    Seq((1L, 1), (2L, 1), (3L, 1), (4L, 1), (5L, 1))
      .toDF("v", "w").createOrReplaceTempView("graft_wq_flat")
    // uniform weights: threshold 2.5 → first cum ≥ 2.5 is v=3
    assert(spark.sql(
      "SELECT quantileExactWeighted(v, w, 0.5D) q FROM graft_wq_flat").head().getLong(0) == 3L)
    // heavy tail wins: weights (1,1,1,1,10) → total 14, thr 7 → v=5
    Seq((1L, 1), (2L, 1), (3L, 1), (4L, 1), (5L, 10))
      .toDF("v", "w").createOrReplaceTempView("graft_wq_heavy")
    assert(spark.sql(
      "SELECT quantileExactWeighted(v, w, 0.5D) q FROM graft_wq_heavy").head().getLong(0) == 5L)
    // medianExactWeighted alias; double values keep a double result
    Seq((1.5, 1), (2.5, 2), (9.0, 1))
      .toDF("v", "w").createOrReplaceTempView("graft_wq_dbl")
    val d = spark.sql("SELECT medianExactWeighted(v, w) q FROM graft_wq_dbl").head()
    assert(d.getDouble(0) == 2.5)
    // level 0 → minimum, level 1 → maximum
    val ext = spark.sql(
      """SELECT quantileExactWeighted(v, w, 0.0D) lo,
        |       quantileExactWeighted(v, w, 1.0D) hi FROM graft_wq_flat""".stripMargin).head()
    assert(ext.getLong(0) == 1L && ext.getLong(1) == 5L)
  }

  test("quantileInterpolatedWeighted: midpoint interpolation, clamps, weights") {
    ChCompat.register(spark)
    import spark.implicits._
    // uniform weights over 10/20/30: midpoints 1/6, 1/2, 5/6
    Seq((10L, 1), (20L, 1), (30L, 1))
      .toDF("v", "w").createOrReplaceTempView("graft_iq3")
    def q(view: String, level: Double): Double = spark.sql(
      s"SELECT quantileInterpolatedWeighted(v, w, ${level}D) q FROM $view")
      .head().getDouble(0)
    assert(q("graft_iq3", 0.5) == 20.0)
    // 0.25 between 1/6 and 1/2: 10 + 10*(0.25 - 1/6)/(1/3) = 12.5
    assert(math.abs(q("graft_iq3", 0.25) - 12.5) < 1e-12)
    // below the first / above the last midpoint clamps
    assert(q("graft_iq3", 0.05) == 10.0 && q("graft_iq3", 0.95) == 30.0)
    // weights shift the midpoints: (1 w3, 2 w1) → p = 0.375, 0.875;
    // q=0.5 → 1 + 1*(0.125/0.5) = 1.25
    Seq((1L, 3), (2L, 1)).toDF("v", "w").createOrReplaceTempView("graft_iq_w")
    assert(math.abs(q("graft_iq_w", 0.5) - 1.25) < 1e-12)
    // partitioning invariance (value→Σweight state merges exactly) and
    // the median alias; doubles stay double
    val pts = (1 to 400).map(i => ((i % 23).toDouble, 1 + i % 5))
    def at(parts: Int): (Double, Double) = {
      pts.toDF("v", "w").repartition(parts).createOrReplaceTempView("graft_iq_p")
      val r = spark.sql(
        """SELECT quantileInterpolatedWeighted(v, w, 0.7D) q,
          |       medianInterpolatedWeighted(v, w) m FROM graft_iq_p""".stripMargin).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val (q1, m1) = at(1)
    assert(at(9) == ((q1, m1)), "bit-identical under repartitioning")
    pts.toDF("v", "w").createOrReplaceTempView("graft_iq_m")
    assert(m1 == spark.sql(
      "SELECT quantileInterpolatedWeighted(v, w, 0.5D) q FROM graft_iq_m")
      .head().getDouble(0), "median alias = level 0.5")
  }

  test("deltaSum family: positive deltas, timestamp determinism") {
    ChCompat.register(spark)
    import spark.implicits._
    // single partition: plain deltaSum follows data order
    Seq(4.0, 5.0, 1.0, 2.0).toDF("v").repartition(1)
      .createOrReplaceTempView("graft_dsum_one")
    assert(spark.sql("SELECT deltaSum(v) d FROM graft_dsum_one")
      .head().getDouble(0) == 2.0)
    // deltaSumTimestamp: order comes from ts, not partitioning
    val rows = Seq((10L, 1.0), (20L, 3.0), (30L, 2.0), (40L, 7.0))
    def dst(parts: Int) = rows.toDF("ts", "v").repartition(parts)
      .selectExpr("deltaSumTimestamp(v, ts) d").head().getDouble(0)
    assert(dst(1) == 7.0, "(1→3)+2 + (2→7)+5")
    assert(dst(7) == 7.0, "shuffled partitions must not change the result")
  }

  test("rankCorr: monotonic ±1, ties, null on constant input") {
    ChCompat.register(spark)
    import spark.implicits._
    Seq((1.0, 10.0), (2.0, 20.0), (3.0, 35.0), (4.0, 70.0))
      .toDF("x", "y").createOrReplaceTempView("graft_rc_mono")
    assert(spark.sql("SELECT rankCorr(x, y) r FROM graft_rc_mono")
      .head().getDouble(0) == 1.0)
    assert(spark.sql("SELECT rankCorr(x, -y) r FROM graft_rc_mono")
      .head().getDouble(0) == -1.0)
    // constant column → zero rank variance → NULL (undefined)
    Seq((1.0, 5.0), (2.0, 5.0)).toDF("x", "y")
      .createOrReplaceTempView("graft_rc_const")
    assert(spark.sql("SELECT rankCorr(x, y) r FROM graft_rc_const").head().isNullAt(0))
    // ties get average ranks: x = (1,1,2), y = (1,2,3) → rx = (1.5,1.5,3)
    Seq((1.0, 1.0), (1.0, 2.0), (2.0, 3.0)).toDF("x", "y")
      .createOrReplaceTempView("graft_rc_tie")
    val r = spark.sql("SELECT rankCorr(x, y) r FROM graft_rc_tie").head().getDouble(0)
    assert(math.abs(r - math.sqrt(3.0) / 2.0) < 1e-12) // closed form for this fixture
  }

  test("intervalLengthSum: union semantics, adjacency, parallelism") {
    ChCompat.register(spark)
    import spark.implicits._
    // [1,3] ∪ [2,5] ∪ [7,8] → 4 + 1 = 5
    Seq((1L, 3L), (2L, 5L), (7L, 8L)).toDF("s", "e")
      .createOrReplaceTempView("graft_iv_basic")
    assert(spark.sql("SELECT intervalLengthSum(s, e) l FROM graft_iv_basic")
      .head().getLong(0) == 5L)
    // adjacent segments merge ([1,2] ∪ [2,3] = [1,3]); points add 0;
    // inverted rows ignored
    Seq((1L, 2L), (2L, 3L), (9L, 9L), (8L, 4L)).toDF("s", "e")
      .createOrReplaceTempView("graft_iv_adj")
    assert(spark.sql("SELECT intervalLengthSum(s, e) l FROM graft_iv_adj")
      .head().getLong(0) == 2L)
    // double input → double out; compaction across many partitions
    val many = (0 until 1000).map(i => ((i % 100).toDouble, (i % 100) + 1.5))
    def tot(parts: Int) = many.toDF("s", "e").repartition(parts)
      .selectExpr("intervalLengthSum(s, e) l").head().getDouble(0)
    assert(tot(1) == 100.5 && tot(13) == 100.5) // [0, 100.5] fully covered
  }

  test("sumCount / boundingRatio / simpleLinearRegression composites") {
    ChCompat.register(spark)
    import spark.implicits._
    Seq((1L, 3.0), (2L, 5.0), (3L, 7.0), (4L, 9.0))
      .toDF("x", "y").createOrReplaceTempView("graft_slr")
    val r = spark.sql(
      """SELECT sumCount(x).sum s, sumCount(x).count c,
        |       boundingRatio(x, y) br,
        |       simpleLinearRegression(x, y).k k,
        |       simpleLinearRegression(x, y).b b
        |FROM graft_slr""".stripMargin).head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.0) // (9−3)/(4−1)
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-12) // y = 2x + 1 exactly
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)
  }

  test("exponentialTimeDecayed family: weights, anchor, invariance") {
    ChCompat.register(spark)
    import spark.implicits._
    // two points one λ apart: weights e^-1 and 1
    Seq((0L, 10.0), (100L, 20.0)).toDF("t", "v")
      .createOrReplaceTempView("graft_td_fix")
    val r = spark.sql(
      """SELECT exponentialTimeDecayedSum(v, t, 100.0D) s,
        |       exponentialTimeDecayedCount(v, t, 100.0D) c,
        |       exponentialTimeDecayedAvg(v, t, 100.0D) a,
        |       exponentialTimeDecayedMax(v, t, 100.0D) m
        |FROM graft_td_fix""".stripMargin).head()
    val w0 = math.exp(-1.0)
    assert(math.abs(r.getDouble(0) - (10.0 * w0 + 20.0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - (w0 + 1.0)) < 1e-12)
    assert(math.abs(r.getDouble(2) - (10.0 * w0 + 20.0) / (w0 + 1.0)) < 1e-12)
    assert(r.getDouble(3) == 20.0)
    // partitioning invariance
    val pts = (1 to 400).map(i => (i.toLong, (i % 9).toDouble))
    def at(parts: Int) = pts.toDF("t", "v").repartition(parts)
      .selectExpr("exponentialTimeDecayedSum(v, t, 50.0D) s").head().getDouble(0)
    assert(at(1) == at(13))
  }

  test("minSampleSize planners: closed forms with published z-quantiles") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    // conversion: p1=0.25, mde=0.03, power=0.8, alpha=0.05
    // z = 1.9599640 + 0.8416212 = 2.8015852; var = .25*.75 + .28*.72 = .3891
    val c = row("minSampleSizeConversion(0.25D, 0.03D, 0.8D, 0.05D)").getStruct(0)
    val z = 1.959963984540054 + 0.8416212335729143
    assert(math.abs(c.getDouble(0) - z * z * (0.25 * 0.75 + 0.28 * 0.72) / 0.0009) < 1e-6)
    assert(c.getDouble(1) == 0.22 && c.getDouble(2) == 0.28)
    // continuous: baseline=112.25, sigma=21.1, RELATIVE mde=0.03
    val k = row("minSampleSizeContinous(112.25D, 21.1D, 0.03D, 0.8D, 0.05D)").getStruct(0)
    val delta = 112.25 * 0.03
    assert(math.abs(k.getDouble(0) - 2 * 21.1 * 21.1 * z * z / (delta * delta)) < 1e-6)
    assert(math.abs(k.getDouble(1) - 112.25 * 0.97) < 1e-9)
    // both spellings resolve
    assert(row("minSampleSizeContinuous(1.0D, 1.0D, 0.1D, 0.8D, 0.05D)").getStruct(0)
      .getDouble(0) > 0)
  }

  test("shim edge cases: windowless QUALIFY, multi-key tumble, subquery safety") {
    ChCompat.register(spark)
    import spark.implicits._
    Seq((1, 10), (1, 30), (2, 50)).toDF("g", "v")
      .createOrReplaceTempView("graft_edge_fix")
    // QUALIFY over a plain alias (no window) still filters correctly
    assert(graft.engine.ChSql.run(spark,
      """SELECT g, v * 2 AS dbl FROM graft_edge_fix
        |QUALIFY dbl > 50 ORDER BY g, dbl""".stripMargin).collect()
      .map(_.getInt(1)).toSeq == Seq(60, 100))
    // a QUALIFY inside a quoted literal or subquery must not rewrite at
    // the outer level
    assert(!graft.engine.ChQualify.applies(
      "SELECT * FROM (SELECT 1 AS x QUALIFY x = 1) t"))
    // tumble beside other grouping keys
    Seq(("2024-01-01 10:15:00", "a"), ("2024-01-01 10:45:00", "a"),
      ("2024-01-01 10:50:00", "b"))
      .map { case (t, k) => (java.sql.Timestamp.valueOf(t), k) }
      .toDF("ts", "k").createOrReplaceTempView("graft_edge_tw")
    val tw = spark.sql(
      """SELECT k, CAST(win.start AS STRING) s, cnt FROM (
        |  SELECT k, tumble(ts, INTERVAL 1 HOUR) win, count(*) cnt
        |  FROM graft_edge_tw GROUP BY k, tumble(ts, INTERVAL 1 HOUR))
        |ORDER BY k, s""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(tw == Seq(("a", 2L), ("b", 1L)))
    // DISTINCT ON ordered by an expression, not just columns
    val d = graft.engine.ChSql.run(spark,
      """SELECT DISTINCT ON (g) g, v FROM graft_edge_fix
        |ORDER BY g, v * -1""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(d == Seq((1, 30), (2, 50)), "descending via the expression")
  }

  test("bare quantile/median and sample moments") {
    ChCompat.register(spark)
    import spark.implicits._
    Seq(1.0, 2.0, 3.0, 4.0, 10.0).toDF("v").createOrReplaceTempView("graft_bq")
    val r = spark.sql(
      """SELECT quantile(v) q50, quantile(v, 0.8D) q80, median(v) med,
        |       concat_ws(',', quantiles(v, 0.0D, 1.0D)) ext
        |FROM graft_bq""".stripMargin).head()
    assert(r.getDouble(0) == 3.0 && r.getDouble(2) == 3.0)
    // exact-low/high bracket without interpolation; lttb alias resolves
    val lh = spark.sql(
      """SELECT quantileExactLow(v, 0.5D) lo, quantileExactHigh(v, 0.5D) hi,
        |       medianExactLow(v) ml, quantileExactLow(v, 0.8D) l8,
        |       quantileExactHigh(v, 0.8D) h8,
        |       size(lttb(v, v, 3)) n
        |FROM graft_bq""".stripMargin).head()
    assert(lh.getDouble(0) == 3.0 && lh.getDouble(1) == 3.0 && lh.getDouble(2) == 3.0)
    assert(lh.getDouble(3) == 4.0 && lh.getDouble(4) == 10.0,
      "0.8·(n−1) = 3.2 brackets to the 4th/5th sorted element")
    assert(lh.getInt(5) == 3)
    assert(math.abs(r.getDouble(1) - 5.2) < 1e-12, "exact interpolated 0.8 percentile")
    assert(r.getString(3) == "1.0,10.0")
    // sample moments vs hand computation on a tiny fixture
    val xs = Seq(2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0)
    xs.toDF("v").createOrReplaceTempView("graft_moments")
    val n = xs.size.toDouble
    val m = xs.sum / n
    val d = xs.map(_ - m)
    val m2 = d.map(x => x * x).sum / n
    val varSamp = d.map(x => x * x).sum / (n - 1)
    // CH contract: population central moments over the SAMPLE variance
    val skSampRef = (d.map(x => x * x * x).sum / n) / math.pow(varSamp, 1.5)
    val kurtPopRef = (d.map(x => x * x * x * x).sum / n) / (m2 * m2)
    val kurtSampRef = (d.map(x => x * x * x * x).sum / n) / (varSamp * varSamp)
    val mo = spark.sql(
      "SELECT skewSamp(v) ss, kurtPop(v) kp, kurtSamp(v) ks FROM graft_moments").head()
    assert(math.abs(mo.getDouble(0) - skSampRef) < 1e-12)
    assert(math.abs(mo.getDouble(1) - kurtPopRef) < 1e-12)
    assert(math.abs(mo.getDouble(2) - kurtSampRef) < 1e-12)
  }

  test("entropy/quantile -State/-Merge: partials equal the one-shot") {
    ChCompat.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1 to 2000).map(_ => (rnd.nextInt(4), rnd.nextInt(20).toLong, rnd.nextInt(3) + 1))
    rows.toDF("part", "v", "w").repartition(9).createOrReplaceTempView("graft_sm_fix")
    val r = spark.sql(
      """WITH p AS (
        |  SELECT part, entropyState(v) hs,
        |         quantileExactWeightedState(v, w) qs
        |  FROM graft_sm_fix GROUP BY part)
        |SELECT (SELECT entropyMerge(hs) FROM p) merged_h,
        |       (SELECT entropy(v) FROM graft_sm_fix) direct_h,
        |       (SELECT quantileExactWeightedMerge(qs, 0.5D) FROM p) merged_q,
        |       (SELECT quantileExactWeighted(v, w, 0.5D) FROM graft_sm_fix) direct_q
        |""".stripMargin).head()
    assert(r.getDouble(0) == r.getDouble(1), "merged entropy == one-shot, bit-exact")
    assert(r.getLong(2) == r.getLong(3), "merged weighted quantile == one-shot")
    // a bare decimal level (parses as DecimalType) works like 0.5D
    assert(spark.sql(
      """SELECT quantileExactWeightedMerge(qs, 0.5) q FROM (
        |  SELECT quantileExactWeightedState(v, w) qs FROM graft_sm_fix)""".stripMargin)
      .head().getLong(0) == r.getLong(2))
    // the weighted state path rejects non-integral values at ANALYSIS
    // time (its keys must round-trip through toLong at merge)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT quantileExactWeightedState(CAST(v AS DOUBLE), w) s FROM graft_sm_fix")
        .collect()
    }
  }

  test("-Resample combinator: bucket expansion, edges, caps") {
    ChCompat.register(spark)
    import spark.implicits._
    Seq((0, 10L), (5, 20L), (10, 30L), (19, 40L), (25, 50L))
      .toDF("k", "x").createOrReplaceTempView("graft_rs_fix")
    val r = spark.sql(
      """SELECT concat_ws(',', sumResample(x, k, 0, 30, 10)) s,
        |       concat_ws(',', countResample(x, k, 0, 30, 10)) c,
        |       concat_ws(',', minResample(x, k, 0, 30, 10)) mn
        |FROM graft_rs_fix""".stripMargin).head()
    assert(r.getString(0) == "30,70,50", "buckets [0,10) [10,20) [20,30)")
    assert(r.getString(1) == "2,2,1")
    assert(r.getString(2) == "10,30,50")
    // a key outside [start, end) contributes nowhere
    Seq((40, 99L)).toDF("k", "x").createOrReplaceTempView("graft_rs_out")
    assert(spark.sql(
      "SELECT concat_ws(',', countResample(x, k, 0, 30, 10)) c FROM graft_rs_out")
      .head().getString(0) == "0,0,0")
    // uneven last bucket: [0,25) step 10 -> [0,10) [10,20) [20,25)
    assert(spark.sql(
      "SELECT size(sumResample(x, k, 0, 25, 10)) n FROM graft_rs_fix")
      .head().getInt(0) == 3)
    intercept[Exception] {
      spark.sql("SELECT sumResample(x, k, 0, 2000000, 1) s FROM graft_rs_fix").collect()
    }
    // plural weighted quantiles agree with the singular form per level
    Seq((1L, 1), (2L, 1), (3L, 1), (4L, 1), (5L, 10)).toDF("v", "w")
      .createOrReplaceTempView("graft_rs_wq")
    val wq = spark.sql(
      """SELECT concat_ws(',', quantilesExactWeighted(v, w, 0.5D, 0.9D)) ws,
        |       quantileExactWeighted(v, w, 0.5D) w50
        |FROM graft_rs_wq""".stripMargin).head()
    assert(wq.getString(0) == "5,5" && wq.getLong(1) == 5L)
    assert(spark.sql(
      "SELECT concat_ws(',', groupUniqArrayCapped(v, 2)) g FROM graft_rs_wq")
      .head().getString(0) == "1,2")
  }

  test("arrayFirst/Last (+Index), resize, withConstant, partial sort") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    assert(row("arrayFirst(x -> x > 10, array(5, 20, 30))").getInt(0) == 20)
    assert(row("arrayLast(x -> x > 10, array(5, 20, 30))").getInt(0) == 30)
    assert(row("arrayFirst(x -> x > 99, array(5, 20))").isNullAt(0))
    assert(row("arrayFirstIndex(x -> x > 10, array(5, 20, 30))").getInt(0) == 2)
    assert(row("arrayLastIndex(x -> x > 10, array(5, 20, 30))").getInt(0) == 3)
    assert(row("arrayFirstIndex(x -> x > 99, array(5, 20))").getInt(0) == 0)
    assert(row("concat_ws(',', arrayResize(array(1, 2, 3), 2))").getString(0) == "1,2")
    assert(row("concat_ws(',', arrayResize(array(1, 2), 4, 9))").getString(0) == "1,2,9,9")
    assert(row("size(arrayResize(array(1, 2), 4))").getInt(0) == 4)
    assert(row("concat_ws(',', arrayWithConstant(3, 7))").getString(0) == "7,7,7")
    assert(row("concat_ws(',', arrayPartialSort(2, array(3, 1, 2)))").getString(0) == "1,2,3")
    assert(row("concatWithSeparator('-', 'a', 'b')").getString(0) == "a-b")
    assert(row("substringIndex('a.b.c', '.', 2)").getString(0) == "a.b")
    assert(row("arrayDotProduct(array(1.0D, 2.0D), array(3.0D, 4.0D))").getDouble(0) == 11.0)
  }

  test("QUALIFY and DISTINCT ON rewrites") {
    ChCompat.register(spark)
    import spark.implicits._
    Seq((1, 10), (1, 30), (1, 20), (2, 5), (2, 50))
      .toDF("g", "v").createOrReplaceTempView("graft_qd_fix")
    // QUALIFY filters on the window alias after computation
    val q = graft.engine.ChSql.run(spark,
      """SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v DESC) AS rn
        |FROM graft_qd_fix
        |QUALIFY rn = 1
        |ORDER BY g""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(q == Seq((1, 30), (2, 50)))
    // DISTINCT ON = first row per group under the ORDER BY
    val d = graft.engine.ChSql.run(spark,
      """SELECT DISTINCT ON (g) g, v
        |FROM graft_qd_fix
        |ORDER BY g, v""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(d == Seq((1, 10), (2, 5)))
    // a quoted 'qualify' must not trigger the rewrite
    assert(!graft.engine.ChQualify.applies("SELECT ' qualify x ' AS s FROM t"))
    // DISTINCT ON without ORDER BY is refused (nondeterministic in CH too)
    intercept[RuntimeException] {
      graft.engine.ChDistinctOn.rewrite("SELECT DISTINCT ON (g) g, v FROM t")
    }
    // a trailing LIMIT stays OUTSIDE the per-group pick
    val dl = graft.engine.ChSql.run(spark,
      """SELECT DISTINCT ON (g) g, v
        |FROM graft_qd_fix
        |ORDER BY g, v LIMIT 1""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(dl == Seq((1, 10)), "LIMIT 1 applies after the per-group heads")
    // QUALIFY composed with LIMIT n BY: QUALIFY rewrites first, its tail
    // carries the LIMIT BY outward for ChLimitBy
    val composed = graft.engine.ChLimitBy.rewrite(graft.engine.ChQualify.rewrite(
      """SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
        |FROM graft_qd_fix
        |QUALIFY rn <= 2
        |ORDER BY g, v LIMIT 1 BY g""".stripMargin))
    assert(spark.sql(composed).collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      == Seq((1, 10), (2, 5)))
  }

  test("tuple/HLL/timestamp64 alias mop-up") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    assert(row("tupleElement(tuple('a', 42), 2)").getInt(0) == 42)
    assert(row("tupleElement(named_struct('x', 7, 'y', 8), 'y')").getInt(0) == 8)
    // HLL spellings agree with uniqCombined exactly (same estimator)
    val u = spark.range(0, 5000).selectExpr(
      "uniqHLL12(id % 1000) a", "uniqCombined64(id % 1000) b",
      "uniqCombined(id % 1000) c").head()
    assert(u.getLong(0) == u.getLong(2) && u.getLong(1) == u.getLong(2))
    assert(row("quantileBFloat16(5.0D, 0.5D)").getDouble(0) == 5.0)
    assert(row("toUnixTimestamp64Milli(timestamp'2024-01-01 00:00:00.250')")
      .getLong(0) == 1704067200250L)
    assert(row("CAST(fromUnixTimestamp64Milli(1704067200250L) AS STRING)")
      .getString(0) == "2024-01-01 00:00:00.25")
    // millis that aren't binary-exact must not lose a microsecond
    assert(row("CAST(fromUnixTimestamp64Milli(57L) AS STRING)")
      .getString(0) == "1970-01-01 00:00:00.057")
    assert(row("toUnixTimestamp64Milli(fromUnixTimestamp64Milli(999L))")
      .getLong(0) == 999L)
    assert(row("CAST(addDate(toDate('2024-01-01'), 30) AS DATE)").getDate(0)
      .toString == "2024-01-31")
    assert(row("CAST(subDate(toDate('2024-01-31'), 30) AS DATE)").getDate(0)
      .toString == "2024-01-01")
    assert(row("concat_ws(',', mapKeys(mapFilter((k, v) -> v > 1, mapFromArrays(array('a', 'b'), array(1, 2)))))")
      .getString(0) == "b")
  }

  test("tumble/hop window buckets and the Null-engine insert pattern") {
    ChCompat.register(spark)
    import spark.implicits._
    Seq("2024-01-01 10:15:00", "2024-01-01 10:45:00", "2024-01-01 11:20:00")
      .map(java.sql.Timestamp.valueOf).toDF("ts")
      .createOrReplaceTempView("graft_tw_fix")
    // tumble: half-open hourly buckets
    val t = spark.sql(
      """SELECT CAST(win.start AS STRING) s, cnt FROM (
        |  SELECT tumble(ts, INTERVAL 1 HOUR) win, count(*) cnt
        |  FROM graft_tw_fix GROUP BY 1) ORDER BY s""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(t == Seq(("2024-01-01 10:00:00", 2L), ("2024-01-01 11:00:00", 1L)))
    // hop: window 1h sliding 30m — each event lands in two windows
    val h = spark.sql(
      """SELECT count(*) n FROM (
        |  SELECT hop(ts, INTERVAL 30 MINUTE, INTERVAL 1 HOUR) win, count(*) c
        |  FROM graft_tw_fix GROUP BY 1)""".stripMargin).head().getLong(0)
    assert(spark.sql(
      """SELECT sum(c) tot FROM (
        |  SELECT hop(ts, INTERVAL 30 MINUTE, INTERVAL 1 HOUR) win, count(*) c
        |  FROM graft_tw_fix GROUP BY 1)""".stripMargin).head().getLong(0) == 6L,
      "every event belongs to window/hop = 2 windows")
    assert(h >= 3)
    // tumbleStart/tumbleEnd, both spellings
    assert(spark.sql(
      "SELECT CAST(tumbleStart(timestamp'2024-01-01 10:45:00', INTERVAL 1 HOUR) AS STRING) s")
      .head().getString(0) == "2024-01-01 10:00:00")
    // ENGINE=Null: inserts feed MVs but store nothing
    val replay = new graft.engine.ChReplay(spark,
      graft.engine.ChReplay.scratchWarehouse("graft-null-engine"))
    replay.executeScript(
      """create table ods.feed (day Date, k UInt64, v UInt64) engine=Null;
        |create table dws.agg_local (
        | day Date, k UInt64, v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree() PARTITION BY day ORDER BY (day, k);
        |create materialized view dws.agg_mv to dws.agg_local (
        | day Date, k UInt64, v UInt64
        |) as select day, k, sum(v) as v from ods.feed group by day, k;
        |insert into ods.feed
        | select toDate('2024-01-01') as day, 1 as k, 10 as v from system.one;""".stripMargin)
    val agg = replay.stateTables("dws.agg_local").finalized().collect()
    assert(agg.length == 1 && agg.head.getAs[Long]("v") == 10L,
      "the MV saw the Null-engine insert")
    // a second insert re-fires the MV; the Null table itself never
    // accumulates, so only the MV target grows
    replay.executeScript(
      "insert into ods.feed select toDate('2024-01-01') as day, 1 as k, 5 as v from system.one;")
    assert(replay.stateTables("dws.agg_local").finalized().head().getAs[Long]("v") == 15L)
    // reading the Null table answers 0 rows (CH semantics), not an error
    assert(replay.runQuery("select count(day) as c from ods.feed").head().getLong(0) == 0L)
  }

  test("KS test, meanZTest, erf family — cross-checked vs commons-math3") {
    ChCompat.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val a = Array.fill(400)(rnd.nextGaussian())
    val b = Array.fill(300)(rnd.nextGaussian() * 1.3 + 0.2)
    val rows = a.map((_, 0)) ++ b.map((_, 1))
    rows.toSeq.toDF("v", "g").repartition(7).createOrReplaceTempView("graft_ks")
    val r = spark.sql(
      """SELECT kolmogorovSmirnovTest(v, g).d_statistic d,
        |       kolmogorovSmirnovTest(v, g).p_value p FROM graft_ks""".stripMargin).head()
    // commons-math3 computes the same D exactly and an (exact-ish) p —
    // D must match to float precision, p to the asymptotic's accuracy
    val ref = new org.apache.commons.math3.stat.inference.KolmogorovSmirnovTest
    val dRef = ref.kolmogorovSmirnovStatistic(a, b)
    val pRef = ref.kolmogorovSmirnovTest(a, b)
    assert(math.abs(r.getDouble(0) - dRef) < 1e-12, s"D ${r.getDouble(0)} vs $dRef")
    assert(math.abs(r.getDouble(1) - pRef) < 0.02, s"p ${r.getDouble(1)} vs $pRef")
    // identical samples: D = 0 must report p = 1, and a boolean index
    // column works (the natural cond spelling)
    val same = spark.sql(
      """SELECT kolmogorovSmirnovTest(v, g = 1).d_statistic d,
        |       kolmogorovSmirnovTest(v, g = 1).p_value p,
        |       mannWhitneyUTest(v, g = 1).u_statistic u
        |FROM VALUES (1.0, 0), (2.0, 0), (1.0, 1), (2.0, 1) t(v, g)""".stripMargin).head()
    assert(same.getDouble(0) == 0.0 && same.getDouble(1) == 1.0)
    assert(same.getDouble(2) == 2.0)
    // meanZTest: known variances 1 and 1.69; z from the closed form
    val z = spark.sql(
      """SELECT meanZTest(v, g, 1.0D, 1.69D, 0.95D).z_statistic z,
        |       meanZTest(v, g, 1.0D, 1.69D, 0.95D).p_value p,
        |       meanZTest(v, g, 1.0D, 1.69D, 0.95D).ci_low lo,
        |       meanZTest(v, g, 1.0D, 1.69D, 0.95D).ci_high hi
        |FROM graft_ks""".stripMargin).head()
    val m0 = a.sum / a.length; val m1 = b.sum / b.length
    val se = math.sqrt(1.0 / a.length + 1.69 / b.length)
    assert(math.abs(z.getDouble(0) - (m0 - m1) / se) < 1e-9)
    assert(z.getDouble(2) < m0 - m1 && m0 - m1 < z.getDouble(3))
    assert(math.abs((z.getDouble(3) - z.getDouble(2)) / 2 - 1.959963984540054 * se) < 1e-9)
    // erf family rides commons-math3 — spot values
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    assert(math.abs(row("erf(0.5D)").getDouble(0) - 0.5204998778130465) < 1e-14)
    assert(math.abs(row("erfc(0.5D)").getDouble(0) - 0.4795001221869535) < 1e-14)
    assert(math.abs(row("tgamma(5.0D)").getDouble(0) - 24.0) < 1e-10)
    assert(math.abs(row("lgamma(5.0D)").getDouble(0) - math.log(24.0)) < 1e-12)
  }

  test("HTML text extraction, UTF-8 hygiene, group capture, raw JSON arrays") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    def s(expr: String) = row(expr).getString(0)
    // CH contract: script/style bodies and comments drop, CDATA content
    // rides verbatim, entities stay encoded, whitespace collapses
    assert(s("extractTextFromHTML('<p>Hello<b>world</b></p>')") == "Hello world")
    assert(s("extractTextFromHTML('a<script>var x = \"<b>\";</script>b')") == "a b")
    assert(s("extractTextFromHTML('x<!-- no -->y')") == "xy")
    assert(s("extractTextFromHTML('&amp; stays')") == "&amp; stays")
    assert(s("extractTextFromHTML('<p>A<![CDATA[<raw>]]>B</p>')") == "A<raw>B")
    assert(s("extractTextFromHTML('open <b unterminated')") == "open")
    // group capture, both orientations
    assert(s("concat_ws('|', transform(extractAllGroupsHorizontal('a=1, b=2', '(\\\\w+)=(\\\\d+)'), g -> concat_ws(',', g)))")
      == "a,b|1,2")
    assert(s("concat_ws('|', transform(extractAllGroupsVertical('a=1, b=2', '(\\\\w+)=(\\\\d+)'), g -> concat_ws(',', g)))")
      == "a,1|b,2")
    // UTF-8: NFC composes, NFD decomposes, repair inserts U+FFFD
    assert(s("normalizeUTF8NFC('e\\u0301')") == "é")
    assert(s("normalizeUTF8NFD('\\u00e9')") == "é")
    assert(row("isValidUTF8('plain')").getBoolean(0))
    assert(s("toValidUTF8('ok')") == "ok")
    // query fingerprinting masks literals; hash groups equal shapes
    assert(s("normalizeQuery(\"SELECT 5, 'abc' FROM t WHERE x = 3.14\")")
      == "SELECT ?, ? FROM t WHERE x = ?")
    assert(row("normalizedQueryHash('SELECT 1') = normalizedQueryHash('SELECT 999')")
      .getBoolean(0))
    // raw JSON arrays: nested structures stay single elements
    assert(s("concat_ws(';', JSONExtractArrayRaw('[[1,2], {\"a\": [3]}, \"x,y\"]'))")
      == "[1,2];{\"a\": [3]};\"x,y\"")
    assert(row("JSONArrayLength('{\"k\": [1,2,3]}', 'k')").getInt(0) == 3)
    assert(row("JSONExtractArrayRaw('not an array')").isNullAt(0))
  }

  test("stat aggregates cross-check vs independent reference on random data") {
    ChCompat.register(spark)
    import spark.implicits._
    // fixed-seed random rows; the reference implementations below are
    // written from the definitions, independent of the expression code
    val rnd = new scala.util.Random(42)
    val rows = (1 to 3000).map { _ =>
      (s"c${rnd.nextInt(6)}", s"t${rnd.nextInt(4)}", rnd.nextInt(30).toLong,
        rnd.nextInt(5) + 1)
    }
    rows.toDF("x", "y", "v", "w").repartition(9)
      .createOrReplaceTempView("graft_xc")
    val got = spark.sql(
      """SELECT entropy(x) h, cramersV(x, y) cv, theilsU(x, y) tu,
        |       contingency(x, y) cg, quantileExactWeighted(v, w, 0.3D) q3,
        |       intervalLengthSum(v, v + CAST(w AS BIGINT)) il
        |FROM graft_xc""".stripMargin).head()

    def log2(d: Double) = math.log(d) / math.log(2)
    def entropyOf[A](vs: Seq[A]): Double = {
      val n = vs.size.toDouble
      -vs.groupBy(identity).values.map(_.size / n).map(p => p * log2(p)).sum
    }
    assert(math.abs(got.getDouble(0) - entropyOf(rows.map(_._1))) < 1e-9)

    val n = rows.size.toDouble
    val cells = rows.groupBy(r => (r._1, r._2)).map { case (k, g) => k -> g.size.toDouble }
    val rt = rows.groupBy(_._1).map { case (k, g) => k -> g.size.toDouble }
    val ct = rows.groupBy(_._2).map { case (k, g) => k -> g.size.toDouble }
    val chi2 = (for (x <- rt.keys; y <- ct.keys) yield {
      val e = rt(x) * ct(y) / n
      val o = cells.getOrElse((x, y), 0d)
      (o - e) * (o - e) / e
    }).sum
    val cvRef = math.sqrt(chi2 / n / math.min(rt.size - 1, ct.size - 1))
    assert(math.abs(got.getDouble(1) - cvRef) < 1e-9)
    val hx = entropyOf(rows.map(_._1))
    val hxy = ct.map { case (y, cy) =>
      cy / n * entropyOf(rows.filter(_._2 == y).map(_._1))
    }.sum
    assert(math.abs(got.getDouble(2) - (hx - hxy) / hx) < 1e-9)
    assert(math.abs(got.getDouble(3) - math.sqrt(chi2 / (chi2 + n))) < 1e-9)

    // weighted quantile: ascending scan, first cum >= 0.3 * W
    val byV = rows.groupBy(_._3).map { case (v, g) => v -> g.map(_._4.toLong).sum }
      .toSeq.sortBy(_._1)
    val total = byV.map(_._2).sum
    var acc = 0L
    val q3Ref = byV.find { case (_, w) => acc += w; acc >= 0.3 * total }.get._1
    assert(got.getLong(4) == q3Ref)

    // interval union by sweep
    val ivs = rows.map(r => (r._3, r._3 + r._4)).sortBy(_._1)
    var (cs, ce) = ivs.head
    var len = 0L
    ivs.tail.foreach { case (s, e) =>
      if (s <= ce) { if (e > ce) ce = e }
      else { len += ce - cs; cs = s; ce = e }
    }
    len += ce - cs
    assert(got.getLong(5) == len)
  }

  test("multiSearch first-position/index and case-insensitive ngram") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    assert(row("multiSearchFirstPosition('hello world', array('world', 'ello'))")
      .getInt(0) == 2, "smallest positive position wins")
    assert(row("multiSearchFirstPosition('hello', array('xx', 'yy'))").getInt(0) == 0)
    assert(row("multiSearchFirstIndex('hello world', array('zz', 'world', 'hello'))")
      .getInt(0) == 2, "first needle present in array order")
    assert(row("multiSearchFirstIndex('hello', array('xx'))").getInt(0) == 0)
    assert(row("ngramDistanceCaseInsensitive('ABCDEFGH', 'abcdefgh')").getDouble(0) == 0.0)
    assert(row("ngramSearchCaseInsensitive('The Quick Brown Fox', 'QUICK')").getDouble(0) == 1.0)
  }

  test("-Distinct/-OrNull/-OrDefault combinators") {
    ChCompat.register(spark)
    import spark.implicits._
    Seq(1, 1, 2, 2, 3).toDF("v").createOrReplaceTempView("graft_cmb")
    val r = spark.sql(
      """SELECT sumDistinct(v) sd, avgDistinct(v) ad, countDistinct(v) cd,
        |       sort_array(groupArrayDistinct(v)) ga
        |FROM graft_cmb""".stripMargin).head()
    assert(r.getLong(0) == 6L && r.getDouble(1) == 2.0 && r.getLong(2) == 3L)
    assert(r.getSeq[Int](3) == Seq(1, 2, 3))
    // empty set: OrNull → NULL, OrDefault → the default
    val e = spark.sql(
      """SELECT sumOrNull(v) sn, countOrNull(v) cn, minOrNull(v) mn,
        |       sumOrDefault(v, -1L) sdft, maxOrDefault(v, 99) mdft
        |FROM graft_cmb WHERE v > 100""".stripMargin).head()
    assert(e.isNullAt(0) && e.isNullAt(1) && e.isNullAt(2))
    assert(e.getLong(3) == -1L && e.getInt(4) == 99)
  }

  test("encoding/bit/IP/vector aliases: round-trips, CIDR, rand bounds, throwIf") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    assert(row("base64Decode(base64Encode('hello'))").getString(0) == "hello")
    assert(row("bitTest(10, 1)").getInt(0) == 1 && row("bitTest(10, 0)").getInt(0) == 0)
    assert(row("intExp2(10)").getLong(0) == 1024L)
    assert(row("roundToExp2(1000)").getLong(0) == 512L)
    assert(row("roundToExp2(0)").getLong(0) == 0L)
    assert(row("roundToExp2(0.5D)").getLong(0) == 0L, "below one returns 0")
    assert(row("roundDown(7, array(1, 5, 10))").getInt(0) == 5)
    assert(row("roundDown(0, array(1, 5, 10))").getInt(0) == 1, "below range → first")
    assert(row("roundBankers(2.5D, 0)").getDouble(0) == 2.0, "half to even")
    assert(row("IPv4NumToString(3232236804L)").getString(0) == "192.168.5.4")
    assert(row("IPv4StringToNum('192.168.5.4')").getLong(0) == 3232236804L)
    assert(row("isIPv4String('256.1.1.1')").getBoolean(0) == false)
    val cidr = row("IPv4CIDRToRange('192.168.5.77', 24)").getStruct(0)
    assert(cidr.getString(0) == "192.168.5.0" && cidr.getString(1) == "192.168.5.255")
    // vector math closed forms
    assert(row("dotProduct(array(1.0D, 2.0D), array(3.0D, 4.0D))").getDouble(0) == 11.0)
    assert(row("L2Distance(array(0.0D, 0.0D), array(3.0D, 4.0D))").getDouble(0) == 5.0)
    assert(row("LinfNorm(array(-7.0D, 3.0D))").getDouble(0) == 7.0)
    assert(math.abs(row("cosineDistance(array(1.0D, 0.0D), array(0.0D, 1.0D))")
      .getDouble(0) - 1.0) < 1e-12)
    // rand family bounds (statistical smoke, not exact)
    val r = spark.range(0, 1000)
      .selectExpr("rand32() r32", "randUniform(5.0D, 6.0D) ru")
      .selectExpr("max(r32) mx", "min(r32) mn", "avg(ru) au").head()
    assert(r.getLong(1) >= 0L && r.getLong(0) < 4294967296L)
    assert(r.getDouble(2) > 5.0 && r.getDouble(2) < 6.0)
    // throwIf: quiet on false, raises on true
    assert(row("throwIf(false, 'nope')").getInt(0) == 0)
    intercept[Exception] {
      spark.sql("SELECT throwIf(true, 'boom') v").collect()
    }
    assert(row("identity(42)").getInt(0) == 42 && row("ignore(1, 2)").getInt(0) == 0)
    assert(row("generateUUIDv4()").getString(0).length == 36)
  }

  test("sequenceNextNode: all base anchors, direction, partitioning invariance") {
    ChCompat.register(spark)
    import spark.implicits._
    // one user's day: A B C B D
    val evs = Seq((1L, "A"), (2L, "B"), (3L, "C"), (4L, "B"), (5L, "D"))
      .map { case (t, e) => (1L, t, e) }
    def run(parts: Int, call: String): org.apache.spark.sql.Row = {
      evs.toDF("uid", "ts", "ev").repartition(parts)
        .createOrReplaceTempView("graft_snn_fix")
      spark.sql(s"SELECT $call AS v FROM graft_snn_fix GROUP BY uid").head()
    }
    // head: chain (A, B) anchored at the first event → next is C
    assert(run(1, "sequenceNextNode('forward', 'head', ts, ev, true, ev = 'A', ev = 'B')")
      .getString(0) == "C")
    // head with a failing first condition → null
    assert(run(1, "sequenceNextNode('forward', 'head', ts, ev, true, ev = 'B')").isNullAt(0))
    // first_match on B → next is C; last_match on B → next is D
    assert(run(1, "sequenceNextNode('forward', 'first_match', ts, ev, true, ev = 'B')")
      .getString(0) == "C")
    assert(run(1, "sequenceNextNode('forward', 'last_match', ts, ev, true, ev = 'B')")
      .getString(0) == "D")
    // backward tail: anchor at the chronologically LAST event with cond1
    // there, walking earlier — CH's doc example shape ('backward','tail')
    // over Home,Gift,Basket with conds (Basket, Gift) → Home
    assert(run(1, "sequenceNextNode('backward', 'tail', ts, ev, true, ev = 'D')")
      .getString(0) == "B")
    assert(run(1, "sequenceNextNode('backward', 'tail', ts, ev, true, ev = 'D', ev = 'B')")
      .getString(0) == "C")
    // crossed pairing walks off the end → null, as in CH
    assert(run(1, "sequenceNextNode('forward', 'tail', ts, ev, true, ev = 'D')").isNullAt(0))
    // backward first_match on B: anchor at the chronologically FIRST B
    // (ts=2), the node one step earlier is A
    assert(run(1, "sequenceNextNode('backward', 'first_match', ts, ev, true, ev = 'B')")
      .getString(0) == "A")
    // backward last_match on B: anchor at the LAST B (ts=4) → C before it
    assert(run(1, "sequenceNextNode('backward', 'last_match', ts, ev, true, ev = 'B')")
      .getString(0) == "C")
    // base_cond gates the anchor
    assert(run(1, "sequenceNextNode('forward', 'first_match', ts, ev, ev != 'B', ev = 'B')")
      .isNullAt(0))
    // partitioning must not change the outcome
    assert(run(7, "sequenceNextNode('forward', 'last_match', ts, ev, true, ev = 'B')")
      .getString(0) == "D")
  }

  test("map functions and date completions: arithmetic, series, intervals") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    def s(expr: String) = row(expr).getString(0)
    // map arithmetic: sorted keys, subtraction can go negative
    assert(s("concat_ws(',', transform(map_entries(mapAdd(mapFromArrays(array(3L, 1L), array(10L, 1L)), mapFromArrays(array(3L, 2L), array(5L, 7L)))), e -> concat(e.key, ':', e.value)))")
      == "1:1,2:7,3:15")
    assert(s("concat_ws(',', transform(map_entries(mapSubtract(mapFromArrays(array(1L), array(3L)), mapFromArrays(array(1L, 2L), array(5L, 2L)))), e -> concat(e.key, ':', e.value)))")
      == "1:-2,2:-2")
    assert(s("concat_ws(',', transform(map_entries(mapPopulateSeries(mapFromArrays(array(2L, 5L), array(9L, 1L)), 6)), e -> concat(e.key, ':', e.value)))")
      == "2:9,3:0,4:0,5:1,6:0", "series runs min-key .. max arg")
    assert(row("mapContains(mapFromArrays(array('a'), array(1)), 'b')").getBoolean(0) == false)
    assert(s("concat_ws(',', mapKeys(mapFromArrays(array('k'), array(7))))") == "k")
    // toTime pins the date, keeps the clock
    assert(s("CAST(toTime(timestamp'2024-06-15 13:45:17') AS STRING)")
      == "1970-01-02 13:45:17")
    // ISO week/year: 2021-01-01 is ISO week 53 of ISO year 2020
    assert(row("toISOWeek(toDate('2021-01-01'))").getInt(0) == 53)
    assert(row("toISOYear(toDate('2021-01-01'))").getInt(0) == 2020)
    assert(s("CAST(toLastDayOfMonth(toDate('2024-02-10')) AS STRING)") == "2024-02-29")
    // interval truncation on both interval kinds
    assert(s("CAST(toStartOfInterval(timestamp'2024-01-05 10:44:30', INTERVAL 15 MINUTE) AS STRING)")
      == "2024-01-05 10:30:00")
    assert(s("CAST(toStartOfInterval(timestamp'2024-05-20 10:00:00', INTERVAL 3 MONTH) AS STRING)")
      == "2024-04-01 00:00:00")
    // parse family
    assert(s("CAST(parseDateTime('05/03/2024 10:20', '%d/%m/%Y %H:%i') AS STRING)")
      == "2024-03-05 10:20:00")
    assert(s("CAST(parseDateTimeBestEffort('1700000000') AS STRING)")
      == "2023-11-14 22:13:20", "bare unix seconds")
    assert(row("parseDateTimeBestEffort('not a date')").isNullAt(0))
    assert(s("fromUnixTimestamp(1700000000, '%Y-%m-%d %H:%i:%S')")
      == "2023-11-14 22:13:20")
    // aggregates: singleValueOrNull + groupConcat
    assert(spark.sql("SELECT singleValueOrNull(v) s FROM VALUES (1), (1), (1) t(v)")
      .head().getInt(0) == 1)
    assert(spark.sql("SELECT singleValueOrNull(v) s FROM VALUES (1), (2) t(v)")
      .head().isNullAt(0))
    assert(spark.sql(
      "SELECT groupConcat(v, '-') g FROM (SELECT v FROM VALUES ('a'), ('b'), ('c') t(v) ORDER BY v)")
      .head().getString(0).split("-").sorted.mkString("-") == "a-b-c")
    // lagInFrame/leadInFrame resolve as window functions
    val lf = spark.sql(
      """SELECT v, lagInFrame(v) OVER (ORDER BY v) p,
        |       leadInFrame(v, 1, -1) OVER (ORDER BY v) n
        |FROM VALUES (1), (2), (3) t(v) ORDER BY v""".stripMargin).collect()
    assert(lf.map(r => (if (r.isNullAt(1)) -99 else r.getInt(1), r.getInt(2))).toSeq
      == Seq((-99, 2), (1, 3), (2, -1)))
    assert(row("size(emptyArrayUInt64())").getInt(0) == 0)
  }

  test("sketch aggregates: histogram, sparkbar, LTTB, anyHeavy, uniqTheta") {
    ChCompat.register(spark)
    import spark.implicits._
    // exact regime: distinct ≤ bins → heights are exact counts
    Seq(1.0, 1.0, 2.0, 3.0, 3.0, 3.0).toDF("v").createOrReplaceTempView("graft_hg_small")
    val h = spark.sql(
      """SELECT concat_ws(';', transform(histogram(v, 5),
        |         b -> concat(b.lower, ':', b.upper, ':', b.height))) s
        |FROM graft_hg_small""".stripMargin).head().getString(0)
    assert(h == "1.0:1.5:2.0;1.5:2.5:1.0;2.5:3.0:3.0")
    // adaptive regime invariants: ≤ nbins bins, Σheight = rows, range kept
    val many = (1 to 5000).map(i => math.sin(i) * 100)
    many.toDF("v").repartition(13).createOrReplaceTempView("graft_hg_big")
    val bins = spark.sql("SELECT histogram(v, 10) h FROM graft_hg_big")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(bins.length <= 10)
    assert(math.abs(bins.map(_.getDouble(2)).sum - 5000.0) < 1e-6)
    assert(bins.head.getDouble(0) == many.min && bins.last.getDouble(1) == many.max)
    // sparkbar: two equal + one half bucket
    Seq((0.0, 4.0), (1.0, 2.0), (2.0, 4.0)).toDF("x", "y")
      .createOrReplaceTempView("graft_sb3")
    assert(spark.sql("SELECT sparkbar(x, y, 3) b FROM graft_sb3")
      .head().getString(0) == "█▄█")
    // LTTB: picks the max-area middle point, keeps endpoints
    Seq((0.0, 0.0), (1.0, 5.0), (2.0, 1.0), (3.0, 4.0), (4.0, 0.0))
      .toDF("x", "y").createOrReplaceTempView("graft_lt5")
    val lt = spark.sql(
      """SELECT concat_ws(';', transform(largestTriangleThreeBuckets(x, y, 3),
        |         p -> concat(p.x, ',', p.y))) s FROM graft_lt5""".stripMargin)
      .head().getString(0)
    assert(lt == "0.0,0.0;1.0,5.0;4.0,0.0")
    assert(spark.sql(
      "SELECT size(largestTriangleThreeBuckets(x, y, 10)) n FROM graft_lt5")
      .head().getInt(0) == 5, "n beyond input size returns all points")
    // anyHeavy: planted 2/3 majority survives any partitioning
    val maj = (1 to 900).map(i => if (i % 3 < 2) "M" else s"x$i")
    def heavyAt(parts: Int) = maj.toDF("v").repartition(parts)
      .selectExpr("anyHeavy(v) h").head().getString(0)
    assert(heavyAt(1) == "M" && heavyAt(17) == "M")
    // uniqTheta: exact below nominal entries; close above
    assert(spark.range(0, 3000).selectExpr("uniqTheta(id % 1000) u")
      .head().getLong(0) == 1000L)
    val est = spark.range(0, 200000).repartition(16)
      .selectExpr("uniqTheta(id) u").head().getLong(0)
    assert(math.abs(est - 200000.0) / 200000.0 < 0.05)
  }

  test("sequence aggregates: moving sums, EMA weighting, intersections sweep") {
    ChCompat.register(spark)
    import spark.implicits._
    // moving sums carry CH's arrival-order contract — pin on 1 partition
    Seq(1L, 2L, 3L, 4L).toDF("v").repartition(1)
      .createOrReplaceTempView("graft_mv_one")
    val mv = spark.sql(
      """SELECT concat_ws(',', groupArrayMovingSum(v)) run,
        |       concat_ws(',', groupArrayMovingSum(v, 2)) win,
        |       concat_ws(',', groupArrayMovingAvg(v, 2)) avg
        |FROM graft_mv_one""".stripMargin).head()
    assert(mv.getString(0) == "1,3,6,10")
    assert(mv.getString(1) == "1,3,5,7")
    // CH divides by WINDOW SIZE, and the result type IS the input type:
    // integral input -> truncating integer division (5/2 = 2, as in CH)
    assert(mv.getString(2) == "0,1,2,3", "CH truncates integral avg")
    // no explicit size: window = total rows, so every prefix divides by N
    assert(spark.sql("SELECT concat_ws(',', groupArrayMovingAvg(v)) a FROM graft_mv_one")
      .head().getString(0) == "0,0,1,2")
    // float input keeps the Float64 avg lane (no truncation)
    assert(spark.sql(
      "SELECT concat_ws(',', groupArrayMovingAvg(CAST(v AS DOUBLE), 2)) a FROM graft_mv_one")
      .head().getString(0) == "0.5,1.5,2.5,3.5")
    // integral inputs keep an exact Int64 lane: sums past 2^53 must not
    // round through Double (2^53 and 2^53+1 collide as doubles)
    val big = (1L << 53)
    Seq(big, 1L, 1L).toDF("v").repartition(1)
      .createOrReplaceTempView("graft_mv_big")
    val bigRun = spark.sql(
      "SELECT groupArrayMovingSum(v) r FROM graft_mv_big").head().getSeq[Long](0)
    assert(bigRun == Seq(big, big + 1L, big + 2L),
      s"exact Int64 running sums, got $bigRun")
    // EMA: latest point weight 1, one halflife back weight 1/2
    Seq((0L, 10.0), (10L, 20.0)).toDF("t", "v")
      .createOrReplaceTempView("graft_ema2")
    val e = spark.sql(
      "SELECT exponentialMovingAverage(v, t, 10.0D) e FROM graft_ema2").head().getDouble(0)
    assert(math.abs(e - (20.0 * 1 + 10.0 * 0.5) / 1.5) < 1e-12)
    // partitioning invariance (ts-sorted eval)
    val pts = (1 to 500).map(i => (i.toLong, (i % 13).toDouble))
    def emaAt(parts: Int) = pts.toDF("t", "v").repartition(parts)
      .selectExpr("exponentialMovingAverage(v, t, 50.0D) e").head().getDouble(0)
    assert(emaAt(1) == emaAt(11))
    // sweep: [1,5) [2,6) [4,7) overlap 3 starting at 4; touching ends
    // don't overlap ([1,2) + [2,3))
    Seq((1L, 5L), (2L, 6L), (4L, 7L)).toDF("s", "e")
      .createOrReplaceTempView("graft_mi3")
    val mi = spark.sql(
      """SELECT maxIntersections(s, e) m, maxIntersectionsPosition(s, e) p
        |FROM graft_mi3""".stripMargin).head()
    assert(mi.getLong(0) == 3L && mi.getLong(1) == 4L)
    Seq((1L, 2L), (2L, 3L)).toDF("s", "e").createOrReplaceTempView("graft_mi_touch")
    assert(spark.sql("SELECT maxIntersections(s, e) m FROM graft_mi_touch")
      .head().getLong(0) == 1L)
  }

  test("two-sample tests: t statistics, closed-form and integrated p-values") {
    ChCompat.register(spark)
    import spark.implicits._
    // g0 = {1, 2}, g1 = {3, 5}: t = −2.2360680, df = 2 → closed-form
    // p = 1 − |t|/√(2+t²) = 0.1548457; Welch df = 1.4705882 → numerically
    // integrated p = 0.1987274 (Simpson over the t density, independent
    // of the expression's incomplete-beta path)
    Seq((1.0, 0), (2.0, 0), (3.0, 1), (5.0, 1)).toDF("v", "g")
      .createOrReplaceTempView("graft_tt_small")
    val r = spark.sql(
      """SELECT studentTTest(v, g).t_statistic st, studentTTest(v, g).p_value sp,
        |       welchTTest(v, g).t_statistic wt, welchTTest(v, g).p_value wp
        |FROM graft_tt_small""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - (-2.23606797749979)) < 1e-12)
    assert(math.abs(r.getDouble(1) - 0.15484574527148343) < 1e-10)
    assert(math.abs(r.getDouble(2) - (-2.23606797749979)) < 1e-12)
    assert(math.abs(r.getDouble(3) - 0.19872738893552322) < 1e-7)
    // Mann-Whitney: disjoint {1,2,3} vs {4,5,6} → U = 0, z = −1.7457431,
    // p = erfc(|z|/√2) = 0.0808556 (hand-computed)
    Seq((1.0, 0), (2.0, 0), (3.0, 0), (4.0, 1), (5.0, 1), (6.0, 1))
      .toDF("v", "g").createOrReplaceTempView("graft_mw_small")
    val m = spark.sql(
      """SELECT mannWhitneyUTest(v, g).u_statistic u,
        |       mannWhitneyUTest(v, g).p_value p FROM graft_mw_small""".stripMargin).head()
    assert(m.getDouble(0) == 0.0)
    assert(math.abs(m.getDouble(1) - 0.0808555983700523) < 1e-6)
    // parallelism invariance: Welford merge must be exact
    val big = (1 to 2000).map(i => (math.sin(i).abs * 10, i % 2))
    def tAt(parts: Int) = big.toDF("v", "g").repartition(parts)
      .selectExpr("studentTTest(v, g).t_statistic t").head().getDouble(0)
    assert(math.abs(tAt(1) - tAt(17)) < 1e-9)
    // degenerate: one group absent → null result
    Seq((1.0, 0), (2.0, 0)).toDF("v", "g").createOrReplaceTempView("graft_tt_one")
    assert(spark.sql("SELECT studentTTest(v, g).t_statistic t FROM graft_tt_one")
      .head().isNullAt(0))
  }

  test("geo + format scalars: haversine, geohash vectors, polygon, bar") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    // Paris→NYC great circle ≈ 5 837 km on CH's sphere radius
    val d = row("greatCircleDistance(2.3522D, 48.8566D, -73.9857D, 40.7484D)").getDouble(0)
    assert(math.abs(d - 5.837e6) < 2e4, s"got $d")
    assert(row("greatCircleDistance(10.0D, 20.0D, 10.0D, 20.0D)").getDouble(0) == 0.0)
    // geoDistance uses the WGS-84 mean radius — slightly different sphere
    val g = row("geoDistance(2.3522D, 48.8566D, -73.9857D, 40.7484D)").getDouble(0)
    assert(math.abs(g - d) < 2e3 && g != d)
    // published geohash vectors (wiki): and decode returns the cell center
    assert(row("geohashEncode(10.40744D, 57.64911D, 11)").getString(0) == "u4pruydqqvj")
    assert(row("geohashEncode(-5.6D, 42.6D, 5)").getString(0) == "ezs42")
    val c = spark.sql(
      "SELECT geohashDecode('ezs42').longitude lon, geohashDecode('ezs42').latitude lat").head()
    assert(math.abs(c.getDouble(0) - (-5.60302734375)) < 1e-10)
    assert(math.abs(c.getDouble(1) - 42.60498046875) < 1e-10)
    // ray casting: CH doc example + a concave polygon
    assert(row("pointInPolygon(tuple(3.0D, 3.0D), array(tuple(6.0D, 0.0D), tuple(8.0D, 4.0D), tuple(5.0D, 8.0D), tuple(0.0D, 2.0D)))").getBoolean(0))
    assert(!row("pointInPolygon(tuple(10.0D, 10.0D), array(tuple(6.0D, 0.0D), tuple(8.0D, 4.0D), tuple(5.0D, 8.0D), tuple(0.0D, 2.0D)))").getBoolean(0))
    // concave "C": the notch is outside
    assert(!row("pointInPolygon(tuple(2.0D, 2.0D), array(tuple(0.0D, 0.0D), tuple(4.0D, 0.0D), tuple(4.0D, 1.0D), tuple(1.0D, 1.0D), tuple(1.0D, 3.0D), tuple(4.0D, 3.0D), tuple(4.0D, 4.0D), tuple(0.0D, 4.0D)))").getBoolean(0))
    // readable formats (CH doc examples)
    assert(row("formatReadableSize(1)").getString(0) == "1.00 B")
    assert(row("formatReadableSize(1110)").getString(0) == "1.08 KiB")
    assert(row("formatReadableSize(1048576)").getString(0) == "1.00 MiB")
    assert(row("formatReadableQuantity(123456789)").getString(0) == "123.46 million")
    assert(row("formatReadableQuantity(12)").getString(0) == "12.00")
    assert(row("formatReadableTimeDelta(117)").getString(0) == "1 minute, 57 seconds")
    assert(row("formatReadableTimeDelta(90061)").getString(0)
      == "1 day, 1 hour, 1 minute, 1 second")
    assert(row("formatReadableTimeDelta(0)").getString(0) == "0 seconds")
    // bar: full blocks + eighth fractions, clamped
    assert(row("bar(5, 0, 10, 10)").getString(0) == "█████")
    assert(row("bar(2.25D, 0, 10, 10)").getString(0) == "██▎")
    assert(row("bar(99, 0, 10, 10)").getString(0) == "██████████")
    assert(row("bar(-5, 0, 10, 10)").getString(0) == "")
  }

  test("date helpers: age complete units, MJD vectors, timeSlots, dateName") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    // age counts COMPLETE units (dateDiff counts boundary crossings)
    assert(row("age('day', timestamp'2024-01-01 23:59:00', timestamp'2024-01-02 00:01:00')")
      .getLong(0) == 0L)
    assert(row("age('month', timestamp'2024-01-15 00:00:00', timestamp'2024-03-14 00:00:00')")
      .getLong(0) == 1L)
    assert(row("age('month', timestamp'2024-01-15 00:00:00', timestamp'2024-03-15 00:00:00')")
      .getLong(0) == 2L)
    assert(row("age('year', timestamp'2020-06-01 00:00:00', timestamp'2024-05-31 00:00:00')")
      .getLong(0) == 3L)
    // MJD epoch: 1858-11-17 is day 0; 2000-01-01 is 51544 (published)
    assert(row("toModifiedJulianDay(toDate('1858-11-17'))").getInt(0) == 0)
    assert(row("toModifiedJulianDay(toDate('2000-01-01'))").getInt(0) == 51544)
    assert(row("CAST(fromModifiedJulianDay(51544) AS STRING)").getString(0) == "2000-01-01")
    // timeSlot / timeSlots
    assert(row("CAST(timeSlot(timestamp'2024-01-05 10:44:30') AS STRING)")
      .getString(0) == "2024-01-05 10:30:00")
    assert(row("concat_ws(',', transform(timeSlots(timestamp'2024-01-05 10:44:30', 1800), t -> CAST(t AS STRING)))")
      .getString(0) == "2024-01-05 10:30:00,2024-01-05 11:00:00")
    assert(row("dateName('month', toDate('2024-04-09'))").getString(0) == "April")
    assert(row("dateName('weekday', toDate('2024-04-09'))").getString(0) == "Tuesday")
    // transform: CH mapping form and Spark lambda form coexist
    assert(row("transform(5, array(1, 5, 9), array(10, 50, 90), -1)").getInt(0) == 50)
    assert(row("transform(7, array(1, 5, 9), array(10, 50, 90))").getInt(0) == 7,
      "3-arg form keeps the input on a miss")
    assert(row("concat_ws(',', transform(array(1, 2), x -> x * 10))").getString(0) == "10,20")
    // float classification
    assert(row("isFinite(1.5D)").getBoolean(0))
    assert(!row("isFinite(CAST('inf' AS DOUBLE))").getBoolean(0))
    assert(row("isInfinite(CAST('-inf' AS DOUBLE))").getBoolean(0))
    assert(row("ifNotFinite(CAST('nan' AS DOUBLE), 42.0D)").getDouble(0) == 42.0)
    assert(row("multiSearchAny('hello world', array('lo w', 'zz'))").getBoolean(0))
  }

  test("array completion: product, clamped cumsum, fill/split, rotate, shingles, AUC") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    assert(row("arrayProduct(array(2, 3, 4))").getDouble(0) == 24.0)
    assert(row("arrayProduct(array())").getDouble(0) == 1.0)
    assert(row("concat_ws(',', arrayCumSumNonNegative(array(1, 1, -4, 1)))")
      .getString(0) == "1,2,0,1")
    assert(row("concat_ws(',', arrayCumSumNonNegative(array(1.5D, 2.5D, -10.0D, 2.0D)))")
      .getString(0) == "1.5,4.0,0.0,2.0", "float arrays keep double lanes")
    // CH doc example: nulls forward-fill from the last kept value
    assert(row("concat_ws(',', arrayFill(x -> x != 0, array(0, 0, 5, 0)))")
      .getString(0) == "0,0,5,5", "false head stays as-is")
    assert(row("concat_ws(',', arrayReverseFill(x -> x != 0, array(1, 0, 2, 0)))")
      .getString(0) == "1,2,2,0", "false tail stays as-is")
    // arrayFold: the CH doc example (acc + x*2 over [1..4] from 3 = 23)
    // and a running max; lambda order is CH's (acc, x)
    assert(row("arrayFold((acc, x) -> acc + x * 2, array(1L, 2L, 3L, 4L), 3L)")
      .getLong(0) == 23L)
    assert(row("arrayFold((acc, x) -> greatest(acc, x), array(3L, 1L, 5L), 0L)")
      .getLong(0) == 5L)
    assert(row("arrayFold((acc, x) -> acc + x, array(), 7L)").getLong(0) == 7L,
      "empty array folds to the init")
    // split before / after the matching element
    assert(row("concat_ws(';', transform(arraySplit(x -> x = 1, array(1, 2, 3, 1, 4)), a -> concat_ws(',', a)))")
      .getString(0) == "1,2,3;1,4")
    assert(row("concat_ws(';', transform(arrayReverseSplit(x -> x = 1, array(1, 2, 3, 1, 4)), a -> concat_ws(',', a)))")
      .getString(0) == "1;2,3,1;4")
    // rotation: negative amounts swap direction; over-length wraps
    assert(row("concat_ws(',', arrayRotateLeft(array(1, 2, 3, 4), 1))").getString(0) == "2,3,4,1")
    assert(row("concat_ws(',', arrayRotateLeft(array(1, 2, 3, 4), -1))").getString(0) == "4,1,2,3")
    assert(row("concat_ws(',', arrayRotateRight(array(1, 2, 3, 4), 6))").getString(0) == "3,4,1,2")
    assert(row("concat_ws(',', arrayRotateLeft(array(), 3))").getString(0) == "")
    // shingles: windows of n; n > size → empty
    assert(row("concat_ws(';', transform(arrayShingles(array(1, 2, 3, 4), 2), a -> concat_ws(',', a)))")
      .getString(0) == "1,2;2,3;3,4")
    assert(row("size(arrayShingles(array(1, 2), 3))").getInt(0) == 0)
    // AUC: perfect separation 1.0; random-ish fixture closed form; tie credit
    assert(row("arrayAUC(array(0.1D, 0.2D, 0.8D, 0.9D), array(0, 0, 1, 1))")
      .getDouble(0) == 1.0)
    assert(row("arrayAUC(array(0.9D, 0.2D, 0.8D, 0.1D), array(0, 0, 1, 1))")
      .getDouble(0) == 0.25)
    assert(row("arrayAUC(array(0.5D, 0.5D), array(0, 1))").getDouble(0) == 0.5,
      "score ties split the credit")
    assert(row("arrayAUC(array(0.5D, 0.7D), array(1, 1))").isNullAt(0),
      "single-class input is undefined")
  }

  test("string distances: DL transpositions, Jaro-Winkler, ngram measures") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    // true Damerau-Levenshtein: CA→ABC is 2 (OSA would say 3)
    assert(row("damerauLevenshteinDistance('CA', 'ABC')").getInt(0) == 2)
    assert(row("damerauLevenshteinDistance('abcdef', 'abdcef')").getInt(0) == 1)
    assert(row("editDistance('kitten', 'sitting')").getInt(0) == 3)
    // Jaro / Jaro-Winkler classics
    assert(math.abs(row("jaroSimilarity('MARTHA', 'MARHTA')").getDouble(0)
      - 0.9444444444444445) < 1e-12)
    assert(math.abs(row("jaroWinklerSimilarity('MARTHA', 'MARHTA')").getDouble(0)
      - 0.9611111111111111) < 1e-12)
    assert(math.abs(row("jaroWinklerSimilarity('DWAYNE', 'DUANE')").getDouble(0)
      - 0.84) < 1e-12)
    // hamming: common-prefix mismatches + length difference
    assert(row("byteHammingDistance('karolin', 'kathrin')").getInt(0) == 3)
    assert(row("byteHammingDistance('abc', 'abcdd')").getInt(0) == 2)
    // character-set Jaccard
    assert(row("stringJaccardIndex('abc', 'bcd')").getDouble(0) == 0.5)
    assert(row("stringJaccardIndex('aab', 'ab')").getDouble(0) == 1.0)
    // 4-gram distance: 0 = identical, 1 = nothing shared; search is
    // asymmetric containment
    assert(row("ngramDistance('abcdefgh', 'abcdefgh')").getDouble(0) == 0.0)
    assert(row("ngramDistance('abcdefgh', 'zzzzyyyy')").getDouble(0) == 1.0)
    assert(row("ngramSearch('the quick brown fox', 'quick')").getDouble(0) == 1.0)
    assert(row("ngramSearch('the quick brown fox', 'zzzzz')").getDouble(0) == 0.0)
    // null propagation
    assert(row("jaroSimilarity(CAST(NULL AS STRING), 'x')").isNullAt(0))
  }

  test("string/array alias battery: splitByString, pads, trims, hasAll, enumerateUniq") {
    ChCompat.register(spark)
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    assert(row("splitByString('--', 'a--b----c')").getSeq[String](0) ==
      Seq("a", "b", "", "c"))
    assert(row("splitByString('.', 'a.b.c')").getSeq[String](0) ==
      Seq("a", "b", "c"), "literal separator must not act as regex")
    assert(row("lengthUTF8('héllo')").getInt(0) == 5, "character, not byte, length")
    assert(row("leftPad('7', 3, '0')").getString(0) == "007")
    assert(row("rightPad('ab', 4)").getString(0) == "ab  ")
    assert(row("trimBoth('  x  ')").getString(0) == "x")
    assert(row("trimLeft('  x  ')").getString(0) == "x  ")
    assert(row("trimRight('  x  ')").getString(0) == "  x")
    assert(row("hasAll(array(1, 2, 3, 4), array(2, 4))").getBoolean(0))
    assert(!row("hasAll(array(1, 2), array(2, 5))").getBoolean(0))
    assert(row("hasAll(array(1), array())").getBoolean(0), "empty needle is subset")
    assert(row("countEqual(array(1, 2, 1, 1), 1)").getInt(0) == 3)
    assert(row("countEqual(array(1, 2), 9)").getInt(0) == 0)
    assert(row("arrayEnumerateUniq(array('a','b','a','a','b'))").getSeq[Int](0) ==
      Seq(1, 1, 2, 3, 2), "per-value occurrence numbering")
    assert(row("reverseUTF8('abc')").getString(0) == "cba")
    assert(row("substringUTF8('abcdef', 2, 3)").getString(0) == "bcd")
  }

  test("numeric casts: unsigned wrap mod 2^n, signed wrap, decimal widths") {
    ChCompat.register(spark)
    val r = spark.sql(
      """SELECT toUInt8(300), toUInt8(-1), toUInt16(-1), toInt8(300),
        |       toFloat32(2.5), toDecimal64(3.14159, 2),
        |       toDecimal32(1.5, 1), toInt16(70000)""".stripMargin).head()
    assert(r.getLong(0) == 44L, "toUInt8(300) wraps mod 256")
    assert(r.getLong(1) == 255L, "toUInt8(-1) = 2^8-1")
    assert(r.getLong(2) == 65535L, "toUInt16(-1) = 2^16-1")
    assert(r.getByte(3) == 44.toByte, "toInt8 wraps two's-complement like CH")
    assert(r.getFloat(4) == 2.5f)
    assert(r.getDecimal(5).toString == "3.14")
    assert(r.getDecimal(6).toString == "1.5")
    assert(r.getShort(7) == 4464.toShort, "toInt16 wraps mod 2^16 signed")
  }

  test("JSON family: typed extraction, presence, length, visitParam spellings") {
    ChCompat.register(spark)
    val j = """'{"s": "hi", "i": 42, "f": 2.5, "b": true, "a": [1, 2, 3]}'"""
    def row(expr: String) = spark.sql(s"SELECT $expr AS v").head()
    assert(row(s"JSONExtractString($j, 's')").getString(0) == "hi")
    assert(row(s"visitParamExtractString($j, 's')").getString(0) == "hi")
    assert(row(s"simpleJSONExtractString($j, 's')").getString(0) == "hi")
    assert(row(s"JSONExtractInt($j, 'i')").getLong(0) == 42L)
    assert(row(s"JSONExtractFloat($j, 'f')").getDouble(0) == 2.5)
    assert(row(s"JSONExtractBool($j, 'b')").getBoolean(0))
    assert(row(s"JSONHas($j, 'i')").getBoolean(0))
    assert(!row(s"JSONHas($j, 'zz')").getBoolean(0))
    assert(row(s"JSONExtractInt($j, 'zz')").isNullAt(0))
    // length: object -> key count, array (via key path) -> element count
    assert(row(s"JSONLength($j)").getInt(0) == 5)
    assert(row(s"JSONLength($j, 'a')").getInt(0) == 3)
    assert(row(s"JSONLength('[7, 8]')").getInt(0) == 2)
    // keys of the object, order as stored
    assert(row(s"JSONExtractKeys($j)").getSeq[String](0) ==
      Seq("s", "i", "f", "b", "a"))
    // non-literal key: the path builds per row
    val dynamic = spark.sql(
      s"SELECT JSONExtractInt($j, k) AS v FROM VALUES ('i'), ('zz') t(k) ORDER BY k")
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(dynamic == Seq(42L, -1L))
  }

  test("URL functions: absent parts are '' (CH), cut/extract edges") {
    ChCompat.register(spark)
    def one(expr: String): String =
      spark.sql(s"SELECT $expr AS v").head().getString(0)
    // full URL
    val u = "'https://www.shop.example.co/a/b?x=1&y=2#frag'"
    assert(one(s"protocol($u)") == "https")
    assert(one(s"domain($u)") == "www.shop.example.co")
    assert(one(s"domainWithoutWWW($u)") == "shop.example.co")
    assert(one(s"topLevelDomain($u)") == "co")
    assert(one(s"path($u)") == "/a/b")
    assert(one(s"pathFull($u)") == "/a/b?x=1&y=2#frag")
    assert(one(s"queryString($u)") == "x=1&y=2")
    assert(one(s"fragment($u)") == "frag")
    assert(one(s"queryStringAndFragment($u)") == "x=1&y=2#frag")
    assert(one(s"extractURLParameter($u, 'y')") == "2")
    assert(one(s"cutQueryString($u)") == "https://www.shop.example.co/a/b#frag")
    assert(one(s"cutFragment($u)") == "https://www.shop.example.co/a/b?x=1&y=2")
    assert(one(s"cutQueryStringAndFragment($u)") == "https://www.shop.example.co/a/b")
    assert(one(s"cutWWW($u)") == "https://shop.example.co/a/b?x=1&y=2#frag")
    // absent parts come back '' (CH's non-nullable String convention)
    val bare = "'https://example.com/p'"
    assert(one(s"queryString($bare)") == "")
    assert(one(s"fragment($bare)") == "")
    assert(one(s"extractURLParameter($bare, 'x')") == "")
    assert(one(s"pathFull($bare)") == "/p")
    // dotless host: topLevelDomain has no dot label to extract
    assert(one("topLevelDomain('http://localhost/x')") == "")
    // cutWWW only cuts a LEADING www. of the host, not path occurrences
    assert(one("cutWWW('https://a.com/www.b')") == "https://a.com/www.b")
    // a '?' inside the fragment is NOT a query string (CH agrees)
    assert(one("cutQueryString('http://a/p#f?x')") == "http://a/p#f?x")
    assert(one("cutQueryString('http://a/p?q=1#f?x')") == "http://a/p#f?x")
  }

  test("string search: position/hasToken/multiSearchAny/countSubstrings edges") {
    ChCompat.register(spark)
    def oneL(expr: String): Long =
      spark.sql(s"SELECT CAST($expr AS BIGINT) AS v").head().getLong(0)
    // CH position(haystack, needle) arg order, 1-based, 0 when absent
    assert(oneL("position('hello world', 'world')") == 7L)
    assert(oneL("position('hello', 'xyz')") == 0L)
    assert(oneL("positionCaseInsensitive('Hello World', 'WORLD')") == 7L)
    // hasToken: whole tokens only, string edges count as boundaries
    assert(oneL("hasToken('merge sort', 'merge')") == 1L)
    assert(oneL("hasToken('a merge b', 'merge')") == 1L)
    assert(oneL("hasToken('merges', 'merge')") == 0L)
    assert(oneL("hasToken('x.merge.y', 'merge')") == 1L)
    val e = intercept[Exception](
      spark.sql("SELECT hasToken('a b', concat('a', 'b'))").head())
    assert(e.getMessage.toLowerCase.contains("literal"))
    // multiSearchAny over an array of needles
    assert(oneL("multiSearchAny('spark flink', array('beam', 'flink'))") == 1L)
    assert(oneL("multiSearchAny('spark', array('beam', 'trino'))") == 0L)
    // countSubstrings counts non-overlapping occurrences; empty needle = 0
    assert(oneL("countSubstrings('aXbXcX', 'X')") == 3L)
    assert(oneL("countSubstrings('aaaa', 'aa')") == 2L)
    assert(oneL("countSubstrings('abc', '')") == 0L)
    // match = regexp partial match; extractAll takes group 1 if present
    assert(oneL("match('h00h', 'h..h')") == 1L)
    val arr = spark.sql("SELECT extractAll('a1 b22 c3', '[a-z](\\\\d+)') AS v")
      .head().getSeq[String](0)
    assert(arr == Seq("1", "22", "3"))
    val whole = spark.sql("SELECT extractAll('a1 b22', '[a-z]\\\\d+') AS v")
      .head().getSeq[String](0)
    assert(whole == Seq("a1", "b22"))
  }

  test("arrayReduce dispatches by literal name; WITH ROLLUP/CUBE run end-to-end") {
    ChCompat.register(spark)
    val r = spark.sql(graft.engine.ChSql.chLiterals(
      """SELECT arrayReduce('sum', [3, 1, 2, 2]) AS s,
        |       arrayReduce('min', [3, 1, 2, 2]) AS mn,
        |       arrayReduce('max', [3, 1, 2, 2]) AS mx,
        |       arrayReduce('avg', [3, 1, 2, 2]) AS av,
        |       arrayReduce('count', [3, 1, 2, 2]) AS c,
        |       arrayReduce('uniqExact', [3, 1, 2, 2]) AS u,
        |       arrayReduce('any', [3, 1, 2, 2]) AS a,
        |       arrayReduce('anyLast', [3, 1, 2, 2]) AS al""".stripMargin)).head()
    assert(r.getLong(0) == 8L && r.getInt(1) == 1 && r.getInt(2) == 3)
    assert(r.getDouble(3) == 2.0 && r.getLong(4) == 4L && r.getLong(5) == 3L)
    assert(r.getInt(6) == 3 && r.getInt(7) == 2)
    // empty arrays: NULL for any/anyLast (CH renders defaults — documented)
    val e = spark.sql(
      "SELECT arrayReduce('any', array()) AS a, arrayReduce('anyLast', array()) AS b").head()
    assert(e.isNullAt(0) && e.isNullAt(1))
    val bad = intercept[Exception](
      spark.sql("SELECT arrayReduce('median', array(1))").head())
    assert(bad.getMessage.contains("unsupported aggregate"))
    // ROLLUP through the full shim chain, on-engine subtotal values
    spark.range(6).selectExpr("id % 2 AS a", "id % 3 AS b", "id AS v")
      .createOrReplaceTempView("chru_t")
    val roll = spark.sql(graft.engine.ChSql(
      """SELECT a, b, sum(v) AS s FROM chru_t
        |GROUP BY a, b WITH ROLLUP
        |ORDER BY a, b""".stripMargin)).collect()
    assert(roll.length == 1 + 2 + 6) // grand total + 2 a-subtotals + 6 cells
    val grand = roll.find(r0 => r0.isNullAt(0) && r0.isNullAt(1)).get
    assert(grand.getLong(2) == 15L)
    val cube = spark.sql(graft.engine.ChSql(
      """SELECT a, b, sum(v) AS s FROM chru_t
        |GROUP BY a, b WITH CUBE
        |ORDER BY a, b""".stripMargin)).collect()
    assert(cube.length == 1 + 2 + 3 + 6) // +3 b-subtotals
  }

  test("round-11 dialect tail: splitByRegexp / regexpExtract / isIPv6String / " +
      "toBool / widthBucket / mapContainsKeyLike / toMillisecond / hop " +
      "bounds / bitmapTransform / proportionsZTest") {
    graft.functions.ChCompat.register(spark)
    val r = spark.sql(
      """SELECT splitByRegexp('\\d+', 'abc123def456ghi') AS sp,
        |       splitByRegexp('\\d+', '12ab34cd') AS sp2,
        |       regexpExtract('order-4711-x', 'order-(\\d+)') AS rx,
        |       regexpExtract('a1b2', '([a-z])(\\d)', 2) AS rx2,
        |       toBool('true') AS b1, toBool('0') AS b2, toBool(1) AS b3,
        |       widthBucket(4.3D, 0D, 10D, 5) AS wb,
        |       mapContainsKeyLike(map('abc', 1, 'def', 2), 'a%') AS mk1,
        |       mapContainsKeyLike(map('abc', 1, 'def', 2), 'z%') AS mk2,
        |       toMillisecond(TIMESTAMP '2024-03-05 10:20:30.456') AS ms,
        |       hopStart(TIMESTAMP '2024-03-05 10:25:00',
        |                INTERVAL 10 MINUTE, INTERVAL 30 MINUTE) AS hs,
        |       hopEnd(TIMESTAMP '2024-03-05 10:25:00',
        |              INTERVAL 10 MINUTE, INTERVAL 30 MINUTE) AS he
        |""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("abc", "def", "ghi"))
    assert(r.getSeq[String](1) == Seq("", "ab", "cd"))
    assert(r.getString(2) == "4711" && r.getString(3) == "1")
    assert(r.getBoolean(4) && !r.getBoolean(5) && r.getBoolean(6))
    assert(r.getLong(7) == 3L)
    assert(r.getBoolean(8) && !r.getBoolean(9))
    assert(r.getInt(10) == 456)
    assert(r.getTimestamp(11).toString == "2024-03-05 10:20:00.0")
    assert(r.getTimestamp(12).toString == "2024-03-05 10:50:00.0")

    // isIPv6String vectors: RFC-4291 forms in, near-misses out
    val valid = Seq("::", "::1", "2001:db8::1", "fe80::1ff:fe23:4567:890a",
      "2001:0db8:85a3:0000:0000:8a2e:0370:7334", "::ffff:192.168.0.1",
      "64:ff9b::1.2.3.4", "1:2:3:4:5:6:192.168.0.1",
      // v4-embedded with :: after 2..5 leading groups (reviewer-found gap)
      "1:2::5:1.2.3.4", "1:2:3::4:1.2.3.4", "1:2:3:4::5:1.2.3.4",
      "1:2:3:4:5::1.2.3.4")
    val invalid = Seq("", "1.2.3.4", "g001::1", ":::", "2001:db8::1::2",
      "1:2:3:4:5:6:7:8:9", "12345::", ":1:2", "2001:db8", "::ffff:299.0.0.1",
      // over-long compressed v4 forms (group-count bound X + Y <= 5)
      "1:2:3:4:5:6::1.2.3.4", "1:2:3::4:5:6:1.2.3.4")
    for (s <- valid)
      assert(spark.sql(s"SELECT isIPv6String('$s')").head().getBoolean(0), s)
    for (s <- invalid)
      assert(!spark.sql(s"SELECT isIPv6String('$s')").head().getBoolean(0), s)

    // bitmapTransform: the CH doc example — sequential live remapping, so
    // 5→2 lands on an existing member and 2→20 then moves BOTH away
    val bt = spark.sql(
      """SELECT bitmapToArray(bitmapTransform(
        |  bitmapBuild(array(1,2,3,4,5,6,7,8,9,10)),
        |  array(5, 999, 2), array(2, 888, 20))) AS a""".stripMargin).head()
    assert(bt.getSeq[Long](0) == Seq(1L, 3L, 4L, 6L, 7L, 8L, 9L, 10L, 20L))
    // a NULL from/to element would read as 0 via getLong and quietly remap
    // value 0 — rejected loudly instead
    val btNull = intercept[Exception](spark.sql(
      """SELECT bitmapToArray(bitmapTransform(
        |  bitmapBuild(array(1,2,3)),
        |  array(1, CAST(NULL AS BIGINT)), array(4, 5))) AS a""".stripMargin)
      .head())
    val btNullMsgs = Iterator.iterate[Throwable](btNull)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(btNullMsgs.contains("NULL element"), btNullMsgs)

    // LIMIT n WITH TIES through the ChSql rewrite: tie-group semantics on
    // the engine, plus the two loud rejections
    spark.sql("SELECT * FROM VALUES (1, 'a'), (2, 'b'), (2, 'c'), (3, 'd') t(x, s)")
      .createOrReplaceTempView("chwt_t")
    val ties = spark.sql(graft.engine.ChSql(
      "SELECT x, s FROM chwt_t ORDER BY x LIMIT 2 WITH TIES"))
      .orderBy("x", "s").collect()
    assert(ties.map(r0 => (r0.getInt(0), r0.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b"), (2, "c"))) // row 2's tie rides along
    // exactly n when the boundary row is untied (note the ORDER BY keys
    // must be selectable from the query's own output — the same
    // restriction the LIMIT BY rewrite places)
    assert(spark.sql(graft.engine.ChSql(
      "SELECT x, s FROM chwt_t ORDER BY x, s LIMIT 2 WITH TIES")).count() == 2)
    val noOrder = intercept[Exception](graft.engine.ChSql(
      "SELECT x FROM chwt_t LIMIT 2 WITH TIES"))
    assert(noOrder.getMessage.contains("top-level ORDER BY"))
    val trailing = intercept[Exception](graft.engine.ChSql(
      "SELECT x FROM chwt_t ORDER BY x LIMIT 2 WITH TIES OFFSET 1"))
    assert(trailing.getMessage.contains("must end the statement"))
    // positional ORDER BY keys (on by default in CH) would become a
    // CONSTANT rank ordering inside the rewrite's window — rejected loudly,
    // with or without a direction suffix, in any position of the key list
    for (q <- Seq(
        "SELECT x FROM chwt_t ORDER BY 1 LIMIT 2 WITH TIES",
        "SELECT x, s FROM chwt_t ORDER BY 1 DESC LIMIT 2 WITH TIES",
        "SELECT x, s FROM chwt_t ORDER BY x, 2 LIMIT 2 WITH TIES")) {
      val pos = intercept[Exception](graft.engine.ChSql(q))
      assert(pos.getMessage.contains("positional ORDER BY"), q)
    }
    // an expression key CONTAINING digits is not positional
    assert(spark.sql(graft.engine.ChSql(
      "SELECT x, s FROM chwt_t ORDER BY x + 0, s LIMIT 2 WITH TIES")).count() == 2)
    // a subquery's WITH TIES doesn't hijack the outer statement, and a
    // string literal containing the phrase is inert
    assert(spark.sql(graft.engine.ChSql(
      "SELECT 'LIMIT 2 WITH TIES' AS lit_s, x FROM chwt_t ORDER BY x LIMIT 1"))
      .count() == 1)

    // proportionsZTest against independently computed values (python
    // math.erfc + NormalDist().inv_cdf)
    val zt = spark.sql(
      """SELECT proportionsZTest(10, 11, 100, 90, 0.95D, 'unpooled') AS u,
        |       proportionsZTest(10, 11, 100, 90, 0.95D, 'pooled') AS p,
        |       proportionsZTest(10, 11, 0, 90, 0.95D, 'pooled') AS bad
        |""".stripMargin).head()
    val u = zt.getStruct(0); val p = zt.getStruct(1); val bad = zt.getStruct(2)
    assert(math.abs(u.getDouble(0) - -0.4858498688645831) < 1e-12)
    assert(math.abs(u.getDouble(1) - 0.627073613906803) < 2e-7)
    assert(math.abs(u.getDouble(2) - -0.1118687529782917) < 1e-9)
    assert(math.abs(u.getDouble(3) - 0.06742430853384727) < 1e-9)
    assert(math.abs(p.getDouble(0) - -0.4877896057494059) < 1e-12)
    assert(math.abs(p.getDouble(1) - 0.625698874574119) < 2e-7)
    assert(bad.getDouble(0).isNaN && bad.getDouble(1).isNaN)
  }

  test("ChSql lexer: comments are not code, and a quote inside one opens no literal") {
    import graft.engine.ChSql
    def norm(s: String) = s.replaceAll("\\s+", " ").trim
    // the apostrophe in the comment used to open a literal that swallowed
    // the PREWHERE, which then reached Spark untranslated
    assert(norm(ChSql("SELECT a FROM t -- it's a comment\nPREWHERE a > 1 WHERE b < 2")) ==
      "SELECT a FROM t -- it's a comment WHERE (a > 1) AND (b < 2)")
    // comment bytes pass through untouched, shim keywords in them included
    val c = "SELECT x FROM t /* PREWHERE y */ PREWHERE a > 0 -- FORMAT JSON"
    assert(ChSql.prewhere(c) == "SELECT x FROM t /* PREWHERE y */ WHERE a > 0 -- FORMAT JSON")
    assert(ChSql.tupleIndex("SELECT t.1 -- t.2\n") == "SELECT t.col1 -- t.2\n")
  }
}
