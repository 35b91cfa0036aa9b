package graft

import org.apache.spark.sql.functions._

import graft.engine.{Catalog, ChDdl, ChReplay}

/** End-to-end replay of the reference's scripts, file-verbatim: every
  * .sql file under the reference's scripts/sql is parsed by [[ChDdl]] and
  * executed by [[ChReplay]] — tables, Distributed aliases, dictionaries,
  * and all four materialized-view generations incl. the live-ALTER
  * widening — then the scripts' own embedded SELECTs run (through the
  * ChCompat dialect) and the doc's golden EQUIVALENCES are asserted on
  * the driver data: MV merge-read == direct aggregation over raw
  * (doc:287-292), dictGet == dictionary join (doc:674-701, 736-743), and
  * the bitmap funnel == bitmaps built directly from raw (doc:1226-1233).
  * The reference's own show_cnt/shown_cnt MV column mismatch is
  * reproduced faithfully: its golden output shows shown_cnt = 0, and so
  * does ours.
  */
class ChDdlReplaySpec extends SparkSpec {

  private val sqlDir = ChReplay.scriptsDir
  private val sf = "/root/testdata/sf0.001"

  private def script(f: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sqlDir/$f")), "UTF-8")

  test("parser: statement inventory of every reference script") {
    assume(ReferenceTree.hasScripts, ReferenceTree.missing(ReferenceTree.scripts))
    import ChDdl._
    val a1 = parse(script("ods.action_001_dis.sql"))
    assert(a1.length == 2)
    val local = a1.head.asInstanceOf[CreateTable]
    assert(local.name == "ods.action_001_local")
    assert(local.cols.map(_.name) == Seq("day", "hour", "second", "insert_second",
      "platform", "ip", "isp", "uid", "ver", "item_id", "show_cnt", "click_cnt", "show_time"))
    assert(local.cols.head.default.contains("toDate(second)"))
    assert(local.engine == "ReplicatedMergeTree")
    assert(local.partitionBy.contains("day"))
    assert(local.primaryKey == Seq("day", "hour"))
    assert(local.orderBy == Seq("day", "hour", "platform", "item_id"))
    assert(local.ttl.contains(Ttl(10, 4)), s"ttl was ${local.ttl}")
    val dis = a1(1).asInstanceOf[CreateTable]
    assert(dis.isDistributed && dis.distributedTarget.contains("ods.action_001_local"))
    assert(dis.asTable.contains("ods.action_001_local"))

    val dict = parse(script("dim.dict_user_dim.sql"))
    val d = dict.collect { case x: CreateDictionary => x }
    assert(d.length == 1)
    assert(d.head.name == "dim.dict_user_dim" && d.head.primaryKeys == Seq("uid"))
    assert(d.head.sourceName == "dim.user_dim_dis")
    assert(d.head.lifetimeMin == 1800 && d.head.lifetimeMax == 3600)
    assert(d.head.layout.equalsIgnoreCase("HASHED"))
    assert(d.head.cols.find(_.name == "age").flatMap(_.default).contains("-1"))
    assert(dict.collect { case q: Query => q }.length == 4)

    val dwm = parse(script("dwm.mainpage_stat_mv_dis.sql"))
    val byType = dwm.groupBy(_.getClass.getSimpleName).view.mapValues(_.length).toMap
    assert(byType("CreateTable") == 2, s"inventory: $byType")
    assert(byType("CreateMaterializedView") == 4, s"inventory: $byType")
    assert(byType("Query") == 4, s"inventory: $byType")
    assert(byType("DropStmt") == 3, s"inventory: $byType")
    assert(byType.getOrElse("Unparsed", 0) == 0, s"inventory: $byType")
    val mvLocal = dwm.head.asInstanceOf[CreateTable]
    assert(mvLocal.isAggregating && mvLocal.ttl.contains(Ttl(92, 5)))
    assert(mvLocal.cols.find(_.name == "shown_uv").exists(
      _.aggSpec.contains(("uniqCombined", "UInt32"))))
    assert(mvLocal.cols.find(_.name == "shown_cnt").exists(_.isSimpleAggState))
    val mvs = dwm.collect { case m: CreateMaterializedView => m }
    assert(mvs.map(_.to).forall(_ == "dwm.mainpage_stat_mv_local"))
    assert(mvs.head.sourceTable == "ods.action_001_local")
    assert(mvs.last.sourceTable == "ods.action_002_local")
    // the live-widening ALTERs: gender lands as a key (modify order by)
    val alters = dwm.collect { case a: AlterTable => a }
    assert(alters.exists(a => a.addColumns.exists(_.name == "gender") &&
      a.newOrderBy.contains(Seq("day", "hour", "platform", "ver", "item_id", "gender"))))
    assert(alters.flatMap(_.addColumns).map(_.name).distinct.size >= 14)

    // every remaining script parses with zero unrecognized statements
    val a2 = parse(script("ods.action_002_dis.sql"))
    assert(a2.length == 2 &&
      a2.head.asInstanceOf[CreateTable].cols.map(_.name).takeRight(3) ==
        Seq("action_d_sum", "action_e_sum", "action_f_sum"))
    val userDim = parse(script("dim.user_dim_dis.sql"))
    assert(userDim.collect { case t: CreateTable => t.name } ==
      Seq("ods.user_dim_local", "dim.user_dim_dis"))
    assert(userDim.head.asInstanceOf[CreateTable].ttl.contains(Ttl(3, 3)))
    val itemDim = parse(script("dim.item_dim_dis.sql"))
    assert(itemDim.collect { case t: CreateTable => t.name } ==
      Seq("ods.item_dim_local", "dim.item_dim_dis"))
    val itemDict = parse(script("dim.dict_item_dim.sql"))
    assert(itemDict.collect { case d: CreateDictionary => d.sourceName } ==
      Seq("dim.item_dim_dis"))
    for (f <- Seq("ods.action_001_dis.sql", "ods.action_002_dis.sql",
        "dim.user_dim_dis.sql", "dim.dict_user_dim.sql",
        "dim.item_dim_dis.sql", "dim.dict_item_dim.sql",
        "dwm.mainpage_stat_mv_dis.sql"))
      assert(parse(script(f)).collect { case u: Unparsed => u }.isEmpty,
        s"$f: unrecognized statements")
  }

  test("parser: dialect variants beyond the reference's exact spelling") {
    import ChDdl._
    // IF NOT EXISTS, plain MergeTree with empty parens, single-col clauses
    val t = parseStatement(
      """create table if not exists db.t (
        | k UInt64,
        | v String default 'x' comment 'c'
        |) engine=MergeTree()
        |PARTITION BY k
        |ORDER BY k
        |TTL k + toIntervalDay(7)
        |SETTINGS index_granularity = 8192;""".stripMargin).asInstanceOf[CreateTable]
    assert(t.name == "db.t" && t.cols.map(_.name) == Seq("k", "v"))
    assert(t.cols(1).default.contains("'x'") && t.cols(1).comment.contains("c"))
    assert(t.orderBy == Seq("k") && t.partitionBy.contains("k"))
    assert(t.ttl.contains(Ttl(7, 0)))
    // statements split on semicolons even without keyword line starts
    val multi = parse("select 1 as a; select 2 as b;")
    assert(multi.length == 2 && multi.forall(_.isInstanceOf[Query]))
    // aggregate column spec parsing
    val agg = parseCol("m AggregateFunction( uniqCombined , UInt32 ) comment 'x'")
    assert(agg.isAggState && agg.aggSpec.contains(("uniqCombined", "UInt32")))
    val sagg = parseCol("s SimpleAggregateFunction(sum,UInt64)")
    assert(sagg.isSimpleAggState && sagg.aggSpec.contains(("sum", "UInt64")))
    // alter with only a modify-order-by
    val a = parseStatement(
      "alter table db.t on cluster c modify order by (k, v)").asInstanceOf[AlterTable]
    assert(a.newOrderBy.contains(Seq("k", "v")) && a.addColumns.isEmpty)
    // unparenthesized multi-key clauses — valid CH, just not the reference's
    // spelling; all keys must survive, not only the first token
    val mk = parseStatement(
      """create table db.mk (a UInt64, b UInt64, c String, s SimpleAggregateFunction(sum,UInt64))
        |engine = AggregatingMergeTree()
        |partition by a
        |order by a, b, cityHash64(c, a)
        |TTL a + toIntervalDay(3)""".stripMargin).asInstanceOf[CreateTable]
    assert(mk.orderBy == Seq("a", "b", "cityHash64(c, a)"),
      s"unparenthesized multi-key ORDER BY lost keys: ${mk.orderBy}")
    assert(mk.partitionBy.contains("a") && mk.ttl.contains(Ttl(3, 0)))
    // ...and nested parens inside a parenthesized key list split top-level
    val nk = parseStatement(
      "create table db.nk (a UInt64, b String) engine=MergeTree() order by (a, cityHash64(b, a))")
      .asInstanceOf[CreateTable]
    assert(nk.orderBy == Seq("a", "cityHash64(b, a)"))
    // unparenthesized multi-key MODIFY ORDER BY survives the ALTER
    // subcommand comma split
    val am = parseStatement(
      "alter table db.t modify order by k, v, w, add column if not exists c String")
      .asInstanceOf[AlterTable]
    assert(am.newOrderBy.contains(Seq("k", "v", "w")),
      s"multi-key modify order by lost keys: ${am.newOrderBy}")
    assert(am.addColumns.map(_.name) == Seq("c"))
    // quantileTDigest AggregateFunction columns build a bounded-median
    // StateTable metric through the replayer
    val qt = parseStatement(
      """create table db.qt (k UInt64, med AggregateFunction(quantileTDigest, Float64))
        |engine = AggregatingMergeTree() order by k""".stripMargin)
      .asInstanceOf[CreateTable]
    val qtReplay = new ChReplay(spark, tmpDir("graft-qt"))
    qtReplay.execute(qt)
    assert(qtReplay.stateTables.contains("db.qt"))
  }

  test("runQuery: quoted literal containing ' from ' and commas keeps the alias rewrite aligned") {
    val replay = new ChReplay(spark, tmpDir("graft-aliasq"))
    spark.range(0, 10).selectExpr("id % 3 AS k", "id AS v").createOrReplaceTempView("aliasq_t")
    // CH resolves GROUP BY k to the SELECT alias (k % 2), not the source
    // column; the literal stresses the select-list scanner — without quote
    // tracking the ' from ' inside it misbounds the list and the rewrite
    // silently degrades to Spark's source-column resolution (3 groups)
    val got = replay.runQuery(
      "SELECT 'a, from b' AS tag, k % 2 AS k, CAST(sum(v) AS BIGINT) AS s " +
        "FROM aliasq_t GROUP BY tag, k ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a, from b", 0L, 33L), ("a, from b", 1L, 12L)))
  }

  test("runQuery: SELECT * EXCEPT (col) is a column modifier, not a set operation") {
    val replay = new ChReplay(spark, tmpDir("graft-aliasq3"))
    spark.range(0, 10).selectExpr("id % 3 AS k", "id AS v").createOrReplaceTempView("aliasq_t")
    // the set-op splitter must NOT cut at the EXCEPT column modifier: a
    // false cut leaves the tail (which doesn't start with SELECT)
    // unrewritten, so the CH WHERE-alias preference below is silently
    // lost and Spark errors on the alias reference in WHERE
    val got = replay.runQuery(
      "SELECT * EXCEPT (v), k % 2 AS m FROM aliasq_t WHERE m = 1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (1L, 1L), (1L, 1L)))
    // a star item expands to an UNKNOWN number of output columns, so the
    // GROUP BY alias rewrite must inline the alias EXPRESSION, not an
    // item-index ordinal (item 2 here is the alias, but output position 2
    // is a star-expanded column)
    spark.range(0, 10).selectExpr("id % 2 AS a", "id % 3 AS k", "id AS v")
      .createOrReplaceTempView("aliasq_t3")
    val star = replay.runQuery(
      "SELECT * EXCEPT (v, k), v % 3 AS m, CAST(sum(v) AS BIGINT) AS s " +
        "FROM aliasq_t3 GROUP BY a, m ORDER BY a, m")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(star == Seq((0L, 0L, 6L), (0L, 1L, 4L), (0L, 2L, 10L),
      (1L, 0L, 12L), (1L, 1L, 8L), (1L, 2L, 5L)), s"got $star")

    // a REAL set operation still splits: each branch keeps its own
    // GROUP BY alias scope
    val setOp = replay.runQuery(
      "SELECT k % 2 AS k, CAST(sum(v) AS BIGINT) AS s FROM aliasq_t GROUP BY k " +
        "UNION ALL SELECT k % 2 AS k, CAST(count(*) AS BIGINT) AS s " +
        "FROM aliasq_t GROUP BY k ORDER BY s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(setOp == Seq((1L, 3L), (0L, 7L), (1L, 12L), (0L, 33L)), s"got $setOp")
  }

  test("runQuery: WHERE alias chains resolve transitively; HAVING gets the alias preference") {
    val replay = new ChReplay(spark, tmpDir("graft-aliasq4"))
    spark.range(0, 10).selectExpr("id % 3 AS k", "id AS v").createOrReplaceTempView("aliasq_t")
    // CH resolves y → x*2 → (v+1)*2 transitively; a single-pass inline
    // would leave the bare `x` in WHERE for Spark to reject
    val got = replay.runQuery(
      "SELECT v + 1 AS x, x * 2 AS y FROM aliasq_t WHERE y > 10 ORDER BY x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((6L, 12L), (7L, 14L), (8L, 16L), (9L, 18L), (10L, 20L)))
    // HAVING: the alias (k % 2, shadowing source column k) must win, as in
    // WHERE — CH resolves HAVING identifiers with the same preference
    val hav = replay.runQuery(
      "SELECT k % 2 AS k, CAST(sum(v) AS BIGINT) AS s FROM aliasq_t " +
        "GROUP BY k HAVING k = 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hav == Seq((1L, 12L)), s"got $hav")
  }

  test("runQuery: alias shadowing rewrites inside subqueries (CH resolution at depth)") {
    val replay = new ChReplay(spark, tmpDir("graft-aliasq2"))
    spark.range(0, 10).selectExpr("id % 3 AS k", "id AS v").createOrReplaceTempView("aliasq_t")
    // the inner block groups by k, which CH resolves to ITS select alias
    // (k % 2); the rewrite must fire inside the subquery, where the round-5
    // shim bailed out entirely
    val got = replay.runQuery(
      "SELECT t.k, t.s FROM (SELECT k % 2 AS k, CAST(sum(v) AS BIGINT) AS s " +
        "FROM aliasq_t GROUP BY k) AS t ORDER BY t.k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 33L), (1L, 12L)))
  }

  test("dictionary LIFETIME ticker: refreshed snapshot visible without restart") {
    import spark.implicits._
    val dimDir = tmpDir("graft-dict-life") + "/dim"
    def writeDim(seg: String): Unit = {
      Seq((1L, seg)).toDF("uid", "segment").coalesce(1)
        .write.mode("overwrite").parquet(dimDir)
      spark.catalog.refreshByPath(dimDir)
    }
    writeDim("OLD")
    spark.sql("CREATE DATABASE IF NOT EXISTS dimlife")
    spark.sql(s"CREATE OR REPLACE VIEW dimlife.src AS SELECT * FROM parquet.`$dimDir`")
    val replay = new ChReplay(spark, tmpDir("graft-dict-life-wh"))
    replay.executeScript(
      """CREATE DICTIONARY dimlife.d (
        | uid UInt64,
        | segment String default ''
        |)
        |PRIMARY KEY uid
        |SOURCE(CLICKHOUSE(HOST 'localhost' PORT 9000 USER 'default' PASSWORD '' DB 'dimlife' TABLE 'src'))
        |LIFETIME(MIN 1 MAX 2) LAYOUT(HASHED())""".stripMargin)
    def seg(): String =
      spark.sql("SELECT dictGet('dimlife.d','segment',toUInt64(1)) AS s").head().getString(0)
    assert(seg() == "OLD")
    // the ticker re-registers from the re-resolved source every LIFETIME
    // MIN seconds; the pipeline (and this session) keeps running
    val ticker = replay.startDictionaryTicker()
    try {
      writeDim("NEW")
      val deadline = System.currentTimeMillis() + 20000
      while (seg() != "NEW" && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(seg() == "NEW", "LIFETIME tick did not refresh the dictionary")
    } finally ticker.close()
  }

  test("streaming DDL replay: streamed micro-batches == batch replay, exactly-once per MV") {
    assume(ReferenceTree.hasScripts, ReferenceTree.missing(ReferenceTree.scripts))
    import org.apache.spark.sql.streaming.Trigger
    Catalog.register(spark, sf)

    // two replays of the SAME scripts: one fed through insert() (batch),
    // one through attachStreams (Structured Streaming, one parquet file
    // per day per log = one micro-batch); their state tables must agree
    def build(wh: String): ChReplay = {
      val r = new ChReplay(spark, wh)
      r.bind("ods.user_dim_local", spark.table("dim.dict_user_dim"))
      r.bind("ods.item_dim_local",
        spark.range(0, 1000).select(col("id").as("item_id"),
          pmod(col("id"), lit(7)).as("type_id"), (col("id") % 100 * 10).as("price")))
      for (f <- Seq("ods.action_001_dis.sql", "ods.action_002_dis.sql",
          "dim.user_dim_dis.sql", "dim.dict_user_dim.sql",
          "dim.item_dim_dis.sql", "dim.dict_item_dim.sql",
          "dwm.mainpage_stat_mv_dis.sql"))
        r.executeScript(script(f))
      r
    }
    val days = spark.table("ods.action_001_local").select("day").distinct()
      .orderBy("day").collect().map(_.getDate(0).toString).take(3)
    def a1(d: String) = spark.table("ods.action_001_local").filter(col("day") === lit(d))
    def a2(d: String) = spark.table("ods.action_002_local").filter(col("day") === lit(d))

    val rb = build(tmpDir("graft-sdr-batch"))
    days.foreach(d => rb.insert("ods.action_001_local", a1(d)))
    days.foreach(d => rb.insert("ods.action_002_local", a2(d)))

    val rs = build(tmpDir("graft-sdr-stream"))
    val src = tmpDir("graft-sdr-src")
    val ck = tmpDir("graft-sdr-ck")
    days.zipWithIndex.foreach { case (d, i) =>
      a1(d).coalesce(1).write.parquet(s"$src/a1/b$i")
      a2(d).coalesce(1).write.parquet(s"$src/a2/b$i")
    }
    def fileStream(sub: String, schema: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$src/$sub/*")
    val qs =
      rs.attachStreams("ods.action_001_local", fileStream("a1", a1(days(0)).schema),
        Trigger.AvailableNow(), Some(s"$ck/a1")) ++
      rs.attachStreams("ods.action_002_local", fileStream("a2", a2(days(0)).schema),
        Trigger.AvailableNow(), Some(s"$ck/a2"))
    assert(qs.nonEmpty, "no DDL-defined MVs attached to the streams")
    try qs.foreach(_.awaitTermination(120000): Unit) finally qs.foreach(_.stop())

    assert(rb.stateTables.keySet == rs.stateTables.keySet)
    for ((name, stB) <- rb.stateTables) {
      def rows(st: graft.mv.StateTable) = st.finalized().collect()
        .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
      assert(rows(stB) == rows(rs.stateTables(name)), s"$name: streamed != batch replay")
      assert(rows(stB).nonEmpty, s"$name: empty state table")
    }

    // forced replay: re-delivering a committed batch id to an MV is a
    // ledger no-op — and the ledger is per-MV, so BOTH wide-table writers
    // committed their own batch 0 without colliding
    val mv1 = rs.mvs("dwm.mv_main_page_stat_mv_001_local")
    val mv2 = rs.mvs("dwm.mv_main_page_stat_mv_002_local")
    val before = mv1.target.read().count()
    assert(!mv1.processBatchExactlyOnce(a1(days(0)), 0L), "mv1 replay must dedup")
    assert(!mv2.processBatchExactlyOnce(a2(days(0)), 0L), "mv2 replay must dedup")
    assert(mv1.target.read().count() == before, "replay must not append")
  }

  test("full replay: scripts run file-verbatim and the doc equivalences hold") {
    // reads the scripts and, for doc:1161-1195, the reference doc
    assume(ReferenceTree.present, ReferenceTree.missing(ReferenceTree.scripts, ReferenceTree.docs))
    Catalog.register(spark, sf)
    val wh = tmpDir("graft-chreplay")
    val replay = new ChReplay(spark, wh)

    // raw-table storage: the dims' MergeTree tables are bound to driver
    // data (the Catalog's user-dim view; a deterministic item dim)
    replay.bind("ods.user_dim_local", spark.table("dim.dict_user_dim"))
    replay.bind("ods.item_dim_local",
      spark.range(0, 1000).select(col("id").as("item_id"),
        pmod(col("id"), lit(7)).as("type_id"), (col("id") % 100 * 10).as("price")))

    for (f <- Seq("ods.action_001_dis.sql", "ods.action_002_dis.sql",
        "dim.user_dim_dis.sql", "dim.dict_user_dim.sql",
        "dim.item_dim_dis.sql", "dim.dict_item_dim.sql"))
      replay.executeScript(script(f))

    // descriptors: TTLs, aliases, dictionaries all came from the DDL
    assert(replay.tables("ods.action_001_local").ttl.contains(ChDdl.Ttl(10, 4)))
    assert(replay.tables("ods.user_dim_local").ttl.contains(ChDdl.Ttl(3, 3)))
    assert(replay.resolve("dws.action_001_dis") == "ods.action_001_local")
    assert(replay.resolve("dim.user_dim_dis") == "ods.user_dim_local")
    assert(replay.dictionaries.toSeq == Seq("dim.dict_user_dim", "dim.dict_item_dim"))
    assert(spark.sql("SELECT dictGet('dim.dict_item_dim','type_id',toUInt64(13)) AS t")
      .head().getLong(0) == 13 % 7)

    // three ingest days — one per MV generation, like the doc's timeline
    val days = spark.table("ods.action_001_local").select("day").distinct()
      .orderBy("day").collect().map(_.getDate(0).toString)
    assert(days.length >= 3, s"need 3 days at $sf, got ${days.length}")
    val Array(d1, d2, d3) = days.take(3)
    def a1(d: String) = spark.table("ods.action_001_local").filter(col("day") === lit(d))
    def a2(d: String) = spark.table("ods.action_002_local").filter(col("day") === lit(d))

    // walk the flagship script in order; after each MV generation appears,
    // insert a day of raw data (CH MVs only see inserts made while live)
    val dwmStmts = ChDdl.parse(script("dwm.mainpage_stat_mv_dis.sql"))
    var mvGen = 0
    for (st <- dwmStmts) {
      replay.execute(st)
      st match {
        case _: ChDdl.CreateMaterializedView =>
          mvGen += 1
          if (mvGen == 1) replay.insert("ods.action_001_local", a1(d1))
          if (mvGen == 2) replay.insert("ods.action_001_local", a1(d2))
          if (mvGen == 4) {
            replay.insert("ods.action_001_local", a1(d3))
            replay.insert("ods.action_002_local", a2(d3))
          }
        case _ =>
      }
    }
    assert(replay.mvs.keySet == Set("dwm.mv_main_page_stat_mv_001_local",
      "dwm.mv_main_page_stat_mv_002_local"), "drop-recreate flow should leave the wide MVs")
    val dwmQueries = dwmStmts.collect { case q: ChDdl.Query => q.sql }

    // ---- doc:287-292 — MV merge-read == direct aggregation over raw ------
    val q1 = replay.runQuery(dwmQueries(0))
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val direct1 = spark.sql(
      s"""SELECT day, platform,
         |       uniqCombinedIf(uid, show_cnt > 0) AS shown_uv,
         |       uniqCombinedIf(uid, click_cnt > 0) AS click_uv,
         |       sum(click_cnt) AS click_cnt,
         |       sum(toUInt64(show_time/1000)) AS show_time_sum
         |FROM ods.action_001_local
         |WHERE day IN ('$d1','$d2','$d3') GROUP BY day, platform""".stripMargin)
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(q1.keySet == direct1.keySet)
    for ((k, (shownUv, shownCnt, clickUv, clickCnt, showTimeSum)) <- q1) {
      val (dShownUv, dClickUv, dClickCnt, dShowTime) = direct1(k)
      assert(shownUv == dShownUv, s"$k shown_uv")
      assert(clickUv == dClickUv, s"$k click_uv")
      assert(clickCnt == dClickCnt, s"$k click_cnt")
      assert(showTimeSum == dShowTime, s"$k show_time_sum")
      // the reference's own MV column-name mismatch (SELECT aliases
      // show_cnt, table declares shown_cnt): its golden output shows
      // shown_cnt = 0 — ours must too
      assert(shownCnt == 0L, s"$k shown_cnt should reproduce the doc's 0 golden")
    }

    // ---- doc:674-701, 736-743 — dictGet form == join form ---------------
    val dictQueries = ChDdl.parse(script("dim.dict_user_dim.sql"))
      .collect { case q: ChDdl.Query => q.sql }
    def rows(sql: String): Set[Seq[String]] =
      replay.runQuery(sql, Map("'2021-06-05'" -> s"'$d1'"))
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(rows(dictQueries(0)) == rows(dictQueries(1)), "single-value dictGet == join")
    assert(rows(dictQueries(2)) == rows(dictQueries(3)), "multi-value join == dictGet")
    assert(rows(dictQueries(0)).nonEmpty)

    // ---- wide-table read: states == direct two-log join (the script's
    // own equivalence pair, golden doc:1153-1157) ------------------------
    val sub = Map("'2021-06-06'" -> s"'$d3'")
    val mvWide = replay.runQuery(dwmQueries(1), sub)
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val directWide = replay.runQuery(dwmQueries(2), sub)
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(mvWide == directWide, s"MV wide read != direct twin\n$mvWide\n$directWide")
    assert(mvWide.nonEmpty)

    // ---- doc:1161-1195 — the doc's NESTED multi-log LEFT JOIN formulation,
    // read verbatim from the doc file and run through the per-block alias
    // rewrite (each subquery groups by its own dictGet alias) -------------
    import scala.jdk.CollectionConverters._
    val docFile = {
      val docs = java.nio.file.Paths.get(ChReplay.scriptsDir).getParent.getParent.resolve("docs")
      java.nio.file.Files.list(docs).iterator().asScala
        .find(_.toString.endsWith(".md")).getOrElse(fail("reference doc not found"))
    }
    val nestedSql = java.nio.file.Files.readAllLines(docFile).asScala
      .slice(1161, 1196).mkString("\n")
    assert(nestedSql.trim.startsWith("SELECT") && nestedSql.contains("LEFT JOIN"),
      s"doc statement bounds moved:\n$nestedSql")
    val nested = replay.runQuery(nestedSql, sub)
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(nested == directWide,
      s"doc's nested formulation != wide-table golden\n$nested\n$directWide")

    // ---- doc:1226-1233 — bitmap funnel from states == from raw ----------
    val funnel = replay.runQuery(dwmQueries(3), sub)
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        (2 to 7).map(r.getLong)).toMap
    val funnelDirect = spark.sql(
      s"""WITH b1 AS (
         |  SELECT day, dictGet('dim.dict_user_dim','gender',toUInt64(uid)) AS gender,
         |         groupBitmapStateIf(uid, show_cnt > 0) AS show_bm,
         |         groupBitmapStateIf(uid, click_cnt > 0) AS click_bm
         |  FROM ods.action_001_local WHERE day = '$d3' GROUP BY day, gender),
         |b2 AS (
         |  SELECT day, dictGet('dim.dict_user_dim','gender',toUInt64(uid)) AS gender,
         |         groupBitmapStateIf(uid, action_a_cnt > 0) AS acta_bm,
         |         groupBitmapStateIf(uid, action_b_cnt > 0) AS actb_bm,
         |         groupBitmapStateIf(uid, action_c_cnt > 0) AS actc_bm,
         |         groupBitmapStateIf(uid, action_d_sum > 0) AS actd_bm
         |  FROM ods.action_002_local WHERE day = '$d3' GROUP BY day, gender)
         |SELECT day, gender,
         |       bitmapCardinality(show_bm) AS shown_uv,
         |       bitmapAndCardinality(show_bm, click_bm) AS show_click_uv,
         |       bitmapAndCardinality(show_bm, bitmapAnd(click_bm, acta_bm)) AS show_click_a_uv,
         |       bitmapAndCardinality(show_bm, bitmapAnd(bitmapAnd(click_bm, acta_bm), actb_bm)) AS show_click_ab_uv,
         |       bitmapAndCardinality(show_bm, bitmapAnd(bitmapAnd(bitmapAnd(click_bm, acta_bm), actb_bm), actc_bm)) AS show_click_abc_uv,
         |       bitmapAndCardinality(show_bm, bitmapAnd(bitmapAnd(bitmapAnd(bitmapAnd(click_bm, acta_bm), actb_bm), actc_bm), actd_bm)) AS show_click_abcd_uv
         |FROM b1 JOIN b2 USING (day, gender)""".stripMargin)
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        (2 to 7).map(r.getLong)).toMap
    assert(funnel == funnelDirect, s"funnel != direct\n$funnel\n$funnelDirect")
    funnel.values.foreach { steps =>
      assert(steps.zip(steps.tail).forall { case (a, b) => a >= b },
        s"funnel must be monotone non-increasing: $steps")
    }
    assert(funnel.nonEmpty)

    // ---- DDL-declared TTL enforced against the state table --------------
    // dwm TTL is 92d + 5h: at d1+92d+6h only the d1 partition is past it
    val horizon = java.time.LocalDate.parse(d1).atStartOfDay
      .plusDays(92).plusHours(6)
    val dropped = replay.expire("dws.mainpage_stat_mv_dis", horizon)
    assert(dropped == Seq(s"day=$d1"), s"dropped $dropped")
    val daysLeft = replay.stateTables("dwm.mainpage_stat_mv_local")
      .read().select("day").distinct().collect().map(_.getDate(0).toString).toSet
    assert(daysLeft == Set(d2, d3))
  }

  test("OPTIMIZE TABLE ... FINAL folds state-table parts (doc:954)") {
    import ChDdl._
    // parser: table name, ON CLUSTER tolerated, FINAL flag
    assert(parseStatement("OPTIMIZE TABLE test.mv_union_max FINAL") ==
      OptimizeTable("test.mv_union_max", finalMerge = true))
    assert(parseStatement("optimize table db.t on cluster c partition '2024-01-01'") ==
      OptimizeTable("db.t", finalMerge = false, Some("2024-01-01")))
    assert(parseStatement("OPTIMIZE TABLE db.t PARTITION 202401 FINAL") ==
      OptimizeTable("db.t", finalMerge = true, Some("202401")))
    // the value parse is TOTAL: dots survive; double quotes (identifiers
    // in CH, and invisible to the subcommand splitter) refuse, as do
    // quote-escape forms the naive close-scan would misparse
    assert(parseStatement("OPTIMIZE TABLE db.t PARTITION 1.5 FINAL") ==
      OptimizeTable("db.t", finalMerge = true, Some("1.5")))
    for (bad <- Seq(
        "OPTIMIZE TABLE db.t PARTITION \"2024-01-01\" FINAL",
        "OPTIMIZE TABLE db.t PARTITION 'it''s' FINAL",
        "OPTIMIZE TABLE db.t PARTITION 'it\\' FINAL"))
      intercept[RuntimeException](parseStatement(bad))
    // PARTITION ID is a CH-internal encoding (a hash for string keys):
    // refused by name, never silently treated as a value — but only the
    // real quoted form; a bare value merely STARTING with id/tuple parses
    val idErr = intercept[RuntimeException](
      parseStatement("OPTIMIZE TABLE db.t PARTITION ID '202401' FINAL"))
    assert(idErr.getMessage.contains("PARTITION ID"), idErr.getMessage)
    assert(parseStatement("OPTIMIZE TABLE db.t PARTITION id_202401 FINAL") ==
      OptimizeTable("db.t", finalMerge = true, Some("id_202401")))
    assert(parseStatement("OPTIMIZE TABLE db.t PARTITION id-2024 FINAL") ==
      OptimizeTable("db.t", finalMerge = true, Some("id-2024")))
    assert(parseStatement("OPTIMIZE TABLE db.t PARTITION tuple5 FINAL") ==
      OptimizeTable("db.t", finalMerge = true, Some("tuple5")))
    // the parenthesized forms CH itself renders for partition expressions
    assert(parseStatement("OPTIMIZE TABLE db.t PARTITION tuple('2024-01-01') FINAL") ==
      OptimizeTable("db.t", finalMerge = true, Some("2024-01-01")))
    assert(parseStatement("OPTIMIZE TABLE db.t PARTITION ('2024-01-01')") ==
      OptimizeTable("db.t", finalMerge = false, Some("2024-01-01")))
    // a quoted 'final' is a value; FINAL detection must not read into it
    assert(parseStatement("OPTIMIZE TABLE db.t PARTITION 'final'") ==
      OptimizeTable("db.t", finalMerge = false, Some("final")))
    assert(parseStatement("OPTIMIZE TABLE db.t PARTITION '2024-final'") ==
      OptimizeTable("db.t", finalMerge = false, Some("2024-final")))
    intercept[RuntimeException](
      parseStatement("OPTIMIZE TABLE db.t PARTITION FINAL"))
    intercept[RuntimeException](
      parseStatement("OPTIMIZE TABLE db.t PARTITION tuple('a', 'b') FINAL"))
    intercept[RuntimeException](
      parseStatement("OPTIMIZE TABLE db.t PARTITION () FINAL"))

    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-optimize"))
    replay.executeScript(
      """create table dws.opt_local (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);
        |create table dws.opt_dis (day Date, k UInt64, v UInt64)
        | engine=Distributed(c, dws, opt_local, rand());""".stripMargin)
    import spark.implicits._
    def batch = Seq(("2024-01-01", 1L, 10L), ("2024-01-01", 2L, 5L))
      .toDF("day_s", "k", "v")
      .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
        col("k"), col("v"))
    val st = replay.stateTables("dws.opt_local")
    (1 to 3).foreach(_ => st.appendBatch(batch))
    def parts(): Int = {
      val dir = new java.io.File(st.path, "day=2024-01-01")
      dir.listFiles().count(_.getName.endsWith(".parquet"))
    }
    val before = parts()
    assert(before >= 3, s"expected >=3 parts before optimize, got $before")
    val mergedBefore = st.finalized().collect().map(_.toSeq).toSet
    // the Distributed alias resolves to the local table, like every DDL path
    replay.execute(parseStatement("OPTIMIZE TABLE dws.opt_dis FINAL"))
    assert(parts() < before, s"optimize did not fold parts: $before -> ${parts()}")
    assert(st.finalized().collect().map(_.toSeq).toSet == mergedBefore,
      "optimize changed the merged result")
  }

  test("OPTIMIZE TABLE ... PARTITION 'v' FINAL folds ONE partition, leaves " +
      "the rest untouched, and its crash window recovers") {
    import ChDdl._
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-popt"))
    replay.executeScript(
      """create table dws.popt_local (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);""".stripMargin)
    import spark.implicits._
    def batch = Seq(("2024-01-01", 1L, 10L), ("2024-01-01", 2L, 5L),
      ("2024-01-02", 1L, 7L), ("2024-01-02", 3L, 2L))
      .toDF("day_s", "k", "v")
      .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
        col("k"), col("v"))
    val st = replay.stateTables("dws.popt_local")
    (1 to 3).foreach(_ => st.appendBatch(batch))
    def parts(day: String): Int =
      new java.io.File(st.path, s"day=$day")
        .listFiles().count(_.getName.endsWith(".parquet"))
    val (b1, b2) = (parts("2024-01-01"), parts("2024-01-02"))
    assert(b1 >= 3 && b2 >= 3, s"expected >=3 parts per partition: $b1/$b2")
    val mergedBefore = st.finalized().collect().map(_.toSeq).toSet

    replay.execute(parseStatement(
      "OPTIMIZE TABLE dws.popt_local PARTITION '2024-01-01' FINAL"))
    assert(parts("2024-01-01") < b1,
      s"partition optimize did not fold: $b1 -> ${parts("2024-01-01")}")
    // one row per key on disk in the folded partition (3 appends merged)
    assert(parts("2024-01-01") >= 1 &&
      spark.read.parquet(st.path + "/day=2024-01-01").count() == 2)
    assert(parts("2024-01-02") == b2, "untouched partition was rewritten")
    assert(st.finalized().collect().map(_.toSeq).toSet == mergedBefore,
      "partition optimize changed the merged result")
    // a partition value with no directory is a no-op, not an error
    replay.execute(parseStatement(
      "OPTIMIZE TABLE dws.popt_local PARTITION '2030-01-01' FINAL"))
    assert(st.finalized().collect().map(_.toSeq).toSet == mergedBefore)

    // crash window: partition staged away at .pcompact.<v>.old, live dir
    // missing — a fresh open (Durable.recover) restores it
    val fs = new org.apache.hadoop.fs.Path(st.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(st.path, "day=2024-01-02"),
      new org.apache.hadoop.fs.Path(st.path + ".pcompact.2024-01-02.old")))
    val reopened = new graft.mv.StateTable(spark, st.path, st.keys,
      st.partitionCol, st.metrics)
    assert(reopened.finalized().collect().map(_.toSeq).toSet == mergedBefore,
      "recovery lost the staged partition")
    assert(!new java.io.File(st.path + ".pcompact.2024-01-02.old").exists())
  }

  test("DETACH / ATTACH PARTITION and TRUNCATE TABLE: the CH operational " +
      "vocabulary, statement-driven, with detached data surviving OPTIMIZE") {
    import ChDdl._
    // parser: partition forms, PART-granularity loud refusal, truncate
    val alt = parseStatement(
      "ALTER TABLE db.t DETACH PARTITION '2024-01-01', ATTACH PARTITION " +
        "'2024-01-02', DROP DETACHED PARTITION 20240103").asInstanceOf[AlterTable]
    assert(alt.detachPartitions == Seq("2024-01-01"))
    assert(alt.attachPartitions == Seq("2024-01-02"))
    assert(alt.dropDetachedPartitions == Seq("20240103"))
    // PART-granularity forms parse since round 13 (the rebalance tool's
    // vocabulary; one part = one data file)
    val partAlt = parseStatement(
      "ALTER TABLE db.t DETACH PART 'p1', ATTACH PART 'p2', " +
        "DROP DETACHED PART 'p3', FETCH PART 'p4' FROM '/clickhouse/tables/l-s/db.t'")
      .asInstanceOf[AlterTable]
    assert(partAlt.partitionOps == Seq(DetachPart("p1"), AttachPart("p2"),
      DropDetachedPart("p3"), FetchPart("p4", "/clickhouse/tables/l-s/db.t")))
    // every data-mutating partition/part statement this engine cannot
    // honor refuses loudly — none may silently no-op (incl. unquoted
    // part names, which the tool never emits)
    for (bad <- Seq(
        "ALTER TABLE db.t DROP PART 'all_1_1_0'",
        "ALTER TABLE db.t DETACH PART all_1_1_0",
        "ALTER TABLE db.t FETCH PART 'p' FROM noquotes",
        "ALTER TABLE db.t FETCH PARTITION '2024-01-01' FROM '/ch/t'",
        "ALTER TABLE db.t REPLACE PARTITION '2024-01-01' FROM db.src",
        "ALTER TABLE db.t MOVE PARTITION '2024-01-01' TO DISK 'd'",
        "ALTER TABLE db.t FREEZE PARTITION '2024-01-01'"))
      intercept[RuntimeException](parseStatement(bad))
    // subcommands keep STATEMENT order (CH runs them sequentially)
    assert(parseStatement("ALTER TABLE db.t ATTACH PARTITION 'a', DROP PARTITION 'a'")
      .asInstanceOf[AlterTable].partitionOps ==
      Seq(AttachPartition("a"), DropPartition("a")))
    // the same TOTAL value parse as OPTIMIZE: tuple form works, ID /
    // ALL / trailing-FROM refuse loudly instead of silently no-opping
    assert(parseStatement("ALTER TABLE db.t DROP PARTITION tuple('2024-01-01')")
      .asInstanceOf[AlterTable].dropPartitions == Seq("2024-01-01"))
    intercept[RuntimeException](parseStatement(
      "ALTER TABLE db.t ATTACH PARTITION '2024-01-01' FROM db.src"))
    intercept[RuntimeException](parseStatement(
      "ALTER TABLE db.t DETACH PARTITION ID 'abc123'"))
    intercept[RuntimeException](parseStatement(
      "ALTER TABLE db.t DROP PARTITION ALL"))
    assert(parseStatement("TRUNCATE TABLE IF EXISTS db.t") ==
      TruncateTable("db.t", ifExists = true))
    assert(parseStatement("truncate table db.t") ==
      TruncateTable("db.t", ifExists = false))

    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-detach"))
    replay.executeScript(
      """create table dws.det_local (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);""".stripMargin)
    import spark.implicits._
    def batch = Seq(("2024-01-01", 1L, 10L), ("2024-01-02", 1L, 7L))
      .toDF("day_s", "k", "v")
      .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
        col("k"), col("v"))
    // def, not val: every ALTER statement rebuilds the aggregating
    // table's StateTable instance (applyAlter → rebuildStateTable), so a
    // captured instance goes stale after the first DETACH
    def st = replay.stateTables("dws.det_local")
    (1 to 2).foreach(_ => st.appendBatch(batch))
    def days() = st.finalized().select("day").distinct()
      .collect().map(_.getDate(0).toString).sorted.toSeq
    assert(days() == Seq("2024-01-01", "2024-01-02"))

    // DETACH: the partition vanishes from reads, bytes stay
    replay.execute(parseStatement(
      "ALTER TABLE dws.det_local DETACH PARTITION '2024-01-01'"))
    assert(days() == Seq("2024-01-02"))
    assert(new java.io.File(st.path + "/.detached/day=2024-01-01").exists())

    // OPTIMIZE FINAL (a whole-table staged swap) must NOT destroy the
    // detached copy
    replay.execute(parseStatement("OPTIMIZE TABLE dws.det_local FINAL"))
    assert(new java.io.File(st.path + "/.detached/day=2024-01-01").exists(),
      "compact destroyed the detached partition")
    assert(days() == Seq("2024-01-02"))

    // ATTACH: it comes back, values intact (2 appends of 10 = 20)
    replay.execute(parseStatement(
      "ALTER TABLE dws.det_local ATTACH PARTITION '2024-01-01'"))
    assert(days() == Seq("2024-01-01", "2024-01-02"))
    assert(st.finalized().filter(col("k") === 1 &&
      col("day") === "2024-01-01").head().getLong(2) == 20L)

    // attaching into a live partition MERGES (CH semantics: detached
    // parts join the live set; the aggregating table merges the copies
    // on read): detached holds 2 appends of 7 = 14, the new live copy 7
    // — the attach lands at 21, and the detached side empties
    replay.execute(parseStatement(
      "ALTER TABLE dws.det_local DETACH PARTITION '2024-01-02'"))
    st.appendBatch(batch.filter(col("day") === "2024-01-02")) // new live copy
    replay.execute(parseStatement(
      "ALTER TABLE dws.det_local ATTACH PARTITION '2024-01-02'"))
    assert(st.finalized().filter(col("k") === 1 &&
      col("day") === "2024-01-02").head().getLong(2) == 21L,
      "attach must merge into the live partition")
    assert(!new java.io.File(st.path + "/.detached/day=2024-01-02").exists())

    // TRUNCATE: data gone, detached survives, replaying an old batch
    // re-ingests (fresh ledger), and the schema survives for reads
    replay.execute(parseStatement(
      "ALTER TABLE dws.det_local DETACH PARTITION '2024-01-01'"))
    replay.execute(parseStatement("TRUNCATE TABLE dws.det_local"))
    assert(st.finalized().count() == 0L)
    assert(new java.io.File(st.path + "/.detached/day=2024-01-01").exists(),
      "truncate destroyed the detached partition")
    st.appendBatch(batch)
    assert(days() == Seq("2024-01-01", "2024-01-02"))
    // unknown table: loud without IF EXISTS, no-op with it
    intercept[RuntimeException](replay.execute(parseStatement(
      "TRUNCATE TABLE dws.never_created")))
    replay.execute(parseStatement("TRUNCATE TABLE IF EXISTS dws.never_created"))

    // the truncate section left a detached '2024-01-01' AND re-appended a
    // live one — clear the stale detached copy first
    replay.execute(parseStatement(
      "ALTER TABLE dws.det_local DROP DETACHED PARTITION '2024-01-01'"))
    // ordered subcommands: 'x' exists only DETACHED; attach-then-drop
    // must end with it neither live nor detached (grouped-by-kind
    // execution would leave it live)
    replay.execute(parseStatement(
      "ALTER TABLE dws.det_local DETACH PARTITION '2024-01-01'"))
    replay.execute(parseStatement(
      "ALTER TABLE dws.det_local ATTACH PARTITION '2024-01-01', " +
        "DROP PARTITION '2024-01-01'"))
    assert(days() == Seq("2024-01-02"))
    assert(!new java.io.File(st.path + "/.detached/day=2024-01-01").exists())

    // detaching the LAST live partition leaves an empty but READABLE
    // table (the captured schema survives, CH returns empty)
    replay.execute(parseStatement(
      "ALTER TABLE dws.det_local DETACH PARTITION '2024-01-02'"))
    assert(st.finalized().count() == 0L)
    replay.execute(parseStatement(
      "ALTER TABLE dws.det_local ATTACH PARTITION '2024-01-02'"))
    assert(days() == Seq("2024-01-02"))
  }

  test("ALTER TABLE mutations: DROP PARTITION and DELETE WHERE") {
    import ChDdl._
    // parser: both mutation forms, bare and quoted partition values
    parseStatement("ALTER TABLE db.t DROP PARTITION '2024-01-01'") match {
      case a: AlterTable => assert(a.dropPartitions == Seq("2024-01-01"))
      case other => fail(s"unexpected $other")
    }
    parseStatement("alter table db.t delete where k = 2") match {
      case a: AlterTable => assert(a.deleteWhere.contains("k = 2"))
      case other => fail(s"unexpected $other")
    }

    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-mutate"))
    replay.executeScript(
      """create table dws.mut_local (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);
        |create table dws.mut_dis (day Date, k UInt64, v UInt64)
        | engine=Distributed(c, dws, mut_local, rand());""".stripMargin)
    import spark.implicits._
    val st = replay.stateTables("dws.mut_local")
    st.appendBatch(Seq(("2024-01-01", 1L, 10L), ("2024-01-01", 2L, 5L),
      ("2024-01-02", 1L, 7L), ("2024-01-02", 3L, 2L))
      .toDF("day_s", "k", "v")
      .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
        col("k"), col("v")))
    // DELETE WHERE through the Distributed alias (CH mutation)
    replay.execute(parseStatement("ALTER TABLE dws.mut_dis DELETE WHERE k = 1"))
    val afterDelete = st.finalized().collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString, r.getAs[Long]("k"))).toSet
    assert(afterDelete == Set(("2024-01-01", 2L), ("2024-01-02", 3L)),
      s"delete left $afterDelete")
    // a NULL predicate KEEPS the row (only true deletes) — the
    // null-guard distinguishes filter(!cond) from CH mutation semantics
    replay.execute(parseStatement(
      "ALTER TABLE dws.mut_dis DELETE WHERE if(k = 999, true, NULL)"))
    assert(st.finalized().count() == 2, "NULL-predicate rows must survive")
    // UPDATE mutation rewrites matching rows in place
    replay.execute(parseStatement("ALTER TABLE dws.mut_dis UPDATE v = v * 10 WHERE k = 2"))
    val afterUpdate = st.finalized().collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toSet
    assert(afterUpdate == Set((2L, 50L), (3L, 2L)), s"update left $afterUpdate")
    // DROP PARTITION removes the whole day
    replay.execute(parseStatement("ALTER TABLE dws.mut_dis DROP PARTITION '2024-01-01'"))
    val afterDrop = st.finalized().collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString, r.getAs[Long]("k"))).toSet
    assert(afterDrop == Set(("2024-01-02", 3L)), s"drop left $afterDrop")
  }

  test("AggregateFunction(entropy) replays: MV-incremental, compact-invariant") {
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-entm"))
    replay.executeScript(
      """create table dws.ent_local (
        | day Date,
        | k UInt64,
        | h AggregateFunction(entropy, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);""".stripMargin)
    import spark.implicits._
    val st = replay.stateTables("dws.ent_local")
    def batch(vals: Seq[Long]) =
      vals.map(v => ("2024-01-01", 1L, v)).toDF("day_s", "k", "h")
        .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
          col("k"), col("h"))
    // two inserted blocks: values 0,0,1 then 1,2,2 — merged entropy must
    // equal the one-shot over all six values
    st.appendBatch(batch(Seq(0L, 0L, 1L)))
    st.appendBatch(batch(Seq(1L, 2L, 2L)))
    val direct = Seq(0L, 0L, 1L, 1L, 2L, 2L).toDF("v")
      .selectExpr("entropy(v) h").head().getDouble(0)
    def readH(): Double = st.finalized().head().getAs[Double]("h")
    assert(readH() == direct, "two-block merge == one-shot, bit-exact")
    // OPTIMIZE FINAL folds parts without changing the value
    st.compact()
    assert(readH() == direct, "compact is value-invariant")
  }

  test("system.tables/columns/databases/parts reflect the replayed catalog") {
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-systbl"))
    replay.executeScript(
      """create table dws.sys_local (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);
        |create table dws.sys_dis (day Date, k UInt64, v UInt64)
        | engine=Distributed(c, dws, sys_local, rand());""".stripMargin)
    import spark.implicits._
    replay.stateTables("dws.sys_local").appendBatch(
      Seq(("2024-01-01", 1L, 10L), ("2024-01-02", 2L, 5L)).toDF("day_s", "k", "v")
        .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
          col("k"), col("v")))
    val t = replay.runQuery(
      "SELECT engine FROM system.tables WHERE database = 'dws' AND name = 'sys_local'")
      .head().getString(0)
    assert(t == "AggregatingMergeTree")
    assert(replay.runQuery(
      "SELECT engine FROM system.tables WHERE name = 'sys_dis'")
      .head().getString(0) == "Distributed")
    assert(replay.runQuery("SELECT name FROM system.databases").collect()
      .map(_.getString(0)).toSet.contains("dws"))
    val cols = replay.runQuery(
      """SELECT name, type FROM system.columns
        |WHERE database = 'dws' AND table = 'sys_local' ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(cols.map(_._1) == Seq("day", "k", "v"))
    // per-PART granularity (one row per parquet data file, as in CH) — the
    // canonical operational aggregation over it must work verbatim
    val parts = replay.runQuery(
      """SELECT partition, sum(rows) AS rows, sum(bytes_on_disk) AS bytes
        |FROM system.parts WHERE table = 'sys_local'
        |GROUP BY partition ORDER BY partition""".stripMargin).collect()
    assert(parts.map(_.getString(0)).toSeq == Seq("2024-01-01", "2024-01-02"))
    assert(parts.forall(_.getAs[Any]("bytes").toString.toLong > 0))
    // one ingested row per partition -> footer record counts say exactly 1
    assert(parts.map(_.getAs[Any]("rows").toString.toLong).toSeq == Seq(1L, 1L))
    // an UNQUALIFIED table name (ENGINE=Null admits these) must list
    // under CH's `default` db instead of aborting with a MatchError
    replay.executeScript("create table bare_null (k UInt64) engine=Null;")
    assert(replay.runQuery(
      "SELECT engine FROM system.tables WHERE database = 'default' AND name = 'bare_null'")
      .head().getString(0) == "Null")
    assert(!replay.runQuery("SELECT name FROM system.databases").collect()
      .map(_.getString(0)).contains("bare_null"))
  }

  test("system.parts/.detached_parts track the partition lifecycle " +
      "(insert -> OPTIMIZE PARTITION -> DETACH -> ATTACH -> DROP DETACHED)") {
    import ChDdl._
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-sysparts"))
    replay.executeScript(
      """create table dws.sp_local (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);""".stripMargin)
    import spark.implicits._
    def batch = Seq(("2024-01-01", 1L, 10L), ("2024-01-01", 2L, 5L),
        ("2024-01-02", 1L, 7L))
      .toDF("day_s", "k", "v")
      .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
        col("k"), col("v"))
    val st = replay.stateTables("dws.sp_local")
    (1 to 3).foreach(_ => st.appendBatch(batch))
    // (part_count, state rows, bytes) per partition, through the SQL surface
    // an operator actually types (ref data_rebalance.py:116-205's shape)
    def partsBy(view: String): Map[String, (Long, Long, Long)] = {
      replay.runQuery(
        s"""SELECT partition, count(*) AS parts, sum(rows) AS rows,
           |       sum(bytes_on_disk) AS bytes
           |FROM system.$view WHERE table = 'sp_local'
           |GROUP BY partition""".stripMargin).collect()
        .map(r => r.getString(0) -> ((r.getAs[Long]("parts"),
          r.getAs[Any]("rows").toString.toLong,
          r.getAs[Any]("bytes").toString.toLong))).toMap
    }
    val before = partsBy("parts")
    assert(before.keySet == Set("2024-01-01", "2024-01-02"))
    // 3 batches x (2 keys / 1 key) of state rows, in >= 3 parts each
    assert(before("2024-01-01")._2 == 6L && before("2024-01-02")._2 == 3L)
    assert(before("2024-01-01")._1 >= 3L)
    assert(partsBy("detached_parts").isEmpty)

    // OPTIMIZE PARTITION folds day-01 to ONE part with one row per key;
    // day-02's parts are untouched
    replay.execute(parseStatement(
      "OPTIMIZE TABLE dws.sp_local PARTITION '2024-01-01' FINAL"))
    val opt = partsBy("parts")
    assert(opt("2024-01-01")._1 == 1L && opt("2024-01-01")._2 == 2L,
      s"optimize visibility: ${opt("2024-01-01")}")
    assert(opt("2024-01-02") == before("2024-01-02"))

    // DETACH moves day-02 out of system.parts into system.detached_parts,
    // rows and bytes intact
    replay.execute(parseStatement(
      "ALTER TABLE dws.sp_local DETACH PARTITION '2024-01-02'"))
    assert(!partsBy("parts").contains("2024-01-02"))
    val dp = partsBy("detached_parts")
    assert(dp.keySet == Set("2024-01-02"))
    assert(dp("2024-01-02") == before("2024-01-02"))

    // ATTACH restores it; detached_parts empties
    replay.execute(parseStatement(
      "ALTER TABLE dws.sp_local ATTACH PARTITION '2024-01-02'"))
    assert(partsBy("parts")("2024-01-02") == before("2024-01-02"))
    assert(partsBy("detached_parts").isEmpty)

    // DETACH + DROP DETACHED removes it from both views
    replay.execute(parseStatement(
      "ALTER TABLE dws.sp_local DETACH PARTITION '2024-01-02'"))
    replay.execute(parseStatement(
      "ALTER TABLE dws.sp_local DROP DETACHED PARTITION '2024-01-02'"))
    assert(!partsBy("parts").contains("2024-01-02"))
    assert(partsBy("detached_parts").isEmpty)
  }

  test("SHOW CREATE TABLE rendering round-trips every reference descriptor") {
    import ChDdl._
    val files = Option(new java.io.File(sqlDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".sql"))
    assume(files.nonEmpty, s"$sqlDir missing")
    val stmts = files.toSeq.sortBy(_.getName).flatMap(f => parse(script(f.getName)))
    val cts = stmts.collect { case t: CreateTable => t }
    assert(cts.size >= 10, s"expected a corpus, got ${cts.size} tables")
    cts.foreach { ct =>
      val rendered = render(ct)
      val back = parseStatement(rendered)
      assert(back == ct,
        s"round-trip drift for ${ct.name}:\n$rendered\nparsed: $back\norig:   $ct")
    }
    // the whole object vocabulary round-trips, not just tables
    val dicts = stmts.collect { case d: CreateDictionary => d }
    assert(dicts.nonEmpty)
    dicts.foreach(d => assert(parseStatement(render(d)) == d,
      s"dictionary round-trip drift:\n${render(d)}"))
    val mvDefs = stmts.collect { case m: CreateMaterializedView => m }
    assert(mvDefs.nonEmpty)
    mvDefs.foreach(m => assert(parseStatement(render(m)) == m,
      s"mv round-trip drift:\n${render(m)}"))
  }

  test("interactive statements: SHOW / DESCRIBE / EXISTS / SHOW CREATE " +
      "answer from the catalog like a server") {
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-ia"))
    replay.executeScript(
      """create table dws.ia_local (
        | day Date,
        | k UInt64 default 0 comment 'the key',
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);
        |create table dws.ia_dis (day Date, k UInt64)
        | engine=Distributed(c, dws, ia_local, rand());""".stripMargin)
    val dbs = replay.runQuery("SHOW DATABASES").collect().map(_.getString(0))
    assert(dbs.contains("dws") && dbs.contains("system"))
    assert(replay.runQuery("SHOW TABLES FROM dws").collect()
      .map(_.getString(0)).toSet == Set("ia_local", "ia_dis"))
    assert(replay.runQuery("SHOW TABLES FROM dws LIKE '%local'").collect()
      .map(_.getString(0)).toSeq == Seq("ia_local"))
    // DESCRIBE: declared order, CH's five-column shape, normalized types
    val d = replay.runQuery("DESCRIBE TABLE dws.ia_local").collect()
    assert(d.map(_.getString(0)).toSeq == Seq("day", "k", "v"))
    assert(d(1).getString(1) == "UInt64" && d(1).getString(2) == "DEFAULT" &&
      d(1).getString(3) == "0" && d(1).getString(4) == "the key")
    // a Distributed alias describes ITS OWN declared columns, as in CH
    assert(replay.runQuery("DESC dws.ia_dis").collect()
      .map(_.getString(0)).toSeq == Seq("day", "k"))
    assert(replay.runQuery("EXISTS TABLE dws.ia_local").head().getInt(0) == 1)
    assert(replay.runQuery("EXISTS dws.nope").head().getInt(0) == 0)
    val ddl = replay.runQuery("SHOW CREATE TABLE dws.ia_local").head().getString(0)
    assert(ChDdl.parseStatement(ddl) == replay.tables("dws.ia_local"),
      s"SHOW CREATE output does not reparse to the descriptor:\n$ddl")
    // trailing semicolons and the bare DESC spelling both land
    assert(replay.runQuery("SHOW CREATE TABLE dws.ia_dis;").head()
      .getString(0).contains("ENGINE = Distributed(c, dws, ia_local, rand())"))
    intercept[RuntimeException](replay.runQuery("SHOW CREATE TABLE dws.nope"))

    // system tables are introspectable like the replay's own names
    assert(replay.runQuery("DESCRIBE TABLE system.parts").collect()
      .map(_.getString(0)).contains("partition"))
    assert(replay.runQuery("EXISTS TABLE system.parts").head().getInt(0) == 1)
    // LIKE patterns carry CH STRING-LITERAL semantics, per CH's lexer
    // (parseComplexEscapeSequence): the unknown escape '\_' KEEPS its
    // backslash ("for convenience using LIKE"), so BOTH '\_' and '\\_'
    // mean the escaped LITERAL underscore; only a bare '_' is the
    // wildcard. dws.iaglocal distinguishes the readings: the wildcard
    // matches it, the escaped literal must not.
    replay.executeScript("create table dws.iaglocal (k UInt64) engine=Null;")
    assert(replay.runQuery("SHOW TABLES FROM dws LIKE 'ia_l%'").collect()
      .map(_.getString(0)).toSeq == Seq("ia_local", "iaglocal"))
    assert(replay.runQuery("SHOW TABLES FROM dws LIKE 'ia\\_l%'").collect()
      .map(_.getString(0)).toSeq == Seq("ia_local"),
      "CH keeps the backslash of '\\_' — the escaped literal underscore")
    assert(replay.runQuery("SHOW TABLES FROM dws LIKE 'ia\\\\_l%'").collect()
      .map(_.getString(0)).toSeq == Seq("ia_local"),
      "'\\\\_' decodes to the same escaped literal underscore")
    // SHOW DATABASES takes LIKE too; unknown SHOW forms refuse loudly
    assert(replay.runQuery("SHOW DATABASES LIKE 'dw%'").collect()
      .map(_.getString(0)).toSeq == Seq("dws"))
    intercept[RuntimeException](replay.runQuery("SHOW PROCESSLIST"))

    // dictionaries and MVs join the introspection vocabulary
    import spark.implicits._
    replay.bind("dws.ia_src", Seq((1L, 30L)).toDF("uid", "age"))
    replay.executeScript(
      """create dictionary dws.ia_dict (
        | uid UInt64,
        | age UInt8 default 0
        |) primary key uid
        |source(clickhouse(db 'dws' table 'ia_src'))
        |lifetime(min 1 max 2)
        |layout(FLAT());
        |create materialized view dws.ia_mv to dws.ia_local (
        | day Date,
        | k UInt64,
        | v UInt64
        |) as select day, k, v from dws.ia_src;""".stripMargin)
    assert(replay.runQuery("SHOW DICTIONARIES FROM dws").collect()
      .map(_.getString(0)).toSeq == Seq("ia_dict"))
    val dictDdl = replay.runQuery("SHOW CREATE DICTIONARY dws.ia_dict")
      .head().getString(0)
    assert(ChDdl.parseStatement(dictDdl).isInstanceOf[ChDdl.CreateDictionary],
      s"dictionary DDL does not reparse:\n$dictDdl")
    assert(dictDdl.contains("LIFETIME(MIN 1 MAX 2)") && dictDdl.contains("LAYOUT(FLAT())"))
    assert(replay.runQuery("DESC dws.ia_dict").collect()
      .map(_.getString(0)).toSeq == Seq("uid", "age"))
    assert(replay.runQuery("EXISTS dws.ia_dict").head().getInt(0) == 1)
    val mvDdl = replay.runQuery("SHOW CREATE TABLE dws.ia_mv").head().getString(0)
    assert(mvDdl.startsWith("CREATE MATERIALIZED VIEW dws.ia_mv TO dws.ia_local"),
      s"got:\n$mvDdl")
    assert(ChDdl.parseStatement(mvDdl).isInstanceOf[ChDdl.CreateMaterializedView])
    assert(replay.runQuery(
      "SELECT source, layout, lifetime_max FROM system.dictionaries WHERE name = 'ia_dict'")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq(("dws.ia_src", "FLAT", 2)))

    // system.tables lists MVs and dictionaries with their CH engines —
    // EXISTS answering for a name SHOW TABLES omits would be inconsistent
    val shown = replay.runQuery("SHOW TABLES FROM dws").collect()
      .map(_.getString(0)).toSet
    assert(shown.contains("ia_mv") && shown.contains("ia_dict"), s"got $shown")
    assert(replay.runQuery(
      "SELECT engine FROM system.tables WHERE name = 'ia_mv'")
      .head().getString(0) == "MaterializedView")
    assert(replay.runQuery(
      "SELECT engine FROM system.tables WHERE name = 'ia_dict'")
      .head().getString(0) == "Dictionary")

    // kind-qualified forms answer for that kind only
    assert(replay.runQuery("EXISTS DICTIONARY dws.ia_dict").head().getInt(0) == 1)
    assert(replay.runQuery("EXISTS DICTIONARY dws.ia_local").head().getInt(0) == 0)
    assert(replay.runQuery("DESCRIBE DICTIONARY dws.ia_dict").collect()
      .map(_.getString(0)).toSeq == Seq("uid", "age"))
    assert(replay.runQuery("SHOW CREATE VIEW dws.ia_mv").head().getString(0)
      .startsWith("CREATE MATERIALIZED VIEW"))
    intercept[RuntimeException](replay.runQuery("SHOW CREATE VIEW dws.ia_local"))

    // DROP DICTIONARY clears EVERY introspection surface
    replay.executeScript("drop dictionary dws.ia_dict;")
    assert(replay.runQuery("EXISTS DICTIONARY dws.ia_dict").head().getInt(0) == 0)
    assert(replay.runQuery("SHOW DICTIONARIES FROM dws").collect().isEmpty)
    intercept[RuntimeException](replay.runQuery("SHOW CREATE DICTIONARY dws.ia_dict"))
    assert(!replay.runQuery("SHOW TABLES FROM dws").collect()
      .map(_.getString(0)).contains("ia_dict"))

    // EXISTS VIEW means materialized view, not Spark catalog storage (a
    // registerParquet-backed table is a catalog view but a TABLE to CH)
    assert(replay.runQuery("EXISTS VIEW dws.ia_mv").head().getInt(0) == 1)
    assert(replay.runQuery("EXISTS VIEW dws.iaglocal").head().getInt(0) == 0)

    // DROP is kind-aware like CH: wrong-kind drops refuse loudly
    intercept[RuntimeException](replay.executeScript("drop dictionary dws.ia_local;"))
    replay.executeScript(
      """create dictionary dws.ia_dict2 (
        | uid UInt64
        |) primary key uid
        |source(clickhouse(db 'dws' table 'ia_src'))
        |lifetime(min 0 max 0)
        |layout(FLAT());""".stripMargin)
    intercept[RuntimeException](replay.executeScript("drop table dws.ia_dict2;"))
    assert(replay.runQuery("EXISTS DICTIONARY dws.ia_dict2").head().getInt(0) == 1)

    // dropping the Distributed alias leaves the local table (CH parity)
    replay.executeScript("drop table dws.ia_dis;")
    assert(replay.runQuery("EXISTS dws.ia_dis").head().getInt(0) == 0)
    assert(replay.runQuery("EXISTS dws.ia_local").head().getInt(0) == 1)

    // DROP VIEW is strict: refuses tables, detaches materialized views —
    // and a state table with a dependent MV refuses to drop (the MV's
    // captured StateTable would write into deleted storage)
    intercept[RuntimeException](replay.executeScript("drop view dws.iaglocal;"))
    assert(replay.runQuery("EXISTS VIEW dws.ia_mv").head().getInt(0) == 1)
    intercept[RuntimeException](replay.executeScript("drop table dws.ia_local;"))
    replay.executeScript("drop view dws.ia_mv;")
    assert(replay.runQuery("EXISTS VIEW dws.ia_mv").head().getInt(0) == 0)

    // with the MV gone, dropping the state table clears the catalog AND
    // its storage
    val iaPath = replay.stateTables("dws.ia_local").path
    replay.executeScript("drop table dws.ia_local;")
    assert(replay.runQuery("EXISTS TABLE dws.ia_local").head().getInt(0) == 0)
    assert(!replay.runQuery("SHOW TABLES FROM dws").collect()
      .map(_.getString(0)).contains("ia_local"))
    assert(!new java.io.File(iaPath).exists(), "DROP TABLE must drop storage")
    // a parts read lists the storage as it is now
    assert(replay.runQuery(
      "SELECT count(*) FROM system.parts WHERE table = 'ia_local'")
      .head().getLong(0) == 0L,
      "a dropped table's parts must leave system.parts")
    // a trailing lone escape is LIKE's own well-formed error — not a
    // corrupted listing statement
    intercept[org.apache.spark.sql.AnalysisException](
      replay.runQuery("SHOW TABLES FROM dws LIKE '%\\\\'").collect())

    // a partition value containing a backslash reads back as written
    import spark.implicits._
    val bst = new graft.mv.StateTable(spark, tmpDir("ia-esc") + "/bs",
      keys = Seq("grp", "k"), partitionCol = "grp",
      metrics = Seq(graft.mv.CountMetric("cnt")))
    bst.appendBatch(Seq(("a\\b", 1L)).toDF("grp", "k"))
    replay.stateTables("dws.bs_local") = bst
    val pv = replay.runQuery("SELECT partition FROM system.parts WHERE table = 'bs_local'")
      .collect().map(_.getString(0)).toSeq
    assert(pv == Seq("a\\b"), s"backslash partition value corrupted: $pv")

    // a quote-bearing LIKE pattern parses (doubled-quote escape) instead
    // of falling anywhere else; nothing matches it
    assert(replay.runQuery("SHOW TABLES FROM dws LIKE '%''x'").collect().isEmpty)
    // unrecognized SHOW TABLES forms refuse instead of silently handing
    // off to Spark's native statement (GLOB semantics, different schema)
    intercept[RuntimeException](replay.runQuery("SHOW TABLES IN dws"))

    // a FRESH replay that never published can still introspect system
    // tables (CH's always exist) — with a correctly TYPED empty parts table
    val fresh = new ChReplay(spark, ChReplay.scratchWarehouse("graft-ia2"))
    assert(fresh.runQuery("EXISTS TABLE system.parts").head().getInt(0) == 1)
    assert(fresh.runQuery("DESCRIBE TABLE system.parts").collect()
      .map(_.getString(0)).contains("partition"))
    assert(fresh.runQuery("SELECT sum(rows) AS r FROM system.parts").schema("r")
      .dataType == org.apache.spark.sql.types.LongType,
      "empty parts view must keep the populated form's BIGINT rows")

    // a non-wildcard escape is a LITERAL backslash + char in CH's LIKE
    // ("the backslash loses its special meaning"), translated so Spark
    // neither errors nor matches names a real server would not: no table
    // name contains a backslash, so this returns nothing
    assert(replay.runQuery("SHOW TABLES FROM dws LIKE 'ia\\glocal'").collect()
      .isEmpty)

    // parts read empty BEFORE the first insert list the first part once
    // it exists — a read must not see plausible-looking emptiness over
    // live data
    val r3 = new ChReplay(spark, ChReplay.scratchWarehouse("graft-ia3"))
    r3.executeScript(
      """create table dws.ps_local (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);""".stripMargin)
    assert(r3.runQuery("SHOW TABLES FROM dws").collect()
      .map(_.getString(0)).toSeq == Seq("ps_local"))
    def psParts(): Long = r3.runQuery(
      "SELECT count(*) FROM system.parts WHERE table = 'ps_local'").head().getLong(0)
    assert(psParts() == 0L)
    r3.stateTables("dws.ps_local").appendBatch(
      Seq(("2024-01-01", 1L, 10L)).toDF("day_s", "k", "v")
        .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
          col("k"), col("v")))
    r3.runQuery("SHOW TABLES FROM dws").collect()
    assert(psParts() == 1L, "parts read empty must list the first part once it exists")

    // BOTH sides follow the storage: a DETACH after the detached side read
    // empty surfaces in detached_parts, the now-empty live side reads 0,
    // and an ATTACH then repopulates the live side — no publish calls
    def psDetached(): Long = r3.runQuery(
      "SELECT count(*) FROM system.detached_parts WHERE table = 'ps_local'")
      .head().getLong(0)
    r3.execute(ChDdl.parseStatement(
      "ALTER TABLE dws.ps_local DETACH PARTITION '2024-01-01'"))
    r3.runQuery("SHOW TABLES FROM dws").collect()
    assert(psParts() == 0L && psDetached() == 1L,
      "a detach after an empty detached read must surface on the next read")
    r3.runQuery("SHOW TABLES FROM dws").collect()
    assert(psParts() == 0L && psDetached() == 1L)
    r3.execute(ChDdl.parseStatement(
      "ALTER TABLE dws.ps_local ATTACH PARTITION '2024-01-01'"))
    r3.runQuery("SHOW TABLES FROM dws").collect()
    assert(psParts() == 1L && psDetached() == 0L,
      "a detached-only read must repopulate once live parts reappear")
  }

  test("SELECT ... FROM t FINAL reads merge-debt-free (simple + state columns)") {
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-selfinal"))
    replay.executeScript(
      """create table dws.fin_local (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64),
        | uv AggregateFunction(groupBitmap, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);
        |create table dws.fin_dis (day Date, k UInt64)
        | engine=Distributed(c, dws, fin_local, rand());""".stripMargin)
    import spark.implicits._
    def batch(users: Seq[Long]) = users.toDF("uid")
      .select(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.lit("2024-01-01")).as("day"),
        (col("uid") % 2).as("k"), org.apache.spark.sql.functions.lit(1L).as("v"),
        col("uid").as("uv"))
    val st = replay.stateTables("dws.fin_local")
    st.appendBatch(batch(Seq(1L, 2L, 3L)))
    st.appendBatch(batch(Seq(2L, 3L, 4L)))
    // simple column read plain — NO GROUP BY, NO -Merge — through the
    // Distributed alias, with a trailing table alias preserved
    val got = replay.runQuery(
      "SELECT day, k, v FROM dws.fin_dis FINAL t ORDER BY k")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // v counts rows per k across both parts: k=0 saw uids {2},{2,4};
    // k=1 saw {1,3},{3}
    assert(got.toSeq == Seq((0L, 3L), (1L, 3L)))
    // AggregateFunction column survives as a state: -Merge still applies
    val uv = replay.runQuery(
      "SELECT k, groupBitmapMerge(uv) AS uv FROM dws.fin_local FINAL GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uv.toSeq == Seq((0L, 2L), (1L, 2L))) // k=0: {2,4}; k=1: {1,3}
    // FINAL on a table with no state backing is refused, like CH on a
    // non-merging engine
    val e = intercept[RuntimeException](
      replay.runQuery("SELECT * FROM nowhere.t FINAL"))
    assert(e.getMessage.contains("FINAL"))
    // a quoted literal containing 'from t final' must NOT trigger the
    // rewrite (string-literal masking, like every shim in ChReplay)
    val lit = replay.runQuery(
      "SELECT k, 'copied from xyz final' AS note FROM dws.fin_local FINAL ORDER BY k")
      .collect().map(_.getString(1)).distinct
    assert(lit.toSeq == Seq("copied from xyz final"))
  }

  test("doc union-max lesson runs verbatim: DDL + column-subset INSERTs + merge (doc:820-995)") {
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-umax"))
    // the doc's CREATE TABLE text verbatim (backticked names, paren-less
    // AggregatingMergeTree) — doc:822-830
    replay.executeScript(
      """CREATE TABLE test.mv_union_max
        |(
        |    `id` UInt32,
        |    `m1` AggregateFunction(uniqCombined, UInt32),
        |    `m2` AggregateFunction(sum, UInt32)
        |)
        |ENGINE = AggregatingMergeTree
        |ORDER BY id""".stripMargin)
    // the doc's m1-only INSERT verbatim — doc:848-860: tuple literals off
    // system.one, positional access, column-subset (id, m1)
    replay.execute(ChDdl.parseStatement(
      """INSERT INTO test.mv_union_max (id, m1) SELECT
        |    id,
        |    uniqCombinedState(uid) AS m1
        |FROM
        |(
        |    SELECT
        |        a1.1 AS id,
        |        toUInt32(a1.2) AS uid
        |    FROM system.one
        |    ARRAY JOIN [(1, 10001), (2, 10002), (3, 10003), (3, 10001)] AS a1
        |)
        |GROUP BY id""".stripMargin))
    // the m2-only second write the doc then describes ("再写入m2指标，
    // 不写入m1指标") — amounts implied by its merge golden (doc:940-947)
    replay.execute(ChDdl.parseStatement(
      """INSERT INTO test.mv_union_max (id, m2) SELECT
        |    id,
        |    sumState(v) AS m2
        |FROM
        |(
        |    SELECT
        |        a1.1 AS id,
        |        toUInt32(a1.2) AS v
        |    FROM system.one
        |    ARRAY JOIN [(1, 1001), (1, 1002), (2, 10001), (3, 10001)] AS a1
        |)
        |GROUP BY id""".stripMargin))
    // the doc's merge SELECT — golden: (1,1,2003), (2,1,10001), (3,2,10001)
    def merged() = replay.runQuery(
      """SELECT
        |    id,
        |    uniqCombinedMerge(m1) AS m1,
        |    sumMerge(m2) AS m2
        |FROM test.mv_union_max
        |GROUP BY id
        |ORDER BY id""".stripMargin)
      .collect().map(r =>
        (r.getAs[Number]("id").longValue, r.getLong(1), r.getLong(2))).toSeq
    val golden = Seq((1L, 1L, 2003L), (2L, 1L, 10001L), (3L, 2L, 10001L))
    assert(merged() == golden)
    // doc:954 OPTIMIZE FINAL — the merge is read-equivalent after folding
    replay.execute(ChDdl.parseStatement("OPTIMIZE TABLE test.mv_union_max FINAL"))
    assert(merged() == golden)
  }

  test("system views stay current after INSERT and DDL without explicit publish") {
    import ChDdl._
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-sysfresh"))
    replay.executeScript(
      """create table dws.fr_local (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);""".stripMargin)
    import spark.implicits._
    replay.stateTables("dws.fr_local").appendBatch(
      Seq(("2024-01-01", 1L, 10L)).toDF("day_s", "k", "v")
        .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
          col("k"), col("v")))
    def partRows(): Long = replay.runQuery(
      "SELECT sum(rows) AS r FROM system.parts WHERE table = 'fr_local'")
      .head().getAs[Any]("r").toString.toLong
    assert(partRows() == 1L)
    // an INSERT INTO a non-empty state table — the next parts SELECT must
    // see the new part WITHOUT a publish call (CH's system.parts is always
    // current)
    replay.execute(parseStatement(
      """INSERT INTO dws.fr_local (day, k, v)
        |SELECT toDate('2024-01-02') AS day, 2 AS k, toUInt64(5) AS v
        |FROM system.one""".stripMargin))
    assert(partRows() == 2L, "insert-added part invisible to system.parts")
    // the MV-fired append path too
    replay.executeScript(
      """create table ods.fr_src (day Date, k UInt64, v UInt64) engine=Null;
        |create materialized view dws.fr_mv to dws.fr_local
        | (day Date, k UInt64, v SimpleAggregateFunction(sum, UInt64))
        | as select day, k, sum(v) as v from ods.fr_src group by day, k;""".stripMargin)
    replay.insert("ods.fr_src",
      Seq(("2024-01-03", 3L, 1L)).toDF("day_s", "k", "v")
        .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
          col("k"), col("v")))
    assert(partRows() == 3L, "MV-fired append invisible to system.parts")
    // the STREAMING twin: a micro-batch append through attachStreams
    // (the foreachBatch callback runs on the stream's thread)
    val srcDir = ChReplay.scratchWarehouse("graft-fr-src")
    Seq(("2024-01-04", 4L, 2L)).toDF("day_s", "k", "v")
      .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
        col("k"), col("v"))
      .coalesce(1).write.parquet(s"$srcDir/b0")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/b0").schema)
      .parquet(s"$srcDir/*")
    val qs = replay.attachStreams("ods.fr_src", stream,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try qs.foreach(_.awaitTermination(60000): Unit) finally qs.foreach(_.stop())
    assert(partRows() == 4L, "streamed micro-batch invisible to system.parts")

    // a CREATE after the first read must reach a plain SELECT on the
    // metadata tables too (no SHOW/DESC/publish in between)
    replay.executeScript("create table dws.fr_late (k UInt64) engine=Null;")
    assert(replay.runQuery(
      "SELECT engine FROM system.tables WHERE name = 'fr_late'")
      .head().getString(0) == "Null")
    assert(replay.runQuery(
      "SELECT count(*) AS c FROM system.columns WHERE table = 'fr_late'")
      .head().getLong(0) == 1L)
  }

  test("system.parts lists direct StateTable writes; each replay lists only its own objects") {
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-sysdirect"))
    replay.executeScript(
      """create table dws.sd_local (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);""".stripMargin)
    import spark.implicits._
    def batch(day: String) = Seq((day, 1L, 10L)).toDF("day_s", "k", "v")
      .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
        col("k"), col("v"))
    val st = replay.stateTables("dws.sd_local")
    def parts(): Long = replay.runQuery(
      "SELECT count(*) FROM system.parts WHERE table = 'sd_local'").head().getLong(0)
    // the data files under the partition directories, one part each
    def files(): Long = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(st.path), spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(st.path)).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.contains("="))
        .map(d => graft.engine.Rebalance.dataFiles(fs, d.getPath).length.toLong).sum
    }
    st.appendBatch(batch("2024-01-01"))
    assert(parts() == 1L && files() == 1L)
    st.appendBatch(batch("2024-01-02"))
    st.appendBatch(batch("2024-01-02"))
    assert(files() == 3L)
    assert(parts() == files(), "direct appends invisible to system.parts")
    st.compact()
    assert(files() == 2L)
    assert(parts() == files(), "a compaction invisible to system.parts")

    // two replays on one session: each lists its own objects, whichever reads first
    val other = new ChReplay(spark, ChReplay.scratchWarehouse("graft-sysdirect2"))
    other.executeScript("create table dws.sd_other (k UInt64) engine=Null;")
    def listed(r: ChReplay): Set[String] =
      r.runQuery("SELECT name FROM system.tables WHERE database = 'dws'")
        .collect().map(_.getString(0)).toSet
    assert(listed(replay) == Set("sd_local") && listed(other) == Set("sd_other"))
    assert(listed(other) == Set("sd_other") && listed(replay) == Set("sd_local"))
  }

  test("a declared state table that was never written reads empty, by name and FINAL") {
    val replay = byNameReplay("graft-unwritten")
    for (q <- Seq("SELECT count(*) FROM dws.t", "SELECT count(*) FROM dws.t FINAL",
        "SELECT count(*) FROM dws.t_dis"))
      assert(replay.runQuery(q).head().getLong(0) == 0L, q)
    assert(replay.stateTables("dws.t").finalized().count() == 0L)
  }

  test("an INSERT converts its values to the declared types: FINAL, merged(), " +
      "compact() and OPTIMIZE FINAL match the model, directly and through an MV") {
    import ChDdl._
    for (target <- Seq("dws.t", "ods.t_src")) {
      val replay = byNameReplay(s"graft-conv-$target")
      val st = replay.stateTables("dws.t")
      st.appendBatch(dayRows("2024-01-01", 1L, 2L))
      // INT literals into UInt64 columns (BIGINT): the part stores BIGINT
      replay.execute(parseStatement(
        s"""INSERT INTO $target (day, k, v)
          |SELECT toDate('2024-01-01') AS day, 2 AS k, 5 AS v""".stripMargin))
      val model = Map(1L -> 10L, 2L -> 15L)
      def sums(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def check(step: String): Unit = {
        assert(sums(replay.runQuery("SELECT k, v FROM dws.t FINAL")) == model, s"$target $step")
        assert(sums(st.merged()) == model, s"$target $step")
      }
      check("after the INSERT")
      st.compact()
      check("after compact()")
      replay.execute(parseStatement("OPTIMIZE TABLE dws.t FINAL"))
      check("after OPTIMIZE FINAL")
    }
  }

  test("String partition values read back as written, not as numbers or dates") {
    import ChDdl._
    for (slot <- Seq("007", "2024-01-01")) {
      val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-strpart"))
      replay.executeScript(
        """create table dws.sp (slot String, k UInt64, v SimpleAggregateFunction(sum, UInt64))
          |engine=AggregatingMergeTree() PARTITION BY slot ORDER BY (slot, k);""".stripMargin)
      replay.execute(parseStatement(
        s"INSERT INTO dws.sp (slot, k, v) SELECT '$slot' AS slot, 1 AS k, 3 AS v"))
      for ((how, df) <- Seq(
          "by name" -> replay.runQuery("SELECT slot, v FROM dws.sp"),
          "finalized()" -> replay.stateTables("dws.sp").finalized().select("slot", "v"))) {
        assert(df.schema("slot").dataType == org.apache.spark.sql.types.StringType, s"$slot $how")
        assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq == Seq(slot -> 3L),
          s"$slot $how")
      }
    }
  }

  test("an INSERT that leaves out a quantileTDigest column stores an empty state; " +
      "FINAL and OPTIMIZE FINAL match the model") {
    import spark.implicits._
    import ChDdl._
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-qtfill"))
    replay.executeScript(
      """create table dws.qf (k UInt64, c SimpleAggregateFunction(sum, UInt64),
        | q AggregateFunction(quantileTDigest, Float64))
        |engine=AggregatingMergeTree() ORDER BY k;""".stripMargin)
    val st = replay.stateTables("dws.qf")
    replay.execute(parseStatement(
      "INSERT INTO dws.qf (k, c) SELECT toUInt64(1) AS k, toUInt64(5) AS c"))
    st.appendBatch(Seq((1L, 2L, 10.0), (1L, 3L, 20.0), (1L, 4L, 30.0)).toDF("k", "c", "q"))
    // model: c sums 5 + 9; q is the median of the appended values
    def check(step: String): Unit = {
      assert(st.finalized().collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq == Seq((1L, 14L, 20.0)), step)
      assert(replay.runQuery("SELECT k, c FROM dws.qf FINAL").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 14L)), step)
    }
    check("after the INSERT")
    replay.execute(parseStatement("OPTIMIZE TABLE dws.qf FINAL"))
    check("after OPTIMIZE FINAL")
  }

  /** A replay declaring the state table `<dws>.t`, its Distributed alias
    * `<dws>.t_dis`, the Null source `<ods>.t_src` and an MV from it into t.
    */
  private def byNameReplay(prefix: String, dws: String = "dws",
      ods: String = "ods"): ChReplay = {
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse(prefix))
    replay.executeScript(
      s"""create table $dws.t (
        | day Date,
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree()
        |PARTITION BY day ORDER BY (day, k);
        |create table $dws.t_dis (day Date, k UInt64, v UInt64)
        | engine=Distributed(c, $dws, t, rand());
        |create table $ods.t_src (day Date, k UInt64, v UInt64) engine=Null;
        |create materialized view $dws.t_mv to $dws.t
        | (day Date, k UInt64, v SimpleAggregateFunction(sum, UInt64))
        | as select day, k, sum(v) as v from $ods.t_src group by day, k;""".stripMargin)
    replay
  }

  private def dayRows(day: String, ks: Long*) = {
    import spark.implicits._
    ks.map(k => (day, k, 10L)).toDF("day_s", "k", "v")
      .select(to_date(col("day_s")).as("day"), col("k"), col("v"))
  }

  test("a state table read by name sees every write; two replays each read their own") {
    import ChDdl._
    val replay = byNameReplay("graft-byname")
    val st = replay.stateTables("dws.t")
    def count(r: ChReplay, name: String): Long =
      r.runQuery(s"SELECT count(*) FROM $name").head().getLong(0)
    def check(step: String): Unit = {
      val parts = spark.read.parquet(st.path).count()
      for (n <- Seq("dws.t", "dws.t_dis"))
        assert(count(replay, n) == parts, s"$n after $step")
    }
    st.appendBatch(dayRows("2024-01-01", 1L))
    check("a direct append")
    replay.insert("ods.t_src", dayRows("2024-01-01", 1L, 2L))
    check("an MV-fired insert")
    replay.execute(parseStatement(
      """INSERT INTO dws.t (day, k, v)
        |SELECT toDate('2024-01-01') AS day, toUInt64(3) AS k, toUInt64(5) AS v
        |FROM system.one""".stripMargin))
    check("an INSERT ... SELECT")
    st.appendBatch(dayRows("2024-01-02", 1L, 2L, 3L))
    check("a new partition")
    assert(count(replay, "dws.t") == 7L)
    replay.execute(parseStatement("OPTIMIZE TABLE dws.t FINAL"))
    check("OPTIMIZE FINAL")
    assert(count(replay, "dws.t") == 6L)
    replay.execute(parseStatement("ALTER TABLE dws.t DETACH PARTITION '2024-01-01'"))
    check("DETACH PARTITION")
    assert(count(replay, "dws.t_dis") == 3L)
    replay.execute(parseStatement("ALTER TABLE dws.t ATTACH PARTITION '2024-01-01'"))
    check("ATTACH PARTITION")
    assert(count(replay, "dws.t_dis") == 6L)

    // the same name in a second warehouse reads that replay's own parts
    val other = byNameReplay("graft-byname2")
    other.stateTables("dws.t").appendBatch(dayRows("2024-01-05", 1L))
    assert(count(replay, "dws.t") == 6L && count(other, "dws.t") == 1L)
    assert(count(other, "dws.t_dis") == 1L && count(replay, "dws.t_dis") == 6L)
  }

  test("a replay's CREATE, INSERT, OPTIMIZE and DROP leave the session catalog as it was") {
    import ChDdl._
    // databases no other test names, so the listing starts without them
    val (dws, ods) = ("graft_cat_dws", "graft_cat_ods")
    def listing(): Set[String] =
      spark.catalog.listDatabases().collect().map(_.name).toSet ++
        Seq(dws, ods).filter(spark.catalog.databaseExists).flatMap(db =>
          spark.catalog.listTables(db).collect().map(t => s"$db.${t.name}"))
    val before = listing()
    val replay = byNameReplay("graft-bycat", dws, ods)
    replay.execute(parseStatement(
      s"""INSERT INTO $ods.t_src (day, k, v)
        |SELECT toDate('2024-01-01') AS day, toUInt64(1) AS k, toUInt64(5) AS v
        |FROM system.one""".stripMargin))
    assert(listing() == before)
    assert(replay.runQuery(s"SELECT sum(v) FROM $dws.t_dis").head().getLong(0) == 5L)
    replay.execute(parseStatement(s"OPTIMIZE TABLE $dws.t FINAL"))
    assert(listing() == before)
    replay.executeScript(
      s"drop table $dws.t_mv; drop table $dws.t_dis; drop table $dws.t; drop table $ods.t_src;")
    assert(listing() == before)
    assert(replay.runQuery(s"EXISTS TABLE $dws.t").head().getInt(0) == 0)
    // a plain table stored in the user's own catalog view: DROP TABLE takes
    // the view with it, so EXISTS answers 0
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $ods")
    spark.sql(s"CREATE OR REPLACE VIEW $ods.plain AS SELECT 1L AS k")
    replay.executeScript(s"create table $ods.plain (k UInt64) engine=MergeTree ORDER BY k;")
    assert(replay.runQuery(s"SELECT count(*) FROM $ods.plain").head().getLong(0) == 1L)
    replay.executeScript(s"drop table $ods.plain;")
    assert(replay.runQuery(s"EXISTS TABLE $ods.plain").head().getInt(0) == 0)
  }

  test("Distributed descriptor without a parsable target still lists as Distributed") {
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-distbad"))
    // a 2-arg Distributed: no (db, table) target tuple -> no alias entry,
    // but EXISTS/DESCRIBE answer for it, so SHOW TABLES/system.tables must
    // list it with the Distributed engine (catalog consistency)
    replay.executeScript(
      "create table dws.orphan_dis (k UInt64) engine=Distributed(c, rand());")
    assert(replay.runQuery("EXISTS TABLE dws.orphan_dis").head().getInt(0) == 1)
    assert(replay.runQuery("SHOW TABLES FROM dws").collect()
      .map(_.getString(0)).contains("orphan_dis"))
    assert(replay.runQuery(
      "SELECT engine FROM system.tables WHERE name = 'orphan_dis'")
      .head().getString(0) == "Distributed")
  }

  test("data_rebalance.py's statement vocabulary replays verbatim " +
      "(clusters/macros/processes + FETCH/ATTACH/DETACH/DROP DETACHED PART)") {
    import ChDdl._
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-rebal13"))
    replay.executeScript(
      """create table dws.rb_src_local (
        | day Date, k UInt64, v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree() PARTITION BY day ORDER BY (day, k);
        |create table dws.rb_dst_local (
        | day Date, k UInt64, v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree() PARTITION BY day ORDER BY (day, k);""".stripMargin)
    import spark.implicits._
    def batch(rows: Seq[(Long, Long)]) =
      rows.map { case (k, v) => ("2024-01-01", k, v) }.toDF("day_s", "k", "v")
        .select(org.apache.spark.sql.functions.to_date(col("day_s")).as("day"),
          col("k"), col("v"))
    val src = replay.stateTables("dws.rb_src_local")
    src.appendBatch(batch(Seq((1L, 10L), (2L, 5L))))
    src.appendBatch(batch(Seq((3L, 7L))))

    // get_nodes (ref data_rebalance.py:115-118), verbatim template with
    // cluster='cluster' (the metrika.xml topology)
    val nodes = replay.runQuery(
      """select shard_num,host_address
        |        from system.clusters
        |        where cluster='cluster'
        |        order by shard_num,replica_num""".stripMargin).collect()
    assert(nodes.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, java.net.InetAddress.getLocalHost.getHostAddress)))
    // the three published identities agree: hostName() == the is_local
    // replica's host_name (a correlating statement must not read two)
    assert(replay.runQuery(
      """SELECT count(*) AS c FROM system.clusters
        |WHERE is_local = 1 AND host_name = hostName()""".stripMargin)
      .head().getLong(0) == 1L)

    // get_layer / get_shard (:186-188) — the macros kv
    assert(replay.runQuery(
      "select substitution from system.macros where macro='layer'")
      .head().getString(0) == "cluster")
    assert(replay.runQuery(
      "select substitution from system.macros where macro='shard'")
      .head().getString(0) == "shard1")

    // get_parts (:163-174), verbatim with the tool's substitutions — the
    // cluster() table function resolves to the local table and supplies
    // _shard_num. CH WHERE-alias semantics make the filter read the
    // ALIASED MiB value (`toUInt32(bytes_on_disk/1024/1024) AS
    // bytes_on_disk ... WHERE bytes_on_disk>100` — the tool's own
    // comment says "exclude parts under 100M"), so at test scale the
    // VERBATIM form correctly returns nothing; the reconciliation flow
    // then runs on the floor scaled to test-part sizes
    val getParts =
      """select _shard_num
        |        ,name as part_name
        |        ,rows
        |        ,toUInt32(bytes_on_disk/1024/1024) as bytes_on_disk
        |        ,disk_name
        |    from cluster('cluster',system,parts)
        |    where database='dws'
        |        and table='rb_src_local'
        |        and partition='2024-01-01'
        |        and bytes_on_disk>100
        |        and disk_name<>'hdfs'""".stripMargin
    assert(replay.runQuery(getParts).count() == 0L,
      "the verbatim 100 MiB floor must exclude all test-scale parts")
    val parts = replay.runQuery(
      getParts.replace("bytes_on_disk>100", "bytes_on_disk>=0")).collect()
    assert(parts.length >= 2, s"expected >=2 source parts, got ${parts.length}")
    assert(parts.forall(_.getInt(0) == 1))
    val partName = parts.map(_.getString(1)).min
    val partRows = parts.filter(_.getString(1) == partName).head.getLong(2)

    // part_is_exists (:192)
    assert(replay.runQuery(
      s"select 1 from system.parts where name='$partName'").count() == 1L)


    // check_fetch_part_running (:199) — the processes view is typed-empty
    // (a single-driver engine has no concurrent server queries), so the
    // probe correctly reads nothing running; the escaped-quote LIKE
    // pattern must parse
    assert(replay.runQuery(
      s"select 1 from system.processes where query like '%FETCH PART \\'$partName\\'%'")
      .count() == 0L)

    // check_partitions (:194-198) before: all rows live on the source
    def checkPartitions(table: String): Long = {
      val r = replay.runQuery(
        s"""select sum(rows) as rows,sum(toUInt32(bytes_on_disk/1024/1024)) as bytes
           |               FROM cluster('cluster', system, parts)
           |              where database='dws'
           |               and table='$table'
           |               and partition='2024-01-01'
           |               and bytes_on_disk>100
           |               and disk_name<>'hdfs'""".stripMargin).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val srcRowsBefore = checkPartitions("rb_src_local")
    assert(srcRowsBefore == 3L && checkPartitions("rb_dst_local") == 0L)

    // fetch_part (:175): the znode path's last segment names the donor;
    // the part lands DETACHED on the target (CH fetch semantics)
    replay.execute(parseStatement(
      s"ALTER TABLE dws.rb_dst_local FETCH PART '$partName' " +
        "FROM '/clickhouse/tables/cluster-shard1/dws.rb_src_local'"))
    assert(replay.runQuery(
      s"select 1 from system.detached_parts where table='rb_dst_local' and name='$partName'")
      .count() == 1L)

    // set_drop_detached (:177) — tolerated (session setting, a no-op here)
    replay.executeScript("set allow_drop_detached = 1;")

    // attach_part (:181): mounts the fetched part; detached side empties
    replay.execute(parseStatement(
      s"ALTER TABLE dws.rb_dst_local ATTACH PART '$partName'"))
    assert(replay.runQuery(
      s"select 1 from system.parts where table='rb_dst_local' and name='$partName'")
      .count() == 1L)
    assert(replay.runQuery(
      "select 1 from system.detached_parts where table='rb_dst_local'")
      .count() == 0L)
    assert(checkPartitions("rb_dst_local") == partRows)

    // CH's other cluster-fn spellings resolve too: quoted args and the
    // 2-arg dotted form (these read the data table itself, by name)
    assert(replay.runQuery(
      "select count(*) from cluster('cluster', 'dws', 'rb_src_local')")
      .head().getLong(0) == 3L)
    assert(replay.runQuery(
      "select count(*) from clusterAllReplicas('cluster', dws.rb_src_local)")
      .head().getLong(0) == 3L)

    // check_attach_part_is_exists (:201-206): did the attach land today —
    // rows + size + modification_time filters (values quoted; the tool's
    // own template interpolates {database}/{table} unquoted, which CH
    // would reject as unknown identifiers — a latent tool bug, not a
    // shape this replay should reproduce)
    val partBytesMb = parts.filter(_.getString(1) == partName).head.getLong(3)
    assert(replay.runQuery(
      s"""select 1 from system.parts
         |    where database='dws'
         |    and table='rb_dst_local'
         |    and rows=$partRows
         |    and toUInt32(bytes_on_disk/1024/1024)=$partBytesMb
         |    and toDate(modification_time)=today()""".stripMargin)
      .count() == 1L)

    // FETCH into a table partitioned by a DIFFERENT column refuses at
    // fetch time (CH checks structure match) — a foreign partition dir
    // would corrupt every later read
    replay.executeScript(
      """create table dws.rb_badpart (
        | day Date, k UInt64, v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree() PARTITION BY k ORDER BY (k, day);""".stripMargin)
    val mismatch = intercept[RuntimeException](replay.execute(parseStatement(
      s"ALTER TABLE dws.rb_badpart FETCH PART '$partName' " +
        "FROM '/clickhouse/tables/cluster-shard1/dws.rb_src_local'")))
    assert(mismatch.getMessage.contains("structures must match"),
      mismatch.getMessage)

    // detach_part (:184) + drop_detach_part (:179) on the source — the
    // tool's cleanup pair; reconciliation: total rows conserved
    replay.execute(parseStatement(
      s"ALTER TABLE dws.rb_src_local DETACH PART '$partName'"))
    assert(checkPartitions("rb_src_local") == srcRowsBefore - partRows)
    replay.execute(parseStatement(
      s"ALTER TABLE dws.rb_src_local DROP DETACHED PART '$partName'"))
    assert(replay.runQuery(
      "select 1 from system.detached_parts where table='rb_src_local'")
      .count() == 0L)
    assert(checkPartitions("rb_src_local") + checkPartitions("rb_dst_local")
      == srcRowsBefore)
    // the moved data answers queries on the target
    assert(replay.runQuery(
      "SELECT sum(v) AS v FROM dws.rb_dst_local FINAL").head().getLong(0) > 0L)

    // get_partitions (:120-160), the tool's skew detector, runs verbatim
    // (clusterAllReplicas over system.one/system.parts, hostName(),
    // parseDateTimeBestEffortOrZero): with its 100 MiB hardcoded floor no
    // test part qualifies — 0 rows, no error
    val skewSql =
      """select partition
        |    from (
        |        SELECT
        |            a.shard,
        |            a.partition,
        |            sum(b.partition_bytes) AS partition_bytes
        |        FROM (
        |            select t1.shard
        |                ,t2.partition
        |            from (
        |                select hostName() AS shard from clusterAllReplicas('cluster', system, one)
        |            )t1
        |            cross join (
        |                select distinct partition
        |                from clusterAllReplicas('cluster', system, parts)
        |                WHERE (database = 'dws') AND (table = 'rb_src_local')
        |                    AND (toDate(parseDateTimeBestEffortOrZero(toString(partition))) <= (today() - 7))
        |                    AND (bytes_on_disk > ((100 * 1024) * 1024))
        |                    AND disk_name<>'hdfs'
        |                group by partition
        |            )t2
        |        )a
        |        left join(
        |            select hostName() as shard
        |                ,partition
        |                ,sum(toUInt32(bytes_on_disk/1024/1024)) AS partition_bytes
        |            from clusterAllReplicas('cluster', system, parts)
        |            WHERE (database = 'dws') AND (table = 'rb_src_local')
        |                AND (toDate(parseDateTimeBestEffortOrZero(toString(partition))) <= (today() - 7))
        |                AND (bytes_on_disk > ((100 * 1024) * 1024))
        |                AND disk_name<>'hdfs'
        |            group by shard,partition
        |        )b
        |        on a.shard=b.shard and a.partition=b.partition
        |        group by a.shard,
        |            a.partition
        |    )
        |    GROUP BY partition
        |    HAVING (min(partition_bytes) <= (avg(partition_bytes) * 0.7))
        |    and (max(partition_bytes) >= (avg(partition_bytes) * 1.3))
        |    order by partition desc""".stripMargin
    assert(replay.runQuery(skewSql).count() == 0L)
    // with the floor lowered to the test scale, the old partition surfaces
    // (1-shard min==max==avg, so the 1.0/1.0 rates fire)
    val skewSmall = skewSql
      .replace("(100 * 1024) * 1024", "1")
      .replace("* 0.7", "* 1.0").replace("* 1.3", "* 1.0")
    assert(replay.runQuery(skewSmall).collect().map(_.getString(0)).toSeq ==
      Seq("2024-01-01"))
  }

  test("CH WHERE-alias preference: alias inlined, function/CAST/sibling scopes kept") {
    import spark.implicits._
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-walias"))
    Seq((1L, 1000L), (2L, 2000L), (3L, 300L)).toDF("id", "b")
      .createOrReplaceTempView("t_walias")
    // the alias SHADOWS the column: CH resolves the WHERE ref to the
    // ALIAS (intDiv(b,1000)), so row 3 (300/1000 = 0) filters out —
    // Spark's native column preference would keep all three
    val r = replay.runQuery(
      "SELECT id, intDiv(b, 1000) AS b FROM t_walias WHERE b >= 1 ORDER BY id")
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // an identifier followed by '(' is a FUNCTION, and one after AS is a
    // CAST target type — neither resolves against aliases
    val r2 = replay.runQuery(
      "SELECT id, intDiv(b, 1000) AS floor, b AS double FROM t_walias " +
        "WHERE floor(CAST(b AS double)) > 500 ORDER BY id")
    assert(r2.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // set-operation branches are SIBLING scopes: each WHERE resolves its
    // own branch's aliases
    val r3 = replay.runQuery(
      "SELECT intDiv(b, 1000) AS v FROM t_walias WHERE v >= 1 " +
        "UNION ALL SELECT id AS w FROM t_walias WHERE w > 2 ORDER BY 1")
    assert(r3.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("column COMMENT with quotes/backslashes renders valid DDL and round-trips") {
    import ChDdl._
    // parser stores the TRUE text (escapes undone)
    val parsed = parseCol("v UInt64 comment 'it''s \\'quoted\\''")
    assert(parsed.comment.contains("it's 'quoted'"))
    // keywords INSIDE the literal must not cut the clause: 'drop after
    // load' is one comment, not a comment plus a phantom AFTER clause
    val kwIn = parseCol("v String comment 'drop after load'")
    assert(kwIn.comment.contains("drop after load") && kwIn.after.isEmpty,
      s"keyword-in-literal corrupted the descriptor: $kwIn")
    val kwIn2 = parseCol("v String default 'by default' comment 'x'")
    assert(kwIn2.default.contains("'by default'") && kwIn2.comment.contains("x"))
    // CH escape semantics: \n is a NEWLINE (ChSql.chEscape), not 'n'
    assert(parseCol("v String comment 'a\\nb'").comment.contains("a\nb"))
    // keywords INSIDE PARENS are type arguments / call operands, not
    // clauses: a named-tuple field `after` must stay in the type, and a
    // DEFAULT calling a function whose operand is a column named
    // `comment` must keep the whole call expression
    val tup = parseCol("v Tuple(after UInt32, comment String)")
    assert(tup.chType == "Tuple(afterUInt32,commentString)" &&
      tup.after.isEmpty && tup.comment.isEmpty,
      s"paren-nested keyword corrupted the descriptor: $tup")
    val fnDef = parseCol("v String default coalesce(comment, '') comment 'x'")
    assert(fnDef.default.contains("coalesce(comment, '')") &&
      fnDef.comment.contains("x"), s"got $fnDef")
    // a programmatically-built Col with bare quotes/backslashes/control
    // chars renders DDL that reparses to the same descriptor
    for (cmt <- Seq("it's a \\ 'test'", "use default 5 after load",
        "line1\nline2\ttab", "100\\% kept")) {
      val ct = CreateTable("dws.cmt", Seq(
        Col("k", "UInt64"),
        Col("v", "String", comment = Some(cmt))),
        "MergeTree", Nil, None, Nil, Seq("k"), None, None, None)
      val back = parseStatement(render(ct))
      assert(back == ct, s"comment round-trip drift for ${cmt.take(30)}:\n${render(ct)}\n$back")
    }
  }

  test("parser: a `;` inside a quoted name is not a statement boundary") {
    assert(ChDdl.splitStatements("SELECT `x;y` FROM t; SELECT 2") ==
      Seq("SELECT `x;y` FROM t", "SELECT 2"))
    // nor does a line inside a multi-line literal start a statement
    assert(ChDdl.splitStatements("SELECT 'a\nselect b' AS s\nFROM t").length == 1)
  }

  test("parser: a `--` inside a literal is not a comment") {
    // the real comment after it still goes
    assert(ChDdl.splitStatements("SELECT '--' AS a -- note\nFROM t") ==
      Seq("SELECT '--' AS a \nFROM t"))
  }

  test("runQuery: the USING-list rewrite leaves string literals byte-identical") {
    val replay = new ChReplay(spark, tmpDir("graft-usingq"))
    spark.range(0, 2).selectExpr("id AS a", "id AS b").createOrReplaceTempView("usingq_l")
    spark.range(0, 2).selectExpr("id AS a", "id AS b", "id * 10 AS c")
      .createOrReplaceTempView("usingq_r")
    val got = replay.runQuery(
      "SELECT 'using a, b' AS s, c FROM usingq_l JOIN usingq_r USING a, b ORDER BY c")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("using a, b", 0L), ("using a, b", 10L)))
  }
}
