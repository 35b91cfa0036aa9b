package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{ChAnyJoin, ChArrayJoin, ChAsof, ChReplay, ChSample, ChSql}
import graft.mv.{MaterializedView, StateTable, SumMetric}

/** The dialect front door (`ChSql.run`): running a clause shim leaves
  * the session catalog as it found it; the clause scanners read the
  * masked twin; an MV batch is bound under its source table's name; an
  * ASOF/ANY join keeps each side's columns; a replay's plain SELECTs read
  * the same frame per name as its clauses.
  */
class ChFrontDoorSpec extends SparkSpec {

  private def register(s: SparkSession): Unit = {
    import s.implicits._
    Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (2L, 5L, "e3"))
      .toDF("k", "ts", "lval").createOrReplaceTempView("graft_fd_l")
    Seq((1L, 10L, "a"), (1L, 15L, "b"), (2L, 9L, "c"))
      .toDF("k", "rts", "rval").createOrReplaceTempView("graft_fd_r")
    Seq((1L, 12L, "x"), (2L, 4L, "y"))
      .toDF("k", "ts", "uval").createOrReplaceTempView("graft_fd_u")
    Seq((1L, Seq("p", "q")), (2L, Seq("r")))
      .toDF("k", "arr").createOrReplaceTempView("graft_fd_a")
  }

  private def names(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().map(t => s"${t.database}.${t.name}").toSet

  /** `body`'s rows, asserting the catalog listing is unchanged by it. */
  private def unchanged(what: String)(body: => DataFrame): Seq[org.apache.spark.sql.Row] = {
    val before = names(spark)
    val rows = body.collect().toSeq
    assert(names(spark) == before, s"$what changed the catalog listing")
    rows
  }

  private val keyed = (_: String) => Some("k")

  test("each clause shim runs through the front door without a catalog object") {
    register(spark)
    val sample = unchanged("SAMPLE")(ChSql.run(spark,
      "SELECT k FROM graft_fd_l SAMPLE 1/1", ChSql.Scope(keyed)))
    assert(sample.size == 3)
    val asofOn = unchanged("ASOF ON")(ChSql.run(spark,
      """SELECT l.k, l.ts, r.rval FROM graft_fd_l l ASOF LEFT JOIN graft_fd_r r
        |  ON l.k = r.k AND l.ts >= r.rts ORDER BY l.k, l.ts""".stripMargin))
    assert(asofOn.map(r => Option(r.getString(2))) == Seq(Some("a"), Some("b"), None))
    val asofUsing = unchanged("ASOF USING")(ChSql.run(spark,
      """SELECT k, ts, uval FROM graft_fd_l l ASOF JOIN graft_fd_u u
        |  USING (k, ts) ORDER BY k, ts""".stripMargin))
    assert(asofUsing.map(r => (r.getLong(1), r.getString(2))) == Seq((20L, "x"), (5L, "y")))
    val any = unchanged("ANY")(ChSql.run(spark,
      """SELECT l.k, l.ts, r.rval FROM graft_fd_l l ANY LEFT JOIN graft_fd_r r
        |  ON l.k = r.k ORDER BY l.k, l.ts""".stripMargin))
    assert(any.map(_.getString(2)) == Seq("a", "a", "c"))
    val arrCol = unchanged("ARRAY JOIN column")(ChSql.run(spark,
      "SELECT k, arr FROM graft_fd_a ARRAY JOIN arr ORDER BY k, arr"))
    assert(arrCol.map(_.getString(1)) == Seq("p", "q", "r"))
    val arrExpr = unchanged("ARRAY JOIN expression")(ChSql.run(spark,
      "SELECT k, x FROM graft_fd_a ARRAY JOIN array(k, k * 10) AS x ORDER BY k, x"))
    assert(arrExpr.map(_.getLong(1)) == Seq(1L, 10L, 2L, 20L))

    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-fd-final"))
    replay.executeScript(
      """create table graft_fd.fin_local (
        | k UInt64,
        | v SimpleAggregateFunction(sum, UInt64)
        |) engine=AggregatingMergeTree() ORDER BY k;""".stripMargin)
    val st = replay.stateTables("graft_fd.fin_local")
    import spark.implicits._
    st.appendBatch(Seq((1L, 1L), (2L, 1L)).toDF("k", "v"))
    st.appendBatch(Seq((1L, 2L)).toDF("k", "v"))
    val fin = unchanged("FINAL")(
      replay.runQuery("SELECT k, v FROM graft_fd.fin_local FINAL ORDER BY k"))
    assert(fin.map(_.mkString(",")) == Seq("1,3", "2,1"))

    val target = new StateTable(spark, tmpDir("graft-fd-mv") + "/t",
      keys = Seq("k"), partitionCol = "k", metrics = Seq(SumMetric("n", col("v"))))
    val mv = MaterializedView.fromSql("graft_fd_mv",
      "SELECT k, sum(ts) AS n FROM ods.graft_fd_src GROUP BY k",
      sourceTable = "ods.graft_fd_src", target = target)
    unchanged("MV batch") {
      mv.processBatch(spark.table("graft_fd_l"))
      target.finalized()
    }
    assert(target.finalized().orderBy("k").collect().map(_.mkString(",")).toSeq ==
      Seq("1,30", "2,5"))
  }

  test("merge() over the session's graft_ views lists only the views a caller registered") {
    // a session of its own, whose current database holds no tables, so
    // merge() lists exactly the session's temp views
    val s = spark.newSession()
    graft.functions.ChCompat.register(s)
    s.sql("CREATE DATABASE IF NOT EXISTS graft_fd_leak")
    s.catalog.setCurrentDatabase("graft_fd_leak")
    register(s)
    ChSql.run(s, "SELECT l.k, r.rval FROM graft_fd_l l ASOF JOIN graft_fd_r r " +
      "ON l.k = r.k AND l.ts >= r.rts").collect()
    ChSql.run(s, "SELECT l.k, r.rval FROM graft_fd_l l ANY INNER JOIN graft_fd_r r " +
      "ON l.k = r.k").collect()
    ChSql.run(s, "SELECT k FROM graft_fd_l SAMPLE 0.5", ChSql.Scope(keyed)).collect()
    val listed = s.sql("SELECT DISTINCT _table FROM merge(currentDatabase(), '^graft_')")
      .collect().map(_.getString(0)).toSet
    assert(listed == Set("graft_fd_l", "graft_fd_r", "graft_fd_u", "graft_fd_a"))
  }

  test("SAMPLE or WITH FILL inside a string literal is text, not a clause") {
    register(spark)
    val q = "SELECT 'from t sample 0.5' AS s FROM graft_fd_l"
    assert(!ChSample.applies(q))
    assert(ChSql.run(spark, q).collect().map(_.getString(0)).toSet == Set("from t sample 0.5"))
    assert(ChSql.run(spark, "SELECT 'order by k with fill' AS s FROM graft_fd_l")
      .collect().map(_.getString(0)).toSet == Set("order by k with fill"))
  }

  test("ANY JOIN inside a comment is text, not a clause") {
    register(spark)
    val q = "-- from a any join b on a.k = b.k\nSELECT k FROM graft_fd_l ORDER BY k"
    assert(!ChAnyJoin.applies(q))
    assert(ChSql.run(spark, q).collect().map(_.getLong(0)).toSeq == Seq(1L, 1L, 2L))
    // the same for ASOF and ARRAY JOIN
    assert(!ChAsof.applies("SELECT 'from a asof join b on a.k = b.k' AS s FROM x"))
    assert(!ChArrayJoin.applies("SELECT 1 FROM x -- from t array join arr"))
  }

  test("MV batch: the source table's name in a literal keeps its text") {
    val target = new StateTable(spark, tmpDir("graft-fd-mvlit") + "/t",
      keys = Seq("k"), partitionCol = "k", metrics = Seq(SumMetric("n", col("v"))))
    var src = Set.empty[String]
    val mv = MaterializedView.fromSql("graft_fd_mvlit",
      "SELECT k, sum(ts) AS n, 'ods.graft_fd_src' AS src FROM ods.graft_fd_src GROUP BY k",
      sourceTable = "ods.graft_fd_src", target = target,
      conform = df => {
        src = df.select("src").collect().map(_.getString(0)).toSet
        df.drop("src")
      })
    register(spark)
    mv.processBatch(spark.table("graft_fd_l"))
    assert(src == Set("ods.graft_fd_src"))
    // a SELECT naming the source only inside a literal does not read it
    val e = intercept[IllegalArgumentException](MaterializedView.fromSql("graft_fd_mvnone",
      "SELECT k, 'ods.graft_fd_src' AS n FROM ods.other GROUP BY k",
      sourceTable = "ods.graft_fd_src", target = target))
    assert(e.getMessage.contains("does not reference source table"))
  }

  test("an unmatched ASOF LEFT or ANY LEFT row reads NULL for every right column") {
    import spark.implicits._
    Seq((1L, 10L, "e1"), (2L, 5L, "e3")).toDF("k", "ts", "lval")
      .createOrReplaceTempView("graft_fd_pl")
    Seq((1L, 10L, "a"), (2L, 9L, "c")).toDF("k", "rts", "rval")
      .createOrReplaceTempView("graft_fd_pr")
    val asof = ChSql.run(spark,
      """SELECT l.k, r.k, r.rts, r.rval FROM graft_fd_pl l ASOF LEFT JOIN graft_fd_pr r
        |  ON l.k = r.k AND l.ts >= r.rts WHERE l.k = 2""".stripMargin).collect()
    assert(asof.map(_.toSeq).toSeq == Seq(Seq(2L, null, null, null)))
    val any = ChSql.run(spark,
      """SELECT l.k, r.k, r.rts, r.rval FROM graft_fd_pl l ANY LEFT JOIN graft_fd_pr r
        |  ON l.k = r.k AND l.ts = r.rts WHERE l.k = 2""".stripMargin).collect()
    assert(any.map(_.toSeq).toSeq == Seq(Seq(2L, null, null, null)))
  }

  test("ChReplay: a plain SELECT reads a bound or INSERT-filled name like SAMPLE does") {
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-fd-names"))
    replay.executeScript(
      """create table ods.pbound (k UInt64, v UInt64) engine=MergeTree ORDER BY k SAMPLE BY k;
        |create table ods.pmt (k UInt64, v UInt64) engine=MergeTree ORDER BY k SAMPLE BY k;
        |insert into ods.pmt (k, v) select id, id*10 from range(5);""".stripMargin)
    replay.bind("ods.pbound", spark.range(5).toDF("k").withColumn("v", col("k") * 10))
    for (t <- Seq("ods.pbound", "ods.pmt")) {
      def count(q: String) = replay.runQuery(q).head().getLong(0)
      assert(count(s"SELECT count(*) FROM $t SAMPLE 1/1") == 5L, t)
      assert(count(s"SELECT count(*) FROM $t") == 5L, t)
    }
  }

  test("a second marked join whose ON names the first one's hidden right column") {
    import spark.implicits._
    Seq((1L, 10L, "e1"), (2L, 5L, "e3")).toDF("k", "ts", "ev")
      .createOrReplaceTempView("graft_fd_zl")
    Seq((1L, 10L, "a"), (2L, 4L, "c")).toDF("k", "rts", "rval")
      .createOrReplaceTempView("graft_fd_zr")
    Seq((1L, "d1"), (2L, "d2")).toDF("k", "dv").createOrReplaceTempView("graft_fd_zd")
    val got = ChSql.run(spark,
      """SELECT k, r.k, r.rval, d.dv FROM graft_fd_zl l
        |  ASOF LEFT JOIN graft_fd_zr r ON l.k = r.k AND l.ts >= r.rts
        |  ANY LEFT JOIN graft_fd_zd d ON r.k = d.k ORDER BY k""".stripMargin).collect()
    assert(got.map(_.toSeq).toSeq == Seq(Seq(1L, 1L, "a", "d1"), Seq(2L, 2L, "c", "d2")))
  }

  test("SELECT * over a marked join keeps the left side's own same-named columns") {
    import spark.implicits._
    Seq((1L, 10L), (2L, 5L)).toDF("k", "ts").createOrReplaceTempView("graft_fd_lda")
    Seq((1L, "b1"), (2L, "b2")).toDF("k", "bv").createOrReplaceTempView("graft_fd_ldb")
    Seq((1L, 9L, "c1"), (2L, 7L, "c2")).toDF("k", "rts", "cv")
      .createOrReplaceTempView("graft_fd_ldc")
    val df = ChSql.run(spark,
      """SELECT * FROM graft_fd_lda a JOIN graft_fd_ldb b ON a.k = b.k
        |  ASOF LEFT JOIN graft_fd_ldc r ON a.k = r.k AND a.ts >= r.rts
        |ORDER BY a.k""".stripMargin)
    // ClickHouse lists b.k (named b.k there); the right side's k stays hidden
    assert(df.columns.toSeq == Seq("k", "ts", "k", "bv", "rts", "cv"))
    assert(df.collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 10L, 1L, "b1", 9L, "c1"), Seq(2L, 5L, 2L, "b2", null, null)))
  }

  test("an ASOF join inside a FROM subquery") {
    register(spark)
    val got = ChSql.run(spark,
      """SELECT x.k, x.rval FROM (SELECT l.k, l.ts, r.rval FROM graft_fd_l l
        |  ASOF LEFT JOIN graft_fd_r r ON l.k = r.k AND l.ts >= r.rts) x
        |ORDER BY x.k, x.ts""".stripMargin).collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq == Seq((1L, Some("a")), (1L, Some("b")), (2L, None)))
  }
}
