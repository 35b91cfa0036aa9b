package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.ChSql
import graft.operators.AsOfJoin

/** CH ASOF JOIN dialect (ChAsof): every SQL form must execute to exactly
  * what the Scala operator produces — directions, strictness, operand
  * order, inner vs LEFT — with each qualified reference reading its side.
  */
class ChAsofSpec extends SparkSpec {

  import spark.implicits._

  private def leftDf: DataFrame = Seq(
    (1L, 10L, "e1"), (1L, 20L, "e2"), (2L, 5L, "e3"), (3L, 7L, "e4"))
    .toDF("k", "lts", "lval")
  private def rightDf: DataFrame = Seq(
    (1L, 10L, "a"), (1L, 15L, "b"), (2L, 9L, "c"))
    .toDF("k", "rts", "rval")

  private def setup(): Unit = {
    leftDf.createOrReplaceTempView("asof_l")
    rightDf.createOrReplaceTempView("asof_r")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map(v => if (v == null) "·" else v.toString)).toSet

  test("LEFT backward inclusive == the Scala operator") {
    setup()
    val got = ChSql.run(spark,
      """SELECT l.k, l.lts, l.lval, r.rts, r.rval
        |FROM asof_l l ASOF LEFT JOIN asof_r r
        |  ON l.k = r.k AND l.lts >= r.rts""".stripMargin)
    val want = AsOfJoin.asof(leftDf, rightDf, Seq("k"), "lts", "rts")
      .select("k", "lts", "lval", "rts", "rval")
    assert(rows(got) == rows(want))
    // and the unmatched left row (k=3) is present with null payload
    assert(got.filter(col("k") === 3 && col("rts").isNull).count() == 1)
  }

  test("operand order flips the comparator: r.rts <= l.lts is the same join") {
    setup()
    val a = ChSql.run(spark,
      "SELECT l.k, l.lts, r.rts FROM asof_l l ASOF LEFT JOIN asof_r r " +
        "ON l.k = r.k AND l.lts >= r.rts")
    val b = ChSql.run(spark,
      "SELECT l.k, l.lts, r.rts FROM asof_l l ASOF LEFT JOIN asof_r r " +
        "ON r.k = l.k AND r.rts <= l.lts")
    assert(rows(a) == rows(b))
  }

  test("forward and strict forms map to the operator's modes") {
    setup()
    val fwd = ChSql.run(spark,
      "SELECT l.k, l.lts, r.rts FROM asof_l l ASOF LEFT JOIN asof_r r " +
        "ON l.k = r.k AND l.lts <= r.rts")
    val wantFwd = AsOfJoin.asof(leftDf, rightDf, Seq("k"), "lts", "rts",
      forward = true).select("k", "lts", "rts")
    assert(rows(fwd) == rows(wantFwd))

    val strict = ChSql.run(spark,
      "SELECT l.k, l.lts, r.rts FROM asof_l l ASOF LEFT JOIN asof_r r " +
        "ON l.k = r.k AND l.lts > r.rts")
    val wantStrict = AsOfJoin.asof(leftDf, rightDf, Seq("k"), "lts", "rts",
      strict = true).select("k", "lts", "rts")
    assert(rows(strict) == rows(wantStrict))
    // strict: the (1,10) left row must NOT match the rts=10 right row
    assert(strict.filter(col("k") === 1 && col("lts") === 10)
      .head().isNullAt(2))
  }

  test("inner form (no LEFT) drops unmatched left rows, CH-style") {
    setup()
    val inner = ChSql.run(spark,
      "SELECT l.k, l.lts, r.rval FROM asof_l l ASOF JOIN asof_r r " +
        "ON l.k = r.k AND l.lts >= r.rts")
    // k=3 has no right rows at all -> dropped
    assert(inner.filter(col("k") === 3).count() == 0)
    assert(inner.count() ==
      AsOfJoin.asof(leftDf, rightDf, Seq("k"), "lts", "rts")
        .filter(col("rts").isNotNull).count())
  }

  test("right keys under different names are renamed onto the left's") {
    setup()
    rightDf.withColumnRenamed("k", "rk").createOrReplaceTempView("asof_r2")
    val got = ChSql.run(spark,
      "SELECT l.k, l.lts, r.rts FROM asof_l l ASOF LEFT JOIN asof_r2 r " +
        "ON l.k = r.rk AND l.lts >= r.rts")
    val want = AsOfJoin.asof(leftDf, rightDf, Seq("k"), "lts", "rts")
      .select("k", "lts", "rts")
    assert(rows(got) == rows(want))
  }

  test("qualifier stripping skips string literals; WHERE/ORDER survive") {
    setup()
    val got = ChSql.run(spark,
      """SELECT l.k, concat(l.lval, 'l.k') AS tagged, r.rval
        |FROM asof_l l ASOF LEFT JOIN asof_r r
        |  ON l.k = r.k AND l.lts >= r.rts
        |WHERE l.k = 1 ORDER BY l.lts""".stripMargin)
    val gotRows = got.collect()
    assert(gotRows.length == 2)
    // the literal 'l.k' inside the string must NOT have been stripped
    assert(gotRows.forall(_.getString(1).endsWith("l.k")))
  }

  test("USING form: last column is the time axis, right ts dropped from output") {
    // CH `ASOF JOIN ... USING (k, t)` — same-named columns on both sides,
    // the last one the >= time condition, output carrying the LEFT's ts
    leftDf.withColumnRenamed("lts", "ts").createOrReplaceTempView("asof_lu")
    rightDf.withColumnRenamed("rts", "ts").createOrReplaceTempView("asof_ru")
    val got = ChSql.run(spark,
      "SELECT k, ts, lval, rval FROM asof_lu ASOF LEFT JOIN asof_ru USING (k, ts)")
    val want = AsOfJoin.asof(
      leftDf.withColumnRenamed("lts", "ts"), rightDf, Seq("k"), "ts", "rts")
      .select("k", "ts", "lval", "rval")
    assert(rows(got) == rows(want))
    // the view's namespace holds exactly one ts column (the left's)
    val viewCols = ChSql.run(spark,
      "SELECT * FROM asof_lu ASOF JOIN asof_ru USING (k, ts)")
    assert(!viewCols.columns.exists(_.startsWith("__asof")),
      s"right-ts alias leaked into the output: ${viewCols.columns.mkString(", ")}")
    assert(viewCols.columns.count(_ == "ts") == 1)
  }

  test("ChReplay.runQuery resolves ASOF sides through bindings and shims compose") {
    import graft.engine.ChReplay
    val replay = new ChReplay(spark, ChReplay.scratchWarehouse("graft-asof-replay"))
    replay.bind("ods.quotes", rightDf)
    replay.bind("ods.trades", leftDf)
    // ASOF through the replay's own source resolution, composed with the
    // PREWHERE and FORMAT shims that runQuery applies first
    val got = replay.runQuery(
      """SELECT l.k, l.lts, r.rval FROM ods.trades l ASOF LEFT JOIN ods.quotes r
        |  ON l.k = r.k AND l.lts >= r.rts
        |PREWHERE l.k = 1
        |ORDER BY l.lts
        |FORMAT TabSeparated""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 10L, "a"), (1L, 20L, "b")))
  }

  test("malformed ON clauses fail with clear errors") {
    setup()
    def err(sql: String): String =
      intercept[RuntimeException](ChSql.run(spark, sql)).getMessage
    assert(err("SELECT 1 FROM asof_l l ASOF JOIN asof_r r ON l.lts >= r.rts")
      .contains("at least one equality"))
    assert(err("SELECT 1 FROM asof_l l ASOF JOIN asof_r r ON l.k = r.k")
      .contains("one inequality"))
    assert(err("SELECT 1 FROM asof_l l ASOF JOIN asof_r r " +
      "ON l.k = r.k AND l.lts >= r.rts AND l.lts > r.rts")
      .contains("exactly ONE inequality"))
    // an unqualified key both sides carry: Spark's analyzer names it
    val amb = intercept[AnalysisException](ChSql.run(spark, "SELECT 1 FROM asof_l l " +
      "ASOF JOIN asof_r r ON k = r.k AND l.lts >= r.rts")).getMessage
    assert(amb.contains("ambiguous") && amb.contains("`k`"), amb)
  }
}
