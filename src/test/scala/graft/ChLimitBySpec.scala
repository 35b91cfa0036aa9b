package graft

import graft.engine.{ChLimitBy, ChSql}

/** CH `LIMIT [offset,] n BY cols` translation: per-group heads in ORDER
  * BY order, offset spellings, final-LIMIT composition, determinism
  * guard, and top-level-only clause detection.
  */
class ChLimitBySpec extends SparkSpec {

  import spark.implicits._

  private lazy val t = {
    // (grp, rank-source v, unique id) — v ties inside grp broken by id
    Seq(("a", 3, 1L), ("a", 2, 2L), ("a", 3, 3L), ("a", 1, 4L),
        ("b", 9, 5L), ("b", 8, 6L),
        ("c", 5, 7L))
      .toDF("g", "v", "id")
  }

  test("top n per group in ORDER BY order") {
    t.createOrReplaceTempView("lb_t")
    val got = ChSql.run(spark,
      "SELECT g, v, id FROM lb_t ORDER BY g, v DESC, id LIMIT 2 BY g")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("a", 3, 1L), ("a", 3, 3L), ("b", 9, 5L), ("b", 8, 6L), ("c", 5, 7L)))
  }

  test("offset spellings: LIMIT o, n BY and LIMIT n OFFSET o BY") {
    t.createOrReplaceTempView("lb_t")
    for (q <- Seq(
        "SELECT g, v, id FROM lb_t ORDER BY g, v DESC, id LIMIT 1, 2 BY g",
        "SELECT g, v, id FROM lb_t ORDER BY g, v DESC, id LIMIT 2 OFFSET 1 BY g")) {
      val got = ChSql.run(spark, q)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      // skip the first of each group, take the next 2
      assert(got.toSeq == Seq(
        ("a", 3, 3L), ("a", 2, 2L), ("b", 8, 6L)), q)
    }
  }

  test("final LIMIT composes after the per-group heads") {
    t.createOrReplaceTempView("lb_t")
    val got = ChSql.run(spark,
      "SELECT g, v, id FROM lb_t ORDER BY g, v DESC, id LIMIT 2 BY g LIMIT 3")
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 1L), ("a", 3L), ("b", 5L)))
  }

  test("aggregated-report idiom: top 1 per key of a GROUP BY") {
    t.createOrReplaceTempView("lb_t")
    val got = ChSql.run(spark,
      """SELECT g, v % 2 AS par, count(*) AS n, sum(id) AS ids
        |FROM lb_t GROUP BY g, v % 2
        |ORDER BY g, n DESC, par LIMIT 1 BY g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 3L), ("b", 1L), ("c", 1L)))
  }

  test("no ORDER BY is refused; nested LIMIT BY is not top-level") {
    t.createOrReplaceTempView("lb_t")
    val e = intercept[RuntimeException](
      ChLimitBy.rewrite("SELECT g, v FROM lb_t LIMIT 2 BY g"))
    assert(e.getMessage.contains("ORDER BY"))
    assert(!ChLimitBy.applies(
      "SELECT * FROM (SELECT g FROM lb_t ORDER BY g LIMIT 2 BY g) x"))
    assert(!ChLimitBy.applies("SELECT g FROM lb_t WHERE g <> 'limit 2 by g'"))
    assert(ChLimitBy.applies(
      "SELECT g FROM lb_t ORDER BY g LIMIT 2 BY g"))
  }

  // a quote char or paren inside a backtick name is part of the name: the
  // clause scanners read the lexer's masked twin, so `it's` opens no
  // literal and `f(` / `k)` move no depth
  test("quoted names are opaque to the LIMIT BY scanner") {
    for (name <- Seq("`it's`", "`f(`"))
      assert(ChLimitBy.rewrite(s"SELECT $name AS a, k FROM t ORDER BY a LIMIT 1 BY k")
        .contains("PARTITION BY k ORDER BY a"))
  }

  test("quoted names are opaque to the DISTINCT ON column-list scan") {
    Seq((1L, 5L), (1L, 3L), (2L, 4L)).toDF("k)", "v").createOrReplaceTempView("lb_q")
    val sql = "SELECT DISTINCT ON (`k)`) `k)`, v FROM lb_q ORDER BY v"
    assert(graft.engine.ChDistinctOn.rewrite(sql).contains("PARTITION BY `k)` ORDER BY v"))
    val got = ChSql.run(spark, sql)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 3L), (2L, 4L)))
  }
}
