package graft

import graft.engine.ChSql

/** ARRAY JOIN clause: bare replace form, AS form (array kept), LEFT
  * form (empty arrays survive), qualified references, replay routing,
  * and the multi-array rejection.
  */
class ChArrayJoinSpec extends SparkSpec {

  import spark.implicits._

  private lazy val t = {
    val df = Seq(
      (1, Seq("a", "b"), "x"),
      (2, Seq("c"), "y"),
      (3, Seq.empty[String], "z")
    ).toDF("id", "arr", "other")
    df.createOrReplaceTempView("caj_t")
    df
  }

  test("bare form replaces the array column; empty arrays drop the row") {
    t
    val got = ChSql.run(spark,
      "SELECT id, arr, other FROM caj_t ARRAY JOIN arr ORDER BY id, arr")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1, "a", "x"), (1, "b", "x"), (2, "c", "y")))
  }

  test("AS form keeps the array and adds the element; LEFT keeps empty rows") {
    t
    val got = ChSql.run(spark,
      "SELECT id, arr, e FROM caj_t LEFT ARRAY JOIN arr AS e ORDER BY id, e")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[String](1).toList, Option(r.getString(2))))
    assert(got.toSeq == Seq(
      (1, List("a", "b"), Some("a")), (1, List("a", "b"), Some("b")),
      (2, List("c"), Some("c")), (3, Nil, None)))
  }

  test("qualified array reference and WHERE/GROUP tail survive") {
    t
    val got = ChSql.run(spark,
      """SELECT d.arr, count(*) AS n FROM caj_t d ARRAY JOIN d.arr
        |WHERE d.id <= 2 GROUP BY d.arr ORDER BY d.arr""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 1L), ("b", 1L), ("c", 1L)))
  }

  test("replay routes ARRAY JOIN; multi-array and unknown columns error clearly") {
    t
    val rep = new graft.engine.ChReplay(spark, tmpDir("caj-replay"))
    val out = rep.runQuery("SELECT id, arr FROM caj_t ARRAY JOIN arr ORDER BY id, arr")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.length == 3)

    val e1 = intercept[RuntimeException] {
      ChSql.run(spark, "SELECT 1 FROM caj_t ARRAY JOIN arr, other WHERE id = 1")
    }
    assert(e1.getMessage.contains("multi-array"))
    val e2 = intercept[Exception] {
      ChSql.run(spark, "SELECT 1 FROM caj_t ARRAY JOIN nope WHERE id = 1")
    }
    assert(e2.getMessage.contains("`nope`"), e2.getMessage)
  }

  test("expression operand: computed arrays explode in a subquery, per UNION branch") {
    graft.functions.ChCompat.register(spark)
    // the doc's hand-built-rows idiom after the ChSql literal shims
    val got = ChSql.run(spark,
      """SELECT a.col1 AS k, a.col2 AS v FROM system.one
        | ARRAY JOIN array(tuple('x', 1), tuple('y', 2)) AS a
        |ORDER BY k""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == Seq(("x", 1), ("y", 2)))
    // one clause per UNION ALL branch, all translated
    val u = ChSql.run(spark,
      """SELECT x FROM system.one ARRAY JOIN array(1, 2) AS x
        |UNION ALL
        |SELECT x FROM system.one ARRAY JOIN array(3) AS x
        |ORDER BY x""".stripMargin)
      .collect().map(_.getInt(0)).toSeq
    assert(u == Seq(1, 2, 3))
    // an expression operand without AS is refused like CH
    val e = intercept[RuntimeException](ChSql.run(spark,
      "SELECT 1 FROM system.one ARRAY JOIN array(1, 2)"))
    assert(e.getMessage.contains("AS"))
  }
}
