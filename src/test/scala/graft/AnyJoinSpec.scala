package graft

import org.apache.spark.sql.functions._

import graft.engine.ChSql
import graft.operators.AnyJoin

/** ANY-strictness joins: the deterministic pick, all three strictness
  * forms, both CH word orders, USING form, and the dialect's error
  * contract.
  */
class AnyJoinSpec extends SparkSpec {

  import spark.implicits._

  private lazy val left = Seq(
    (1, "a"), (2, "b"), (3, "c"), (4, "d")
  ).toDF("k", "lv")

  // key 1 has three candidates — the (10, "x") row has the smallest
  // non-key tuple; key 2 one; key 9 matches nothing on the left
  private lazy val right = Seq(
    (1, 30, "z"), (1, 10, "x"), (1, 10, "y"), (2, 5, "q"), (9, 7, "w")
  ).toDF("k", "rv", "rt")

  test("firstRowPerKey keeps the lexicographically-smallest non-key tuple") {
    val got = AnyJoin.firstRowPerKey(right, Seq("k")).collect()
      .map(r => r.getInt(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(got == Map(1 -> ((10, "x")), 2 -> ((5, "q")), 9 -> ((7, "w"))))
  }

  test("anyLeft / anyInner / anyRight strictness") {
    val l = AnyJoin.anyLeft(left, right, Seq("k")).collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]), Option(r.getString(3)))).toSet
    assert(l == Set(
      (1, "a", Some(10), Some("x")), (2, "b", Some(5), Some("q")),
      (3, "c", None, None), (4, "d", None, None)))

    val i = AnyJoin.anyInner(left, right, Seq("k")).collect().map(_.getInt(0)).sorted.toSeq
    assert(i == Seq(1, 2))

    // right-any: every right row survives (dups included); left deduped —
    // with a unique-keyed left that's just the left row or null
    val r = AnyJoin.anyRight(left, right, Seq("k")).collect()
      .map(x => (x.getInt(0), Option(x.getString(1)), x.getInt(2), x.getString(3))).toSet
    assert(r == Set(
      (1, Some("a"), 30, "z"), (1, Some("a"), 10, "x"), (1, Some("a"), 10, "y"),
      (2, Some("b"), 5, "q"), (9, None, 7, "w")))
  }

  test("dialect: both word orders, bare ANY, USING form") {
    left.createOrReplaceTempView("aj_left")
    right.createOrReplaceTempView("aj_right")
    val expectLeft = Set((1, 10), (2, 5), (3, -1), (4, -1))
    def run(q: String) = ChSql.run(spark, q)
      .select(col("k"), coalesce(col("rv"), lit(-1)).as("rv"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet

    assert(run("SELECT l.k, r.rv FROM aj_left l ANY LEFT JOIN aj_right r ON l.k = r.k") == expectLeft)
    assert(run("SELECT l.k, r.rv FROM aj_left l LEFT ANY JOIN aj_right r ON l.k = r.k") == expectLeft)
    assert(run("SELECT k, rv FROM aj_left ANY JOIN aj_right USING (k)") ==
      Set((1, 10), (2, 5)))
    // reversed operand order in ON resolves the same
    assert(run("SELECT l.k, r.rv FROM aj_left l ANY INNER JOIN aj_right r ON r.k = l.k") ==
      Set((1, 10), (2, 5)))
  }

  test("dialect error contract: non-equality ON, one-sided ON; colliding columns join") {
    left.createOrReplaceTempView("aj_left")
    right.createOrReplaceTempView("aj_right")
    val e1 = intercept[RuntimeException] {
      ChSql.run(spark, "SELECT 1 FROM aj_left l ANY LEFT JOIN aj_right r ON l.k >= r.k")
    }
    assert(e1.getMessage.contains("equalities only"))
    val e2 = intercept[RuntimeException] {
      ChSql.run(spark, "SELECT 1 FROM aj_left l ANY LEFT JOIN aj_right r ON l.k = l.k")
    }
    assert(e2.getMessage.contains("one side twice"))
    val collide = right.withColumnRenamed("rt", "lv")
    collide.createOrReplaceTempView("aj_collide")
    // each side keeps its own lv; the unqualified name reads the left's
    val both = ChSql.run(spark,
      "SELECT l.k, lv, r.lv FROM aj_left l ANY LEFT JOIN aj_collide r ON l.k = r.k")
      .collect().map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(both == Set((1, "a", Some("x")), (2, "b", Some("q")), (3, "c", None), (4, "d", None)))
  }

  test("multi-key ON with swapped names and a right key used twice") {
    // l.a = r.b AND l.b = r.c — right's own `b` is renamed away before the
    // second pair needs the name, so the chain must be legal
    val l = Seq((1, 10, "L1"), (2, 20, "L2")).toDF("a", "b", "lv")
    val r = Seq((1, 10, "R1"), (1, 10, "R0"), (2, 99, "R2")).toDF("b", "c", "rv")
    l.createOrReplaceTempView("aj_ml")
    r.createOrReplaceTempView("aj_mr")
    val got = ChSql.run(spark,
      "SELECT a, b, rv FROM aj_ml l ANY LEFT JOIN aj_mr r ON l.a = r.b AND l.b = r.c")
      .collect().map(x => (x.getInt(0), x.getInt(1), x.getString(2))).toSet
    assert(got == Set((1, 10, "R0"), (2, 20, null)))

    // the same right column in two key pairs: both must equal it
    val reused = ChSql.run(spark,
      "SELECT l.a, r.rv FROM aj_ml l ANY LEFT JOIN aj_mr r ON l.a = r.b AND l.a = r.b AND l.b = r.c")
      .collect().map(x => (x.getInt(0), x.getString(1))).toSet
    assert(reused == Set((1, "R0"), (2, null)))
  }

  test("replay routes ANY joins: runQuery executes the dialect form") {
    val wh = tmpDir("anyjoin-replay")
    val rep = new graft.engine.ChReplay(spark, wh)
    left.createOrReplaceTempView("aj_left")
    right.createOrReplaceTempView("aj_right")
    val out = rep.runQuery(
      """SELECT l.k, r.rv FROM aj_left l ANY LEFT JOIN aj_right r ON l.k = r.k
        |WHERE l.k <= 2 ORDER BY l.k""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(out.toSeq == Seq((1, 10), (2, 5)))
  }
}
