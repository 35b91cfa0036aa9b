package graft

import graft.engine.ChSql
import graft.operators.WithFill

/** CH ORDER BY ... WITH FILL semantics: grid holes inserted with nulls,
  * originals (even off-grid) kept verbatim, TO exclusive, bounds derived
  * from the data when omitted.
  */
class WithFillSpec extends SparkSpec {

  import spark.implicits._

  test("densify inserts grid holes, keeps off-grid originals, TO exclusive") {
    val df = Seq((0L, "a"), (3L, "b"), (5L, "off"), (8L, "c")).toDF("t", "v")
    val got = WithFill.densify(df, "t", from = 0L, to = 10L, step = 4L)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) "·" else r.getString(1)))
    // grid = 0, 4, 8; 0 and 8 present, 4 is a hole; 3 and 5 are off-grid
    // originals and survive; 10 is out (TO exclusive would be 12 anyway)
    assert(got.toSeq == Seq((0L, "a"), (3L, "b"), (4L, "·"), (5L, "off"), (8L, "c")))
  }

  test("SQL form strips the modifier and defaults bounds to the data") {
    Seq((1, 10), (4, 40)).toDF("h", "n").createOrReplaceTempView("wf_t")
    val got = ChSql.run(spark,
      "SELECT h, n FROM wf_t ORDER BY h WITH FILL")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
    assert(got.toSeq == Seq((1, 10), (2, -1), (3, -1), (4, 40)))
    // explicit FROM/TO/STEP
    val stepped = ChSql.run(spark,
      "SELECT h, n FROM wf_t ORDER BY h WITH FILL FROM 0 TO 7 STEP 2")
      .collect().map(_.getInt(0))
    assert(stepped.toSeq == Seq(0, 1, 2, 4, 6))
  }

  test("INTERPOLATE: carry-forward and linear accumulation, CH prev-row walk") {
    Seq((1, 10, 100L), (4, 40, 400L)).toDF("h", "n", "m")
      .createOrReplaceTempView("wf_i")
    val got = ChSql.run(spark,
      """SELECT h, n, m FROM wf_i
        |ORDER BY h WITH FILL FROM 0 TO 6
        |  INTERPOLATE (n, m AS m + 5)""".stripMargin)
      .collect().map(r => (r.getInt(0),
        if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq == Seq(
      (0, -1, -1L),       // before the first real row: stays null (CH)
      (1, 10, 100L),      // real
      (2, 10, 105L),      // filled: carry n, m+5 per step
      (3, 10, 110L),
      (4, 40, 400L),      // real resets the walk
      (5, 40, 405L)))
  }

  test("INTERPOLATE: unsupported expression and unknown column are refused") {
    Seq((1, 10)).toDF("h", "n").createOrReplaceTempView("wf_bad")
    val e1 = intercept[Exception](ChSql.run(spark,
      "SELECT h, n FROM wf_bad ORDER BY h WITH FILL INTERPOLATE (n AS n * 2)"))
    assert(e1.getMessage.contains("unsupported form"))
    val e2 = intercept[Exception](ChSql.run(spark,
      "SELECT h, n FROM wf_bad ORDER BY h WITH FILL INTERPOLATE (zz)"))
    assert(e2.getMessage.contains("no such column"))
  }

  test("empty result without bounds errors; bad step errors") {
    Seq.empty[(Int, Int)].toDF("h", "n").createOrReplaceTempView("wf_empty")
    val e = intercept[Exception](ChSql.run(spark,
      "SELECT h, n FROM wf_empty ORDER BY h WITH FILL"))
    assert(e.getMessage.contains("empty result"))
    val s = intercept[Exception](WithFill.densify(
      Seq((1, 1)).toDF("h", "n"), "h", 0, 5, step = 0))
    assert(s.getMessage.contains("STEP must be positive"))
  }
}
