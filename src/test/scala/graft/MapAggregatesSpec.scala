package graft

import graft.functions.MapAggregates

/** sumMap/minMap/maxMap: combination semantics across multi-entry rows,
  * key sorting, string and long keys, long and double values, and the
  * two-phase merge path (forced via repartition).
  */
class MapAggregatesSpec extends SparkSpec {

  import spark.implicits._

  test("sumMap combines multi-entry maps; keys come back sorted") {
    graft.functions.ChCompat.register(spark)
    Seq(
      (1, Seq("b", "a"), Seq(1L, 2L)),
      (1, Seq("a", "c"), Seq(10L, 5L)),
      (2, Seq("z"), Seq(7L)))
      .toDF("g", "ks", "vs").repartition(4).createOrReplaceTempView("sm_t")
    val got = spark.sql(
      """SELECT g, sumMap(ks, vs) AS m FROM sm_t GROUP BY g ORDER BY g""")
      .select($"g", $"m.keys", $"m.values")
      .as[(Int, Seq[String], Seq[Long])].collect().toSeq
    assert(got == Seq(
      (1, Seq("a", "b", "c"), Seq(12L, 1L, 5L)),
      (2, Seq("z"), Seq(7L))))
  }

  test("minMap/maxMap with long keys and double values") {
    graft.functions.ChCompat.register(spark)
    Seq(
      (Seq(1L, 2L), Seq(3.5, 1.0)),
      (Seq(2L, 3L), Seq(4.0, -1.0)),
      (Seq(1L), Seq(0.5)))
      .toDF("ks", "vs").repartition(3).createOrReplaceTempView("mm_t")
    val got = spark.sql(
      """SELECT minMap(ks, vs) AS lo, maxMap(ks, vs) AS hi FROM mm_t""")
      .select($"lo.keys", $"lo.values", $"hi.keys", $"hi.values")
      .as[(Seq[Long], Seq[Double], Seq[Long], Seq[Double])].head()
    assert(got._1 == Seq(1L, 2L, 3L) && got._2 == Seq(0.5, 1.0, -1.0))
    assert(got._3 == Seq(1L, 2L, 3L) && got._4 == Seq(3.5, 4.0, -1.0))
  }

  test("null entries are dropped; length mismatch fails loudly") {
    graft.functions.ChCompat.register(spark)
    val ok = Seq((Seq[Option[String]](Some("a"), None), Seq[Option[Long]](Some(1L), Some(2L))))
      .toDF("ks", "vs")
    val got = ok.select(MapAggregates.sum_map($"ks", $"vs").as("m"))
      .select($"m.keys", $"m.values").as[(Seq[String], Seq[Long])].head()
    assert(got == ((Seq("a"), Seq(1L))))
    val bad = Seq((Seq("a", "b"), Seq(1L))).toDF("ks", "vs")
    val e = intercept[Exception] {
      bad.select(MapAggregates.sum_map($"ks", $"vs")).collect()
    }
    assert(e.getMessage != null)
  }

  test("SumMapMetric: state-table merge-on-read equals direct aggregation") {
    val dir = tmpDir("summap-state") + "/t"
    val rows = Seq(
      ("2024-01-01", "u1", Seq("view", "click"), Seq(1L, 2L)),
      ("2024-01-01", "u2", Seq("view"), Seq(5L)),
      ("2024-01-02", "u1", Seq("click"), Seq(3L)))
      .toDF("day", "user", "ks", "vs")
    val st = new graft.mv.StateTable(spark, dir,
      keys = Seq("day", "user"), partitionCol = "day",
      metrics = Seq(graft.mv.SumMapMetric("breakdown", $"ks", $"vs"),
        graft.mv.CountMetric("cnt")))
    // two appends + compact: the metric must survive partial/merge/compact
    st.appendBatch(rows.filter($"user" === "u1"))
    st.appendBatch(rows.filter($"user" === "u2"))
    st.compact()
    val got = st.finalized(Seq("day"))
      .select($"day", $"breakdown.keys", $"breakdown.values", $"cnt")
      .as[(String, Seq[String], Seq[Long], Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01", Seq("click", "view"), Seq(2L, 6L), 2L),
      ("2024-01-02", Seq("click"), Seq(3L), 1L)))
  }

  test("topKWeighted: weight-summed ranking in the exact regime") {
    graft.functions.ChCompat.register(spark)
    // few heavy rows of 'rare' outweigh many light rows of 'common'
    val rows = Seq.fill(50)(("common", 1L)) ++ Seq.fill(2)(("rare", 100L))
    rows.toDF("k", "w").repartition(4).createOrReplaceTempView("tw_t")
    val got = spark.sql(
      """SELECT freq_topk_weighted(k, w, 2) AS t, topKWeighted(k, w, 2) AS v
        |FROM tw_t""".stripMargin).head()
    val full = got.getSeq[org.apache.spark.sql.Row](0)
    assert(full.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("rare", 200L), ("common", 50L)).map { case (k, c) => (k, c, 0L) })
    assert(got.getSeq[String](1) == Seq("rare", "common"))
  }
}
