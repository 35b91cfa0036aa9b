package graft

import org.apache.spark.sql.functions._

import graft.functions.{ChCompat, FreqTopK}

/** SpaceSaving frequent-items: exact when the sketch isn't full, heavy
  * hitters guaranteed under eviction, CH `topK` SQL alias.
  */
class FreqTopKSpec extends SparkSpec {

  test("exact counts and order when distinct values fit the sketch") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    // value v appears v times, 50 distinct — well under the 8k-capacity
    val df = (1 to 50).flatMap(v => Seq.fill(v)(v.toLong)).toDF("x").repartition(4)
    val out = df.agg(FreqTopK.freq_topk(col("x"), 5).as("t"))
      .selectExpr("inline(t)").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((50L, 50L, 0L), (49L, 49L, 0L), (48L, 48L, 0L),
      (47L, 47L, 0L), (46L, 46L, 0L)))
  }

  test("heavy hitters survive eviction at 10k distinct over capacity 64") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    val hitters = Seq("AAA", "BBB", "CCC")
    val rows = (1 to 10000).map(i => s"noise$i") ++
      hitters.flatMap(h => Seq.fill(500)(h))
    val df = rows.toDF("s").repartition(8)
    val got = df.agg(FreqTopK.freq_topk(col("s"), 3).as("t"))
      .selectExpr("transform(t, e -> e.value) AS vs")
      .as[Seq[String]].collect().head
    // N/capacity = 11500/64 ≈ 180 < 500: the guarantee applies
    assert(got.toSet == hitters.toSet, s"got $got")
    // estimates bound the true count from above by at most err
    val ests = df.agg(FreqTopK.freq_topk(col("s"), 3).as("t"))
      .selectExpr("inline(t)").as[(String, Long, Long)].collect()
    ests.foreach { case (v, est, err) =>
      assert(est >= 500L && est - err <= 500L, s"$v: est=$est err=$err")
    }
  }

  test("CH topK alias: values-only array, default k = 10, grouped use") {
    import spark.implicits._
    ChCompat.register(spark)
    val df = ((1 to 40).map(i => ("a", s"n$i")) ++
      Seq.fill(25)(("a", "hot")) ++ Seq.fill(9)(("b", "warm")) ++
      (1 to 3).map(i => ("b", s"m$i"))).toDF("g", "s").repartition(4)
    df.createOrReplaceTempView("graft_ft")
    val top1 = spark.sql("SELECT g, topK(s, 1) AS t FROM graft_ft GROUP BY g ORDER BY g")
      .as[(String, Seq[String])].collect().toSeq
    assert(top1 == Seq(("a", Seq("hot")), ("b", Seq("warm"))))
    val dflt = spark.sql("SELECT topK(s) AS t FROM graft_ft WHERE g = 'b'")
      .as[Seq[String]].collect().head
    assert(dflt.length == 4 && dflt.head == "warm") // k defaults to 10, 4 distinct exist
  }
}
