package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Bitmaps

/** Bitmap aggregate family vs exact set semantics (SURVEY.md §5 property
  * tests: bitmap agg == count_distinct on arbitrary uid multisets; algebra
  * matches set ops; merge of partitioned states == state of the whole).
  * ScalaCheck generators are driven manually with fixed seeds (the
  * scalatest-scalacheck bridge artifact isn't on the offline classpath).
  */
class BitmapSpec extends SparkSpec {
  import Bitmaps._

  private val uidLists = Gen.listOf(Gen.chooseNum(0L, 5000L))

  test("bitmap_agg cardinality == countDistinct on arbitrary multisets") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    for (i <- 1 to 12) {
      val uids = uidLists(Gen.Parameters.default.withSize(i * 17), Seed(i.toLong)).get
      val df = uids.toDF("uid")
      val got = df.agg(bitmap_cardinality(bitmap_agg(col("uid")))).collect()(0).getLong(0)
      assert(got == uids.distinct.size.toLong, s"seed=$i uids=$uids")
    }
  }

  test("merge of per-partition states == state over all rows (doc:326-505)") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    val uids = (1L to 400L) ++ (200L to 600L) ++ Seq(7L, 7L, 7L)
    val df = uids.toDF("uid").withColumn("part", pmod(monotonically_increasing_id(), lit(7)))
    val states = df.groupBy("part").agg(bitmap_agg(col("uid")).as("bm"))
    val merged = states.agg(bitmap_cardinality(bitmap_merge_agg(col("bm")))).collect()(0).getLong(0)
    assert(merged == uids.distinct.size.toLong)
  }

  test("bitmap algebra == set algebra") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    val a = (1L to 100L).toSet
    val b = (60L to 160L).toSet
    val df = a.toSeq.map(("a", _)).++(b.toSeq.map(("b", _))).toDF("tag", "uid")
    val bm = df.groupBy().agg(
      bitmap_agg(when(col("tag") === "a", col("uid"))).as("bma"),
      bitmap_agg(when(col("tag") === "b", col("uid"))).as("bmb"))
    val row = bm.select(
      bitmap_and_cardinality(col("bma"), col("bmb")),
      bitmap_or_cardinality(col("bma"), col("bmb")),
      bitmap_cardinality(bitmap_and(col("bma"), col("bmb"))),
      bitmap_cardinality(bitmap_or(col("bma"), col("bmb")))).collect()(0)
    assert(row.getLong(0) == (a & b).size.toLong)
    assert(row.getLong(1) == (a | b).size.toLong)
    assert(row.getLong(2) == (a & b).size.toLong)
    assert(row.getLong(3) == (a | b).size.toLong)
  }

  test("extended algebra (xor/andnot/subsets/extrema) == set algebra via SQL names") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    graft.functions.ChCompat.register(spark)
    val a = Set(1L, 3L, 5L, 7L, 60L, 61L, 100L, 250L)
    val b = Set(5L, 7L, 9L, 61L, 400L)
    a.toSeq.map(("a", _)).++(b.toSeq.map(("b", _))).toDF("tag", "uid")
      .createOrReplaceTempView("graft_bm_ext")
    val r = spark.sql(
      """WITH s AS (
        |  SELECT groupBitmapStateIf(uid, tag = 'a') AS ba,
        |         groupBitmapStateIf(uid, tag = 'b') AS bb
        |  FROM graft_bm_ext)
        |SELECT bitmapXorCardinality(ba, bb),
        |       bitmapAndnotCardinality(ba, bb),
        |       bitmapCardinality(bitmapXor(ba, bb)),
        |       bitmapCardinality(bitmapAndnot(bb, ba)),
        |       bitmapHasAll(ba, bitmapBuild(array(3L, 60L))),
        |       bitmapHasAll(ba, bitmapBuild(array(3L, 4L))),
        |       bitmapHasAny(ba, bb),
        |       bitmapHasAny(ba, bitmapBuild(array(2L, 4L))),
        |       bitmapContains(ba, 60), bitmapContains(ba, 59),
        |       bitmapMin(ba), bitmapMax(ba),
        |       bitmapToArray(bitmapSubsetInRange(ba, 5, 100)),
        |       bitmapToArray(bitmapSubsetLimit(ba, 6, 3)),
        |       bitmapToArray(subBitmap(ba, 2, 3)),
        |       bitmapMin(bitmapBuild(array()))
        |FROM s""".stripMargin).collect().head
    assert(r.getLong(0) == ((a diff b) ++ (b diff a)).size.toLong)
    assert(r.getLong(1) == (a diff b).size.toLong)
    assert(r.getLong(2) == ((a diff b) ++ (b diff a)).size.toLong)
    assert(r.getLong(3) == (b diff a).size.toLong)
    assert(r.getBoolean(4) && !r.getBoolean(5))
    assert(r.getBoolean(6) && !r.getBoolean(7))
    assert(r.getBoolean(8) && !r.getBoolean(9))
    assert(r.getLong(10) == 1L && r.getLong(11) == 250L)
    assert(r.getSeq[Long](12) == Seq(5L, 7L, 60L, 61L), "range [5,100)")
    assert(r.getSeq[Long](13) == Seq(7L, 60L, 61L), "3 smallest >= 6")
    assert(r.getSeq[Long](14) == Seq(5L, 7L, 60L), "3 members from rank 2")
    assert(r.getLong(15) == 0L, "empty bitmap min is 0 (CH convention)")
  }

  test("groupBitmapAnd/Or/Xor fold aggregates == set folds, any partitioning") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    graft.functions.ChCompat.register(spark)
    // three group members with overlapping sets
    val sets = Seq((1L to 100L).toSet, (60L to 160L).toSet, (80L to 90L).toSet ++ Set(1L))
    val expAnd = sets.reduce(_ intersect _)
    val expOr = sets.reduce(_ union _)
    val expXor = sets.reduce((x, y) => (x diff y) ++ (y diff x))
    for (parts <- Seq(1, 7)) {
      val states = sets.zipWithIndex
        .flatMap { case (s, i) => s.map(v => (i, v)) }
        .toDF("g", "uid").repartition(parts)
        .groupBy("g").agg(bitmap_agg(col("uid")).as("bm"))
      val r = states.repartition(parts).agg(
        bitmap_cardinality(bitmap_fold_agg(col("bm"), "and")).as("a"),
        bitmap_cardinality(bitmap_fold_agg(col("bm"), "or")).as("o"),
        bitmap_cardinality(bitmap_fold_agg(col("bm"), "xor")).as("x"))
        .collect()(0)
      assert(r.getLong(0) == expAnd.size.toLong, s"and parts=$parts")
      assert(r.getLong(1) == expOr.size.toLong, s"or parts=$parts")
      assert(r.getLong(2) == expXor.size.toLong, s"xor parts=$parts")
    }
    // CH SQL spellings: plain = cardinality, -State = bitmap; empty
    // group folds to the empty bitmap (cardinality 0); nulls skip
    sets.zipWithIndex.flatMap { case (s, i) => s.map(v => (i, v)) }
      .toDF("g", "uid")
      .groupBy("g").agg(bitmap_agg(col("uid")).as("bm"))
      .withColumn("bm", when(col("g") === 99, col("bm")).otherwise(col("bm")))
      .createOrReplaceTempView("graft_bmf")
    val sqlRow = spark.sql(
      """SELECT groupBitmapAnd(bm), groupBitmapXor(bm),
        |       bitmapCardinality(groupBitmapAndState(bm)),
        |       groupBitmapOr(CASE WHEN g = 99 THEN bm END)
        |FROM graft_bmf""".stripMargin).collect()(0)
    assert(sqlRow.getLong(0) == expAnd.size.toLong)
    assert(sqlRow.getLong(1) == expXor.size.toLong)
    assert(sqlRow.getLong(2) == expAnd.size.toLong)
    assert(sqlRow.getLong(3) == 0L, "all-NULL group folds to empty")
  }

  test("uint32 boundary values round-trip") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    val uids = Seq(0L, 1L, Int.MaxValue.toLong, Int.MaxValue.toLong + 1, 0xFFFFFFFFL)
    val got = uids.toDF("uid").agg(bitmap_cardinality(bitmap_agg(col("uid"))))
      .collect()(0).getLong(0)
    assert(got == uids.size.toLong)
  }

  test("bitmap_merge_agg over raw user_id longs fails at analysis") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    // the -Merge misuse: states expected, raw ids given
    val ids = Seq(1L, 2L, 3L).toDF("user_id")
    intercept[org.apache.spark.sql.AnalysisException] {
      ids.agg(bitmap_merge_agg(col("user_id"))).collect()
    }
  }

  test("an id outside uint32 fails at runtime instead of truncating") {
    graft.functions.ChCompat.register(spark)
    val e = intercept[Exception] {
      spark.range(3).agg(bitmap_agg(lit(-5L))).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(c => String.valueOf(c.getMessage)).toList
    assert(msgs.exists(_.contains("out of uint32 range")), msgs.mkString("\n"))
  }
}
