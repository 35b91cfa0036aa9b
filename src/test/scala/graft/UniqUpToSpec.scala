package graft

import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.types._

import graft.functions.{Fold, UniqUpTo, UpToSet}

/** uniqUpTo: answer equals least(exact, N+1) on random data across types,
  * and the state bound actually holds — a saturated buffer holds zero
  * values and serializes to one byte.
  */
class UniqUpToSpec extends SparkSpec {

  import spark.implicits._

  test("equals least(count distinct, N+1) across N, including string keys") {
    graft.functions.ChCompat.register(spark)
    val rnd = new scala.util.Random(5)
    Seq.fill(2000)((rnd.nextInt(40).toLong, "t" + rnd.nextInt(17)))
      .toDF("uid", "etype").createOrReplaceTempView("upto_t")
    val got = spark.sql(
      """SELECT uniqUpTo(3, uid), uniqUpTo(39, uid), uniqUpTo(40, uid),
        |       uniqUpTo(1000, uid), uniqUpTo(5, etype), uniqUpTo(17, etype)
        |FROM upto_t""".stripMargin).head()
    val exactU = spark.sql("SELECT COUNT(DISTINCT uid) FROM upto_t").head().getLong(0)
    val exactE = spark.sql("SELECT COUNT(DISTINCT etype) FROM upto_t").head().getLong(0)
    assert(got.getLong(0) == math.min(exactU, 4L))
    assert(got.getLong(1) == math.min(exactU, 40L))
    assert(got.getLong(2) == math.min(exactU, 41L))
    assert(got.getLong(3) == exactU)
    assert(got.getLong(4) == math.min(exactE, 6L))
    assert(got.getLong(5) == exactE)
  }

  test("grouped two-phase path: per-group saturation independent") {
    graft.functions.ChCompat.register(spark)
    (0 until 1000).map(i => (i % 3, i.toLong))
      .toDF("g", "uid").createOrReplaceTempView("upto_g")
    val got = spark.sql(
      """SELECT g, uniqUpTo(100, uid) AS u FROM upto_g GROUP BY g ORDER BY g""")
      .as[(Int, Long)].collect().toSeq
    // each group has 333/334 distinct uids > 100 -> all saturate at 101
    assert(got == Seq((0, 101L), (1, 101L), (2, 101L)))
  }

  test("state bound: saturated buffer drops its values and serializes to 1 byte") {
    val agg = Fold(UniqUpTo(10, LongType), Seq(BoundReference(0, LongType, nullable = true)))
    val buf = agg.createAggregationBuffer().asInstanceOf[UpToSet]
    val row = new GenericInternalRow(1)
    for (v <- 0L until 100000L) {
      row.update(0, v)
      agg.update(buf, row)
      assert(buf.values.size <= 11, "buffer exceeded its bound")
    }
    assert(buf.saturated && buf.values.isEmpty)
    assert(agg.serialize(buf).length == 1)
    assert(agg.eval(buf) == 11L)
    // saturated partial dominates a merge
    val other = agg.createAggregationBuffer().asInstanceOf[UpToSet]
    row.update(0, 7L); agg.update(other, row)
    agg.merge(other, agg.deserialize(agg.serialize(buf)))
    assert(other.saturated && agg.eval(other) == 11L)
  }

  test("unsaturated partials roundtrip and merge exactly") {
    val agg = Fold(UniqUpTo(50, StringType), Seq(BoundReference(0, StringType, nullable = true)))
    val a = agg.createAggregationBuffer()
    val b = agg.createAggregationBuffer()
    val row = new GenericInternalRow(1)
    for (v <- 0 until 20) {
      row.update(0, org.apache.spark.unsafe.types.UTF8String.fromString("x" + v))
      agg.update(a, row)
    }
    for (v <- 10 until 30) {
      row.update(0, org.apache.spark.unsafe.types.UTF8String.fromString("x" + v))
      agg.update(b, row)
    }
    val merged = agg.merge(agg.deserialize(agg.serialize(a)), agg.deserialize(agg.serialize(b)))
    assert(agg.eval(merged) == 30L)
  }
}
