package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** l2_norm / l2_normalize / quantize_int8: algebraic invariants, edge
  * values, and agreement with the cosine expression.
  */
class VectorOpsSpec extends SparkSpec {

  import spark.implicits._

  private def vecDf = Seq(
    (1L, Array(3.0f, 4.0f)),
    (2L, Array(-1.0f, 0.0f, 2.0f)),
    (3L, Array(0.0f, 0.0f)),           // zero vector
    (4L, Array(0.5f, -0.5f, 0.25f)))
    .toDF("id", "v")

  test("l2_norm and l2_normalize: unit norm, zero vector yields null") {
    graft.functions.ChCompat.register(spark)
    val got = vecDf.select($"id", VectorOps.l2_norm($"v").as("n"),
        VectorOps.l2_normalize($"v").as("u"))
      .collect().map(r => (r.getLong(0),
        (r.getDouble(1), if (r.isNullAt(2)) null else r.getSeq[Double](2))))
      .toMap
    assert(math.abs(got(1L)._1 - 5.0) < 1e-12)
    assert(got(1L)._2 == Seq(0.6, 0.8))
    assert(got(3L)._1 == 0.0 && got(3L)._2 == null)
    // normalized vectors have unit norm
    val unit = vecDf.filter($"id" =!= 3)
      .select(VectorOps.l2_norm(VectorOps.l2_normalize($"v")))
      .as[Double].collect()
    assert(unit.forall(n => math.abs(n - 1.0) < 1e-12))
  }

  test("quantize_int8: extremes hit ±127, zero vector yields null, bounds hold") {
    graft.functions.ChCompat.register(spark)
    val got = vecDf.select($"id", VectorOps.quantize_int8($"v").as("q"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Int](1)))
      .toMap
    assert(got(1L) == Seq(95, 127))              // 3/4*127=95.25 -> 95
    assert(got(2L) == Seq(-63, 0, 127))          // -1/2*127 = -63.5 -> floor(-63)= -63
    assert(got(3L) == null)
    assert(got(4L) == Seq(127, -127, 64))        // ±maxabs -> ±127; 0.25/0.5*127=63.5 -> 64
    val all = got.values.filter(_ != null).flatten
    assert(all.forall(q => q >= -127 && q <= 127))
  }

  test("cosine is invariant under normalization") {
    graft.functions.ChCompat.register(spark)
    val rnd = new scala.util.Random(3)
    val vs = Seq.fill(20)((rnd.nextLong(), Array.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("id", "v")
    val a = vs.select($"id".as("ia"), $"v".as("va"))
    val b = vs.select($"id".as("ib"), $"v".as("vb"))
    val diffs = a.join(b, $"ia" < $"ib")
      .select(abs(
        graft.similarity.Ann.cosine($"va", $"vb") -
        graft.similarity.Ann.cosine(
          VectorOps.l2_normalize($"va"), VectorOps.l2_normalize($"vb"))))
      .as[Double].collect()
    assert(diffs.forall(_ < 1e-9))
  }
}
