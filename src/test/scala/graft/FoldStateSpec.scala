package graft

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate

/** Pins every library aggregate's serialized state. For each entry, on a
  * fixed 60-row input:
  *
  *  - the state survives a round trip: `serialize(deserialize(bytes))`
  *    gives back the same bytes;
  *  - the bytes hash to a recorded constant. These are the bytes that
  *    `StateTable` parts, the streaming state store and the sort-based
  *    `ObjectHashAggregate` fallback keep, so a change here breaks data
  *    written by an earlier build;
  *  - where the function's result does not depend on partitioning, the
  *    grouped result over one partition equals the result merged from a
  *    3-way split with `sortBased.fallbackThreshold=1`, which sends every
  *    buffer through `serialize`.
  *
  * The state is built in-process: the entry's SQL is analyzed, its
  * aggregate function bound to the input columns and fed the input rows
  * in order, one buffer, no Spark job.
  */
class FoldStateSpec extends SparkSpec {

  /** `indep`: the function documents a partition-independent result. */
  private case class E(label: String, expr: String, from: String = "fold_in",
      indep: Boolean = true)

  private val entries = Seq(
    E("uniqUpTo_long", "uniqUpTo(5, id)"),
    E("uniqUpTo_string", "uniqUpTo(50, s)"),
    E("minhash_agg", "minhash_agg(s, 8)"),
    E("topk_by_score", "topk_by_score(struct(v, id), 5)"),
    E("quantile_sketch_agg", "quantile_sketch_agg(v, 0.01)", indep = false),
    E("quantile_sketch_merge_agg", "quantile_sketch_merge_agg(qs)", "fold_states", indep = false),
    E("sequenceNextNode", "sequenceNextNode('forward', 'head', ts, s, true, c1, c2)"),
    E("sumMap", "sumMap(ks, vs)"),
    E("minMap", "minMap(arr, darr)"),
    E("maxMap", "maxMap(ks, vs)"),
    E("sumForEach", "sumForEach(arr)"),
    E("minForEach", "minForEach(darr)"),
    E("maxForEach", "maxForEach(arr)"),
    E("avgForEach", "avgForEach(arr)", indep = false),
    E("freq_topk", "freq_topk(s, 3)"),
    E("freq_topk_weighted", "freq_topk_weighted(id % 7, w, 2)"),
    E("topK", "topK(s, 2)"),
    E("topKWeighted", "topKWeighted(s, w)"),
    E("windowFunnel", "windowFunnel(ts, 3600, c1, c2, b)"),
    E("windowFunnel_strict", "windowFunnel(ts, 600, 'strict_order', c1, c2)"),
    E("sequenceMatch", "sequenceMatch('(?1).*(?2)', ts, c1, c2)"),
    E("sequenceCount", "sequenceCount('(?1)(?2)', ts, c1, c2)"),
    E("bitmap_agg", "bitmap_agg(id)"),
    E("groupBitmap", "groupBitmap(id)"),
    E("bitmap_merge_agg", "bitmap_merge_agg(bm)", "fold_states"),
    E("bitmap_and_fold_agg", "bitmap_and_fold_agg(bm)", "fold_states"),
    E("groupBitmapOrState", "groupBitmapOrState(bm)", "fold_states"),
    E("groupBitmapXor", "groupBitmapXor(bm)", "fold_states"),
    E("groupArrayMovingSum", "groupArrayMovingSum(id, 3)", indep = false),
    E("groupArrayMovingAvg", "groupArrayMovingAvg(v)", indep = false),
    E("exponentialMovingAverage", "exponentialMovingAverage(v, ts, 600)"),
    E("maxIntersections", "maxIntersections(id % 10, id % 10 + 3)"),
    E("maxIntersectionsPosition", "maxIntersectionsPosition(id % 10, id % 10 + 3)"),
    E("exponentialTimeDecayedSum", "exponentialTimeDecayedSum(v, id, 5)"),
    E("exponentialTimeDecayedCount", "exponentialTimeDecayedCount(v, id, 5)"),
    E("exponentialTimeDecayedAvg", "exponentialTimeDecayedAvg(v, id, 5)"),
    E("exponentialTimeDecayedMax", "exponentialTimeDecayedMax(v, id, 5)"),
    E("histogram", "histogram(v, 5)", indep = false),
    E("histogram_default", "histogram(id)", indep = false),
    E("sparkbar", "sparkbar(id, w, 8)"),
    E("sparkbar_range", "sparkbar(id, w, 4, 0, 30)"),
    E("lttb", "lttb(id, v, 6)"),
    E("anyHeavy", "anyHeavy(s)", indep = false),
    E("uniqTheta_string", "uniqTheta(s)"),
    E("uniqTheta_long", "uniqTheta(id)"),
    E("corrMatrix", "corrMatrix(v, id)", indep = false),
    E("covarSampMatrix", "covarSampMatrix(v, id, w)", indep = false),
    E("covarPopMatrix", "covarPopMatrix(v)", indep = false),
    E("studentTTestOneSample", "studentTTestOneSample(v, 10)", indep = false),
    E("groupArrayInsertAt_string", "groupArrayInsertAt(s, id % 8)"),
    E("groupArrayInsertAt_sized", "groupArrayInsertAt(id, id % 5, 7, 6)"),
    E("groupArrayInsertAt_null", "groupArrayInsertAt(v, id % 4, NULL)"),
    E("sumKahan_double", "sumKahan(v)", indep = false),
    E("sumKahan_long", "sumKahan(id)"),
    E("anova", "anova(v, id % 2)", indep = false),
    E("analysisOfVariance_string", "analysisOfVariance(v, s)", indep = false),
    E("groupArrayIntersect", "groupArrayIntersect(arr)"),
    E("entropy", "entropy(s)"),
    E("cramersV", "cramersV(s, id % 2)"),
    E("cramersVBiasCorrected", "cramersVBiasCorrected(s, id % 2)"),
    E("theilsU", "theilsU(s, id % 2)"),
    E("contingency", "contingency(s, id % 2)"),
    E("quantileExactWeighted", "quantileExactWeighted(id, w, 0.5)"),
    E("medianExactWeighted", "medianExactWeighted(v, w)"),
    E("quantileInterpolatedWeighted", "quantileInterpolatedWeighted(v, w, 0.3)"),
    E("medianInterpolatedWeighted", "medianInterpolatedWeighted(id, w)"),
    E("quantilesExactWeighted", "quantilesExactWeighted(id, w, 0.25D, 0.75D)"),
    // a bare 0.25 parses as DECIMAL
    E("quantilesExactWeighted_decimal", "quantilesExactWeighted(id, w, 0.25, 0.75)"),
    E("deltaSum", "deltaSum(v)", indep = false),
    E("deltaSumTimestamp", "deltaSumTimestamp(v, ts)"),
    E("rankCorr", "rankCorr(v, id)"),
    E("studentTTest", "studentTTest(v, b)", indep = false),
    E("welchTTest", "welchTTest(v, b)", indep = false),
    E("mannWhitneyUTest", "mannWhitneyUTest(v, b)"),
    E("kolmogorovSmirnovTest", "kolmogorovSmirnovTest(v, b)"),
    E("meanZTest", "meanZTest(v, b, 1.0D, 2.0D, 0.95D)", indep = false),
    E("intervalLengthSum_long", "intervalLengthSum(id, e)"),
    E("intervalLengthSum_double", "intervalLengthSum(v, v + 2.5D)"),
    E("groupUniqArrayCapped_string", "groupUniqArrayCapped(s, 3)"),
    E("groupUniqArrayCapped_long", "groupUniqArrayCapped(id, 4)"),
    E("entropyState", "entropyState(s)", indep = false),
    E("entropyMerge", "entropyMerge(es)", "fold_states"),
    E("entropyMergeState", "entropyMergeState(es)", "fold_states", indep = false),
    E("quantileExactWeightedState", "quantileExactWeightedState(id % 10, w)", indep = false),
    E("quantileExactWeightedMerge", "quantileExactWeightedMerge(qw, 0.5)", "fold_states"),
    E("quantileExactWeightedMergeState", "quantileExactWeightedMergeState(qw)", "fold_states",
      indep = false)
  )

  /** SHA-256 prefix of each entry's serialized state. A different value
    * means states written by an earlier build no longer read back. */
  private val digests: Map[String, String] = Map(
    "uniqUpTo_long" -> "4bf5122f344554c5",
    "uniqUpTo_string" -> "b90a2d9b9b106bf2",
    "minhash_agg" -> "35e52d5f4b9aa50b",
    "topk_by_score" -> "9bb6eedd8f5b5329",
    "quantile_sketch_agg" -> "952f67d39479955e",
    "quantile_sketch_merge_agg" -> "cf50cab89b8ca534",
    "sequenceNextNode" -> "b6592ac8a952411f",
    "sumMap" -> "83f3a12f77474717",
    "minMap" -> "8f36700cc31f04a4",
    "maxMap" -> "473408d7bee4953a",
    "sumForEach" -> "8065d83be9863fd6",
    "minForEach" -> "a8a332c094a532fd",
    "maxForEach" -> "e730bbd77f865fc6",
    "avgForEach" -> "0b3e0e758a52ad99",
    "freq_topk" -> "a967a5669bc675d5",
    "freq_topk_weighted" -> "8eb1bdca8e382d64",
    "topK" -> "a967a5669bc675d5",
    "topKWeighted" -> "97b9d338caaabec5",
    "windowFunnel" -> "71e8a30f73df7032",
    "windowFunnel_strict" -> "9ddad61d42a6a52c",
    "sequenceMatch" -> "9ddad61d42a6a52c",
    "sequenceCount" -> "9ddad61d42a6a52c",
    "bitmap_agg" -> "b0d680cc00277d72",
    "groupBitmap" -> "b0d680cc00277d72",
    "bitmap_merge_agg" -> "b0d680cc00277d72",
    "bitmap_and_fold_agg" -> "dc10626391331f95",
    "groupBitmapOrState" -> "43482513be74ee5d",
    "groupBitmapXor" -> "43482513be74ee5d",
    "groupArrayMovingSum" -> "50ae86fd586e8629",
    "groupArrayMovingAvg" -> "6cf02701c94a82af",
    "exponentialMovingAverage" -> "5cc7f6e2e8b769ad",
    "maxIntersections" -> "95f6a90e5d1f59ee",
    "maxIntersectionsPosition" -> "95f6a90e5d1f59ee",
    "exponentialTimeDecayedSum" -> "56b5ea756971d85d",
    "exponentialTimeDecayedCount" -> "56b5ea756971d85d",
    "exponentialTimeDecayedAvg" -> "56b5ea756971d85d",
    "exponentialTimeDecayedMax" -> "56b5ea756971d85d",
    "histogram" -> "b47111514b368ef7",
    "histogram_default" -> "f1ea10c12609b37b",
    "sparkbar" -> "384c1bb37390b14b",
    "sparkbar_range" -> "384c1bb37390b14b",
    "lttb" -> "56b5ea756971d85d",
    "anyHeavy" -> "9f57df25d5d788bf",
    "uniqTheta_string" -> "2cd82bbb1fe55816",
    "uniqTheta_long" -> "b6c5aad368b2ccd1",
    "corrMatrix" -> "a9a1cd3ee90d706d",
    "covarSampMatrix" -> "5f99052dd59bdeb0",
    "covarPopMatrix" -> "9c101889bab43dc8",
    "studentTTestOneSample" -> "9c101889bab43dc8",
    "groupArrayInsertAt_string" -> "e4942297e6b1f134",
    "groupArrayInsertAt_sized" -> "8485dce1550dc3d8",
    "groupArrayInsertAt_null" -> "38f71f29e3bd7db3",
    "sumKahan_double" -> "b14611fdd145271d",
    "sumKahan_long" -> "94ada6dfbf8b30a7",
    "anova" -> "62f1ff106e0268da",
    "analysisOfVariance_string" -> "d92876cc8a809f72",
    "groupArrayIntersect" -> "c94c6e6368bfb4c4",
    "entropy" -> "97ef0483ff82e2aa",
    "cramersV" -> "d732edb043eb1495",
    "cramersVBiasCorrected" -> "d732edb043eb1495",
    "theilsU" -> "d732edb043eb1495",
    "contingency" -> "d732edb043eb1495",
    "quantileExactWeighted" -> "7d304d9aba47a832",
    "medianExactWeighted" -> "8c5adc0b5d923beb",
    "quantileInterpolatedWeighted" -> "8c5adc0b5d923beb",
    "medianInterpolatedWeighted" -> "7d304d9aba47a832",
    "quantilesExactWeighted" -> "7d304d9aba47a832",
    "quantilesExactWeighted_decimal" -> "7d304d9aba47a832",
    "deltaSum" -> "35f5e3cd96522f9f",
    "deltaSumTimestamp" -> "5cc7f6e2e8b769ad",
    "rankCorr" -> "d23c111e64ab4a8a",
    "studentTTest" -> "a0f541943c513093",
    "welchTTest" -> "a0f541943c513093",
    "mannWhitneyUTest" -> "99a5bbec0a385368",
    "kolmogorovSmirnovTest" -> "99a5bbec0a385368",
    "meanZTest" -> "a0f541943c513093",
    "intervalLengthSum_long" -> "7936cef7ba25b3d7",
    "intervalLengthSum_double" -> "765e634b5a3fb3b5",
    "groupUniqArrayCapped_string" -> "3897abfb56a5234b",
    "groupUniqArrayCapped_long" -> "b51132888a076d64",
    "entropyState" -> "97ef0483ff82e2aa",
    "entropyMerge" -> "97ef0483ff82e2aa",
    "entropyMergeState" -> "97ef0483ff82e2aa",
    "quantileExactWeightedState" -> "30c42d0ae98665fc",
    "quantileExactWeightedMerge" -> "30c42d0ae98665fc",
    "quantileExactWeightedMergeState" -> "30c42d0ae98665fc")

  private lazy val views: Unit = {
    graft.functions.ChCompat.register(spark)
    spark.sql(
      """SELECT id, CAST(id % 3 AS INT) AS g,
        |       id * 1.5D + CAST(id % 7 AS DOUBLE) AS v,
        |       concat('k', CAST(id % 5 AS STRING)) AS s,
        |       timestamp_seconds(1700000000L + id * 37L) AS ts,
        |       id % 2 = 0 AS b, id % 3 = 0 AS c1, id % 4 = 1 AS c2,
        |       array(id % 4, id % 6, 2L) AS arr,
        |       array(id * 0.5D, 1.0D, CAST(id % 5 AS DOUBLE)) AS darr,
        |       array(concat('a', CAST(id % 3 AS STRING)), 'z') AS ks,
        |       array(id, 1L) AS vs,
        |       id % 3 + 1 AS w, id + 10 AS e
        |FROM range(0, 60, 1, 1)""".stripMargin).createOrReplaceTempView("fold_in")
    // one state row per g, materialized so every read sees the same bytes
    val states = spark.sql(
      """SELECT g, bitmap_agg(id) AS bm, quantile_sketch_agg(v) AS qs,
        |       entropyState(s) AS es, quantileExactWeightedState(id % 10, w) AS qw
        |FROM fold_in GROUP BY g ORDER BY g""".stripMargin)
    spark.createDataFrame(java.util.Arrays.asList(states.collect(): _*), states.schema)
      .createOrReplaceTempView("fold_states")
  }

  private def hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).take(8).map("%02x".format(_)).mkString

  /** The entry's aggregate, bound to its input, and its one buffer after
    * every input row. */
  private def fold(e: E): (TypedImperativeAggregate[Any], Any) = {
    val plan = spark.sql(s"SELECT ${e.expr} FROM ${e.from}").queryExecution.analyzed
    val agg = plan.collectFirst { case a: Aggregate => a }.get
    val fn = agg.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction }).head
    val bound = BindReferences.bindReference(fn: Expression, agg.child.output)
      .asInstanceOf[TypedImperativeAggregate[Any]]
    val rows = spark.sessionState.executePlan(agg.child).toRdd.map(_.copy()).collect()
    val buf = bound.createAggregationBuffer()
    rows.foreach(bound.update(buf, _))
    (bound, buf)
  }

  test("every aggregate state round-trips and serializes to its recorded bytes") {
    views
    val got = entries.map { e =>
      val (agg, buf) = fold(e)
      val bytes = agg.serialize(buf)
      assert(agg.serialize(agg.deserialize(bytes)).sameElements(bytes),
        s"${e.label}: state does not round-trip")
      e.label -> hex(bytes)
    }
    val wrong = got.filter { case (l, h) => !digests.get(l).contains(h) }
    assert(wrong.isEmpty,
      "state bytes differ from the recorded ones:\n" +
        wrong.map { case (l, h) => s"""    "$l" -> "$h",""" }.mkString("\n"))
  }

  test("partition-independent results survive a 3-way split through serialize") {
    views
    def run(e: E, from: String): Seq[Row] = {
      val key = if (e.from == "fold_in") "g" else "g % 1"
      spark.sql(s"SELECT $key AS k, ${e.expr} AS r FROM $from GROUP BY $key")
        .collect().sortBy(_.get(0).toString).toSeq
    }
    for (e <- entries if e.indep) {
      val whole = run(e, e.from)
      val split = withSqlConf(
          "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1") {
        run(e, s"(SELECT /*+ REPARTITION(3) */ * FROM ${e.from})")
      }
      assert(whole == split, s"${e.label}: one partition $whole, 3-way split $split")
    }
  }
}
