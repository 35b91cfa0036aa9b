package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, expr}

import graft.functions.{ChCompat, StatAggregates, VectorQuant}

/** The scalar primitives are `Kernel`s: each compiles to a static call
  * inside whole-stage codegen, propagates NULL, and type-checks at
  * analysis. One projection calls a function of every converted family.
  */
class KernelSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  override def beforeAll(): Unit = {
    super.beforeAll()
    ChCompat.register(spark)
  }

  /** `CodegenFallback` expressions in the executed plan, counted as the
    * perfbench trace counts them. */
  private def fallbacks(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) { case n =>
      n.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
    }.sum

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  test("converted kernels stay inside whole-stage codegen") {
    // binary states from real aggregates, fed back as non-foldable columns
    val states = spark.sql(
      "SELECT entropyState(CAST(id % 3 AS STRING)) e, quantile_sketch_agg(id) q FROM range(10)").head()
    val base = spark.range(0, 20).selectExpr(
      "id",
      "CAST(id AS STRING) || ' the quick  <b>fox</b>, 42!' AS s",
      "array(CAST(id AS STRING), 'the', 'a b') AS toks",
      "array(id, id + 1, 2L) AS sig",
      "array(CAST(id AS FLOAT), 1.0F, 2.0F, 0.5F) AS vec",
      s"IF(id >= 0, unhex('${hex(states.getAs[Array[Byte]](0))}'), NULL) AS ent",
      s"IF(id >= 0, unhex('${hex(states.getAs[Array[Byte]](1))}'), NULL) AS qs")
    val cb = Array(Array(Array(1f, 0f), Array(0f, 1f)), Array(Array(1f, 1f), Array(0f, 0f)))
    val sqlCalls = Seq(
      // text front
      "ws_tokens(s)", "ws_tokens_lower(s)", "ws_token_count(s)",
      "token_set_count(toks, array('the', 'a'), true)", "char_set_count(s, array('!', ','))",
      "char_set_count(s, array('字'))", "shingles_n(toks, 2)", "compression_ratio(s)",
      "bpeEncode(s, array('t h', 'th e'))",
      // dedup
      "lsh_buckets(sig, 1, 3)", "sig_match_count(sig, sig)", "simhash64(toks)",
      "lsh_signatures(vec, 2, 4)",
      // bitmap algebra and the other ChCompat scalars
      "bitmapCardinality(bitmapAnd(bitmapBuild(sig), bitmapBuild(array(id))))",
      "bitmapContains(bitmapBuild(sig), id)", "bitmapHasAny(bitmapBuild(sig), bitmapBuild(sig))",
      "bitmapToArray(bitmapSubsetInRange(bitmapBuild(sig), 0, 10))",
      "bitmapMax(bitmapTransform(bitmapBuild(sig), array(2L), array(7L)))",
      "byteSize(s)", "arrayAUC(vec, array(1, 0, 1, 0))", "mapAdd(map(id, 1L), map(id, 2L))",
      "mapPopulateSeries(map(id, 1L), id + 2)", "arrayShiftLeft(sig, 1)",
      "arrayShiftRight(sig, 1, id)",
      // vectors
      "cosine_sim(vec, vec)", "l2_norm(vec)", "quantize_int8(vec)",
      "pq_adc_dot(array(CAST(id % 2 AS INT), 1), array(0.5D, 1.5D, 2.5D, 3.5D))",
      // geo and formatting
      "greatCircleDistance(id, 0, id + 1, 1)", "geohashDecode(geohashEncode(id, 1))",
      "pointInPolygon(struct(id, 0.5D), array(struct(0D, 0D), struct(10D, 0D), struct(10D, 10D)))",
      "formatReadableSize(id)", "bar(id, 0, 20, 10)",
      // html / utf-8 / json
      "extractTextFromHTML(s)", "normalizeUTF8NFC(s)", "isValidUTF8(s)",
      "extractAllGroupsHorizontal(s, '(\\\\w)(\\\\w)')", "JSONExtractArrayRaw('[1,' || id || ']')",
      // string distance, statistics, hashes
      "jaroSimilarity(s, 'the')", "erf(id)", "proportionsZTest(id, 1, id + 10, 10, 0.95, 'pooled')",
      "minSampleSizeConversion(0.1, 0.05 + id / 1000, 0.8, 0.05)", "entropyFinalize(ent)",
      "quantile_sketch_value(qs, 0.5)", "sipHash64(s)")
    val df = base.select(sqlCalls.map(expr) ++ Seq(
      VectorQuant.pq_encode(col("vec"), cb), StatAggregates.entropy_finalize(col("ent"))): _*)
    // a generated-code compile error fails the query instead of falling
    // back to interpreted evaluation
    withSqlConf("spark.sql.codegen.fallback" -> "false") {
      assert(df.collect().length == 20)
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(fallbacks(df) == 0, plan)
  }

  test("NULL in gives NULL out, per arity") {
    val n = spark.range(1).selectExpr(
      "CAST(IF(id < 0, 'x', NULL) AS STRING) s", "IF(id < 0, array(1L), NULL) a",
      "IF(id < 0, X'00', NULL) b", "IF(id < 0, 1L, NULL) x")
    val r = n.selectExpr("ws_token_count(s)", "sig_match_count(a, a)",
      "bitmapSubsetInRange(b, x, x)", "greatCircleDistance(x, x, x, x)",
      "proportionsZTest(x, x, x, x, x, s)").head()
    (0 until r.length).foreach(i => assert(r.isNullAt(i), s"column $i: $r"))
    // the interpreted path (constant folding) agrees
    assert(spark.sql("SELECT ws_token_count(CAST(NULL AS STRING))").head().isNullAt(0))
  }

  test("a wrong argument type fails analysis with the kernel's message") {
    val e = intercept[AnalysisException] {
      spark.sql("SELECT ws_token_count(array(1))").collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    assert(e.getMessage.contains("ws_token_count requires (string)"), e.getMessage)
  }
}
