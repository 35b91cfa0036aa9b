package graft

import graft.fuzz.FuzzGen
import scala.sys.process._

/** Randomized differential fuzz vs DuckDB (VERDICT r9 #2).
  *
  * Runs the seeded [[FuzzGen]] corpus through the Spark dialect, dumps each
  * result as parquet + the DuckDB translation as oracle_sql.json, and
  * drives `tools/local_verify.py` — the exact strict compare the driver's
  * correctness gate uses (row count, schema, value-by-value, int/float
  * dtype-kind agreement). Any FAIL here is either a dialect bug (fix it,
  * promote the seed to a declared regression query) or a generator
  * translation bug (fix the generator).
  *
  * The seed range is FIXED — same seeds, same data, same queries, forever —
  * so this suite is deterministic, not flaky-by-design. Cancels (does not
  * pass) when the dev-side python/duckdb harness is unavailable: the
  * shipped library never depends on it.
  */
class FuzzParitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  // 1-200 single-table; 201-260 two-table joins; 261-300 CH-dialect text
  // through the ChSql shim chain (literal edges in the line of fire);
  // 301-320 keyword-named quoted identifiers + OR-bearing PREWHERE
  // companions (the clause-boundary scanner edges); 321-360 two-phase
  // -State/-Merge rollups vs DuckDB's direct aggregation (the MV
  // invariant at randomized combinator × key × filter × null shapes);
  // 361-400 OVER-windows + QUALIFY (ChQualify rewrite vs DuckDB's native
  // QUALIFY, lagInFrame/leadInFrame spellings, framed decimal sums);
  // 401-425 ASOF [LEFT] JOIN dialect text (ChAsof rewrite + AsOfJoin
  // operator) vs a direction-agnostic DuckDB LATERAL limit-1 mirror;
  // 426-450 exact quantile levels (Inclusive vs DuckDB's own
  // quantile_cont; Exclusive vs the written-out clamped rank formula);
  // 451-480 the per-group limit family — LIMIT [o,] n BY / DISTINCT ON /
  // LIMIT n WITH TIES through the ChLimitBy / ChDistinctOn / withTies
  // rewrites vs QUALIFY row_number()/rank() and DuckDB's NATIVE
  // DISTINCT ON; 481-510 projection routing — raw-events aggregates the
  // ProjectionRewrite must answer from a registered state table (plan
  // asserted) vs DuckDB's direct aggregation of the raw rows; 511-530
  // WITH ROLLUP/CUBE/TOTALS through the ChSql rewrites vs DuckDB's
  // native ROLLUP/CUBE/GROUPING SETS super-aggregates; 531-560 the routed
  // aggregate under POST-AGGREGATE machinery — HAVING over merged metrics
  // (incl. decomposed avg), ORDER BY metric + LIMIT above the routing,
  // and mixed UNION ALL with one branch routed and one provably raw;
  // 561-590 the CH array-lambda battery (arrayMap/Filter/Sort/Slice/
  // push/pop/concat chains + empty-total reducers) vs DuckDB's list_*
  // battery with its inclusive-end slices and NULL-returning sums;
  // 591-620 the CH calendar battery (toStartOf* truncations, Monday=1
  // weekdays, ISO weeks, toYYYYMM, last-day/month-name/formatDateTime,
  // addDate/subDate, time-of-day + epoch-anchored truncation) vs
  // DuckDB's isodow/weekofyear/date_trunc/strftime/INTERVAL/epoch;
  // 621-650 the CH string battery (split/rejoin, CH-arg-order position,
  // countSubstrings, pad/trim, replace/regexp, base64 round-trips,
  // multiSearchAny, starts/endsWith) vs DuckDB's string_split/
  // position-IN/lpad/regexp_replace('g')/encode-base64 spellings;
  // 651-680 the CH JSON family (name-keyed JSONExtract*/Has, sorted
  // keys, JSONLength's array-or-object contract, raw extraction, missing
  // keys) vs DuckDB's path-keyed json_extract battery;
  // 681-710 the CH bit/int-math battery (bitAnd/Or/Xor/Not, shifts,
  // bitCount, bitTest, intDiv, multiIf, nullif/ifnull null
  // edges) vs DuckDB's operator spellings (& | xor ~ << >> bit_count
  // // CASE) — all-integer, bit-exact by construction
  private val seeds = 1 to 710

  private def duckdbAvailable: Boolean =
    try Seq("python3", "-c", "import duckdb, pandas").! == 0
    catch { case _: Exception => false }

  test("seeded fuzz corpus matches DuckDB under the strict driver compare") {
    assume(duckdbAvailable, "python3+duckdb (dev-side oracle) not available")
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")

    val t = Tables(spark, sfDir)
    Seq("lineitem" -> t.lineitem, "orders" -> t.orders, "events" -> t.events,
        "documents" -> t.documents, "customer" -> t.customer, "part" -> t.part)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    graft.functions.ChCompat.register(spark)

    // the ASOF band's view pair — SAME SQL text the generator mirrors into
    // the DuckDB WITH clauses, so the two sides cannot drift
    FuzzGen.asofViewSql.foreach { case (v, q) =>
      spark.sql(q).createOrReplaceTempView(v) }

    // the projection band's state table over the FULL events source —
    // every mustRoute seed must be answered from it, while DuckDB
    // aggregates the raw rows. The projection is registered ONLY while
    // the mustRoute seeds run (inside their try, deregistered in the
    // finally): active registration during the other bands would silently
    // route THEIR key-expressible events aggregates too, diluting the
    // raw-path coverage those bands exist for — and a leak past this test
    // would let later suites' events aggregates route to a stale table.
    import org.apache.spark.sql.functions.{col, count, count_distinct, expr, lit, max, min, sum}
    val projSrc = t.events.withColumn("day", expr("CAST(ts AS DATE)"))
    val projSt = new graft.mv.StateTable(spark, tmpDir("fz-proj") + "/st",
      keys = Seq("day", "event_type"), partitionCol = "day",
      metrics = Seq(
        graft.mv.CountMetric("cnt"),
        graft.mv.SumMetric("v_dec", expr("CAST(value AS DECIMAL(18,2))")),
        graft.mv.BitmapUvMetric("uv", col("user_id")),
        graft.mv.MinMetric("v_min", col("value")),
        graft.mv.MaxMetric("v_max", col("value")),
        graft.mv.SumMetric("uid_sum", col("user_id")),
        graft.mv.CountValuesMetric("uid_cnt", col("user_id"))))
    for (i <- 0 until 3)
      projSt.appendBatch(projSrc.filter(expr(s"event_id % 3 = $i")))
    def registerProjection(): Unit =
      graft.mv.Projection.register(spark, projSt, projSrc, Seq(
        "cnt" -> count(lit(1)),
        "v_dec" -> sum(expr("CAST(value AS DECIMAL(18,2))")),
        "uv" -> count_distinct(col("user_id")),
        "v_min" -> min(col("value")),
        "v_max" -> max(col("value")),
        "uid_sum" -> sum(col("user_id")),
        "uid_cnt" -> count(col("user_id"))))

    val out = tmpDir("graft-fuzz")
    val oracle = new StringBuilder("{")
    var first = true
    def runOne(q: FuzzGen.FuzzQuery): Unit = {
      val df =
        // the engine's dialect front door: the full shim chain in
        // production order (ChReplay.runQuery runs the same call)
        if (q.viaChSql) graft.engine.ChSql.run(spark, q.sparkSql)
        else spark.sql(q.sparkSql)
      if (q.mustRoute) {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("fz-proj") && !plan.contains("events.parquet"),
          s"${q.name} was not projection-routed:\n$plan")
      }
      if (q.mixedRoute) {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("fz-proj"),
          s"${q.name}: the routable union branch was not routed:\n$plan")
        assert(plan.contains("events.parquet"),
          s"${q.name}: the unroutable union branch (unregistered aggregate) " +
            s"was routed away from the raw scan:\n$plan")
      }
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
      if (!first) oracle.append(",\n")
      first = false
      oracle.append(jsonStr(q.name)).append(": ").append(jsonStr(q.duckSql))
    }
    // raw-path bands run WITHOUT the projection (else their key-expressible
    // events aggregates would silently route, diluting the raw coverage);
    // the routing band runs under its registration, deregistered in the
    // finally even if registration itself or a seed fails
    val (routeSeeds, rawSeeds) =
      FuzzGen.queries(seeds).partition(q => q.mustRoute || q.mixedRoute)
    rawSeeds.foreach(runOne)
    try {
      registerProjection()
      routeSeeds.foreach(runOne)
    } finally graft.mv.Projection.deregister(spark, projSt)
    oracle.append("}\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "oracle_sql.json"),
      oracle.toString.getBytes("UTF-8"))

    val buf = new StringBuilder
    val code = Process(Seq("python3", "tools/local_verify.py", sfDir, out))
      .!(ProcessLogger(l => buf.append(l).append('\n'), l => buf.append(l).append('\n')))
    val tail = buf.toString.linesIterator.filter(_.startsWith("FAIL")).take(10).mkString("\n")
    assert(code == 0 && buf.toString.contains(" 0 fail"),
      s"fuzz parity failures:\n$tail\n(full log ${buf.length} chars)")
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
