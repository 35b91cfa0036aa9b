package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._

/** ClickHouse-dialect function names registered as Spark SQL functions, so
  * the reference's queries run verbatim through `spark.sql(...)` —
  * the "a user of the reference could switch" surface.
  *
  * Each name maps onto the Spark expression with matching semantics
  * (SURVEY.md §2.7's function-by-function table):
  *
  * {{{
  *   toDate(second)            -> cast to date            (ods.action_001_dis.sql:3)
  *   toStartOfHour(second)     -> date_trunc('HOUR', ·)   (:4)
  *   toUInt32(x)               -> truncate + wrap mod 2^32 (dwm:50,114)
  *   toUInt64(x)               -> truncate to long        (see note below)
  *   uniqCombined(x)           -> approx_count_distinct   (doc:304-316)
  *   uniqExact(x)              -> count(distinct)         (doc:305)
  *   groupBitmap(x)            -> bitmap cardinality of bitmap_agg (dwm:134-139)
  *   bitmapCardinality / bitmapAnd / bitmapOr /
  *   bitmapAndCardinality / bitmapOrCardinality           (doc:1207-1238)
  *   medianExact(x)            -> percentile(x, 0.5)      (dwm:83)
  * }}}
  *
  * Plus the full `-State` / `-Merge` / `-If` combinator family the
  * reference's flagship MV SELECT and read-side merge are written in
  * (dwm.mainpage_stat_mv_dis.sql:28-70, 100-131, 184-200, 280-290):
  * `uniqCombinedState[If]` / `uniqCombinedMerge[State]` / `uniqCombinedIf`
  * over Spark's Datasketches HLL aggregates, `groupBitmapState[If]` /
  * `groupBitmapMerge[State]` over [[Bitmaps]], `medianExactState` /
  * `medianExactMerge[State]` over sorted-array states, `sumState` /
  * `sumSimpleState` / `sumMerge` (SimpleAggregateFunction: the partial IS
  * the value, doc:510-605), and `sumIf` / `countIf` / `uniqExactIf`.
  *
  * `dictGet('db.dict', 'attr', key)` resolves through the
  * [[Dictionaries]] registry (ref dim.dict_user_dim.sql:24-27) — the
  * dictionary must be registered on the session before the query is parsed.
  *
  * toUInt64 note: CH wraps negatives mod 2^64 into [2^63, 2^64) which has
  * no JVM-long representation; our toUInt64 keeps the two's-complement
  * bit pattern (same 64 bits, different sign display). toUInt32 wraps
  * exactly (mask 0xFFFFFFFF), matching CH for all inputs.
  */
object ChCompat {

  /** Bind the [[FunctionTable]] into a session built without
    * [[graft.GraftExtensions]], create CH's one-row `system.one` and add
    * [[graft.engine.SmallSort]] to the session's extra strategies (once).
    * Idempotent: a session whose registry already binds the table's last
    * entry to our builder instance (a repeat call, an extensions session,
    * a clone of a registered session) costs one registry lookup. A
    * registration that fails part-way leaves that entry unbound, so the
    * next call retries it.
    */
  def register(spark: SparkSession): Unit = if (!registered(spark)) synchronized {
    if (!registered(spark)) {
      // CH's one-row system table (`FROM system.one` — the doc's hand-built
      // rows idiom, doc:335-495, selects literals from it)
      if (!spark.catalog.databaseExists("system") ||
          !spark.catalog.tableExists("system.one")) {
        spark.sql("CREATE DATABASE IF NOT EXISTS system")
        spark.sql("CREATE OR REPLACE VIEW system.one AS SELECT 0 AS dummy")
      }
      graft.LogNoise.silence()
      val exp = spark.experimental
      if (!exp.extraStrategies.contains(graft.engine.SmallSort))
        exp.extraStrategies = exp.extraStrategies :+ graft.engine.SmallSort
      val tables = spark.sessionState.tableFunctionRegistry
      FunctionTable.tableFunctions.foreach { case (id, info, b) => tables.registerFunction(id, info, b) }
      val reg = spark.sessionState.functionRegistry
      FunctionTable.functions.foreach { case (id, info, b) => reg.registerFunction(id, info, b) }
    }
  }

  private lazy val last = FunctionTable.functions.last

  private def registered(spark: SparkSession): Boolean =
    spark.sessionState.functionRegistry.lookupFunctionBuilder(last._1).exists(_ eq last._3)

  private[functions] val functions = FunctionTable.define(this) { f =>
    // ---- misc introspection / control ---------------------------------
    f("throwIf") { es =>
      val msg = if (es.length >= 2) es(1)
        else Literal("throwIf: condition was true")
      If(es.head, Cast(RaiseError(msg), IntegerType), Literal(0))
    }
    f("ignore") { es => Literal(0) }
    f("identity") { es => es.head }
    f("materialize") { es => es.head }
    f("currentDatabase") { _ => CurrentDatabase() }
    f("currentUser") { _ => CurrentUser() }
    f("version") { _ => SparkVersion() }

    // ---- dictionary lookup (dim.dict_user_dim.sql:24-27) -------------
    // key is cast to long (dictionary PRIMARY KEY is UInt64); TRY mode
    // makes uncastable keys act as missing rather than fail the job.
    // COMPLEX_KEY_HASHED dictionaries take the key tuple instead:
    // dictGet(d, a, tuple(k1, k2)) or the flat dictGet(d, a, k1, k2).
    f("dictGet") { es =>
      val dictName = stringLit(es(0), "dictGet dictionary name")
      val attr = stringLit(es(1), "dictGet attribute name")
      es.drop(2) match {
        case Seq(t: CreateNamedStruct) =>
          DictGetComplexExpr(dictName, attr, t.valExprs)
        case Seq(single) =>
          DictGetExpr(dictName, attr, Cast(single, LongType, None, EvalMode.TRY))
        case multi =>
          DictGetComplexExpr(dictName, attr, multi)
      }
    }
    // CH tuple(...) — here only meaningful as the dictGet key carrier, but
    // it resolves anywhere a struct does
    f("tuple")(es => CreateStruct(es))
  }

  /** CH's table functions, the [[FunctionTable]]'s two plan-valued entries. */
  private[functions] val tableFunctions: Seq[FunctionTable.Entry[LogicalPlan]] = Seq(
    // numbers(N) / numbers(offset, N) — CH's generated source (doc:565-597
    // sizing experiments; SURVEY §2.1 S8); output column is `number` like
    // CH, not range()'s id
    FunctionTable.entry(this, "numbers", { es: Seq[Expression] =>
        def intLit(e: Expression, what: String): Long = e match {
          case Literal(v: Number, ByteType | ShortType | IntegerType | LongType) =>
            v.longValue()
          case other => throw new IllegalArgumentException(
            s"numbers: $what must be an integer literal, got: ${other.sql}")
        }
        val (start, count) = es match {
          case Seq(n) => (0L, intLit(n, "N"))
          case Seq(off, n) => (intLit(off, "offset"), intLit(n, "N"))
          case _ => throw new IllegalArgumentException(
            s"numbers takes 1 or 2 arguments, got ${es.length}")
        }
        val range = org.apache.spark.sql.catalyst.plans.logical.Range(
          start, start + count, 1L, None)
        org.apache.spark.sql.catalyst.plans.logical.Project(
          Seq(Alias(range.output.head, "number")()), range)
      }),

    // merge(db, 'tables_regexp') — CH's union table function: every
    // table of `db` whose name matches the (unanchored) regex, unioned BY
    // NAME, with the `_table` virtual column naming each row's source.
    // Missing columns resolve as NULL (documented divergence: CH fills
    // type defaults). Tables enumerate at plan construction — the regex
    // is against the catalog, resolution stays with the analyzer. `db`
    // is CH's `currentDatabase()` or any constant string.
    // The builder runs during analysis, where the active session is the
    // querying one.
    FunctionTable.entry(this, "merge", { es: Seq[Expression] =>
        val spark = SparkSession.active
        require(es.length == 2, s"merge takes (db, tables_regexp), got ${es.length} args")
        val db = es(0) match {
          case CurrentDatabase() => spark.catalog.currentDatabase
          case e if e.resolved && e.foldable && e.dataType == StringType && e.eval() != null =>
            e.eval().toString
          case e => stringLit(e, "merge database")
        }
        val re = stringLit(es(1), "merge tables_regexp").r
        // listTables(db) returns session temp views for ANY db argument;
        // CH merge() is database-scoped, so temp views only participate
        // when the caller targets the session's current database
        val tempOk = db.equalsIgnoreCase(spark.catalog.currentDatabase)
        val matches = spark.catalog.listTables(db).collect()
          .filter(t => !t.isTemporary || tempOk)
          .filter(t => re.findFirstIn(t.name).isDefined)
          .sortBy(_.name)
        require(matches.nonEmpty, s"merge: no tables in '$db' match '${re.pattern}'")
        import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedStar}
        import org.apache.spark.sql.catalyst.plans.logical.{Project, Union}
        val scans = matches.toSeq.map { t =>
          // temp views live outside the database namespace — single-part name
          val rel = UnresolvedRelation(
            if (t.isTemporary) Seq(t.name) else Seq(db, t.name))
          Project(Seq(UnresolvedStar(None),
            Alias(Literal(t.name), "_table")()), rel)
        }
        if (scans.length == 1) scans.head
        else Union(scans, byName = true, allowMissingCol = true)
      }))

  /** The `-If` combinator: feed the value only where cond holds; Spark
    * aggregates skip nulls, exactly CH's conditional-aggregate semantics.
    * (Builders run on unresolved children, so the null literal is NullType
    * and the analyzer's If coercion widens it to the value's type.)
    */
  private[functions] def onlyIf(cond: Expression, value: Expression): Expression =
    If(cond, value, Literal(null))

  /** CH/MySQL formatDateTime specifiers → Java DateTimeFormatter pattern.
    * Note %i is minute (the MySQL convention CH follows); unsupported
    * specifiers fail loudly rather than formatting garbage. Literal
    * letters are single-quoted for Java; quotes themselves are doubled.
    */
  private[functions] def chFormatToJava(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => out.append("yyyy")
          case 'y' => out.append("yy")
          case 'm' => out.append("MM")
          case 'd' => out.append("dd")
          case 'H' => out.append("HH")
          case 'i' => out.append("mm")
          case 'S' => out.append("ss")
          case 'F' => out.append("yyyy-MM-dd")
          case 'T' => out.append("HH:mm:ss")
          case '%' => out.append('%')
          case other => throw new IllegalArgumentException(
            s"formatDateTime: unsupported specifier %$other in '$fmt'")
        }
        i += 2
      } else {
        if (c == '\'') out.append("''")
        else if (c.isLetter) out.append('\'').append(c).append('\'')
        else out.append(c)
        i += 1
      }
    }
    out.toString
  }

  /** uniqCombinedState: Datasketches HLL partial, lgK=12 everywhere so
    * states written by any query merge with any other (doc:304-505).
    */
  private[functions] def hllState(child: Expression): AggregateExpression =
    HllSketchAgg(child, Literal(12)).toAggregateExpression()

  private[functions] def hllMerge(child: Expression): AggregateExpression =
    HllUnionAgg(child, Literal(true)).toAggregateExpression()

  /** Merge sorted-array median states: concat + re-sort. Built once and
    * shared by reference inside medianFinalize so the aggregate runs once.
    */
  private[functions] def medianMerged(child: Expression): Expression =
    SortArray(Flatten(CollectList(child).toAggregateExpression()), Literal(true))

  /** Exact median of a sorted-array state — the expression twin of
    * [[Medians.median_finalize]] (linear interpolation on even n).
    * `sorted` is referenced multiple times as the SAME instance, so the
    * planner computes the underlying aggregate exactly once.
    */
  private[functions] def medianFinalize(sorted: Expression): Expression = {
    val n = Size(sorted)
    def at(i: Expression) = Cast(ElementAt(sorted, Cast(i, IntegerType)), DoubleType)
    val lo = at(IntegralDivide(Add(n, Literal(1)), Literal(2)))
    val hi = at(Add(IntegralDivide(n, Literal(2)), Literal(1)))
    If(EqualTo(n, Literal(0)), Literal.create(null, DoubleType),
      If(EqualTo(Pmod(n, Literal(2)), Literal(1)), lo,
        Divide(Add(lo, hi), Literal(2.0d))))
  }

  private[functions] def stringLit(e: Expression, what: String): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got: ${other.sql}")
  }

  /** CH's `LIMIT n BY group` clause (first n rows per group in the given
    * order) as a DataFrame transform — Spark's parser has no LIMIT BY, so
    * this is the API-level equivalent: row_number over (by, order), keep
    * rn <= n. Same distributed shape as CH's implementation: one shuffle
    * on the BY key, each group reduced in its own task — the operator is
    * only scale-safe when the BY key is high-cardinality (per-customer,
    * per-document…), exactly as in CH. Callers must include a total
    * tie-break in `order` for deterministic output.
    */
  def limitBy(df: org.apache.spark.sql.DataFrame, n: Int,
      by: Seq[org.apache.spark.sql.Column],
      order: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    df.withColumn("__rn", row_number().over(Window.partitionBy(by: _*).orderBy(order: _*)))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }
}

