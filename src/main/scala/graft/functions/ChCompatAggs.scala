package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.types._

/** ChCompat's aggregate families: misc aggregates/aliases, the common CH
  * aggregate names, uniq family, combinators (-Distinct/-OrNull/
  * -OrDefault/-Resample, sum/count), higher moments, bitmap family,
  * medianExact, and the bounded tdigest quantile states. Split out of
  * [[ChCompat]] verbatim.
  */
private[functions] object ChCompatAggs {

  import ChCompat.{onlyIf, hllState, hllMerge, medianMerged, medianFinalize}

  val functions = FunctionTable.define(this) { f =>
    // ---- misc aggregates / aliases ------------------------------------
    // exactly one distinct value → that value, else NULL
    f("singleValueOrNull") { es =>
      If(EqualTo(Count(Seq(es.head)).toAggregateExpression(isDistinct = true),
        Literal(1L)), Min(es.head).toAggregateExpression(), Literal(null, NullType))
    }
    // CH groupConcat / arrayStringConcat-over-groupArray shorthand
    // (arrival order, like CH without ORDER BY)
    f("groupConcat") { es =>
      val sep = if (es.length >= 2) es(1) else Literal("")
      ArrayJoin(CollectList(es.head).toAggregateExpression(), sep, None)
    }
    // CH window-frame spellings of lag/lead
    f("lagInFrame") { es =>
      new Lag(es(0), if (es.length >= 2) es(1) else Literal(1),
        if (es.length >= 3) es(2) else Literal(null), false)
    }
    f("leadInFrame") { es =>
      new Lead(es(0), if (es.length >= 2) es(1) else Literal(1),
        if (es.length >= 3) es(2) else Literal(null), false)
    }
    // typed empty-array constructors
    for ((n, t) <- Seq(
        "emptyArrayUInt8" -> LongType, "emptyArrayUInt16" -> LongType,
        "emptyArrayUInt32" -> LongType, "emptyArrayUInt64" -> LongType,
        "emptyArrayInt8" -> LongType, "emptyArrayInt16" -> LongType,
        "emptyArrayInt32" -> LongType, "emptyArrayInt64" -> LongType,
        "emptyArrayFloat32" -> DoubleType, "emptyArrayFloat64" -> DoubleType,
        "emptyArrayString" -> StringType, "emptyArrayDate" -> DateType,
        "emptyArrayDateTime" -> TimestampNTZType))
      f(n) { _ => Literal.create(Array.empty[Any], ArrayType(t)) }
    // CH defaultValueOfArgumentType(expr): the argument TYPE's default
    // value (0 / '' / zero-date ...). Also the omitted-default leg of the
    // ChSql `neighbor` → leadInFrame rewrite.
    f("defaultValueOfArgumentType") { es =>
      require(es.length == 1,
        s"defaultValueOfArgumentType expects 1 argument, got ${es.length}")
      DefaultValueOfArgumentType(es.head)
    }
    // multiIf(c1,v1, c2,v2, ..., else) — CH's flat CASE form
    f("multiIf") { es =>
      require(es.length >= 3 && es.length % 2 == 1,
        s"multiIf needs cond/value pairs plus an else, got ${es.length} args")
      CaseWhen(es.dropRight(1).grouped(2).map(p => (p(0), p(1))).toSeq, Some(es.last))
    }

    // ---- common CH aggregate names beyond the reference's own queries ----
    f("argMax") { es => MaxBy(es(0), es(1)).toAggregateExpression() }
    f("argMin") { es => MinBy(es(0), es(1)).toAggregateExpression() }
    // silent extra arguments are the same wrong-statistic trap the
    // -Stable aliases guard against — enforce arity on this family too
    def arity(name: String, es: Seq[Expression], n: Int): Unit =
      require(es.length == n,
        s"$name expects exactly $n argument(s), got ${es.length}")
    // the -If combinator on argMin/argMax: a false condition nulls BOTH
    // lanes, and min_by/max_by skip null-ordering rows
    f("argMaxIf") { es =>
      arity("argMaxIf", es, 3)
      MaxBy(onlyIf(es(2), es(0)), onlyIf(es(2), es(1))).toAggregateExpression()
    }
    f("argMinIf") { es =>
      arity("argMinIf", es, 3)
      MinBy(onlyIf(es(2), es(0)), onlyIf(es(2), es(1))).toAggregateExpression()
    }
    // CH groupBitAnd/Or/Xor: bitwise integer folds — Spark's native bit
    // aggregates under the CH spellings
    f("groupBitAnd") { es =>
      arity("groupBitAnd", es, 1); BitAndAgg(es.head).toAggregateExpression()
    }
    f("groupBitOr") { es =>
      arity("groupBitOr", es, 1); BitOrAgg(es.head).toAggregateExpression()
    }
    f("groupBitXor") { es =>
      arity("groupBitXor", es, 1); BitXorAgg(es.head).toAggregateExpression()
    }
    // CH groupArrayLast(x, N) (flat spelling of groupArrayLast(N)(x)):
    // the LAST N values in arrival order — same block-order caveat as
    // groupArray/groupArrayMovingSum (pin the order upstream)
    f("groupArrayLast") { es =>
      arity("groupArrayLast", es, 2)
      val arr = CollectList(es(0)).toAggregateExpression()
      val n = Cast(es(1), IntegerType)
      Slice(arr, new Greatest(Seq(
        Add(Subtract(Size(arr), n), Literal(1)), Literal(1))), n)
    }
    f("groupArray") { es => CollectList(es.head).toAggregateExpression() }
    f("groupUniqArray") { es => CollectSet(es.head).toAggregateExpression() }
    // CH anyLast ≙ ignore-null last. CH `any` is deliberately NOT
    // registered: Spark's built-in `any` is the boolean OR aggregate and
    // replacing it would silently change standard Spark SQL in the same
    // session — use Spark's `any_value` (same semantics as CH any).
    f("anyLast") { es => new Last(es.head, true).toAggregateExpression() }
    // the -RespectNulls spellings: a NULL row is a real candidate (First/
    // Last with ignoreNulls=false); same arbitrary-pick contract as CH
    f("anyRespectNulls") { es => new First(es.head, false).toAggregateExpression() }
    f("firstValueRespectNulls") { es => new First(es.head, false).toAggregateExpression() }
    f("lastValueRespectNulls") { es => new Last(es.head, false).toAggregateExpression() }
    f("anyLastRespectNulls") { es => new Last(es.head, false).toAggregateExpression() }
    // CH sumWithOverflow: sum IN the argument's own type, wrapping on
    // overflow — LEGACY-mode SUM (the session's ANSI default would throw
    // on the wrap), truncated back to the input type for sub-Long
    // integrals by SumInInputType (a post-resolution wrapper: the input
    // type isn't inspectable in this pre-analysis builder). Truncation
    // after the Long-wrapping sum IS mod-2^32/2^16 arithmetic (2^32
    // divides 2^64), so the wrap semantics are exact, not approximated.
    f("sumWithOverflow") { es =>
      SumInInputType(Sum(es.head, NumericEvalContext(EvalMode.LEGACY)).toAggregateExpression())
    }
    // the -Stable statistic spellings: CH guarantees a numerically stable
    // (and merge-order-robust) algorithm for these — alias them onto the
    // centered co-moment matrix machinery (StatMatrix), which is exactly
    // that; scalars extract the [0][1] (pair) or [0][0] (single) entry
    def mx(name: String, mode: StatMatrix.Moment, es: Seq[Expression], arity: Int): Expression = {
      // silent take() would turn corrStable(x) into the constant 1.0 —
      // a typo must be an error, not a wrong statistic
      require(es.length == arity,
        s"$name expects exactly $arity argument(s), got ${es.length}")
      GetArrayItem(GetArrayItem(
        StatMatrix.matrix(mode, es), Literal(0)),
        Literal(if (arity > 1) 1 else 0))
    }
    f("corrStable") { es => mx("corrStable", StatMatrix.Corr, es, 2) }
    f("covarPopStable") { es => mx("covarPopStable", StatMatrix.CovarPop, es, 2) }
    f("covarSampStable") { es => mx("covarSampStable", StatMatrix.CovarSamp, es, 2) }
    f("varPopStable") { es => mx("varPopStable", StatMatrix.CovarPop, es, 1) }
    f("varSampStable") { es => mx("varSampStable", StatMatrix.CovarSamp, es, 1) }
    f("stddevPopStable") { es => Sqrt(mx("stddevPopStable", StatMatrix.CovarPop, es, 1)) }
    f("stddevSampStable") { es => Sqrt(mx("stddevSampStable", StatMatrix.CovarSamp, es, 1)) }
    // CH groupArraySorted(N)(x) in the flat spelling (x, N): the smallest
    // N values in ascending order — collect + sort + slice; bounded
    // output, but the collect buffer is group-sized (like medianExact;
    // use topK/topk_by_score when the group can be huge)
    f("groupArraySorted") { es =>
      Slice(new SortArray(CollectList(es(0)).toAggregateExpression()),
        Literal(1), es(1))
    }
    f("quantileExact") { es => new Percentile(es(0), es(1)) }
    // CH's no-interpolation exact variants: the element at the lower /
    // upper bracketing index of level·(n−1) in the sorted values
    def exactBracket(es: Seq[Expression], high: Boolean): Expression = {
      val arr = new SortArray(CollectList(es(0)).toAggregateExpression())
      val pos = Multiply(Cast(es(1), DoubleType),
        Cast(Subtract(Size(arr), Literal(1)), DoubleType))
      val idx = if (high) Cast(new Ceil(pos), IntegerType)
        else Cast(new Floor(pos), IntegerType)
      ElementAt(arr, Add(idx, Literal(1)))
    }
    f("quantileExactLow") { es => exactBracket(es, high = false) }
    f("quantileExactHigh") { es => exactBracket(es, high = true) }
    f("medianExactLow") { es => exactBracket(Seq(es.head, Literal(0.5d)), high = false) }
    f("medianExactHigh") { es => exactBracket(Seq(es.head, Literal(0.5d)), high = true) }
    // the Excel-convention exact variants: Inclusive = PERCENTILE.INC =
    // R-7, which is exactly Spark's Percentile interpolation (and DuckDB's
    // quantile_cont — q166 gates the three implementations against each
    // other); Exclusive = PERCENTILE.EXC = R-6, h = level·(n+1) over the
    // sorted values with the rank clamped to [1, n]
    f("quantileExactInclusive") { es => new Percentile(es(0), es(1)) }
    f("medianExactInclusive") { es => new Percentile(es(0), Literal(0.5d)) }
    def exactExclusive(es: Seq[Expression]): Expression = {
      // PERCENTILE.EXC is undefined at the boundaries — CH throws for
      // level <= 0 or >= 1, and silently clamping a typo like level=0 to
      // the minimum would mask it. Validate the (foldable) level at
      // registration, like the arity guards on the newer registrations.
      es(1) match {
        case lv if lv.foldable =>
          val v: Option[Double] = lv.eval(InternalRow.empty) match {
            case null => None
            case d: Decimal => Some(d.toDouble)
            case n: Number => Some(n.doubleValue())
            case _ => None
          }
          require(v.exists(d => d > 0.0d && d < 1.0d),
            s"quantileExactExclusive: level must be in (0, 1) exclusive " +
              s"(PERCENTILE.EXC is undefined at the boundaries), got ${v.orNull}")
        case _ => // non-literal level: runtime-guarded below, as in CH
      }
      val arr = new SortArray(CollectList(es(0)).toAggregateExpression())
      val n = Cast(Size(arr), DoubleType)
      val h = Multiply(Cast(es(1), DoubleType),
        Add(n, Literal(1.0d)))
      val hc = new Greatest(Seq(Literal(1.0d), new Least(Seq(h, n))))
      val lo = Cast(new Floor(hc), IntegerType)
      val hi = new Least(Seq(Add(lo, Literal(1)), Cast(Size(arr), IntegerType)))
      val xlo = Cast(ElementAt(arr, lo), DoubleType)
      val xhi = Cast(ElementAt(arr, hi), DoubleType)
      // an empty/all-NULL group collapses the sorted array to []: lo=1 but
      // hi=LEAST(2,0)=0, and ElementAt(arr, 0)/out-of-bounds would THROW
      // under the session's ANSI default — return NULL like Percentile
      val result =
        If(EqualTo(Size(arr), Literal(0)), Literal(null, DoubleType),
          Add(xlo, Multiply(Subtract(hc, Cast(lo, DoubleType)), Subtract(xhi, xlo))))
      // non-literal level: the same (0, 1)-exclusive contract enforced at
      // RUNTIME — CH throws for out-of-range levels, and the hc clamp
      // would otherwise silently return the min/max instead
      if (es(1).foldable) result
      else {
        val lv = Cast(es(1), DoubleType)
        // IsNull is part of the guard: a NULL level makes the range Or
        // evaluate to null (If takes the value branch) and Least/Greatest
        // SKIP nulls, so hc would clamp to n — silently the maximum
        If(Or(IsNull(lv), Or(LessThanOrEqual(lv, Literal(0.0d)),
            GreaterThanOrEqual(lv, Literal(1.0d)))),
          Cast(RaiseError(Literal(
            "quantileExactExclusive: level must be in (0, 1) exclusive " +
              "(PERCENTILE.EXC is undefined at the boundaries)")), DoubleType),
          result)
      }
    }
    f("quantileExactExclusive") { es => exactExclusive(es) }
    f("medianExactExclusive") { es => exactExclusive(Seq(es.head, Literal(0.5d))) }
    // CH quantileTiming/quantileDeterministic are approximation schemes
    // (timing-bucket histogram / sampling with a determinism key); both
    // map to the EXACT percentile here — a strict-superset guarantee
    // (deterministic, and exact where CH documents ~1% error). The
    // determinism-key argument of quantileDeterministic is accepted and
    // ignored (exactness needs no tie-break key).
    f("quantileTiming") { es => new Percentile(es(0), es(1)) }
    f("medianTiming") { es => new Percentile(es(0), Literal(0.5d)) }
    f("quantileDeterministic") { es => new Percentile(es(0), es(2)) }
    f("medianDeterministic") { es => new Percentile(es(0), Literal(0.5d)) }
    f("quantileTDigest") { es => new ApproximatePercentile(es(0), es(1)) }
    // CH plural quantiles(p1,...,pn)(x) in the flat spelling
    // (x, p1, ..., pn): one aggregation pass, array out — explode for a
    // row-per-quantile result
    f("quantilesExact") { es =>
      require(es.length >= 2, s"quantilesExact needs (x, p1, ...), got ${es.length} args")
      new Percentile(es(0), CreateArray(es.drop(1)))
    }
    f("quantilesTDigest") { es =>
      require(es.length >= 2, s"quantilesTDigest needs (x, p1, ...), got ${es.length} args")
      new ApproximatePercentile(es(0), CreateArray(es.drop(1)))
    }
    // CH topK(k)(x) -> topK(x[, k]): SpaceSaving heavy hitters, values only
    // (the est/err form is the library's freq_topk)
    f("topK") { es => FreqTopK.buildAgg(es, valuesOnly = true) }
    f("topKWeighted") { es => FreqTopK.buildWeighted(es, valuesOnly = true) }
    // retention(c1..cn): array of 0/1 flags — r[0] = 1 iff c1 held on any
    // row of the group, r[i] = 1 iff BOTH c1 and ci held on (possibly
    // different) rows — CH's cohort-retention aggregate, composed from
    // plain boolean Max aggregates (no custom state)
    f("retention") { es =>
      require(es.nonEmpty, "retention needs at least one condition")
      def met(c: Expression): Expression =
        Coalesce(Seq(new Max(c).toAggregateExpression(), Literal(false)))
      val base = met(es.head)
      CreateArray(es.zipWithIndex.map { case (c, i) =>
        Cast(if (i == 0) base else And(base, met(c)), IntegerType)
      })
    }

    // ---- uniq family (doc:304-505) -----------------------------------
    // one-shot = finalize(state): the same Datasketches HLL as the -State
    // path, so uniqCombined(x) == uniqCombinedMerge(uniqCombinedState(x))
    // exactly — CH's consistency guarantee between the two forms
    f("uniqCombined") { es => HllSketchEstimate(hllState(es.head)) }
    // distinct Count, not Size(CollectSet): no per-group value buffer
    f("uniqExact") { es => Count(Seq(es.head)).toAggregateExpression(isDistinct = true) }
    f("uniqExactIf") { es =>
      Count(Seq(onlyIf(es(1), es(0)))).toAggregateExpression(isDistinct = true)
    }
    f("uniqCombinedState") { es => hllState(es.head) }
    f("uniqCombinedStateIf") { es => hllState(onlyIf(es(1), es(0))) }
    f("uniqCombinedMergeState") { es => hllMerge(es.head) }
    f("uniqCombinedMerge") { es => HllSketchEstimate(hllMerge(es.head)) }
    f("uniqCombinedIf") { es => HllSketchEstimate(hllState(onlyIf(es(1), es(0)))) }

    // ---- -Distinct / -OrNull / -OrDefault combinators ----------------
    f("sumDistinct") { es => new Sum(es.head).toAggregateExpression(isDistinct = true) }
    f("avgDistinct") { es => new Average(es.head).toAggregateExpression(isDistinct = true) }
    f("countDistinct") { es => Count(es).toAggregateExpression(isDistinct = true) }
    f("groupArrayDistinct") { es => CollectSet(es.head).toAggregateExpression() }
    // -OrNull: NULL instead of the type default on an empty set. min/max/
    // any are already NULL-on-empty in Spark; sum/count need the guard.
    f("sumOrNull") { es =>
      If(EqualTo(Count(es).toAggregateExpression(), Literal(0L)),
        Literal(null, NullType), new Sum(es.head).toAggregateExpression())
    }
    f("countOrNull") { es =>
      val c = Count(es).toAggregateExpression()
      If(EqualTo(c, Literal(0L)), Literal(null, NullType), c)
    }
    f("avgOrNull") { es => new Average(es.head).toAggregateExpression() }
    f("minOrNull") { es => Min(es.head).toAggregateExpression() }
    f("maxOrNull") { es => Max(es.head).toAggregateExpression() }
    // -OrDefault: the explicit default when the set is empty
    f("sumOrDefault") { es =>
      Coalesce(Seq(new Sum(es.head).toAggregateExpression(),
        if (es.length >= 2) es(1) else Literal(0L)))
    }
    f("minOrDefault") { es =>
      Coalesce(Seq(Min(es.head).toAggregateExpression(),
        if (es.length >= 2) es(1) else Literal(0L)))
    }
    f("maxOrDefault") { es =>
      Coalesce(Seq(Max(es.head).toAggregateExpression(),
        if (es.length >= 2) es(1) else Literal(0L)))
    }
    f("avgOrDefault") { es =>
      Coalesce(Seq(new Average(es.head).toAggregateExpression(),
        if (es.length >= 2) es(1) else Literal(0.0)))
    }
    // ---- -Resample combinator ----------------------------------------
    // CH agg-Resample(start, end, step)(x, key): one aggregate per
    // [start+i·step, start+(i+1)·step) bucket, returned as an array.
    // The bounds are literals, so the buckets EXPAND at registration into
    // plain -If aggregates — each codegen'd and map-side combined; the
    // array assembles after aggregation.
    def resample(es: Seq[Expression], mk: Expression => Expression): Expression = {
      require(es.length == 5, "usage: aggResample(x, key, start, end, step)")
      def litLong(e: Expression, what: String): Long = e match {
        case l if l.foldable => l.eval() match {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(s"$what: int literal, got $other")
        }
        case other => throw new IllegalArgumentException(s"$what: int literal, got $other")
      }
      val start = litLong(es(2), "start")
      val end = litLong(es(3), "end")
      val step = litLong(es(4), "step")
      require(step > 0 && end > start, "resample: need end > start, step > 0")
      val buckets = ((end - start) + step - 1) / step
      require(buckets <= 1024, s"resample: $buckets buckets (cap 1024)")
      CreateArray((0L until buckets).map { i =>
        val lo = start + i * step
        val hi = math.min(lo + step, end)
        mk(onlyIf(And(GreaterThanOrEqual(es(1), Literal(lo)),
          LessThan(es(1), Literal(hi))), es(0)))
      })
    }
    // empty buckets yield the aggregate's CH default (0), not NULL —
    // a NULL would silently vanish from concat_ws renderings and CH's
    // -Resample emits the default there
    def orZero(e: Expression, zero: Expression): Expression = Coalesce(Seq(e, zero))
    f("sumResample") { es =>
      resample(es, x => orZero(new Sum(x).toAggregateExpression(), Literal(0L)))
    }
    f("countResample") { es =>
      resample(es, x => Count(Seq(x)).toAggregateExpression())
    }
    f("avgResample") { es =>
      resample(es, x => orZero(new Average(x).toAggregateExpression(), Literal(0.0)))
    }
    f("minResample") { es =>
      resample(es, x => orZero(Min(x).toAggregateExpression(), Literal(0L)))
    }
    f("maxResample") { es =>
      resample(es, x => orZero(Max(x).toAggregateExpression(), Literal(0L)))
    }
    f("uniqExactResample") { es =>
      resample(es, x => Count(Seq(x)).toAggregateExpression(isDistinct = true))
    }
    // plural weighted quantiles — genuinely one map, one scan, N reads
    f("quantilesExactWeighted") { es =>
      require(es.length >= 3, "quantilesExactWeighted(x, w, p1, ...)")
      Fold.agg(QuantilesExactWeighted(es.drop(2).map(Fold.number(_, "quantilesExactWeighted level")),
        Fold.integral.accepts(es(0).dataType)), es)
    }
    // capped distinct collect: CH's groupUniqArray(max_size)(x) keeps an
    // arbitrary max_size subset — refined here to the SORTED first
    // max_size, with per-group state BOUNDED at max_size elements (an
    // unbounded collect-then-slice would defeat the cap's purpose)
    f("groupUniqArrayCapped") { es =>
      val cap = Fold.literal(es(1), "groupUniqArrayCapped: max_size") match {
        case n: Number => math.max(1, n.intValue())
        case other => throw new IllegalArgumentException(
          s"groupUniqArrayCapped: max_size must be an int literal, got $other")
      }
      Fold.agg(BoundedDistinct(cap, Fold.integral.accepts(es(0).dataType)), es.take(2))
    }
    // ---- sum/count combinators ---------------------------------------
    // SimpleAggregateFunction(sum): the partial IS the value, so -State,
    // -SimpleState and -Merge are all plain re-sum (doc:510-605)
    f("sumState") { es => new Sum(es.head).toAggregateExpression() }
    f("sumSimpleState") { es => new Sum(es.head).toAggregateExpression() }
    f("sumMerge") { es => new Sum(es.head).toAggregateExpression() }
    f("sumIf") { es => new Sum(onlyIf(es(1), es(0))).toAggregateExpression() }
    f("countIf") { es => Count(Seq(onlyIf(es.head, Literal(1)))).toAggregateExpression() }
    f("minIf") { es => Min(onlyIf(es(1), es(0))).toAggregateExpression() }
    f("maxIf") { es => Max(onlyIf(es(1), es(0))).toAggregateExpression() }
    f("avgIf") { es => new Average(onlyIf(es(1), es(0))).toAggregateExpression() }
    // CH avgWeighted(x, w) = Σ(x·w)/Σ(w) — two aggregates under one ratio
    // (double division, like CH's Float64 result)
    f("avgWeighted") { es =>
      Divide(
        Cast(new Sum(Multiply(es(0), es(1))).toAggregateExpression(), DoubleType),
        Cast(new Sum(es(1)).toAggregateExpression(), DoubleType))
    }
    // CH sumCount(x) = (sum, count) tuple in one pass — two built-in
    // aggregates under one struct (both codegen'd, map-side combined)
    f("sumCount") { es =>
      CreateNamedStruct(Seq(
        Literal("sum"), new Sum(es.head).toAggregateExpression(),
        Literal("count"), Count(Seq(es.head)).toAggregateExpression()))
    }
    // CH boundingRatio(x, y): slope between the leftmost and rightmost
    // points — (y@max(x) − y@min(x)) / (max(x) − min(x))
    f("boundingRatio") { es =>
      Divide(
        Cast(Subtract(MaxBy(es(1), es(0)).toAggregateExpression(),
          MinBy(es(1), es(0)).toAggregateExpression()), DoubleType),
        Cast(Subtract(Max(es(0)).toAggregateExpression(),
          Min(es(0)).toAggregateExpression()), DoubleType))
    }
    // CH simpleLinearRegression(x, y) = (k, b) fitting y = k·x + b —
    // Spark's numerically-stable REGR_* aggregates under one struct
    f("simpleLinearRegression") { es =>
      val y = Cast(es(1), DoubleType)
      val x = Cast(es(0), DoubleType)
      CreateNamedStruct(Seq(
        Literal("k"), RegrSlope(y, x).toAggregateExpression(),
        Literal("b"), RegrIntercept(y, x).toAggregateExpression()))
    }

    // (JSON family lives in ChCompatStrings.functions — the split must
    // stay a verbatim move, not a fork; a fourth-review-pass diff caught
    // this block duplicated in both files, with the later registration
    // silently winning.)

    // ---- second/higher-moment statistics (CH stat aggregates) ---------
    // covarPop/varPop/stddevPop + Samp twins map onto Spark's co-moment
    // aggregates (same population/sample formulas as CH's Float64 forms).
    // skewPop = m3/m2^1.5 — Spark's skewness IS the population formula;
    // kurtPop = m4/m2^2, Spark's kurtosis is the EXCESS form, so +3.
    // For hash-gate-exact statistics use graft.functions.Moments instead
    // (integer moments, order-insensitive); these carry CH's own
    // float-accumulation contract for dialect queries.
    f("covarPop") { es => CovPopulation(es(0), es(1)).toAggregateExpression() }
    f("covarSamp") { es => CovSample(es(0), es(1)).toAggregateExpression() }
    f("varPop") { es => VariancePop(es.head).toAggregateExpression() }
    f("varSamp") { es => VarianceSamp(es.head).toAggregateExpression() }
    f("stddevPop") { es => StddevPop(es.head).toAggregateExpression() }
    f("stddevSamp") { es => StddevSamp(es.head).toAggregateExpression() }
    f("skewPop") { es => Skewness(es.head).toAggregateExpression() }
    f("kurtPop") { es =>
      Add(Kurtosis(es.head).toAggregateExpression(), Literal(3.0d))
    }
    // CH's sample moments rescale the population central moments onto the
    // SAMPLE variance: skewSamp = m3/varSamp^1.5 = g1·((n−1)/n)^1.5 and
    // kurtSamp = m4/varSamp² = kurtPop·((n−1)/n)² (non-excess convention)
    f("skewSamp") { es =>
      val n = Cast(Count(Seq(es.head)).toAggregateExpression(), DoubleType)
      Multiply(Skewness(es.head).toAggregateExpression(),
        Pow(Divide(Subtract(n, Literal(1.0)), n), Literal(1.5)))
    }
    f("kurtSamp") { es =>
      val n = Cast(Count(Seq(es.head)).toAggregateExpression(), DoubleType)
      val ratio = Divide(Subtract(n, Literal(1.0)), n)
      Multiply(Add(Kurtosis(es.head).toAggregateExpression(), Literal(3.0d)),
        Multiply(ratio, ratio))
    }
    // bare CH quantile/median are the approximate family — mapped to the
    // exact percentile (deterministic superset, same flat-spelling
    // convention as quantileExact); quantiles is the plural
    f("quantile") { es =>
      new Percentile(es(0), if (es.length >= 2) es(1) else Literal(0.5d))
    }
    f("median") { es => new Percentile(es(0), Literal(0.5d)) }
    f("quantiles") { es =>
      require(es.length >= 2, s"quantiles needs (x, p1, ...), got ${es.length} args")
      new Percentile(es(0), CreateArray(es.drop(1)))
    }

    // ---- bitmap family (dwm:134-139, 184-185, 280-290) ---------------
    f("groupBitmap") { es =>
      // cardinality of the aggregated bitmap — scalar-on-aggregate needs the
      // aggregate wrapped explicitly when composed inside another expression
      Bitmaps.cardinality(Seq(Fold.agg(GroupBitmap(), es.take(1))))
    }
    f("groupBitmapState") { es => Fold.agg(GroupBitmap(), es.take(1)) }
    f("groupBitmapStateIf") { es =>
      Fold.agg(GroupBitmap(), Seq(onlyIf(es(1), es(0))))
    }
    f("groupBitmapMergeState") { es => Fold.agg(BitmapMerge(), es.take(1)) }
    f("groupBitmapMerge") { es =>
      Bitmaps.cardinality(Seq(Fold.agg(BitmapMerge(), es.take(1))))
    }
    // CH's aggregate-form folds over a bitmap-STATE column: plain
    // spelling = folded cardinality, -State = the folded bitmap
    // (groupBitmapOrState ≡ groupBitmapMergeState; registered for the
    // spelling's sake)
    for (op <- Bitmaps.foldOps) {
      f(s"groupBitmap${op.name.capitalize}") { es =>
        Bitmaps.cardinality(Seq(Fold.agg(BitmapFold(op), es.take(1))))
      }
      f(s"groupBitmap${op.name.capitalize}State") { es => Fold.agg(BitmapFold(op), es.take(1)) }
    }
    f("bitmapCardinality")(Bitmaps.cardinality)
    f("bitmapAnd")(Bitmaps.binary("and"))
    f("bitmapOr")(Bitmaps.binary("or"))
    f("bitmapAndCardinality")(Bitmaps.binary("and_card"))
    f("bitmapOrCardinality")(Bitmaps.binary("or_card"))
    // the rest of CH's bitmap algebra (doc:1207-1238 uses and/or; the
    // full family completes the surface): xor/andnot + cardinalities,
    // membership predicates, array round-trips, extrema, subset slicing
    f("bitmapXor")(Bitmaps.binary("xor"))
    f("bitmapAndnot")(Bitmaps.binary("andnot"))
    f("bitmapXorCardinality")(Bitmaps.binary("xor_card"))
    f("bitmapAndnotCardinality")(Bitmaps.binary("andnot_card"))
    f("bitmapHasAll")(Bitmaps.binary("has_all"))
    f("bitmapHasAny")(Bitmaps.binary("has_any"))
    f("bitmapContains")(Bitmaps.contains)
    f("bitmapToArray")(Bitmaps.unary("bitmapToArray", "bitmap_to_array",
      ArrayType(LongType, containsNull = false)))
    f("bitmapMin")(Bitmaps.unary("bitmapMin", "bitmap_min", LongType))
    f("bitmapMax")(Bitmaps.unary("bitmapMax", "bitmap_max", LongType))
    f("bitmapBuild")(Bitmaps.build)
    f("bitmapSubsetInRange")(Bitmaps.subset("bitmapSubsetInRange", "range"))
    f("bitmapSubsetLimit")(Bitmaps.subset("bitmapSubsetLimit", "limit"))
    f("subBitmap")(Bitmaps.subset("subBitmap", "sub"))
    f("bitmapTransform")(Bitmaps.transform)

    // ---- medianExact family (dwm:83,100,114) -------------------------
    f("medianExact") { es => new Percentile(es.head, Literal(0.5)) }
    f("medianExactState") { es =>
      SortArray(CollectList(es.head).toAggregateExpression(), Literal(true))
    }
    f("medianExactMergeState") { es => medianMerged(es.head) }
    f("medianExactMerge") { es => medianFinalize(medianMerged(es.head)) }

    // ---- quantileTDigest -State family: the BOUNDED quantile state
    // (GK summaries under the hood — see graft.functions.QuantileSketch
    // for the documented algorithm divergence; same state contract) ----
    f("quantileTDigestState") { es =>
      Fold.agg(GkSketch(0.01), es.take(1))
    }
    f("quantileTDigestMergeState") { es =>
      Fold.agg(GkMerge(), es.take(1))
    }
    f("quantileTDigestMerge") { es =>
      // quantileTDigestMerge(0.5)(state) is CH's parameterized spelling;
      // the flat 2-arg form (state, q) is accepted here, 1-arg = median
      val q = (if (es.length > 1) es(1) else Literal(0.5)).eval() match {
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: Number => n.doubleValue()
        case other => sys.error(s"quantileTDigestMerge: bad quantile literal $other")
      }
      QuantileSketch.value(Fold.agg(GkMerge(), es.take(1)), q)
    }

  }
}
