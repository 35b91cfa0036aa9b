package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ChCompat's array/tuple/map families: CH lambda-first array functions,
  * array analytics and completion, vector math over arrays, the tuple
  * alias mop-up, and Map-type functions. Split out of [[ChCompat]]
  * verbatim.
  */
private[functions] object ChCompatArrays {

  import ChCompat.hllState

  val functions = FunctionTable.define(this) { f =>
    // ---- CH array functions (lambda-first argument order) ------------
    f("arrayMap") { es => ArrayTransform(es(1), es.head) }
    f("arrayFilter") { es => ArrayFilter(es(1), es.head) }
    f("arrayExists") { es => ArrayExists(es(1), es.head) }
    f("arrayAll") { es => ArrayForAll(es(1), es.head) }
    // the analyzer only admits lambda args when the registered function
    // RESOLVES to a HigherOrderFunction, so arrayCount must BE one —
    // an aggregate folding the user's predicate, not Size(ArrayFilter)
    f("arrayCount") { es =>
      val lf = es.head.asInstanceOf[LambdaFunction]
      val acc = UnresolvedNamedLambdaVariable(Seq("__count_acc"))
      val merge = LambdaFunction(
        Add(acc, If(lf.function, Literal(1), Literal(0))), acc +: lf.arguments)
      ArrayAggregate(es(1), Literal(0), merge, LambdaFunction.identity)
    }
    // CH arrayJoin(arr): duplicate the row per element — exactly Spark's
    // explode generator; resolves anywhere a generator does (SELECT list /
    // LATERAL VIEW), with CH's one-arrayJoin-per-SELECT restriction
    // becoming Spark's one-generator-per-SELECT analysis error
    f("arrayJoin") { es => Explode(es.head) }
    f("has") { es => ArrayContains(es(0), es(1)) }
    f("hasAny") { es => ArraysOverlap(es(0), es(1)) }
    f("arrayDistinct") { es => ArrayDistinct(es.head) }
    f("arrayUniq") { es => Size(ArrayDistinct(es.head)) }
    f("arraySort") { es => new SortArray(es.head) }
    f("arrayReverse") { es => Reverse(es.head) }
    f("indexOf") { es => ArrayPosition(es(0), es(1)) }
    f("arrayConcat") { es => Concat(es) }
    f("arrayIntersect") { es => es.reduceLeft(ArrayIntersect(_, _)) }
    f("arrayFlatten") { es => Flatten(es.head) }
    f("arraySlice") { es =>
      if (es.length == 3) Slice(es(0), es(1), es(2))
      else Slice(es(0), es(1), Subtract(Size(es(0)), Subtract(es(1), Literal(1))))
    }
    // ---- CH array analytics (series math over per-row arrays) --------
    // index-lambda forms: Spark's HOF lambdas take (element, 0-based
    // index); element_at is 1-based, so element_at(a, i) IS the previous
    // element at lambda index i — the off-by-one the shapes below lean on
    def lamVar(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
    f("arrayEnumerate") { es =>
      val (x, i) = (lamVar("__en_x"), lamVar("__en_i"))
      ArrayTransform(es.head, LambdaFunction(Add(i, Literal(1)), Seq(x, i)))
    }
    // running sums: one functional fold over the row's array, bigint
    // lanes. Cost note: ArrayAppend copies the accumulated output each
    // step, so the fold is O(n²) element copies for an n-element lane —
    // fine for per-document arrays (tens to hundreds of tokens), not a
    // shape for 1e5-element lanes (no immutable-array O(n) exists at the
    // expression level; CH pays a native loop here)
    f("arrayCumSum") { es =>
      val acc = lamVar("__cs_acc"); val x = lamVar("__cs_x"); val fin = lamVar("__cs_fin")
      val accSum = GetStructField(acc, 0, Some("s"))
      val zero = CreateNamedStruct(Seq(
        Literal("s"), Literal(0L),
        Literal("out"), Literal.create(Seq.empty[Long], ArrayType(LongType))))
      val merge = LambdaFunction(CreateNamedStruct(Seq(
        Literal("s"), Add(accSum, Cast(x, LongType)),
        Literal("out"), ArrayAppend(GetStructField(acc, 1, Some("out")),
          Add(accSum, Cast(x, LongType))))), Seq(acc, x))
      ArrayAggregate(es.head, zero, merge,
        LambdaFunction(GetStructField(fin, 1, Some("out")), Seq(fin)))
    }
    // neighbor deltas: [0, a1-a0, a2-a1, ...] (CH pins the first lane 0)
    f("arrayDifference") { es =>
      val (x, i) = (lamVar("__df_x"), lamVar("__df_i"))
      ArrayTransform(es.head, LambdaFunction(
        Subtract(x, If(EqualTo(i, Literal(0)), x, ElementAt(es.head, i))), Seq(x, i)))
    }
    // collapse CONSECUTIVE duplicates (run-length heads), nulls compared
    // null-safely like CH
    f("arrayCompact") { es =>
      val (x, i) = (lamVar("__cp_x"), lamVar("__cp_i"))
      ArrayFilter(es.head, LambdaFunction(
        Or(EqualTo(i, Literal(0)), Not(EqualNullSafe(x, ElementAt(es.head, i)))),
        Seq(x, i)))
    }
    def arraySumOf(arr: Expression): Expression = {
      val acc = lamVar("__as_acc"); val x = lamVar("__as_x")
      ArrayAggregate(arr, Literal(0L),
        LambdaFunction(Add(acc, Cast(x, LongType)), Seq(acc, x)),
        LambdaFunction.identity)
    }
    def arrayAvgOf(arr: Expression): Expression = {
      val acc = lamVar("__av_acc"); val x = lamVar("__av_x")
      val s = ArrayAggregate(arr, Literal(0.0),
        LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x)),
        LambdaFunction.identity)
      If(EqualTo(Size(arr), Literal(0)), Literal(0.0),
        Divide(s, Cast(Size(arr), DoubleType)))
    }
    f("arraySum") { es => arraySumOf(es.head) }
    f("arrayAvg") { es => arrayAvgOf(es.head) }
    // ---- CH array completion: product, clamped cumsum, fill / split,
    // rotate, shingles, AUC ---------------------------------------------
    f("arrayProduct") { es =>
      val acc = lamVar("__pr_acc"); val x = lamVar("__pr_x")
      ArrayAggregate(es.head, Literal(1.0),
        LambdaFunction(Multiply(acc, Cast(x, DoubleType)), Seq(acc, x)),
        LambdaFunction.identity)
    }
    // running sum clamped at zero (CH's non-negative scan): s = max(0, s+x)
    // — integral arrays keep exact BIGINT lanes, float arrays ride doubles
    // (CH returns Float64 there)
    f("arrayCumSumNonNegative") { es =>
      val floatIn = es.head.dataType match {
        case ArrayType(DoubleType | FloatType, _) => true
        case _ => false
      }
      val laneT: DataType = if (floatIn) DoubleType else LongType
      def zeroLit: Expression = if (floatIn) Literal(0.0) else Literal(0L)
      val acc = lamVar("__cn_acc"); val x = lamVar("__cn_x"); val fin = lamVar("__cn_fin")
      val accSum = GetStructField(acc, 0, Some("s"))
      val clamped = Greatest(Seq(zeroLit, Add(accSum, Cast(x, laneT))))
      val zero = CreateNamedStruct(Seq(
        Literal("s"), zeroLit,
        Literal("out"), Literal.create(Seq.empty[Any], ArrayType(laneT))))
      val merge = LambdaFunction(CreateNamedStruct(Seq(
        Literal("s"), clamped,
        Literal("out"), ArrayAppend(GetStructField(acc, 1, Some("out")), clamped))),
        Seq(acc, x))
      ArrayAggregate(es.head, zero, merge,
        LambdaFunction(GetStructField(fin, 1, Some("out")), Seq(fin)))
    }
    // forward fill: where the predicate is false the element takes the
    // previous (already-filled) value; a false head stays as-is
    def fillOf(lf: LambdaFunction, arr: Expression, backward: Boolean): Expression = {
      // a lambda-taking registration must RESOLVE to a HigherOrderFunction
      // at top level, so the backward form reverses inside the fold: scan
      // Reverse(arr) and un-reverse in the finish lambda
      val tag = if (backward) "r" else "f"
      val out = lamVar(s"__fl_out$tag"); val fin = lamVar(s"__fl_fin$tag")
      val x = lf.arguments.head
      val scanned = if (backward) Reverse(arr) else arr
      val merge = LambdaFunction(
        ArrayAppend(out, If(lf.function, x,
          If(EqualTo(Size(out), Literal(0)), x, ElementAt(out, Literal(-1))))),
        out +: lf.arguments)
      val finish = if (backward) LambdaFunction(Reverse(fin), Seq(fin))
        else LambdaFunction.identity
      ArrayAggregate(scanned, Slice(arr, Literal(1), Literal(0)), merge, finish)
    }
    f("arrayFill") { es =>
      fillOf(es.head.asInstanceOf[LambdaFunction], es(1), backward = false)
    }
    f("arrayReverseFill") { es =>
      fillOf(es.head.asInstanceOf[LambdaFunction], es(1), backward = true)
    }
    // arraySplit cuts BEFORE each element where the predicate holds;
    // arrayReverseSplit cuts AFTER. Accumulator: (piece-closed?, pieces).
    def splitOf(lf: LambdaFunction, arr: Expression, after: Boolean): Expression = {
      val tag = if (after) "a" else "b"
      val acc = lamVar(s"__sp_acc$tag"); val fin = lamVar(s"__sp_fin$tag")
      val x = lf.arguments.head
      val closed = GetStructField(acc, 0, Some("closed"))
      val out = GetStructField(acc, 1, Some("out"))
      val emptyPieces = Slice(CreateArray(Seq(Slice(arr, Literal(1), Literal(0)))),
        Literal(1), Literal(0))
      val startNew = if (after) Or(closed, EqualTo(Size(out), Literal(0)))
        else Or(lf.function, EqualTo(Size(out), Literal(0)))
      val appended = If(startNew,
        ArrayAppend(out, CreateArray(Seq(x))),
        ArrayAppend(Slice(out, Literal(1), Subtract(Size(out), Literal(1))),
          ArrayAppend(ElementAt(out, Literal(-1)), x)))
      val zero = CreateNamedStruct(Seq(
        Literal("closed"), Literal(true), Literal("out"), emptyPieces))
      val merge = LambdaFunction(CreateNamedStruct(Seq(
        Literal("closed"), if (after) lf.function else Literal(false),
        Literal("out"), appended)), acc +: lf.arguments)
      ArrayAggregate(arr, zero, merge,
        LambdaFunction(GetStructField(fin, 1, Some("out")), Seq(fin)))
    }
    // CH arrayFold(lambda(acc, x), arr, init): the general left fold —
    // exactly Spark's ArrayAggregate with an identity finish; CH's
    // (acc, x) lambda parameter order matches ArrayAggregate's merge
    f("arrayFold") { es =>
      require(es.length == 3,
        s"arrayFold(lambda, arr, init) — the one-array form; got ${es.length} args")
      val lf = es.head match {
        case l: LambdaFunction => l
        case other => throw new IllegalArgumentException(
          s"arrayFold: first argument must be a lambda, got $other")
      }
      val fin = lamVar("__fold_fin")
      ArrayAggregate(es(1), es(2), lf, LambdaFunction(fin, Seq(fin)))
    }
    f("arraySplit") { es =>
      splitOf(es.head.asInstanceOf[LambdaFunction], es(1), after = false)
    }
    f("arrayReverseSplit") { es =>
      splitOf(es.head.asInstanceOf[LambdaFunction], es(1), after = true)
    }
    def rotL(arr: Expression, n: Expression): Expression = {
      val k = Pmod(Cast(n, IntegerType), Size(arr))
      If(LessThanOrEqual(Size(arr), Literal(0)), arr,
        Concat(Seq(Slice(arr, Add(k, Literal(1)), Subtract(Size(arr), k)),
          Slice(arr, Literal(1), k))))
    }
    f("arrayRotateLeft") { es => rotL(es(0), es(1)) }
    f("arrayRotateRight") { es => rotL(es(0), UnaryMinus(es(1))) }
    // arrayShiftLeft/Right(arr, n[, default]): dropped slots fill with the
    // explicit default (2-arg form: the element type's CH default)
    f("arrayShiftLeft")(arrayShift(shiftLeft = true))
    f("arrayShiftRight")(arrayShift(shiftLeft = false))
    // consecutive n-windows: [a,b,c,d] / 2 → [[a,b],[b,c],[c,d]]
    f("arrayShingles") { es =>
      val arr = es(0); val n = Cast(es(1), IntegerType)
      val i = lamVar("__sh_i")
      val empty = Slice(CreateArray(Seq(arr)), Literal(1), Literal(0))
      If(LessThan(Size(arr), n), empty,
        ArrayTransform(
          new Sequence(Literal(1), Subtract(Size(arr), Subtract(n, Literal(1)))),
          LambdaFunction(Slice(arr, i, n), Seq(i))))
    }
    // exact ROC AUC over per-row (scores, labels) arrays — ties get the
    // average-rank half credit
    f("arrayAUC") { es =>
      val scores = Arg.ArrayOf(Arg.Is(DoubleType, FloatType, LongType, IntegerType,
        ShortType, BooleanType, NullType))
      Kernel.of(this, "arrayAuc", "arrayAUC", DoubleType, es, Seq(scores, scores),
        es.map(Kernel.elementType), returnsNull = true)
    }
    // arrayFirst/arrayLast(lambda, arr): one fold carrying a ≤1-element
    // buffer (the lambda-bearing registration must RESOLVE to a
    // HigherOrderFunction at top level, so the pick lives in the fold and
    // the finish reads it back null-safely)
    def pickOf(lf: LambdaFunction, arr: Expression, first: Boolean): Expression = {
      val tag = if (first) "f" else "l"
      val acc = lamVar(s"__pk_acc$tag"); val fin = lamVar(s"__pk_fin$tag")
      val x = lf.arguments.head
      val hit = CreateArray(Seq(x))
      val body =
        if (first) If(And(lf.function, EqualTo(Size(acc), Literal(0))), hit, acc)
        else If(lf.function, hit, acc)
      ArrayAggregate(arr, Slice(arr, Literal(1), Literal(0)),
        LambdaFunction(body, acc +: lf.arguments),
        LambdaFunction(GetArrayItem(fin, Literal(0), failOnError = false), Seq(fin)))
    }
    f("arrayFirst") { es =>
      pickOf(es.head.asInstanceOf[LambdaFunction], es(1), first = true)
    }
    f("arrayLast") { es =>
      pickOf(es.head.asInstanceOf[LambdaFunction], es(1), first = false)
    }
    // index twins: fold the 1-based position instead of the value
    def pickIdxOf(lf: LambdaFunction, arr: Expression, first: Boolean): Expression = {
      val tag = if (first) "fi" else "li"
      val acc = lamVar(s"__pi_acc$tag"); val fin = lamVar(s"__pi_fin$tag")
      // acc = [lastIndexSeen, foundIndex]; position tracking rides the fold
      val seen = GetArrayItem(acc, Literal(0), failOnError = false)
      val found = GetArrayItem(acc, Literal(1), failOnError = false)
      val pos = Add(seen, Literal(1))
      val newFound =
        if (first) If(And(lf.function, EqualTo(found, Literal(0))), pos, found)
        else If(lf.function, pos, found)
      ArrayAggregate(arr,
        Literal.create(Seq(0, 0), ArrayType(IntegerType)),
        LambdaFunction(CreateArray(Seq(pos, newFound)), acc +: lf.arguments),
        LambdaFunction(Coalesce(Seq(
          GetArrayItem(fin, Literal(1), failOnError = false), Literal(0))), Seq(fin)))
    }
    f("arrayFirstIndex") { es =>
      pickIdxOf(es.head.asInstanceOf[LambdaFunction], es(1), first = true)
    }
    f("arrayLastIndex") { es =>
      pickIdxOf(es.head.asInstanceOf[LambdaFunction], es(1), first = false)
    }
    // arrayResize(arr, n[, pad]): truncate or grow; without an explicit
    // pad the new slots are NULL (CH pads the type default — divergence
    // documented; pass the pad to match CH exactly)
    f("arrayResize") { es =>
      val arr = es(0); val n = Cast(es(1), IntegerType)
      val pad: Expression =
        if (es.length >= 3) es(2)
        else GetArrayItem(Slice(arr, Literal(1), Literal(0)), Literal(0),
          failOnError = false) // typed NULL of the element type
      If(LessThanOrEqual(n, Size(arr)),
        Slice(arr, Literal(1), Greatest(Seq(n, Literal(0)))),
        Concat(Seq(arr, ArrayRepeat(pad, Subtract(n, Size(arr))))))
    }
    f("arrayWithConstant") { es => ArrayRepeat(es(1), es(0)) }
    // CH's partial sort: the first `limit` positions sorted — the full
    // sort is the deterministic superset of that contract
    f("arrayPartialSort") { es => new SortArray(es(1)) }
    f("concatWithSeparator") { es => ConcatWs(es) }
    f("substringIndex") { es => SubstringIndex(es(0), es(1), es(2)) }
    f("arrayDotProduct") { es =>
      val (x, y) = (lamVar("__adp_x"), lamVar("__adp_y"))
      val acc = lamVar("__adp_acc")
      ArrayAggregate(
        ZipWith(es(0), es(1), LambdaFunction(
          Multiply(Cast(x, DoubleType), Cast(y, DoubleType)), Seq(x, y))),
        Literal(0.0),
        LambdaFunction(Add(acc, lamVar("__adp_v")), Seq(acc, lamVar("__adp_v"))),
        LambdaFunction.identity)
    }
    // CH arrayReduce('agg', arr): apply an aggregate-function NAME to one
    // row's array. The name is a string literal (CH agrees — it is parsed,
    // not computed), so this is plan-time dispatch onto the same expression
    // shapes the arrayX twins use — no new execution machinery, still
    // per-row/codegen-friendly. Empty arrays give NULL for any/anyLast
    // (CH renders type defaults — the NULL-vs-default divergence every
    // super-aggregate shim here documents).
    f("arrayReduce") { es =>
      val name = es.head match {
        case lit if lit.foldable => String.valueOf(lit.eval()).toLowerCase
        case _ => throw new IllegalArgumentException(
          "arrayReduce: aggregate name must be a string literal")
      }
      val arr = es(1)
      name match {
        case "sum" => arraySumOf(arr)
        case "min" => ArrayMin(arr)
        case "max" => ArrayMax(arr)
        case "avg" => arrayAvgOf(arr)
        case "count" => Cast(Size(arr), LongType)
        case "uniq" | "uniqexact" => Cast(Size(ArrayDistinct(arr)), LongType)
        case "any" =>
          If(EqualTo(Size(arr), Literal(0)), Literal(null),
            ElementAt(arr, Literal(1)))
        case "anylast" =>
          If(EqualTo(Size(arr), Literal(0)), Literal(null),
            ElementAt(arr, Size(arr)))
        case other => throw new IllegalArgumentException(
          s"arrayReduce: unsupported aggregate '$other' (supported: sum, min, " +
            "max, avg, count, uniq, uniqExact, any, anyLast)")
      }
    }
    f("arrayMin") { es => ArrayMin(es.head) }
    f("arrayMax") { es => ArrayMax(es.head) }
    f("arrayReverseSort") { es => new SortArray(es.head, Literal(false)) }
    f("arrayZip") { es => ArraysZip(es) }
    f("arrayPushBack") { es => ArrayAppend(es(0), es(1)) }
    f("arrayPushFront") { es => ArrayPrepend(es(0), es(1)) }
    f("arrayPopBack") { es =>
      If(LessThanOrEqual(Size(es.head), Literal(0)), es.head,
        Slice(es.head, Literal(1), Subtract(Size(es.head), Literal(1))))
    }
    f("arrayPopFront") { es =>
      If(LessThanOrEqual(Size(es.head), Literal(0)), es.head,
        Slice(es.head, Literal(2), Subtract(Size(es.head), Literal(1))))
    }
    // CH toUInt32 truncates fractions toward zero (as Cast does) and wraps
    // negatives/overflow mod 2^32 (Cast alone would pass negatives through)
    f("toUInt32") { es => BitwiseAnd(Cast(es.head, LongType), Literal(0xFFFFFFFFL)) }
    f("toUInt64") { es => Cast(es.head, LongType) }
    // signed to* casts truncate toward zero AND wrap two's-complement on
    // overflow (CH's contract; Spark 4's ANSI Cast would throw instead,
    // so the wrap is explicit: sign-extending shift pairs keep the value
    // in range before the final in-range cast). Unsigned sub-64 forms
    // wrap via bit masks (toUInt8(300) = 44, toUInt16(-1) = 65535).
    def wrapSigned(e: Expression, bits: Int, t: DataType): Expression =
      Cast(ShiftRight(ShiftLeft(Cast(e, LongType), Literal(64 - bits)),
        Literal(64 - bits)), t)
    f("toInt8") { es => wrapSigned(es.head, 8, ByteType) }
    f("toInt16") { es => wrapSigned(es.head, 16, ShortType) }
    f("toInt32") { es => wrapSigned(es.head, 32, IntegerType) }
    f("toInt64") { es => Cast(es.head, LongType) }
    f("toUInt8") { es => BitwiseAnd(Cast(es.head, LongType), Literal(0xFFL)) }
    f("toUInt16") { es => BitwiseAnd(Cast(es.head, LongType), Literal(0xFFFFL)) }
    f("toFloat32") { es => Cast(es.head, FloatType) }
    f("toFloat64") { es => Cast(es.head, DoubleType) }
    // toDecimalN(x, s): CH's N names the coefficient width (32/64/128 bit
    // → 9/18/38 decimal digits); s must be a literal scale
    def decScale(e: Expression): Int = e match {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"toDecimal scale must be an integer literal, got $other")
    }
    f("toDecimal32") { es => Cast(es.head, DecimalType(9, decScale(es(1)))) }
    f("toDecimal64") { es => Cast(es.head, DecimalType(18, decScale(es(1)))) }
    f("toDecimal128") { es => Cast(es.head, DecimalType(38, decScale(es(1)))) }
    f("toString") { es => Cast(es.head, StringType) }
    f("now") { _ => Now() }
    f("today") { _ => CurrentDate() }
    // TTL arithmetic: day + toIntervalDay(92) + toIntervalHour(5)
    // (ods.action_001_dis.sql:21, dwm.mainpage_stat_mv_dis.sql:18)
    f("toIntervalDay") { es => new MakeDTInterval(es.head, Literal(0), Literal(0)) }
    f("toIntervalHour") { es => new MakeDTInterval(Literal(0), es.head, Literal(0)) }
    // parseDateTimeBestEffortOrZero (ref data_rebalance.py:137,149): parse
    // failure yields epoch zero rather than NULL
    f("parseDateTimeBestEffortOrZero") { es =>
      Coalesce(Seq(
        Cast(Cast(es.head, StringType), TimestampType, None, EvalMode.TRY),
        Cast(Literal(0L), TimestampType)))
    }
    // introspection scalars (doc:507-607 byteSize sizing experiments;
    // hostName is the doc's which-shard probe — here the SERVER'S name,
    // captured once on the driver at plan construction (deterministic,
    // groupable, and consistent with system.clusters' is_local row — see
    // HostNameExpr's contract note);
    // toTypeName reports Spark type names, not CH's — doc:897's debug aid)
    f("hostName") { _ => HostNameExpr() }
    // exact for binary/string payloads (the state-sizing use case), element
    // count × width for arrays; fixed-width types report their width
    f("byteSize") { es =>
      val width = es.headOption.map(_.dataType) match {
        case Some(ArrayType(et, _)) => math.max(et.defaultSize, 1)
        case other => other.fold(0)(_.defaultSize)
      }
      Kernel.of(this, "byteSize", "byteSize", LongType, es, Seq(Arg.AnyType), Seq(width))
    }
    f("toTypeName") { es => ToTypeNameExpr(es.head) }
    // float classification (CH isFinite/isInfinite/ifNotFinite; isNaN is
    // Spark's case-insensitive isnan already)
    def finite(x: Expression): Expression = {
      val d = Cast(x, DoubleType)
      Not(Or(IsNaN(d), Or(EqualTo(d, Literal(Double.PositiveInfinity)),
        EqualTo(d, Literal(Double.NegativeInfinity)))))
    }
    f("isFinite") { es => finite(es.head) }
    f("isInfinite") { es =>
      val d = Cast(es.head, DoubleType)
      Or(EqualTo(d, Literal(Double.PositiveInfinity)),
        EqualTo(d, Literal(Double.NegativeInfinity)))
    }
    f("ifNotFinite") { es => If(finite(es(0)), es(0), es(1)) }
    // CH transform(x, from, to[, default]): literal value remapping.
    // The 2-arg lambda form stays Spark's higher-order transform — the
    // arity + argument shape disambiguates, so registering the name does
    // not break standard Spark SQL in the same session.
    f("transform") { es =>
      if (es.length == 2) ArrayTransform(es(0), es(1))
      else {
        require(es.length == 3 || es.length == 4,
          s"transform(x, from, to[, default]): got ${es.length} args")
        val (from, to) = (es(1), es(2))
        require(from.foldable && to.foldable,
          "transform: from/to must be literal arrays")
        def items(e: Expression): Seq[Expression] = {
          val et = e.dataType.asInstanceOf[ArrayType].elementType
          val a = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          (0 until a.numElements()).map(i => Literal(a.get(i, et), et))
        }
        val (ks, vs) = (items(from), items(to))
        require(ks.length == vs.length, "transform: from/to lengths differ")
        val default = if (es.length == 4) es(3) else es(0)
        CaseKeyWhen(es(0), ks.zip(vs).flatMap(p => Seq(p._1, p._2)) :+ default)
      }
    }
    // CH multiSearch family over a needle array (multiSearchAny is
    // registered with the string-search battery above)
    f("multiSearchAllPositions") { es =>
      val n = UnresolvedNamedLambdaVariable(Seq("__ms_n"))
      ArrayTransform(es(1),
        LambdaFunction(new StringLocate(n, es(0)), Seq(n)))
    }
    // first (smallest positive) position of any needle; 0 if none
    f("multiSearchFirstPosition") { es =>
      val n = UnresolvedNamedLambdaVariable(Seq("__mfp_n"))
      val hits = ArrayFilter(
        ArrayTransform(es(1), LambdaFunction(new StringLocate(n, es(0)), Seq(n))),
        LambdaFunction(GreaterThan(UnresolvedNamedLambdaVariable(Seq("__mfp_p")),
          Literal(0)), Seq(UnresolvedNamedLambdaVariable(Seq("__mfp_p")))))
      Coalesce(Seq(ArrayMin(hits), Literal(0)))
    }
    // 1-based index of the FIRST needle that occurs anywhere; 0 if none
    f("multiSearchFirstIndex") { es =>
      val (p, i) = (UnresolvedNamedLambdaVariable(Seq("__mfi_p")),
        UnresolvedNamedLambdaVariable(Seq("__mfi_i")))
      val n = UnresolvedNamedLambdaVariable(Seq("__mfi_n"))
      val idxHits = ArrayFilter(
        ArrayTransform(es(1), LambdaFunction(
          If(Contains(es(0), n), Add(i, Literal(1)), Literal(0)), Seq(n, i))),
        LambdaFunction(GreaterThan(p, Literal(0)), Seq(p)))
      Coalesce(Seq(ArrayMin(idxHits), Literal(0)))
    }
    f("ngramDistanceCaseInsensitive") { es =>
      StringDistance.metric("ngramDistance")(es.map(Lower))
    }
    f("ngramSearchCaseInsensitive") { es =>
      StringDistance.metric("ngramSearch")(es.map(Lower))
    }
    // ---- vector math over arrays (CH tuple/array spellings) ------------
    def zipMul(a: Expression, b: Expression): Expression = {
      val (x, y) = (UnresolvedNamedLambdaVariable(Seq("__vm_x")),
        UnresolvedNamedLambdaVariable(Seq("__vm_y")))
      ZipWith(a, b, LambdaFunction(
        Multiply(Cast(x, DoubleType), Cast(y, DoubleType)), Seq(x, y)))
    }
    def arrSumD(arr: Expression): Expression = {
      val acc = UnresolvedNamedLambdaVariable(Seq("__vs_acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("__vs_x"))
      ArrayAggregate(arr, Literal(0.0),
        LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x)),
        LambdaFunction.identity)
    }
    def absArr(a: Expression): Expression = {
      val x = UnresolvedNamedLambdaVariable(Seq("__va_x"))
      ArrayTransform(a, LambdaFunction(Abs(Cast(x, DoubleType)), Seq(x)))
    }
    def diffArr(a: Expression, b: Expression): Expression = {
      val (x, y) = (UnresolvedNamedLambdaVariable(Seq("__vd_x")),
        UnresolvedNamedLambdaVariable(Seq("__vd_y")))
      ZipWith(a, b, LambdaFunction(
        Subtract(Cast(x, DoubleType), Cast(y, DoubleType)), Seq(x, y)))
    }
    f("dotProduct") { es => arrSumD(zipMul(es(0), es(1))) }
    f("scalarProduct") { es => arrSumD(zipMul(es(0), es(1))) }
    f("L1Norm") { es => arrSumD(absArr(es.head)) }
    f("L2Norm") { es => Sqrt(arrSumD(zipMul(es.head, es.head))) }
    f("LinfNorm") { es => ArrayMax(absArr(es.head)) }
    f("L1Distance") { es => arrSumD(absArr(diffArr(es(0), es(1)))) }
    f("L2Distance") { es =>
      val d = diffArr(es(0), es(1))
      Sqrt(arrSumD(zipMul(d, d)))
    }
    f("cosineDistance") { es =>
      Subtract(Literal(1.0), VectorOps.cosine(es))
    }
    f("normalizeL2")(VectorOps.unary("l2Normalize", "l2_normalize",
      ArrayType(DoubleType, containsNull = false)))
    // ---- tuple / remaining alias mop-up --------------------------------
    // tupleElement(t, n) — 1-based index into the dialect's tuple()
    // (CreateStruct names fields col1..colN); a string argument addresses
    // a named field directly
    f("tupleElement") { es =>
      val field = es(1) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
        case lit if lit.foldable => "col" + String.valueOf(lit.eval())
        case other => throw new IllegalArgumentException(
          s"tupleElement: index/name must be a literal, got $other")
      }
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es(0), Literal(field))
    }
    // HLL spellings: all ride the same Datasketches estimator as
    // uniqCombined (64-bit hashing — uniqCombined64's contract; CH's
    // uniqHLL12 error profile is strictly worse, ours is a superset)
    f("uniqHLL12") { es => HllSketchEstimate(hllState(es.head)) }
    f("uniqCombined64") { es => HllSketchEstimate(hllState(es.head)) }
    // bfloat16 quantiles map to exact (superset accuracy, same shape)
    f("quantileBFloat16") { es => new Percentile(es(0), es(1)) }
    f("medianBFloat16") { es => new Percentile(es(0), Literal(0.5d)) }
    // millisecond unix timestamps (DateTime64(3) analog)
    f("toUnixTimestamp64Milli") { es =>
      UnixMillis(Cast(es.head, TimestampType))
    }
    f("toUnixTimestamp64Micro") { es =>
      UnixMicros(Cast(es.head, TimestampType))
    }
    f("fromUnixTimestamp64Milli") { es =>
      // exact integer millis (a double divide would truncate a microsecond
      // off most inputs on the d2l path)
      Cast(MillisToTimestamp(Cast(es.head, LongType)), TimestampNTZType)
    }
    f("fromUnixTimestamp64Micro") { es =>
      Cast(MicrosToTimestamp(Cast(es.head, LongType)), TimestampNTZType)
    }
    f("toDateTime64") { es => Cast(es.head, TimestampNTZType) }
    f("now64") { _ => Cast(Now(), TimestampNTZType) }
    f("yesterday") { _ => DateAdd(CurrentDate(), Literal(-1)) }
    f("addDate") { es => TimestampAdd("DAY", es(1), es(0)) }
    f("subDate") { es => TimestampAdd("DAY", UnaryMinus(es(1)), es(0)) }
    // CH mapFilter((k, v) -> cond, map) — Spark's MapFilter, lambda-first
    // argument order swapped (mapApply's tuple-returning lambda has no
    // Spark equivalent and stays unmapped)
    f("mapFilter") { es => MapFilter(es(1), es.head) }
    // ---- CH Map-type functions (Spark MapType carries them natively) --
    f("mapFromArrays") { es => MapFromArrays(es(0), es(1)) }
    f("mapKeys") { es => MapKeys(es.head) }
    f("mapValues") { es => MapValues(es.head) }
    f("mapContains") { es => ArrayContains(MapKeys(es(0)), es(1)) }
    f("mapAdd") { es => es.reduceLeft(mapArith("mapAdd", _, _)) }
    f("mapSubtract") { es => es.reduceLeft(mapArith("mapSubtract", _, _)) }
    // mapPopulateSeries(m[, max]): a NULL or absent max means the max key
    f("mapPopulateSeries") { es =>
      val m = es.head.dataType
      Kernel.of(this, "mapPopulateSeries", "mapPopulateSeries", m, es,
        Arg.MapOf(Arg.Is(LongType, IntegerType), Arg.AnyType) +:
          es.slice(1, 2).map(_ => Arg.Cell(LongType)),
        if (es.length >= 2) Seq(m) else Seq(new GenericArrayData(Array[Any](null)), m))
    }
  }

  /** Element types whose CH default value the 2-arg shift fills with. */
  private val typeDefault: Arg = Arg.Named(Arg.ArrayOf(Arg.AnyOf(
    Arg.Is(LongType, IntegerType, ShortType, ByteType, DoubleType, FloatType, BooleanType,
      DateType, TimestampType, TimestampNTZType),
    Arg.Str, Arg.Dec, Arg.ArrayOf(Arg.AnyType))),
    "an array whose element type has a built-in default — pass an explicit default " +
      "value (3-arg form) for others")

  private def arrayShift(shiftLeft: Boolean)(es: Seq[Expression]): Kernel = {
    val name = if (shiftLeft) "arrayShiftLeft" else "arrayShiftRight"
    val (arrType, et) = es.head.dataType match {
      case ArrayType(et, cn) =>
        // a nullable explicit default means NULL can land in the vacated
        // slots — the array type must admit it
        (ArrayType(et, cn || es.drop(2).exists(_.nullable)), et)
      case other => (other, NullType)
    }
    if (es.length >= 3)
      Kernel.of(this, "arrayShift", name, arrType, es,
        Seq(Arg.ArrayOf(Arg.AnyType), Arg.Integral, Arg.Cell(et)), Seq(et, shiftLeft))
    else
      Kernel.of(this, "arrayShift", name, arrType, es, Seq(typeDefault, Arg.Integral),
        Seq(new GenericArrayData(Array(chDefault(et))), et, shiftLeft))
  }

  /** CH's default value of an element type (the 2-arg shift's fill). */
  private def chDefault(et: DataType): Any = et match {
    case LongType => 0L
    case IntegerType => 0
    case ShortType => 0.toShort
    case ByteType => 0.toByte
    case DoubleType => 0d
    case FloatType => 0f
    case BooleanType => false
    case _: StringType => org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
    case DateType => 0 // CH default Date = epoch (1970-01-01)
    case TimestampType | TimestampNTZType => 0L
    case d: DecimalType => Decimal(java.math.BigDecimal.ZERO, d.precision, d.scale)
    case ArrayType(_, _) => new GenericArrayData(Array.empty[Any])
    case _ => null // rejected by the type check
  }

  /** CH `arrayShiftLeft/Right(arr, n[, default])`: length-preserving
    * shift, vacated slots filled with `fill(0)` (NULL when the explicit
    * default is NULL). Negative n shifts the other way. */
  def arrayShift(ad: ArrayData, n: Long, fill: ArrayData, et: DataType,
      shiftLeft: Boolean): ArrayData = {
    val sz = ad.numElements()
    val shift = if (shiftLeft) n else -n
    val f = if (fill.isNullAt(0)) null else fill.get(0, et)
    val out = new Array[Any](sz)
    var i = 0
    while (i < sz) {
      val src = i + shift
      out(i) =
        if (src >= 0 && src < sz) {
          val s = src.toInt
          if (ad.isNullAt(s)) null else ad.get(s, et)
        } else f
      i += 1
    }
    new GenericArrayData(out)
  }

  /** CH `arrayAUC(scores, labels)`: exact ROC AUC from one row's parallel
    * arrays — rank-sum form with average ranks on score ties (the same
    * half-credit CH assigns). NULL when either class is absent. */
  def arrayAuc(scoresArr: ArrayData, labelsArr: ArrayData, st: DataType,
      lt: DataType): java.lang.Double = {
    val n = scoresArr.numElements()
    if (n == 0 || labelsArr.numElements() != n) return null
    def numAt(a: ArrayData, t: DataType, i: Int): Double = t match {
      case DoubleType => a.getDouble(i)
      case FloatType => a.getFloat(i).toDouble
      case LongType => a.getLong(i).toDouble
      case IntegerType => a.getInt(i).toDouble
      case ShortType => a.getShort(i).toDouble
      case BooleanType => if (a.getBoolean(i)) 1d else 0d
      case other => throw new IllegalArgumentException(
        s"arrayAUC: numeric/boolean arrays required, got ${other.simpleString}")
    }
    val pairs = Array.tabulate(n) { i =>
      (numAt(scoresArr, st, i), numAt(labelsArr, lt, i) > 0)
    }.sortBy(_._1)
    var pos = 0L
    var rankSumPos = 0d
    var i = 0
    while (i < n) {
      var j = i
      while (j + 1 < n && pairs(j + 1)._1 == pairs(i)._1) j += 1
      val avgRank = (i + j + 2) / 2.0 // 1-based average rank of the tie run
      var k = i
      while (k <= j) {
        if (pairs(k)._2) { pos += 1; rankSumPos += avgRank }
        k += 1
      }
      i = j + 1
    }
    val neg = n - pos
    if (pos == 0 || neg == 0) null
    else (rankSumPos - pos * (pos + 1) / 2.0) / (pos.toDouble * neg)
  }

  /** byteSize(x) — approximate in-memory size of a value, the quantity the
    * reference doc compares across AggregateFunction vs
    * SimpleAggregateFunction states (doc:507-607). */
  def byteSize(b: Array[Byte], width: Int): Long = b.length.toLong
  def byteSize(s: UTF8String, width: Int): Long = s.numBytes.toLong
  def byteSize(a: ArrayData, width: Int): Long = a.numElements().toLong * width
  def byteSize(v: Any, width: Int): Long = width.toLong

  private val numericMap = Arg.MapOf(Arg.AnyType,
    Arg.Is(LongType, IntegerType, ShortType, DoubleType, FloatType))

  /** CH `mapAdd` / `mapSubtract` over Spark maps: per-key numeric
    * combination, sorted-key output (bit-deterministic). */
  private def mapArith(method: String, l: Expression, r: Expression): Kernel =
    Kernel.of(this, method, method, l.dataType, Seq(l, r),
      Seq(numericMap, Arg.Is(l.dataType)), Seq(l.dataType))

  def mapAdd(l: MapData, r: MapData, mt: DataType): MapData = combineMaps(l, r, mt, 1d)
  def mapSubtract(l: MapData, r: MapData, mt: DataType): MapData = combineMaps(l, r, mt, -1d)

  private def combineMaps(l: MapData, r: MapData, mapType: DataType, rSign: Double): MapData = {
    val MapType(kt, vt, _) = mapType
    val acc = scala.collection.mutable.LinkedHashMap.empty[Any, Double]
    def ingest(md: MapData, sign: Double): Unit = {
      val ks = md.keyArray(); val vs = md.valueArray()
      var i = 0
      while (i < md.numElements()) {
        val k = ks.get(i, kt) match {
          case u: UTF8String => u.clone()
          case other => other
        }
        val v = vs.get(i, vt) match {
          case d: java.lang.Double => d.doubleValue()
          case f: java.lang.Float => f.toDouble
          case l: java.lang.Long => l.toDouble
          case n: java.lang.Integer => n.toDouble
          case s: java.lang.Short => s.toDouble
        }
        acc.update(k, acc.getOrElse(k, 0d) + sign * v)
        i += 1
      }
    }
    ingest(l, 1d)
    ingest(r, rSign)
    val sorted = kt match {
      case _: StringType => acc.toSeq.sortBy(_._1.asInstanceOf[UTF8String].toString)
      case LongType => acc.toSeq.sortBy(_._1.asInstanceOf[Long])
      case IntegerType => acc.toSeq.sortBy(_._1.asInstanceOf[Int])
      case _ => acc.toSeq
    }
    def back(v: Double): Any = vt match {
      case DoubleType => v
      case FloatType => v.toFloat
      case LongType => v.toLong
      case IntegerType => v.toInt
      case ShortType => v.toShort
    }
    new ArrayBasedMapData(
      new GenericArrayData(sorted.map(_._1).toArray),
      new GenericArrayData(sorted.map(p => back(p._2)).toArray))
  }

  /** CH `mapPopulateSeries(m[, max])`: integer-keyed map densified from
    * its min key through max (NULL max: the max key), gaps at 0. */
  def mapPopulateSeries(md: MapData, max: ArrayData, mapType: DataType): MapData = {
    val MapType(kt, vt, _) = mapType
    val pairs = scala.collection.mutable.HashMap.empty[Long, Any]
    val ks = md.keyArray(); val vs = md.valueArray()
    var i = 0
    while (i < md.numElements()) {
      val k = ks.get(i, kt) match {
        case l: java.lang.Long => l.longValue()
        case n: java.lang.Integer => n.longValue()
      }
      pairs.update(k, vs.get(i, vt))
      i += 1
    }
    if (pairs.isEmpty) return md
    val lo = pairs.keys.min
    val hi = if (max.isNullAt(0)) pairs.keys.max else max.getLong(0)
    val zero: Any = vt match {
      case DoubleType => 0d
      case FloatType => 0f
      case LongType => 0L
      case IntegerType => 0
      case ShortType => 0.toShort
      case _ => null
    }
    val keysOut = (lo to hi).toArray
    def keyBack(k: Long): Any = kt match {
      case LongType => k
      case IntegerType => k.toInt
    }
    new ArrayBasedMapData(
      new GenericArrayData(keysOut.map(keyBack).toArray[Any]),
      new GenericArrayData(keysOut.map(k => pairs.getOrElse(k, zero)).toArray[Any]))
  }
}
