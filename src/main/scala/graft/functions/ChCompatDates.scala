package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** ChCompat's date/time family: the scalar date/time/cast spellings and
  * the date-completion tail. Split out of [[ChCompat]] verbatim (its entries
  * join the [[FunctionTable]]; see ChCompat's doc for the dialect map).
  */
private[functions] object ChCompatDates {

  val functions = FunctionTable.define(this) { f =>
    // ---- scalar date/time/casts --------------------------------------
    f("toDate") { es => Cast(es.head, DateType) }
    f("toStartOfHour") { es => TruncTimestamp(Literal("HOUR"), es.head) }
    f("toStartOfDay") { es => TruncTimestamp(Literal("DAY"), es.head) }
    f("toStartOfMinute") { es => TruncTimestamp(Literal("MINUTE"), es.head) }
    f("toStartOfMonth") { es => Cast(TruncTimestamp(Literal("MONTH"), es.head), DateType) }
    f("toStartOfQuarter") { es => Cast(TruncTimestamp(Literal("QUARTER"), es.head), DateType) }
    // CH toMonday = Monday-start week truncation (toStartOfWeek's mode
    // games are skipped — Spark/ISO weeks start Monday, same as toMonday)
    f("toMonday") { es => Cast(TruncTimestamp(Literal("WEEK"), es.head), DateType) }
    f("toYear") { es => Year(es.head) }
    f("toQuarter") { es => Quarter(es.head) }
    f("toMonth") { es => Month(es.head) }
    f("toDayOfMonth") { es => DayOfMonth(es.head) }
    f("toHour") { es => Hour(es.head) }
    f("toMinute") { es => Minute(es.head) }
    f("toSecond") { es => Second(es.head) }
    // the PARTITION BY staples: toYYYYMM(ts) = 202401, toYYYYMMDD = 20240131
    f("toYYYYMM") { es =>
      Add(Multiply(Year(es.head), Literal(100)), Month(es.head))
    }
    f("toYYYYMMDD") { es =>
      Add(Multiply(Add(Multiply(Year(es.head), Literal(100)), Month(es.head)),
        Literal(100)), DayOfMonth(es.head))
    }
    f("toStartOfYear") { es => Cast(TruncTimestamp(Literal("YEAR"), es.head), DateType) }
    // CH toStartOfWeek: mode 0/2 = Sunday-start, mode 1/3 = Monday-start
    // (the default mode is 0 — toMonday is the Monday shorthand)
    f("toStartOfWeek") { es =>
      val monday = es.lift(1) match {
        case Some(Literal(m: Int, IntegerType)) => m == 1 || m == 3
        case Some(other) => throw new IllegalArgumentException(
          s"toStartOfWeek: mode must be an int literal, got $other")
        case None => false
      }
      if (monday) Cast(TruncTimestamp(Literal("WEEK"), es.head), DateType)
      else DateSub(Cast(es.head, DateType),
        Subtract(DayOfWeek(es.head), Literal(1))) // DayOfWeek: Sunday = 1
    }
    f("toDayOfWeek") { es => Add(WeekDay(es.head), Literal(1)) } // CH: Monday = 1
    f("toDayOfYear") { es => DayOfYear(es.head) }
    // CH DateTime is wall-clock seconds — TIMESTAMP_NTZ is the faithful type
    f("toDateTime") { es => Cast(es.head, TimestampNTZType) }
    // timestamp->long cast = whole seconds since epoch (CH UInt32 analog)
    f("toUnixTimestamp") { es => Cast(Cast(es.head, TimestampType), LongType) }
    // epoch seconds of a wall-clock value (UTC session — build.sbt pins it)
    def epochOf(e: Expression): Expression = Cast(Cast(e, TimestampType), LongType)
    // CH timeSlot: round down to the half-hour
    f("timeSlot") { es =>
      Cast(SecondsToTimestamp(Multiply(IntegralDivide(epochOf(es.head),
        Literal(1800L)), Literal(1800L))), TimestampNTZType)
    }
    // CH timeSlots(start, duration[, size]): every size-aligned slot the
    // [start, start+duration] window touches
    f("timeSlots") { es =>
      val size = if (es.length >= 3) Cast(es(2), LongType) else Literal(1800L)
      val u = epochOf(es(0))
      val t = UnresolvedNamedLambdaVariable(Seq("__ts_t"))
      ArrayTransform(
        new Sequence(Multiply(IntegralDivide(u, size), size),
          Add(u, Cast(es(1), LongType)), size),
        LambdaFunction(Cast(SecondsToTimestamp(t), TimestampNTZType), Seq(t)))
    }
    // CH toRelative*Num: units elapsed since the epoch (month/year are
    // calendar positions, like CH)
    f("toRelativeSecondNum") { es => epochOf(es.head) }
    f("toRelativeMinuteNum") { es => IntegralDivide(epochOf(es.head), Literal(60L)) }
    f("toRelativeHourNum") { es => IntegralDivide(epochOf(es.head), Literal(3600L)) }
    f("toRelativeDayNum") { es =>
      DateDiff(Cast(es.head, DateType), Cast(Literal("1970-01-01"), DateType))
    }
    f("toRelativeMonthNum") { es =>
      Add(Multiply(Year(es.head), Literal(12)), Month(es.head))
    }
    f("toRelativeYearNum") { es => Year(es.head) }
    // Modified Julian Day: days since 1858-11-17
    f("toModifiedJulianDay") { es =>
      DateDiff(Cast(es.head, DateType), Cast(Literal("1858-11-17"), DateType))
    }
    f("fromModifiedJulianDay") { es =>
      DateAdd(Cast(Literal("1858-11-17"), DateType), es.head)
    }
    f("monthName") { es => DateFormatClass(Cast(es.head, TimestampType), Literal("MMMM")) }
    // CH dateName('part', d): the named/numbered component as a string
    f("dateName") { es =>
      val part = es.head match {
        case lit if lit.foldable => String.valueOf(lit.eval()).toLowerCase
        case _ => throw new IllegalArgumentException(
          "dateName: part must be a string literal")
      }
      val d = es(1)
      val e: Expression = part match {
        case "year" => Year(d)
        case "quarter" => Quarter(d)
        case "month" => DateFormatClass(Cast(d, TimestampType), Literal("MMMM"))
        case "week" => WeekOfYear(d)
        case "dayofyear" => DayOfYear(d)
        case "day" => DayOfMonth(d)
        case "weekday" => DateFormatClass(Cast(d, TimestampType), Literal("EEEE"))
        case "hour" => Hour(d)
        case "minute" => Minute(d)
        case "second" => Second(d)
        case other => throw new IllegalArgumentException(s"dateName: unknown part '$other'")
      }
      Cast(e, StringType)
    }
    // CH age('unit', s, e): COMPLETE units between s and e (vs dateDiff's
    // boundary crossings) — months_between carries the day/time compare,
    // fixed-duration units divide the epoch difference
    f("age") { es =>
      val unit = es.head match {
        case lit if lit.foldable => String.valueOf(lit.eval()).toLowerCase
        case _ => throw new IllegalArgumentException("age: unit must be a string literal")
      }
      val (s, e) = (es(1), es(2))
      def bySeconds(n: Long): Expression =
        IntegralDivide(Subtract(epochOf(e), epochOf(s)), Literal(n))
      // truncate toward zero like the seconds-based units (a reversed
      // range counts the same magnitude either direction)
      def months: Expression = Cast(
        MonthsBetween(Cast(e, TimestampType), Cast(s, TimestampType),
          Literal(false), None),
        LongType)
      unit match {
        case "second" => bySeconds(1L)
        case "minute" => bySeconds(60L)
        case "hour" => bySeconds(3600L)
        case "day" => bySeconds(86400L)
        case "week" => bySeconds(604800L)
        case "month" => months
        case "quarter" => IntegralDivide(months, Literal(3L))
        case "year" => IntegralDivide(months, Literal(12L))
        case other => throw new IllegalArgumentException(s"age: unknown unit '$other'")
      }
    }
    // CH add*/subtract* family — calendar-aware month/year arithmetic,
    // fixed-duration below a day (naive timestamps: no DST games)
    for ((name, unit) <- Seq("addSeconds" -> "SECOND", "addMinutes" -> "MINUTE",
        "addHours" -> "HOUR", "addDays" -> "DAY", "addWeeks" -> "WEEK",
        "addMonths" -> "MONTH", "addYears" -> "YEAR")) {
      f(name) { es => TimestampAdd(unit, es(1), es(0)) }
      f(name.replace("add", "subtract")) { es =>
        TimestampAdd(unit, UnaryMinus(es(1)), es(0)) }
    }
    // CH dateDiff('unit', a, b): BOUNDARY CROSSINGS from a to b (calendar
    // semantics — dateDiff('day', 23:59, 00:01) = 1), not complete
    // intervals, so Spark's TimestampDiff (complete units) is the wrong
    // tool; built from truncations instead. DuckDB's date_diff counts the
    // same boundaries, so oracles mirror 1:1. Registered as chDateDiff:
    // Spark's parser special-cases 3-arg datediff before function lookup,
    // so the CH spelling reaches this via ChSql.dateDiff's rewrite.
    f("chDateDiff") { es =>
      val unit = es.head match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
          s.toString.toLowerCase
        case other => throw new IllegalArgumentException(
          s"dateDiff: unit must be a string literal, got $other")
      }
      val (a, b) = (es(1), es(2))
      def secs(e: Expression) = Cast(Cast(e, TimestampType), LongType)
      def floorDiv(e: Expression, d: Long) =
        IntegralDivide(e, Literal(d), EvalMode.LEGACY)
      def dayDiff(x: Expression, y: Expression) =
        Cast(DateDiff(Cast(y, DateType), Cast(x, DateType)), LongType)
      def monthIdx(e: Expression) =
        Add(Multiply(Year(e), Literal(12)), Month(e))
      unit match {
        case "second" => Subtract(secs(b), secs(a))
        case "minute" => Subtract(floorDiv(secs(b), 60), floorDiv(secs(a), 60))
        case "hour" => Subtract(floorDiv(secs(b), 3600), floorDiv(secs(a), 3600))
        case "day" => dayDiff(a, b)
        case "week" => floorDiv(dayDiff( // Monday boundaries, like CH
          Cast(TruncTimestamp(Literal("WEEK"), a), DateType),
          Cast(TruncTimestamp(Literal("WEEK"), b), DateType)), 7)
        case "month" => Cast(Subtract(monthIdx(b), monthIdx(a)), LongType)
        case "quarter" => Cast(Subtract(
          Add(Multiply(Year(b), Literal(4)), Quarter(b)),
          Add(Multiply(Year(a), Literal(4)), Quarter(a))), LongType)
        case "year" => Cast(Subtract(Year(b), Year(a)), LongType)
        case other => throw new IllegalArgumentException(
          s"dateDiff: unsupported unit '$other'")
      }
    }
    // formatDateTime with CH/MySQL specifiers (%i = minute); translated to
    // a Java pattern at registration time
    f("formatDateTime") { es =>
      val fmt = es(1) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
        case other => throw new IllegalArgumentException(
          s"formatDateTime: format must be a string literal, got $other")
      }
      DateFormatClass(es.head, Literal(ChCompat.chFormatToJava(fmt)))
    }
    f("intDiv") { es => IntegralDivide(es(0), es(1), EvalMode.LEGACY) }
    f("splitByChar") { es =>
      val sep = es.head match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
        case other => throw new IllegalArgumentException(
          s"splitByChar: separator must be a string literal, got $other")
      }
      require(sep.length == 1, s"splitByChar: separator must be one char, got '$sep'")
      StringSplit(es(1), Literal(java.util.regex.Pattern.quote(sep)), Literal(-1))
    }
    f("arrayStringConcat") { es =>
      ArrayJoin(es.head, if (es.length > 1) es(1) else Literal(""), None)
    }
    f("empty") { es => EqualTo(Length(es.head), Literal(0)) }
    f("notEmpty") { es => GreaterThan(Length(es.head), Literal(0)) }
    // splitByString: literal multi-char separator (regex-quoted under
    // Spark's regex split). CH drops NOTHING — trailing empties ride, so
    // limit -1 matches.
    f("splitByString") { es =>
      val sep = es.head match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
        case other => throw new IllegalArgumentException(
          s"splitByString: separator must be a string literal, got $other")
      }
      require(sep.nonEmpty, "splitByString: separator must be non-empty")
      StringSplit(es(1), Literal(java.util.regex.Pattern.quote(sep)), Literal(-1))
    }
    // CH string-name aliases onto exact-semantics Spark natives. The
    // *UTF8 spellings are the same operation here: Spark strings are
    // already character-addressed (CH splits the names because its plain
    // forms are byte-addressed).
    f("lengthUTF8") { es => Length(es.head) }
    f("lowerUTF8") { es => Lower(es.head) }
    f("upperUTF8") { es => Upper(es.head) }
    f("reverseUTF8") { es => Reverse(es.head) }
    f("substringUTF8") { es => Substring(es(0), es(1), es(2)) }
    f("leftPad") { es =>
      new StringLPad(es(0), es(1), if (es.length > 2) es(2) else Literal(" "))
    }
    f("rightPad") { es =>
      new StringRPad(es(0), es(1), if (es.length > 2) es(2) else Literal(" "))
    }
    f("trimBoth") { es => new StringTrim(es.head) }
    f("trimLeft") { es => new StringTrimLeft(es.head) }
    f("trimRight") { es => new StringTrimRight(es.head) }
    // array predicates/counts CH spells beyond has/hasAny
    f("hasAll") { es => EqualTo(Size(ArrayExcept(es(1), es(0))), Literal(0)) }
    f("countEqual") { es =>
      Size(ArrayFilter(es(0), LambdaFunction(
        EqualNullSafe(UnresolvedNamedLambdaVariable(Seq("ce_x")), es(1)),
        Seq(UnresolvedNamedLambdaVariable(Seq("ce_x"))))))
    }
    // occurrence numbering: arrayEnumerateUniq(a)[i] = 1-based index of
    // a[i] among equal values so far (O(n²) per row — per-row arrays)
    f("arrayEnumerateUniq") { es =>
      val arr = es.head
      ArrayTransform(arr, LambdaFunction(
        Size(ArrayFilter(
          Slice(arr, Literal(1), Add(UnresolvedNamedLambdaVariable(Seq("aeu_i")), Literal(1))),
          LambdaFunction(
            EqualNullSafe(UnresolvedNamedLambdaVariable(Seq("aeu_y")),
              UnresolvedNamedLambdaVariable(Seq("aeu_x"))),
            Seq(UnresolvedNamedLambdaVariable(Seq("aeu_y")))))),
        Seq(UnresolvedNamedLambdaVariable(Seq("aeu_x")),
          UnresolvedNamedLambdaVariable(Seq("aeu_i")))))
    }
    // ---- date completions ---------------------------------------------
    // CH toTime: keep the time of day, pin the date to 1970-01-02
    f("toTime") { es =>
      Cast(SecondsToTimestamp(Add(
        Pmod(Cast(Cast(es.head, TimestampType), LongType), Literal(86400L)),
        Literal(86400L))), TimestampNTZType)
    }
    f("toISOWeek") { es => WeekOfYear(es.head) }
    // ISO year = calendar year of the ISO week's Thursday
    f("toISOYear") { es =>
      val d = Cast(es.head, DateType)
      Year(DateAdd(d, Subtract(Literal(4), Add(WeekDay(d), Literal(1)))))
    }
    f("toLastDayOfMonth") { es => LastDay(es.head) }
    // toStartOfInterval(t, INTERVAL n unit): day-time intervals truncate
    // on the epoch-micros grid; year-month intervals on the month grid
    f("toStartOfInterval") { es =>
      // interval literals carry micros (day-time) / months (year-month)
      // internally — read the foldable value, not a unit-dependent cast
      require(es(1).foldable, "toStartOfInterval: INTERVAL literal required")
      (es(1).dataType, es(1).eval()) match {
        case (_: DayTimeIntervalType, us: java.lang.Long) =>
          val ivSec = math.max(1L, us.longValue() / 1000000L)
          val sec = Cast(Cast(es.head, TimestampType), LongType)
          Cast(SecondsToTimestamp(Multiply(
            IntegralDivide(sec, Literal(ivSec)), Literal(ivSec))), TimestampNTZType)
        case (_: YearMonthIntervalType, months: java.lang.Integer) =>
          val n = math.max(1, months.intValue())
          val m0 = Add(Multiply(Year(es.head), Literal(12L)),
            Subtract(Cast(Month(es.head), LongType), Literal(1L)))
          val mt = Multiply(IntegralDivide(m0, Literal(n.toLong)), Literal(n.toLong))
          Cast(MakeDate(Cast(IntegralDivide(mt, Literal(12L)), IntegerType),
            Cast(Add(Pmod(mt, Literal(12L)), Literal(1L)), IntegerType),
            Literal(1)), TimestampNTZType)
        case (other, _) => throw new IllegalArgumentException(
          s"toStartOfInterval: INTERVAL literal required, got ${other.simpleString}")
      }
    }
    // CH window-view time buckets: tumble/hop produce Spark's window
    // struct (start, end) — the analyzer's TimeWindowing rule expands
    // them in GROUP BY exactly like window()
    def ivMicros(e: Expression, what: String): Long = {
      require(e.foldable, s"$what: INTERVAL literal required")
      (e.dataType, e.eval()) match {
        case (_: DayTimeIntervalType, us: java.lang.Long) => us.longValue()
        case (t, _) => throw new IllegalArgumentException(
          s"$what: day-time INTERVAL required, got ${t.simpleString}")
      }
    }
    f("tumble") { es =>
      val iv = ivMicros(es(1), "tumble")
      TimeWindow(es(0), iv, iv, 0L)
    }
    f("hop") { es =>
      // CH hop(ts, hop_interval, window_interval)
      TimeWindow(es(0), ivMicros(es(2), "hop"), ivMicros(es(1), "hop"), 0L)
    }
    f("tumbleStart") { es =>
      if (es.length == 1) org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("start"))
      else {
        val iv = ivMicros(es(1), "tumbleStart")
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(TimeWindow(es(0), iv, iv, 0L), Literal("start"))
      }
    }
    f("tumbleEnd") { es =>
      if (es.length == 1) org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("end"))
      else {
        val iv = ivMicros(es(1), "tumbleEnd")
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(TimeWindow(es(0), iv, iv, 0L), Literal("end"))
      }
    }
    // parseDateTime with the CH/MySQL specifiers formatDateTime uses
    f("parseDateTime") { es =>
      val fmt = es(1) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
        case other => throw new IllegalArgumentException(
          s"parseDateTime: format must be a string literal, got $other")
      }
      Cast(SecondsToTimestamp(UnixTimestamp(es.head,
        Literal(ChCompat.chFormatToJava(fmt)))), TimestampNTZType)
    }
    // best-effort parse: ISO (native cast), slashed/dotted forms, bare
    // unix seconds — first non-null wins, null if nothing fits
    f("parseDateTimeBestEffort") { es =>
      val s = es.head
      def tryFmt(p: String): Expression =
        SecondsToTimestamp(UnixTimestamp(s, Literal(p), None, failOnError = false))
      Cast(Coalesce(Seq(
        Cast(s, TimestampType, None, EvalMode.TRY),
        tryFmt("yyyy/MM/dd HH:mm:ss"),
        tryFmt("yyyy/MM/dd"),
        tryFmt("dd.MM.yyyy HH:mm:ss"),
        tryFmt("dd.MM.yyyy"),
        If(RLike(s, Literal("^\\d{9,10}$")),
          SecondsToTimestamp(Cast(s, LongType)), Literal(null, TimestampType))
      )), TimestampNTZType)
    }
    f("fromUnixTimestamp") { es =>
      if (es.length == 1) Cast(SecondsToTimestamp(es.head), TimestampNTZType)
      else {
        val fmt = es(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            s"fromUnixTimestamp: format must be a string literal, got $other")
        }
        DateFormatClass(SecondsToTimestamp(es.head),
          Literal(ChCompat.chFormatToJava(fmt)))
      }
    }
    // CH dateTrunc spelling of date_trunc (unit first, like Spark)
    f("dateTrunc") { es => TruncTimestamp(es(0), es(1)) }
    // toMillisecond — the millisecond component (0-999) of a timestamp.
    // Pmod FIRST (wall-clock position within the second is sign-free),
    // divide after: truncating the raw micros first would bucket pre-epoch
    // fractional milliseconds wrong (-500 µs is ms 999, not ms 0)
    f("toMillisecond") { es =>
      Cast(IntegralDivide(
        Pmod(UnixMicros(Cast(es.head, TimestampType)), Literal(1000000L)),
        Literal(1000L), EvalMode.LEGACY), IntegerType)
    }
    // hopStart/hopEnd(ts, hop_interval, window_interval) — bounds of the
    // LATEST hopping window containing ts (CH WindowView semantics): the
    // start is ts floored to the hop grid, the end is start + window size.
    f("hopStart") { es =>
      require(es.length == 3, "hopStart(ts, hop_interval, window_interval)")
      val hop = ivMicros(es(1), "hopStart")
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
        TimeWindow(es(0), hop, hop, 0L), Literal("start"))
    }
    f("hopEnd") { es =>
      require(es.length == 3, "hopEnd(ts, hop_interval, window_interval)")
      val hop = ivMicros(es(1), "hopEnd")
      val win = ivMicros(es(2), "hopEnd")
      TimestampAddInterval(
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
          TimeWindow(es(0), hop, hop, 0L), Literal("start")),
        Literal(new org.apache.spark.unsafe.types.CalendarInterval(
          0, 0, win)))
    }
  }
}
