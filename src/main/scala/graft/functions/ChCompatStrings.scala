package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** ChCompat's string-shaped families: URL functions, string search,
  * encoding/bit, IPv4 helpers, and the JSON family. Split out of
  * [[ChCompat]] verbatim.
  */
private[functions] object ChCompatStrings {

  val functions = FunctionTable.define(this) { f =>
    // ---- CH URL functions (composed on ParseUrl — codegen'd java.net
    // parsing, no UDF). CH returns '' where java yields null/absent, so
    // every part is coalesced onto ''. Divergence notes: no public-suffix
    // list ships here, so topLevelDomain is the last dot label (CH agrees
    // for ordinary hosts; differs on exotic multi-part suffix queries via
    // firstSignificantSubdomain, which is out of scope).
    def urlPart(url: Expression, part: String): Expression =
      Coalesce(Seq(ParseUrl(Seq(url, Literal(part)), failOnError = false), Literal("")))
    f("protocol") { es => urlPart(es.head, "PROTOCOL") }
    f("domain") { es => urlPart(es.head, "HOST") }
    f("domainWithoutWWW") { es =>
      RegExpReplace(urlPart(es.head, "HOST"), Literal("^www\\."), Literal(""))
    }
    f("topLevelDomain") { es =>
      RegExpExtract(urlPart(es.head, "HOST"), Literal("\\.([^.]+)$"), Literal(1))
    }
    f("path") { es => urlPart(es.head, "PATH") }
    f("queryString") { es => urlPart(es.head, "QUERY") }
    f("fragment") { es => urlPart(es.head, "REF") }
    // pathFull = path + ?query + #fragment (CH includes both)
    f("pathFull") { es =>
      val q = ParseUrl(Seq(es.head, Literal("QUERY")), failOnError = false)
      val r = ParseUrl(Seq(es.head, Literal("REF")), failOnError = false)
      Concat(Seq(
        urlPart(es.head, "PATH"),
        Coalesce(Seq(Concat(Seq(Literal("?"), q)), Literal(""))),
        Coalesce(Seq(Concat(Seq(Literal("#"), r)), Literal("")))))
    }
    f("queryStringAndFragment") { es =>
      val r = ParseUrl(Seq(es.head, Literal("REF")), failOnError = false)
      Concat(Seq(
        urlPart(es.head, "QUERY"),
        Coalesce(Seq(Concat(Seq(Literal("#"), r)), Literal("")))))
    }
    f("extractURLParameter") { es =>
      Coalesce(Seq(ParseUrl(Seq(es.head, Literal("QUERY"), es(1)), failOnError = false),
        Literal("")))
    }
    f("cutQueryString") { es =>
      // only a '?' BEFORE any '#' starts a query string — '?' inside the
      // fragment is legal and stays (CH agrees)
      RegExpReplace(es.head, Literal("^([^#?]*)\\?[^#]*"), Literal("$1"))
    }
    f("cutFragment") { es =>
      RegExpReplace(es.head, Literal("#.*$"), Literal(""))
    }
    f("cutQueryStringAndFragment") { es =>
      RegExpReplace(es.head, Literal("[?#].*$"), Literal(""))
    }
    f("cutWWW") { es =>
      RegExpReplace(es.head, Literal("^((?:[A-Za-z][A-Za-z0-9+.-]*://)?)www\\."), Literal("$1"))
    }
    // ---- CH string-search functions ----------------------------------
    // CH position counts BYTES (1-based; 0 = absent) where Spark counts
    // characters — identical on ASCII, documented divergence beyond;
    // positionUTF8 (characters on both engines) is the exact twin.
    f("position") { es => StringLocate(es(1), es.head, Literal(1)) }
    f("positionUTF8") { es => StringLocate(es(1), es.head, Literal(1)) }
    f("positionCaseInsensitive") { es =>
      StringLocate(Lower(es(1)), Lower(es.head), Literal(1))
    }
    // hasToken: the needle appears as a whole token, i.e. bounded by
    // non-alphanumeric bytes or the string edges (the CH tokenbf
    // tokenizer contract). Needle must be a literal — it is compiled
    // into the match regex.
    f("hasToken") { es =>
      val tok = es(1) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
        case other => throw new IllegalArgumentException(
          s"hasToken: token must be a string literal, got $other")
      }
      require(tok.nonEmpty && tok.forall(_.isLetterOrDigit),
        s"hasToken: token must be non-empty alphanumeric, got '$tok'")
      RLike(es.head, Literal(
        "(^|[^A-Za-z0-9])" + java.util.regex.Pattern.quote(tok) + "([^A-Za-z0-9]|$)"))
    }
    f("multiSearchAny") { es =>
      val x = UnresolvedNamedLambdaVariable(Seq("__ms_x"))
      ArrayExists(es(1), LambdaFunction(Contains(es.head, x), Seq(x)))
    }
    f("countSubstrings") { es =>
      If(Or(IsNull(es(1)), EqualTo(Length(es(1)), Literal(0))), Literal(0L),
        IntegralDivide(
          Subtract(Length(es.head), Length(StringReplace(es.head, es(1), Literal("")))),
          Length(es(1)), EvalMode.LEGACY))
    }
    f("match") { es => RLike(es.head, es(1)) }
    f("extractAll") { es =>
      // CH: the capturing group if the pattern has one, else the whole match
      val grp = es(1) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType)
          if java.util.regex.Pattern.compile(s.toString).matcher("").groupCount() > 0 => 1
        case _ => 0
      }
      RegExpExtractAll(es.head, es(1), Literal(grp))
    }
    f("replaceAll") { es => StringReplace(es.head, es(1), es(2)) }
    f("replaceRegexpAll") { es => RegExpReplace(es.head, es(1), es(2)) }
    // ---- encoding / bit functions (CH spellings; hex/unhex are native) -
    f("base64Encode") { es => Base64(Cast(es.head, BinaryType)) }
    f("base64Decode") { es => Cast(new UnBase64(es.head), StringType) }
    f("tryBase64Decode") { es => Cast(new UnBase64(es.head), StringType) }
    f("bitAnd") { es => BitwiseAnd(es(0), es(1)) }
    f("bitOr") { es => BitwiseOr(es(0), es(1)) }
    f("bitXor") { es => BitwiseXor(es(0), es(1)) }
    f("bitNot") { es => BitwiseNot(es.head) }
    f("bitShiftLeft") { es => ShiftLeft(es(0), es(1)) }
    f("bitShiftRight") { es => ShiftRight(es(0), es(1)) }
    f("bitCount") { es => BitwiseCount(es.head) }
    f("bitTest") { es =>
      Cast(BitwiseAnd(ShiftRight(es(0), Cast(es(1), IntegerType)), Literal(1L)),
        IntegerType)
    }
    f("exp2") { es => Pow(Literal(2.0), es.head) }
    f("exp10") { es => Pow(Literal(10.0), es.head) }
    f("intExp2") { es => ShiftLeft(Literal(1L), Cast(es.head, IntegerType)) }
    f("intExp10") { es => Cast(Pow(Literal(10.0), es.head), LongType) }
    // largest power of two ≤ x (anything below one returns 0, CH's
    // documented convention — a negative shift would wrap mod 64)
    f("roundToExp2") { es =>
      val x = Cast(es.head, DoubleType)
      If(LessThan(x, Literal(1.0)), Literal(0L),
        ShiftLeft(Literal(1L), Cast(new Floor(Log2(x)), IntegerType)))
    }
    // largest array element ≤ x, else the first element
    f("roundDown") { es =>
      val v = UnresolvedNamedLambdaVariable(Seq("__rd_v"))
      Coalesce(Seq(
        ArrayMax(ArrayFilter(es(1), LambdaFunction(
          LessThanOrEqual(v, es(0)), Seq(v)))),
        ElementAt(es(1), Literal(1))))
    }
    f("roundBankers") { es =>
      BRound(es(0), if (es.length >= 2) es(1) else Literal(0))
    }
    // ---- IPv4 helpers --------------------------------------------------
    def ipOctets(n: Expression): Seq[Expression] =
      Seq(24, 16, 8, 0).map(sh => Cast(BitwiseAnd(
        ShiftRight(Cast(n, LongType), Literal(sh)), Literal(255L)), StringType))
    def ipToNum(s: Expression): Expression = {
      val parts = StringSplit(s, Literal("\\."), Literal(-1))
      Seq(1, 2, 3, 4).map[Expression](i =>
        Multiply(Cast(ElementAt(parts, Literal(i)), LongType),
          Literal(1L << (8 * (4 - i))))).reduceLeft(Add(_, _))
    }
    f("IPv4NumToString") { es => ConcatWs(Literal(".") +: ipOctets(es.head)) }
    f("IPv4StringToNum") { es => ipToNum(es.head) }
    f("isIPv4String") { es =>
      RLike(es.head,
        Literal("^((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])$"))
    }
    // (lower, upper) bounds of a CIDR block as dotted strings
    f("IPv4CIDRToRange") { es =>
      val n = ipToNum(es(0))
      val bits = Cast(es(1), IntegerType)
      val mask = BitwiseAnd(
        ShiftLeft(Literal(0xFFFFFFFFL), Subtract(Literal(32), bits)),
        Literal(0xFFFFFFFFL))
      val lower = BitwiseAnd(n, mask)
      val upper = BitwiseOr(lower, BitwiseAnd(BitwiseNot(mask), Literal(0xFFFFFFFFL)))
      CreateNamedStruct(Seq(
        Literal("lower"), ConcatWs(Literal(".") +: ipOctets(lower)),
        Literal("upper"), ConcatWs(Literal(".") +: ipOctets(upper))))
    }
    f("generateUUIDv4") { _ => new Uuid() }
    // CH rand() is UInt32-valued; registered under CH's rand32/rand64
    // spellings so Spark's own [0,1) rand() keeps its meaning
    f("rand32") { _ =>
      Cast(new Floor(Multiply(new Rand(), Literal(4294967296.0))), LongType)
    }
    f("rand64") { _ =>
      Cast(new Floor(Multiply(new Rand(), Literal(9.223372036854776e18))), LongType)
    }
    f("randCanonical") { _ => new Rand() }
    f("randUniform") { es =>
      Add(Multiply(new Rand(), Subtract(es(1), es(0))), es(0))
    }
    f("randNormal") { es =>
      Add(Multiply(new Randn(), es(1)), es(0))
    }
    // ---- JSON family (CH JSONExtract* / visitParam* / simpleJSON*) ----
    // CH's key arguments are NAMES, not paths — build the '$.name' path
    // inline (non-literal keys parse per row, same as CH). The visitParam/
    // simpleJSON spellings are CH's no-nesting fast path; on well-formed
    // JSON they agree with the full parser, so both map to GetJsonObject.
    // Divergence note: JSONExtractString on a JSON `null` returns SQL NULL
    // here (CH returns '').
    def jsonPath(key: Expression): Expression =
      Concat(Seq(Literal("$."), key))
    def jsonGet(es: Seq[Expression]): Expression =
      GetJsonObject(es(0), jsonPath(es(1)))
    for (n <- Seq("JSONExtractString", "visitParamExtractString",
        "simpleJSONExtractString", "JSONExtractRaw"))
      f(n) { es => jsonGet(es) }
    for ((n, t) <- Seq("JSONExtractInt" -> LongType,
        "visitParamExtractInt" -> LongType, "simpleJSONExtractInt" -> LongType,
        "JSONExtractUInt" -> LongType,
        "JSONExtractFloat" -> DoubleType, "visitParamExtractFloat" -> DoubleType,
        "simpleJSONExtractFloat" -> DoubleType,
        "JSONExtractBool" -> BooleanType, "visitParamExtractBool" -> BooleanType))
      f(n) { es => Cast(jsonGet(es), t) }
    for (n <- Seq("JSONHas", "visitParamHas", "simpleJSONHas"))
      f(n) { es => IsNotNull(jsonGet(es)) }
    f("JSONExtractKeys") { es =>
      if (es.length == 1) JsonObjectKeys(es.head)
      else JsonObjectKeys(jsonGet(es))
    }
    // array length for arrays, key count for objects (CH's length contract)
    f("JSONLength") { es =>
      val j = if (es.length == 1) es.head else jsonGet(es)
      Coalesce(Seq(LengthOfJsonArray(j), Size(JsonObjectKeys(j))))
    }

    // ---- round-11 dialect tail ----------------------------------------
    // splitByRegexp(re, s) — CH keeps empty leading/trailing fields
    // (splitByChar discipline); Spark's limit=-1 matches. Divergence note:
    // an EMPTY pattern splits to per-character fields in CH; Java's split
    // yields the same per-character fields, so the two agree there too.
    f("splitByRegexp") { es =>
      require(es.length == 2, "splitByRegexp(re, s)")
      StringSplit(es(1), es(0), Literal(-1))
    }
    // CH regexpExtract(haystack, pattern[, index]); index defaults to 1
    // (the first capture group), same as Spark's regexp_extract
    f("regexpExtract") { es =>
      require(es.length == 2 || es.length == 3, "regexpExtract(s, re[, idx])")
      RegExpExtract(es(0), es(1), if (es.length == 3) es(2) else Literal(1))
    }
    // isIPv6String — RFC-4291 textual forms: full 8-group, ::-compressed at
    // every position, and the IPv4-suffixed tails (::ffff:1.2.3.4 and
    // general v4-embedded). Same anchored-regex discipline as isIPv4String.
    f("isIPv6String") { es =>
      val h = "[0-9A-Fa-f]{1,4}"
      val v4 = "((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\\.){3}" +
        "(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])"
      // v4-embedded compressed tails: X hex groups, '::', Y hex groups,
      // then the dotted quad (worth 2 groups). Enumerated per X so the
      // group-count bound X + Y ≤ 5 stays strict — a collapsed
      // `(h:)*::(h:)*v4` would admit over-long addresses
      val p = s"^($h:){7}$h$$" +
        s"|^($h:){1,7}:$$" +
        s"|^($h:){1,6}:$h$$" +
        s"|^($h:){1,5}(:$h){1,2}$$" +
        s"|^($h:){1,4}(:$h){1,3}$$" +
        s"|^($h:){1,3}(:$h){1,4}$$" +
        s"|^($h:){1,2}(:$h){1,5}$$" +
        s"|^$h:(:$h){1,6}$$" +
        s"|^:((:$h){1,7}|:)$$" +
        s"|^($h:){6}$v4$$" +
        s"|^::($h:){0,5}$v4$$" +
        s"|^$h::($h:){0,4}$v4$$" +
        s"|^$h:$h::($h:){0,3}$v4$$" +
        s"|^($h:){2}$h::($h:){0,2}$v4$$" +
        s"|^($h:){3}$h::($h:){0,1}$v4$$" +
        s"|^($h:){4}$h::$v4$$"
      RLike(es.head, Literal(p))
    }
    // toBool — CH accepts true/false/1/0 (and T/F case-insensitively via
    // the cast); Spark's string→boolean cast implements the same table
    f("toBool") { es => Cast(es.head, BooleanType) }
    // widthBucket — identical contract to Spark's width_bucket
    f("widthBucket") { es =>
      require(es.length == 4, "widthBucket(x, lo, hi, n)")
      WidthBucket(es(0), es(1), es(2), es(3))
    }
    // mapContainsKeyLike(m, pattern) — any key LIKE pattern
    f("mapContainsKeyLike") { es =>
      require(es.length == 2, "mapContainsKeyLike(map, pattern)")
      val k = UnresolvedNamedLambdaVariable(Seq("__mckl_k"))
      ArrayExists(MapKeys(es(0)), LambdaFunction(new Like(k, es(1)), Seq(k)))
    }
  }
}
