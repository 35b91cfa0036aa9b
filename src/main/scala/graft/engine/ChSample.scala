package graft.engine

/** ClickHouse `SAMPLE` clause → a deterministic hash-range filter over the
  * table's declared `SAMPLE BY` key (CH docs: SELECT ... SAMPLE k
  * [OFFSET m]; the DDL surface parses through [[ChDdl]] and registers in
  * [[ChReplay.tables]]).
  *
  * Semantics preserved: the sample is a *fixed subset* — a pure function
  * of the sampling key, so repeated queries see the same rows, `SAMPLE
  * 0.5` is a superset of `SAMPLE 0.25`, and `OFFSET` carves disjoint
  * slices for different consumers. Documented divergence: CH positions
  * rows by its declared hash (intHash32 etc.); here position is the first
  * 13 hex digits of md5(key) — a different (engine-reproducible) uniform
  * order, so the *specific* rows differ from CH while every statistical
  * and algebraic property holds. 13 hex digits = 52 bits: exact in a
  * double, and numeric order == the hex string's lexicographic order, so
  * the predicate stays a plain string range any engine can mirror.
  *
  * The rewrite is plain Spark SQL under the original alias,
  * `FROM (SELECT * FROM t a WHERE <md5 range>) a`, so qualified references
  * and everything after FROM survive verbatim (an ASOF/ANY join after it
  * included), and Spark resolves the table like any other. The filter is
  * an ordinary WHERE on a deterministic expression — at scale it rides the
  * scan (no shuffle, no sort), exactly like CH's sample-range index prune
  * in spirit.
  */
object ChSample {

  private val sampleRe =
    ("(?is)\\bfrom\\s+([\\w.]+)" +
      "(?:\\s+(?:as\\s+)?(?!sample\\b|where\\b|group\\b|order\\b|having\\b|limit\\b|" +
      "settings\\b|join\\b|left\\b|right\\b|inner\\b|full\\b|cross\\b|any\\b|asof\\b|" +
      "global\\b|on\\b|using\\b)(\\w+))?" +
      "\\s+sample\\s+([0-9]*\\.?[0-9]+(?:\\s*/\\s*[0-9]+)?)" +
      "(?:\\s+offset\\s+([0-9]*\\.?[0-9]+(?:\\s*/\\s*[0-9]+)?))?").r

  /** Does the query contain a SAMPLE clause to translate? */
  def applies(sql: String): Boolean = sampleRe.findFirstIn(ChSql.maskStrings(sql)).isDefined

  /** `0.25` or `1/4` → fraction. CH's row-count form (`SAMPLE 10000`) needs
    * table statistics and is rejected with a clear error.
    */
  private def frac(s: String, what: String, isOffset: Boolean = false): Double = {
    val v = s.split("/") match {
      case Array(a) => a.trim.toDouble
      case Array(a, b) => a.trim.toDouble / b.trim.toDouble
      case _ => sys.error(s"ChSample: bad $what '$s'")
    }
    if (isOffset) require(v >= 0.0 && v < 1.0,
      s"ChSample: $what must be in [0, 1), got '$s'")
    else require(v > 0.0 && v <= 1.0,
      s"ChSample: $what must be a fraction in (0, 1], got '$s' " +
        "(the approximate row-count form is not supported)")
    v
  }

  /** 13 lowercase hex digits of floor(x · 16¹³) — an md5-prefix bound. */
  private def hexBound(x: Double): String =
    f"${math.min((x * 4503599627370496.0).toLong, 4503599627370495L)}%013x"

  /** Parse one matched SAMPLE span → (table, alias, range predicate). */
  private def parsed(m: scala.util.matching.Regex.Match,
      sampleKeyFor: String => Option[String]): (String, String, String) = {
    val table = m.group(1)
    val alias = Option(m.group(2)).getOrElse(table.split('.').last)
    val f = frac(m.group(3), "SAMPLE fraction")
    val off = Option(m.group(4)).map(frac(_, "OFFSET", isOffset = true)).getOrElse(0.0)
    require(off + f <= 1.0 + 1e-12,
      s"ChSample: SAMPLE $f OFFSET $off runs past the end of the hash space " +
        "(fraction + offset must be <= 1) — the slice would silently shrink")
    val key = sampleKeyFor(table).getOrElse(sys.error(
      s"ChSample: table $table declares no SAMPLE BY key"))
    val h = s"substring(md5(cast(($key) as string)), 1, 13)"
    val hi = off + f
    val pred =
      if (hi >= 1.0) s"$h >= '${hexBound(off)}'"
      else s"$h >= '${hexBound(off)}' AND $h < '${hexBound(hi)}'"
    (table, alias, pred)
  }

  /** Rewrite every `FROM t [alias] SAMPLE f [OFFSET m]` span (matched on
    * the masked twin) into a subquery over `t` filtered to the slice of
    * its `sampleKeyFor(t)` key.
    */
  private[engine] def rewrite(query: String, sampleKeyFor: String => Option[String]): String =
    ChSql.replaceOnMasked(query, sampleRe) { m =>
      val (name, alias, pred) = parsed(m, sampleKeyFor)
      s" FROM (SELECT * FROM $name $alias WHERE $pred) $alias "
    }
}
