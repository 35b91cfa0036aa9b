package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{And, BinaryComparison, Expression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.{Inner, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.util.MetadataColumnHelper
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The ClickHouse dialect's front door, [[run]] — the one way to execute
  * dialect text — and its first step, [[apply]]: the pure string-level
  * shims for constructs whose Spark equivalent needs only a mechanical
  * rewrite:
  *
  *  - `PREWHERE` — CH's manual predicate-pushdown stage; Spark's optimizer
  *    already pushes filters to the scan, so it reads as WHERE (and merges
  *    with an existing WHERE by conjunction, CH's combined semantics);
  *  - trailing `FORMAT <name>` — output formatting, meaningless for a
  *    DataFrame result;
  *  - `GROUP BY ... WITH TOTALS` — the grand-total companion row, as
  *    `GROUPING SETS ((keys), ())`. Documented divergences: CH renders
  *    the totals row's key columns as type defaults (0/''), grouping
  *    sets yield NULLs — the relational convention Spark and DuckDB
  *    share; and over EMPTY input Spark's grouping sets emit no rows at
  *    all (no totals row), where other engines emit the () row;
  *  - `GLOBAL` join/IN prefix — CH's ship-to-every-shard hint; Catalyst
  *    owns distribution, the keyword drops;
  *  - scalar `WITH <expr> AS <name>` aliases (CH's expression-first
  *    form) — inlined as `(expr)` through the body; real CTE lists pass
  *    through to Spark untouched.
  */
object ChSql {

  /** Rewrites `q` by matching `re` against its masked twin (literal,
    * quoted-identifier and comment bodies blanked, same length — see
    * [[maskStrings]]) and assembling the output from ORIGINAL-text
    * slices. Keyword regexes can therefore never match inside a literal
    * or a comment, and their bytes pass through untouched. `repl` receives the
    * masked match; use [[grp]] to read a group's ORIGINAL text.
    */
  private[engine] def replaceOnMasked(q: String,
      re: scala.util.matching.Regex)(
      repl: scala.util.matching.Regex.Match => String): String = {
    val out = new StringBuilder
    var last = 0
    for (m <- re.findAllMatchIn(maskStrings(q))) {
      out.append(q.substring(last, m.start))
      out.append(repl(m))
      last = m.end
    }
    out.append(q.substring(last)).toString
  }

  /** Group `g`'s ORIGINAL text for a match made on `q`'s masked twin
    * (positions coincide — masking preserves length).
    */
  private[engine] def grp(q: String, m: scala.util.matching.Regex.Match, g: Int): String =
    q.substring(m.start(g), m.end(g))

  /** Applies `f` to each maximal run of CODE — the text between [[lex]]'s
    * spans — passing string literals, quoted identifiers and comments
    * through verbatim: the in-place-rewrite twin of [[replaceOnMasked]]
    * for shims whose regexes stay inside one code run. A column named
    * `` `a.1` `` or an alias quoting a shim keyword must never be
    * rewritten, exactly as [[maskStrings]] hides them from the keyword
    * scans.
    */
  private[engine] def mapCode(q: String)(f: String => String): String = {
    val out = new StringBuilder
    var last = 0
    for (s <- lex(q)) {
      out.append(f(q.substring(last, s.start))).append(q.substring(s.start, s.end))
      last = s.end
    }
    out.append(f(q.substring(last))).toString
  }

  private[engine] def isIdentChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** First non-whitespace index at or after `from`. */
  private def skipWs(s: String, from: Int): Int = {
    var j = from
    while (j < s.length && s.charAt(j).isWhitespace) j += 1
    j
  }

  /** End (exclusive) of the identifier run starting at `from`; == `from`
    * when no identifier char starts there.
    */
  private def identEnd(s: String, from: Int): Int = {
    var j = from
    while (j < s.length && isIdentChar(s.charAt(j))) j += 1
    j
  }

  /** Whole word `w` (case-insensitive, right-boundary-guarded) at `j`? */
  private def wordAt(s: String, j: Int, w: String): Boolean =
    s.regionMatches(true, j, w, 0, w.length) &&
      (j + w.length >= s.length || !isIdentChar(s.charAt(j + w.length)))

  /** End (exclusive) of the NAME token at `j`: a bare identifier run or a
    * quoted identifier (masked bodies are blank, escapes included, so the
    * next quote char is the close). Returns `j` when neither starts there
    * (or the quote never closes).
    */
  private def nameTokenEnd(masked: String, j: Int): Int =
    if (j < masked.length && (masked.charAt(j) == '`' || masked.charAt(j) == '"')) {
      val e = masked.indexOf(masked.charAt(j), j + 1)
      if (e < 0) j else e + 1
    } else identEnd(masked, j)

  /** Is position `i` (a char of `masked`) the `(` opening a
    * `(SELECT ...)` / `(WITH ...)` subquery?
    */
  private def subqueryOpenAt(masked: String, i: Int): Boolean =
    masked.charAt(i) == '(' && {
      val j = skipWs(masked, i + 1)
      wordAt(masked, j, "select") || wordAt(masked, j, "with")
    }

  /** Does clause keyword `k` match at position `i` of `masked`?
    * Identifier-boundary-guarded on both sides, plus GRAMMAR-SHAPE
    * disambiguation for the keywords that are also legal column or
    * function names — each counts only when followed by the shape its
    * clause grammar demands:
    *  - GROUP/ORDER: their `BY`;
    *  - LIMIT/OFFSET: a numeric literal, `ALL`, a parenthesized constant
    *    expression, or a CH `{param:Type}` query parameter (a column
    *    named limit/offset sits before an operator instead, and neither
    *    can be a function call);
    *  - SETTINGS: a `name =` pair;
    *  - FORMAT: one (possibly quoted) format name followed only by what
    *    may close a statement (end / `;` / `)` / a SETTINGS clause) —
    *    `format(...)` the CH function and a `format` column in an
    *    expression both fail this shape;
    *  - WINDOW: `name AS` (the named-window clause), name possibly
    *    quoted.
    * Fully-reserved words (WHERE/HAVING/UNION/EXCEPT/INTERSECT/QUALIFY/
    * ...) match on the word boundary alone — `UNION (SELECT ...)` is
    * valid SQL and none of them can be identifiers. Quoted identifiers
    * never reach any branch: [[maskStrings]] blanks their bodies.
    */
  private def keywordAt(masked: String, i: Int, k: String): Boolean = {
    if (!masked.regionMatches(true, i, k, 0, k.length)) return false
    if (i > 0 && isIdentChar(masked.charAt(i - 1))) return false
    val after = i + k.length
    if (after < masked.length && isIdentChar(masked.charAt(after))) return false
    k.toLowerCase match {
      case "group" | "order" =>
        after < masked.length && masked.charAt(after).isWhitespace &&
          wordAt(masked, skipWs(masked, after), "by")
      case "limit" | "offset" =>
        // number, ALL, parenthesized constant, or a CH {param:Type}
        // query parameter — never a function call
        val j = skipWs(masked, after)
        j < masked.length && (masked.charAt(j).isDigit ||
          masked.charAt(j) == '(' || masked.charAt(j) == '{' ||
          wordAt(masked, j, "all"))
      case "settings" =>
        val j = skipWs(masked, after)
        val e = identEnd(masked, j)
        e > j && {
          val t = skipWs(masked, e)
          t < masked.length && masked.charAt(t) == '='
        }
      case "format" =>
        // one (possibly quoted) format name — but never a bare
        // trailing-word lookalike (ASC/DESC/NULLS...: `ORDER BY format
        // ASC` is a format COLUMN) — then only what CH's grammar allows
        // after the output format: end, ';', scope close, or a trailing
        // SETTINGS clause
        val j = skipWs(masked, after)
        val e = nameTokenEnd(masked, j)
        e > j && !masked.charAt(j).isDigit && masked.charAt(j) != '_' &&
        !notFormatNameSet.contains(masked.substring(j, e).toLowerCase) && {
          val t = skipWs(masked, e)
          // the follower must itself be SHAPED as a SETTINGS clause
          // (name =), not merely spell the word — `x < format AND
          // settings = 1` with format/settings COLUMNS must not match
          t >= masked.length || masked.charAt(t) == ';' ||
            masked.charAt(t) == ')' || keywordAt(masked, t, "settings")
        }
      case "window" =>
        val j = skipWs(masked, after)
        val e = nameTokenEnd(masked, j)
        e > j && !masked.charAt(j).isDigit &&
          wordAt(masked, skipWs(masked, e), "as")
      case _ => true
    }
  }

  /** Index of the first `kw` keyword at paren depth 0 in `masked`,
    * scanning from `from`. Returns -1 when the enclosing scope closes
    * (unbalanced `)`), at a depth-0 `;` (statement boundary), when any
    * `stopAt` keyword appears first at depth 0,
    * or when nothing matches. Rides [[keywordAt]]'s boundary + grammar
    * guards — THE shared depth-0 keyword scan (prewhere's WHERE pairing
    * and the alias-order-key SELECT/FROM location both ride it;
    * hand-rolling a fourth copy of this loop is how the boundary bugs
    * crept in).
    */
  private[engine] def findTopLevelKeyword(masked: String, from: Int, kw: String,
      stopAt: Seq[String] = Nil): Int = {
    var i = from; var d = 0
    while (i < masked.length) {
      val c = masked.charAt(i)
      if (c == '(') d += 1
      else if (c == ')') { if (d == 0) return -1 else d -= 1 }
      // a clause never crosses a statement boundary (same rule as
      // clauseEnd) — without this, a PREWHERE would pair with the WHERE
      // of the NEXT statement
      else if (c == ';' && d == 0) return -1
      else if (d == 0 && c.isLetter) {
        if (keywordAt(masked, i, kw)) return i
        if (stopAt.exists(keywordAt(masked, i, _))) return -1
      }
      i += 1
    }
    -1
  }

  /** Index where the clause starting at `from` ends: the first depth-0
    * occurrence of any `enders` keyword, a depth-0 `)` (scope close) or
    * `;`, else `masked.length`.
    */
  private def clauseEnd(masked: String, from: Int, enders: Seq[String]): Int = {
    var i = from; var d = 0
    while (i < masked.length) {
      val c = masked.charAt(i)
      if (c == '(') d += 1
      else if (c == ')') { if (d == 0) return i else d -= 1 }
      else if (c == ';' && d == 0) return i
      else if (d == 0 && c.isLetter && enders.exists(keywordAt(masked, i, _)))
        return i
      i += 1
    }
    masked.length
  }

  /** Keywords that end a PREWHERE/WHERE clause region — a companion WHERE
    * cannot sit beyond any of these in the same block.
    */
  private val clauseEnders = Seq("group", "order", "having", "limit",
    "offset", "settings", "format", "union", "except", "intersect",
    "window", "qualify")

  /** PREWHERE → WHERE; `PREWHERE a ... WHERE b` → `WHERE (a) AND (b)` —
    * BOTH sides parenthesized, matching CH's combined semantics (an
    * unparenthesized companion would let its top-level OR bind wrong:
    * `p AND a OR b` ≠ `p AND (a OR b)`). The companion WHERE is located
    * at the SAME paren depth within the PREWHERE's own scope and BEFORE
    * the next clause keyword (a WHERE inside a subquery of the PREWHERE
    * expression, or in a later UNION branch, belongs there — not to this
    * clause pair). One occurrence rewrites per iteration against the
    * CURRENT text, so nested PREWHEREs (one inside another's subquery)
    * each merge with their own block's WHERE without stale-offset
    * corruption. Re-masking per iteration costs one O(n) pass per
    * PREWHERE occurrence — deliberate: occurrences are at most a
    * handful, and masking the spliced text fresh is immune to the
    * offset-drift class that incremental mask maintenance invites.
    */
  def prewhere(q: String): String = {
    var cur = q
    var remaining = true
    while (remaining) {
      val masked = maskStrings(cur)
      """(?i)\bprewhere\b""".r.findFirstMatchIn(masked) match {
        case None => remaining = false
        case Some(m) =>
          val w = findTopLevelKeyword(masked, m.end, "where", clauseEnders)
          val sb = new StringBuilder(cur)
          if (w >= 0) {
            val expr = cur.substring(m.end, w).trim
            val wEnd = clauseEnd(masked, w + 5, clauseEnders)
            val companion = cur.substring(w + 5, wEnd).trim
            // empty companion = malformed input (WHERE directly before a
            // clause keyword); fall back to the unbounded splice rather
            // than emit `AND ()`
            if (companion.isEmpty)
              sb.replace(m.start, w + 5, s"WHERE ($expr) AND"): Unit
            else
              sb.replace(m.start, wEnd,
                s"WHERE ($expr) AND ($companion) "): Unit
          } else sb.replace(m.start, m.end, "WHERE"): Unit
          cur = sb.toString
      }
    }
    cur
  }

  /** A QUOTED identifier in a regex over MASKED text: delimiters around a
    * blank body (the same token [[nameTokenEnd]] scans).
    */
  private val quotedNameRe = """(?:`[^`]*`|"[^"]*")"""
  /** Words that can trail an expression or ORDER BY key list and are
    * therefore NEVER a bare FORMAT name — without this, `ORDER BY format
    * ASC` (a column named format, statement-final direction) would read
    * as `FORMAT ASC` and truncate/strip the key. Quoted names are exempt
    * (quoting is exactly how a user spells a weird name on purpose).
    * Shared by [[keywordAt]]'s format shape and [[formatClauseRe]].
    */
  private val notFormatNames =
    Seq("asc", "desc", "nulls", "first", "last", "by", "settings",
      "format", "select", "from", "where", "and", "or", "not", "in",
      "like", "is", "between", "as", "then", "else", "end", "when")
  private val notFormatNameSet = notFormatNames.toSet

  /** `FORMAT <name>` with the shared token-boundary rule — a quoted name
    * needs no whitespace after the keyword (the opening quote ends the
    * token), and a bare name must not be a trailing-word lookalike from
    * [[notFormatNames]]. ONE sub-pattern used by both [[stripFormat]] and
    * [[stripSettings]] so the two strips cannot drift.
    */
  private val formatClauseRe =
    "\\bformat(?:\\s+|(?=[`\"]))" +
      "(?:(?!(?:" + notFormatNames.mkString("|") + ")\\b)\\w+|" +
      quotedNameRe + ")"

  /** Drop a trailing `FORMAT <name>` (with or without closing `;`), or a
    * `FORMAT <name>` directly before a statement-final SETTINGS clause —
    * CH accepts both orders. The name may be quoted. A `format` COLUMN
    * never matches: in expression position the follower is an operator,
    * not `;`/end/`settings name =` (same shape rule as [[keywordAt]]).
    */
  def stripFormat(q: String): String =
    replaceOnMasked(q,
      // quote chars end/begin tokens on their own, so a QUOTED name needs
      // no whitespace on either side of it (same boundary rule as the
      // keyword scanner); a BARE name needs \s+ before the SETTINGS
      // lookahead or the \w+ could backtrack and split an identifier
      // ending in "...settings" mid-word
      ("(?is)" + formatClauseRe +
        "(?:\\s*;?\\s*$|(?:\\s+|(?<=[`\"]))(?=settings\\s+\\w+\\s*=))").r)(_ => "")

  /** Drop a trailing `SETTINGS k = v[, ...]` clause — CH's per-query
    * engine knobs (max_threads, max_memory_usage, ...); Spark's execution
    * tuning lives in the session conf, and none of the reference's knobs
    * change query SEMANTICS. Composes before [[stripFormat]] order-wise:
    * CH grammar puts SETTINGS before FORMAT.
    */
  def stripSettings(q: String): String = {
    // a value is a quoted literal or a bare token. The match runs on
    // MASKED text, where a literal is its two quotes around blanks.
    // The bare-token arm is POSSESSIVE ([^,;\s]++): a value runs to the
    // next separator and never backtracks, so the trailing-FORMAT
    // lookahead cannot split a value like `x-format` at any boundary.
    // Strictly MORE conservative than CH's lexer (which would tokenize
    // x-format as three tokens and reject the statement): malformed
    // input passes through unstripped instead of being mangled
    val v = "(?:'[^']*'|[^,;\\s]++)"
    replaceOnMasked(q,
      (s"(?is)\\bsettings\\s+\\w+\\s*=\\s*$v(\\s*,\\s*\\w+\\s*=\\s*$v)*" +
        "(?=\\s*(" + formatClauseRe + "\\s*)?;?\\s*$)").r)(_ => "")
  }

  /** `GROUP BY keys WITH TOTALS` → `GROUP BY GROUPING SETS ((keys), ())`. */
  def withTotals(q: String): String =
    replaceOnMasked(q, """(?is)\bgroup\s+by\s+(.*?)\s+with\s+totals\b""".r)(m =>
      s"GROUP BY GROUPING SETS ((${grp(q, m, 1).trim}), ())")

  /** `GROUP BY keys WITH ROLLUP` → `GROUP BY ROLLUP(keys)` (likewise
    * CUBE) — identical subtotal-row semantics in Spark and DuckDB
    * (super-aggregate rows carry NULL keys; CH renders type defaults,
    * the same documented divergence as WITH TOTALS). Runs BEFORE
    * [[withTotals]] in [[apply]] so a `WITH TOTALS` never swallows a
    * `WITH ROLLUP` suffix into its key list.
    */
  def withRollupCube(q: String): String =
    replaceOnMasked(q, """(?is)\bgroup\s+by\s+(.*?)\s+with\s+(rollup|cube)\b""".r)(
      m => s"GROUP BY ${m.group(2).toUpperCase}(${grp(q, m, 1).trim})")

  /** `ORDER BY keys LIMIT n WITH TIES` → rank-with-ties: the first n rows
    * PLUS every row tied with the n-th on the ORDER BY values — exactly
    * `rank() OVER (ORDER BY keys) <= n` (ranks beyond n start past the tie
    * group). Rewritten as a wrapped subquery with a `* EXCEPT` projection
    * dropping the helper rank, so the shim stays string-level. Requires
    * the depth-0 ORDER BY (CH's own WITH TIES contract — tie membership is
    * order-defined), whose keys must be selectable from the query's own
    * output (the restriction the LIMIT BY rewrite also places — the rank
    * computes over the wrapped subquery); anything after the TIES clause
    * (OFFSET, LIMIT BY) is rejected rather than silently misread. Runs
    * OUTERMOST in [[apply]]:
    * SETTINGS/FORMAT suffixes are already stripped and the body shims have
    * already rewritten the text this wraps.
    */
  def withTies(q: String): String = {
    val masked = maskStrings(q)
    val anyTies = """(?is)\blimit\s+\d+\s+with\s+ties\b""".r
    val li = findTopLevelKeyword(masked, 0, "limit")
    if (li < 0) {
      // a WITH TIES buried in a subquery would otherwise pass through to
      // an opaque parser error — name the limitation instead
      if (anyTies.findFirstIn(masked).isDefined) sys.error(nestedTiesMsg)
      return q
    }
    val tiesRe = """(?is)^limit\s+(\d+)\s+with\s+ties\s*(;?)\s*$""".r
    val m = tiesRe.findFirstMatchIn(masked.substring(li)).getOrElse {
      // a depth-0 LIMIT without (or with trailing clutter after) WITH
      // TIES: plain LIMIT passes through unless a WITH TIES hides in a
      // subquery (unsupported, loud) or trails extra clauses (loud)
      if ("""(?is)^limit\s+\d+\s+with\s+ties\b""".r
          .findFirstIn(masked.substring(li)).isDefined)
        sys.error("ChSql: LIMIT n WITH TIES must end the statement " +
          "(OFFSET / further clauses after WITH TIES are not supported)")
      if (anyTies.findFirstIn(masked).isDefined) sys.error(nestedTiesMsg)
      return q
    }
    if (anyTies.findFirstIn(masked.substring(0, li)).isDefined)
      sys.error(nestedTiesMsg)
    val n = m.group(1)
    val ob = findTopLevelKeyword(masked, 0, "order")
    require(ob >= 0 && ob < li,
      "ChSql: LIMIT n WITH TIES needs a top-level ORDER BY " +
        "(tie membership is order-defined — CH's own contract)")
    val afterOrder = skipWs(q, ob + "order".length)
    require(wordAt(masked, afterOrder, "by"),
      "ChSql: malformed ORDER BY before LIMIT ... WITH TIES")
    val keys = q.substring(afterOrder + 2, li).trim
    require(keys.nonEmpty, "ChSql: empty ORDER BY key list before WITH TIES")
    // Positional keys (CH `ORDER BY 1 ... WITH TIES` — positional args are
    // on by default in CH) would be copied verbatim into the rank window,
    // where `ORDER BY 1` is a CONSTANT ordering: every row ranks 1 and the
    // whole set comes back. Reject loudly instead of silently misranking —
    // the same discipline as the shim's other refusals.
    splitTopArgs(keys).foreach { item =>
      val bare = item.trim
        .replaceAll("(?is)\\s+nulls\\s+(first|last)\\s*$", "")
        .replaceAll("(?is)\\s+(asc|desc)\\s*$", "")
      require(!bare.matches("\\d+"),
        "ChSql: positional ORDER BY keys (ORDER BY " + bare + ") are not " +
          "supported with LIMIT ... WITH TIES — name the column (the key " +
          "is re-emitted inside rank() OVER, where a bare integer is a " +
          "constant ordering, not a position)")
    }
    val body = q.substring(0, ob).trim
    s"SELECT * EXCEPT (__gf_ties_rank) FROM (" +
      s"SELECT *, rank() OVER (ORDER BY $keys) AS __gf_ties_rank FROM (" +
      s"$body) __gf_ties_i) __gf_ties_o " +
      s"WHERE __gf_ties_rank <= $n ORDER BY $keys" + m.group(2)
  }

  private val nestedTiesMsg =
    "ChSql: LIMIT ... WITH TIES is only supported on the outermost query " +
      "block — hoist the subquery's tie logic, or use " +
      "QUALIFY rank() OVER (ORDER BY ...) <= n inside it"

  /** Drop CH's `GLOBAL` distribution keyword (GLOBAL [ANY|…] JOIN /
    * GLOBAL [NOT] IN): on CH it forces shipping the right side to every
    * shard; Catalyst owns distribution (broadcast vs shuffle) from
    * statistics, and on one engine the unprefixed form is semantically
    * identical.
    */
  def stripGlobal(q: String): String =
    replaceOnMasked(q,
      "(?i)\\bglobal\\s+(?=((any|all|left|right|inner|full|cross|semi|anti|asof)\\s+)*join\\b|(not\\s+)?in\\s*\\()".r)(
      _ => "")

  /** CH scalar WITH aliases: `WITH <expr> AS <name>, ... SELECT` binds
    * expression-first names (the reverse of a SQL CTE's `name AS
    * (subquery)`). When EVERY item of the leading WITH list is
    * scalar-form, the list is stripped and each name is inlined as
    * `(expr)` throughout the body (outside string literals). Lists with
    * any CTE-form item pass through untouched — Spark owns real CTEs,
    * and CH itself forbids mixing the two forms in one list.
    */
  def scalarWith(q: String): String = {
    val m = """(?is)^\s*with\s+""".r.findFirstMatchIn(q).getOrElse(return q)
    // the first top-level SELECT keyword starts the body; top-level
    // commas before it separate the items
    val bodyStart = findTopLevelKeyword(maskStrings(q), m.end, "select")
    if (bodyStart < 0) return q
    // scalar form ends in a bare identifier (`expr AS name`); a CTE item
    // ends in the parenthesized subquery (`name AS (select ...)`) and
    // does not match — any such item leaves the whole query untouched.
    // `(SELECT ...) AS name` scalar subqueries also pass through: CH
    // allows them, but inlining is Spark-dialect-sensitive — out of scope.
    val scalarItem = """(?is)^\s*(.*?)\s+as\s+(\w+)\s*$""".r
    val items = splitTopArgs(q.substring(m.end, bodyStart)).map(_.trim).filter(_.nonEmpty)
    val binds = items.map { it =>
      scalarItem.findFirstMatchIn(it) match {
        case Some(sm) if !sm.group(1).trim.startsWith("(") =>
          (sm.group(2), sm.group(1).trim)
        case _ => return q
      }
    }
    var body = q.substring(bodyStart)
    // reverse order: a later alias may reference an earlier one
    // (`WITH 2 AS a, a*3 AS b`) — inlining b first lets the a-pass then
    // resolve the reference inside b's expansion
    for ((name, expr) <- binds.reverse) {
      val pat = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
      body = mapCode(body)(p =>
        pat.replaceAllIn(p, java.util.regex.Matcher.quoteReplacement(s"($expr)")))
    }
    body
  }

  /** Decode ONE ClickHouse string-literal escape — the text at `j` is the
    * char(s) following a backslash, per CH's parseComplexEscapeSequence:
    * control escapes decode, `\xHH` decodes the hex byte, `\N` (the NULL
    * spelling) decodes to the empty string, the quoting-relevant set
    * (backslash, quotes, backtick, slash, equals) decodes to the bare
    * char — and any OTHER `\c` KEEPS the backslash ("for convenience
    * using LIKE", so CH's `'100\%'` stays the escaped literal percent;
    * dropping the backslash here once inverted LIKE semantics). Returns
    * (decoded string, source chars consumed after the backslash). The
    * single definition shared by the quoted-identifier scanner below and
    * ChReplay's SHOW ... LIKE pattern decoding.
    */
  def chEscape(s: String, j: Int): (String, Int) = s.charAt(j) match {
    case 'n' => ("\n", 1)
    case 't' => ("\t", 1)
    case 'r' => ("\r", 1)
    case '0' => ("\u0000", 1)
    case 'b' => ("\b", 1)
    case 'e' => ("\u001B", 1)
    case 'f' => ("\f", 1)
    case 'a' => ("\u0007", 1)
    case 'v' => ("\u000B", 1)
    case 'N' => ("", 1)
    case 'x' if j + 2 < s.length &&
        s.charAt(j + 1).isValidHexDigit && s.charAt(j + 2).isValidHexDigit =>
      (Integer.parseInt(s.substring(j + 1, j + 3), 16).toChar.toString, 3)
    case c @ ('\\' | '\'' | '"' | '`' | '/' | '=') => (c.toString, 1)
    // CH's keep-backslash exclusion uses isControlASCII (<= 0x1F only —
    // DEL and Java's wider isControl range 0x80-0x9F keep the backslash)
    case other if other < ' ' => (other.toString, 1)
    case other => ("\\" + other, 1)
  }

  private implicit class HexChar(private val c: Char) extends AnyVal {
    def isValidHexDigit: Boolean = Character.digit(c, 16) >= 0
  }

  /** Decode a WHOLE CH string-literal body (quotes already stripped):
    * every `\`-escape via [[chEscape]] plus the doubled-`quote` form
    * (`''`; `""` for a double-quoted identifier).
    * The one full-literal decoder — shared by ChDdl's COMMENT clause and
    * ChReplay's SHOW ... LIKE pattern handling, so an escape-rule change
    * lands everywhere at once.
    */
  def chUnescapeLiteral(p: String, quote: Char = '\''): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\\' && i + 1 < p.length) {
        val (dec, used) = chEscape(p, i + 1)
        sb.append(dec)
        i += 1 + used
      } else if (c == quote && i + 1 < p.length && p.charAt(i + 1) == quote) {
        sb.append(quote); i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** CH double-quoted identifiers → Spark backtick identifiers. In
    * ClickHouse `"name"` is ALWAYS an identifier (string literals are
    * single-quoted only); Spark's default parser reads `"name"` as a
    * string literal, so passing it through would silently compare a
    * constant instead of referencing the column. Doubled `""` and
    * backslash escapes become the literal char; backticks inside the
    * name are re-escaped by doubling. Runs INNERMOST in [[apply]] so
    * every later shim sees only the quote forms its scanners expect.
    */
  def chQuotedIdents(q: String): String = {
    val sb = new StringBuilder
    var last = 0
    // an unterminated name passes through
    for (s <- lex(q) if q.charAt(s.start) == '"' && s.bodyEnd < s.end) {
      // CH quoted identifiers use string-literal escape rules
      val name = chUnescapeLiteral(q.substring(s.bodyStart, s.bodyEnd), '"')
      sb.append(q.substring(last, s.start)).append('`').append(name.replace("`", "``")).append('`')
      last = s.end
    }
    sb.append(q.substring(last)).toString
  }

  /** CH bracket array literals — `[e1, e2, ...]` → `array(e1, ...)` —
    * with parenthesized TUPLE elements directly inside a literal becoming
    * `tuple(...)` (struct fields col1, col2, ... — which is what the
    * [[tupleIndex]] rewrite below targets). The doc's hand-built-rows
    * idiom `ARRAY JOIN [('android','1.1',1001), ...] AS a` (doc:335-495)
    * parses through these two shims verbatim. A `[` directly after an
    * identifier, `)` or `]` is a SUBSCRIPT and is left alone (the lexer
    * rule every SQL dialect uses).
    */
  def chLiterals(q: String): String = {
    val masked = maskStrings(q)
    val sb = new StringBuilder
    var i = 0
    while (i < q.length) {
      if (masked.charAt(i) == '[' && {
        // a subscript `a[1]` has its identifier (or closing paren/bracket/
        // quoted-identifier quote) IMMEDIATELY before the bracket; any
        // whitespace (or start/other punctuation) before `[` means a literal
        val prev = if (i == 0) ' ' else masked.charAt(i - 1)
        !(prev.isLetterOrDigit || prev == '_' || prev == ')' || prev == ']' ||
          prev == '`' || prev == '"')
      }) {
        val end = matchingClose(masked, i)
        if (end < 0) sys.error(s"chLiterals: unbalanced [ at $i")
        val items = splitTopArgs(q.substring(i + 1, end)).map { raw =>
          val e = chLiterals(raw).trim
          // (a, b, ...) with a top-level comma is a CH tuple literal;
          // (expr) without one is plain grouping (CH agrees)
          if (e.startsWith("(") && e.endsWith(")") &&
              splitTopArgs(e.substring(1, e.length - 1)).length > 1) "tuple" + e
          else e
        }
        sb.append("array(").append(items.mkString(", ")).append(")")
        i = end + 1
      } else { sb += q.charAt(i); i += 1 }
    }
    sb.toString
  }

  /** CH positional tuple access `x.1` → Spark's `x.col1` (unnamed-struct
    * field names). Identifier-dot-digits only — a float like `1.1` has no
    * identifier prefix and stays.
    */
  def tupleIndex(q: String): String =
    mapCode(q)(_.replaceAll("\\b([A-Za-z_]\\w*)\\.(\\d+)", "$1.col$2"))

  /** CH `dateDiff('unit', a, b)` (quoted unit, boundary-crossing
    * semantics): Spark's PARSER grabs 3-arg datediff before function
    * lookup and demands an unquoted unit with complete-interval
    * semantics, so the registry alone can't shadow it — rewrite to the
    * registered `chDateDiff` instead. The unquoted Spark form passes
    * through untouched.
    */
  def dateDiff(q: String): String =
    // a code run ending in `dateDiff(` means the next quote opens the
    // unit literal — exactly the CH quoted-unit form (mapCode flushes
    // code runs at each literal boundary)
    mapCode(q)(_.replaceAll("(?i)\\bdateDiff\\s*\\(\\s*$", "chDateDiff("))

  /** CH `xxHash64(...)` (seed 0 over bytes): the name case-insensitively
    * collides with Spark's built-in seed-42 `xxhash64` — and in Spark 4
    * even `functions.xxhash64` resolves by NAME through the session
    * registry, so shadowing the name would silently change every seeded
    * hash in the library (MinHash signatures, LSH buckets, codebook
    * seeding) and any user SQL. The dialect layer owns the CH spelling
    * instead: exact-case `xxHash64(` rewrites to the separately
    * registered `chXxHash64`; Spark's all-lowercase spelling (and any
    * other casing) passes through to the built-in untouched.
    */
  def xxHash(q: String): String =
    mapCode(q)(_.replaceAll("\\bxxHash64\\s*\\(", "chXxHash64("))

  /** CH's deprecated block-order trio — `runningDifference(x)`,
    * `runningAccumulate(state[, grouping])`, `neighbor(x, off[, def])` —
    * rewritten to the registered window forms over the query block's own
    * explicit top-level ORDER BY. CH deprecates the trio precisely
    * because block order is undefined; the rewrite keeps pre-21.x SQL
    * running while making the order explicit — a block that calls any of
    * them WITHOUT a top-level ORDER BY is rejected, with CH's
    * deprecation rationale as the error message.
    *
    *  - `runningDifference(x)` → `(x) - lagInFrame(x, 1, x) OVER (ORDER
    *    BY keys)` — Lag's default is evaluated on the current row, so the
    *    first row yields `x - x = 0`, CH's "returns 0 for the first row"
    *    (a NULL mid-stream stays NULL, as for CH Nullable input);
    *  - `neighbor(x, off[, d])` → `leadInFrame(x, off, d |
    *    defaultValueOfArgumentType(x)) OVER (ORDER BY keys)` — negative
    *    `off` looks back, the omitted default is the TYPE default
    *    (0 / '' / zero-date), both as in CH;
    *  - `runningAccumulate(st[, g])` → `<base>Merge(st) OVER ([PARTITION
    *    BY g] ORDER BY keys ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
    *    ROW)` — `<base>` inferred from the `<base>State(...) AS st` that
    *    produced the state column (scanned statement-wide, so the usual
    *    state-from-subquery idiom resolves), or from an inline
    *    `<base>State(args)` argument, which degenerates to the raw
    *    running aggregate `<base>(args)`. The optional second argument is
    *    CH's "reset when this changes" grouping → PARTITION BY, accepted
    *    only when the grouping leads the block's ORDER BY (else PARTITION
    *    BY would merge non-contiguous runs that CH resets — rejected with
    *    the fix named).
    *
    * Subqueries rewrite against their own block's ORDER BY, not the
    * outer one (CH computes the trio per block).
    */
  private val trioNames = Seq("runningDifference", "runningAccumulate", "neighbor")

  def runningWindow(q: String): String = {
    // exact case: CH resolves function names case-SENSITIVELY, so
    // RUNNINGDIFFERENCE/Neighbor are NOT the deprecated trio there and
    // must not be hijacked into the window rewrite here either
    val masked = maskStrings(q)
    if (!trioNames.exists(masked.contains(_))) return q
    rewriteRunningBlock(q, collectStateAliases(q))
  }

  /** Does `s` contain a trio CALL outside any `(SELECT/WITH …)` subquery?
    * Distinguishes the truly-nested argument case (rejected — a window
    * inside a window) from an error raised out of a scalar subquery that
    * happens to sit in the argument (passed through untouched).
    */
  private def hasTopLevelTrioCall(s: String): Boolean = {
    val masked = maskStrings(s)
    var i = 0
    while (i < s.length) {
      if (subqueryOpenAt(masked, i))
        i = matchingParen(s, i) + 1
      else {
        val prevIdent = i > 0 && isIdentChar(masked.charAt(i - 1))
        if (!prevIdent && trioNames.exists { n =>
            masked.regionMatches(false, i, n, 0, n.length) && {
              val j = skipWs(masked, i + n.length)
              j < masked.length && masked.charAt(j) == '('
            }
          })
          return true
        i += 1
      }
    }
    false
  }

  /** One non-code span of a SQL text: `[start, end)` with its
    * delimiters, `[bodyStart, bodyEnd)` between them (`bodyEnd == end`
    * when no closing delimiter follows).
    */
  private[engine] final case class Span(start: Int, bodyStart: Int, bodyEnd: Int, end: Int)

  /** THE lexer of the dialect layer: the non-code spans of `q`, in text
    * order. Every scanner reads its result — through [[maskStrings]],
    * [[mapCode]], [[depths]], [[matchingClose]] or [[splitTop]] — and
    * none tracks quotes itself. The rules:
    *  - `'…'` string literal: `\` escapes the next char, `''` is a quote;
    *  - `"…"` quoted identifier (CH; a string in Spark's default
    *    dialect): the same two escapes with `"`;
    *  - `` `…` `` quoted identifier: only a doubled backtick escapes (a
    *    backslash is a plain byte);
    *  - `--` comment: runs to the end of the line (the newline is code);
    *  - `/* … */` comment: not nested.
    * A span that never closes runs to the end of the text.
    */
  private[engine] def lex(q: String): IndexedSeq[Span] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Span]
    val n = q.length
    var i = 0
    while (i < n) {
      val c = q.charAt(i)
      val span =
        if (c == '\'' || c == '`' || c == '"') {
          var j = i + 1; var close = -1
          while (close < 0 && j < n) {
            val d = q.charAt(j)
            if (d == '\\' && c != '`' && j + 1 < n) j += 2
            else if (d != c) j += 1
            else if (j + 1 < n && q.charAt(j + 1) == c) j += 2
            else close = j
          }
          Some(if (close < 0) Span(i, i + 1, n, n) else Span(i, i + 1, close, close + 1))
        } else if (q.startsWith("--", i)) {
          val e = q.indexOf('\n', i) match { case -1 => n; case e => e }
          Some(Span(i, i + 2, e, e))
        } else if (q.startsWith("/*", i)) {
          val e = q.indexOf("*/", i + 2)
          Some(if (e < 0) Span(i, i + 2, n, n) else Span(i, i + 2, e, e + 2))
        } else None
      span match {
        case Some(s) => out += s; i = s.end
        case None => i += 1
      }
    }
    out.toIndexedSeq
  }

  /** `q`'s masked twin: every [[lex]] span's body blanked (same length,
    * delimiters kept), so keyword, identifier and bracket scans over it
    * cannot match inside a literal, a quoted identifier or a comment.
    */
  private[graft] def maskStrings(q: String): String = {
    val sb = new StringBuilder(q)
    for (s <- lex(q); k <- s.bodyStart until s.bodyEnd) sb.setCharAt(k, ' ')
    sb.toString
  }

  /** Bracket depth of each char of `masked`: `(`/`[` open, `)`/`]`
    * close, and a bracket sits at its outer depth (so `(` of a top-level
    * group reads 0). Unbalanced closes go negative.
    */
  private[engine] def depths(masked: String): Array[Int] = {
    val out = new Array[Int](masked.length)
    var d = 0
    for (i <- out.indices) masked.charAt(i) match {
      case '(' | '[' => out(i) = d; d += 1
      case ')' | ']' => d -= 1; out(i) = d
      case _ => out(i) = d
    }
    out
  }

  /** Index of the `)` / `]` closing the `(` / `[` at `open` of `masked`,
    * or -1 when it never closes.
    */
  private[engine] def matchingClose(masked: String, open: Int): Int = {
    val (o, c) = if (masked.charAt(open) == '[') ('[', ']') else ('(', ')')
    var d = 0
    var j = open
    while (j < masked.length) {
      val ch = masked.charAt(j)
      if (ch == o) d += 1
      else if (ch == c) { d -= 1; if (d == 0) return j }
      j += 1
    }
    -1
  }

  /** `q` cut at every `sep` that is code at bracket depth 0. */
  private[engine] def splitTop(q: String, sep: Char): Seq[String] = {
    val masked = maskStrings(q)
    val d = depths(masked)
    val cuts = q.indices.filter(i => masked.charAt(i) == sep && d(i) == 0)
    (-1 +: cuts).zip(cuts :+ q.length).map { case (a, b) => q.substring(a + 1, b) }
  }

  /** Index of the `)` matching the `(` at `open`. */
  private[engine] def matchingParen(q: String, open: Int): Int = {
    val close = matchingClose(maskStrings(q), open)
    if (close < 0) sys.error(s"runningWindow: unbalanced ( at $open")
    close
  }

  /** Split `body` on top-level commas. */
  private[engine] def splitTopArgs(body: String): Seq[String] = splitTop(body, ',')

  /** Statement-wide map of state-column alias → base aggregate name,
    * from every `<base>[Simple]State(...) AS alias` occurrence.
    */
  private def collectStateAliases(q: String): Map[String, String] = {
    val masked = maskStrings(q)
    val call = """(?i)\b(\w+?)(Simple)?State\s*\(""".r
    call.findAllMatchIn(masked).flatMap { m =>
      val close = matchingParen(q, q.indexOf('(', m.end - 1))
      """(?i)^\s+as\s+(\w+)""".r.findFirstMatchIn(masked.substring(close + 1))
        .map(am => am.group(1).toLowerCase -> m.group(1))
    }.toMap
  }

  /** One query block: recurse into `(SELECT …)` / `(WITH …)` subqueries
    * first, then rewrite this block's trio calls against its own
    * top-level ORDER BY keys.
    */
  private def rewriteRunningBlock(block: String, aliases: Map[String, String]): String = {
    val masked = maskStrings(block)
    // this block's ORDER BY: depth-0 only (subqueries and OVER clauses
    // sit inside parens), keys end at the next depth-0 tail keyword
    val orderKeys: Option[String] = locally {
      // LAST depth-0 ORDER BY of the block (keywordAt demands the BY, so
      // an `order` identifier never matches); keys run to the clause end
      var found = -1
      var next = findTopLevelKeyword(masked, 0, "order")
      while (next >= 0) {
        found = next
        next = findTopLevelKeyword(masked, next + 5, "order")
      }
      if (found < 0) None
      else {
        // keywordAt proved `found` starts ORDER with a following BY:
        // skip ORDER (5), the whitespace, and BY (2)
        val afterKw = skipWs(masked, found + 5) + 2
        val end = clauseEnd(masked, afterKw,
          Seq("limit", "offset", "settings", "format", "union", "except", "intersect"))
        Some(block.substring(afterKw, end).trim.stripSuffix(";").trim)
      }
    }
    // ORDER BY keys that are SELECT-list aliases of THIS block (not
    // identity aliases — `k AS k` or qualified `t.k AS k`, which still
    // resolve against the input): the rewrite would order the window by an
    // output alias, which Spark resolves against the INPUT and rejects
    // with an opaque unresolved-column error — reject here with the fix
    // named instead. CH's block model permits ordering the final result
    // by the trio's own alias; a window cannot. The SELECT keyword is
    // located at depth 0 (not string-start-anchored — a leading scalar
    // WITH list must not skip the guard).
    lazy val aliasOrderKey: Option[String] = orderKeys.flatMap { keys =>
      val selKw = findTopLevelKeyword(masked, 0, "select")
      if (selKw < 0) None
      else {
        val sel = selKw + "select".length
        val fromIdx0 = findTopLevelKeyword(masked, sel, "from")
        val fromIdx = if (fromIdx0 < 0) masked.length else fromIdx0
        val item = """(?is)^(.*?)\s+as\s+(\w+)\s*$""".r
        val qualIdent = "[A-Za-z_]\\w*(\\.[A-Za-z_]\\w*)*"
        val nonIdentity = splitTopArgs(block.substring(sel, fromIdx)).flatMap { it =>
          item.findFirstMatchIn(it.trim).collect {
            case m if {
              val ex = m.group(1).trim; val al = m.group(2)
              val identity = ex.equalsIgnoreCase(al) || (ex.matches(qualIdent) &&
                ex.substring(ex.lastIndexOf('.') + 1).equalsIgnoreCase(al))
              !identity
            } => m.group(2).toLowerCase
          }
        }.toSet
        splitTopArgs(keys).map(_.trim
            .replaceAll("(?i)(\\s+(asc|desc))?(\\s+nulls\\s+(first|last))?\\s*$", ""))
          .find(k => k.matches("\\w+") && nonIdentity.contains(k.toLowerCase))
      }
    }
    val sb = new StringBuilder
    var i = 0
    while (i < block.length) {
      val c = masked.charAt(i)
      val prevIdent = i > 0 && isIdentChar(masked.charAt(i - 1))
      val hit = if (prevIdent) None else trioNames.find { n =>
        masked.regionMatches(false, i, n, 0, n.length) && {
          val after = i + n.length
          after < masked.length && !isIdentChar(masked.charAt(after)) && {
            val j = skipWs(masked, after)
            j < masked.length && masked.charAt(j) == '('
          }
        }
      }
      hit match {
        case Some(n) =>
          aliasOrderKey.foreach { k =>
            throw new IllegalArgumentException(
              s"$n(...): this block's ORDER BY key '$k' is a SELECT-list " +
                "alias, which a window spec cannot resolve (Spark resolves " +
                "windows against the input relation) — ORDER BY the " +
                "underlying expression, or compute the running value in a " +
                "subquery over an ordered inner block")
          }
          val open = masked.indexOf('(', i + n.length)
          val close = matchingParen(block, open)
          // rewrite trio calls INSIDE the argument text: legal when they
          // sit in a scalar subquery (their own block), but a trio call
          // at the argument's top level would become a window inside
          // this call's window — the engine rejects that shape, so say
          // so here with the workaround instead of surfacing Spark's
          // opaque nested-window AnalysisException later
          val args = splitTopArgs(block.substring(open + 1, close)).map { a =>
            try rewriteRunningBlock(a, aliases).trim
            catch {
              // only a trio call at the ARGUMENT's top level is the
              // nested-window case; an error raised from a subquery
              // inside the argument (its own block) passes through
              // unrewritten — it describes a real defect there
              case e: IllegalArgumentException
                  if orderKeys.isDefined && hasTopLevelTrioCall(a) =>
                val err = new IllegalArgumentException(
                  s"$n(...): a runningDifference/runningAccumulate/neighbor call " +
                    "inside another's argument cannot share its window — compute " +
                    "the inner call in a subquery with its own ORDER BY (one " +
                    "block per window), then apply the outer call to that column")
                err.initCause(e)
                throw err
            }
          }
          sb.append(rewriteRunningCall(n, args, orderKeys, aliases))
          i = close + 1
        case None =>
          if (c == '(' && subqueryOpenAt(masked, i)) {
            val close = matchingParen(block, i)
            sb.append('(')
              .append(rewriteRunningBlock(block.substring(i + 1, close), aliases))
              .append(')')
            i = close + 1
          } else { sb += block.charAt(i); i += 1 }
      }
    }
    sb.toString
  }

  private def rewriteRunningCall(name: String, args: Seq[String],
      orderKeys: Option[String], aliases: Map[String, String]): String = {
    val keys = orderKeys.getOrElse(throw new IllegalArgumentException(
      s"$name is block-order-dependent and deprecated in ClickHouse because the " +
        "block order is undefined; add an explicit top-level ORDER BY to this query " +
        "block and it is rewritten to the deterministic window form"))
    name.toLowerCase match {
      case "runningdifference" =>
        require(args.length == 1, s"runningDifference expects 1 argument, got ${args.length}")
        val x = args.head
        s"(($x) - lagInFrame($x, 1, $x) OVER (ORDER BY $keys))"
      case "neighbor" =>
        require(args.length == 2 || args.length == 3,
          s"neighbor expects 2 or 3 arguments, got ${args.length}")
        val x = args(0)
        val d = if (args.length == 3) s"(${args(2)})" else s"defaultValueOfArgumentType($x)"
        s"(leadInFrame($x, (${args(1)}), $d) OVER (ORDER BY $keys))"
      case _ => // runningAccumulate
        require(args.length == 1 || args.length == 2,
          s"runningAccumulate expects 1 or 2 arguments, got ${args.length}")
        val st = args.head
        // CH's optional grouping resets the accumulation when the grouping
        // VALUE CHANGES in block order. PARTITION BY is equivalent iff the
        // ORDER BY clusters the grouping (it leads the key list); under any
        // other ORDER BY the two silently diverge (PARTITION BY would merge
        // non-contiguous runs), so demand the clustered form explicitly.
        if (args.length == 2) {
          // strip only MATCHED outer parens (an unconditional strip would
          // mangle `toDate(ts)` asymmetrically against `(toDate(ts))`)
          def stripOuter(s0: String): String = {
            var s = s0.trim
            while (s.startsWith("(") && s.endsWith(")") &&
                matchingParen(s, 0) == s.length - 1)
              s = s.substring(1, s.length - 1).trim
            s
          }
          val norm = (s: String) => stripOuter(s).toLowerCase.replaceAll("\\s+", "")
          val firstKey = splitTopArgs(keys).head.trim
            .replaceAll("(?i)(\\s+(asc|desc))?(\\s+nulls\\s+(first|last))?\\s*$", "")
          require(norm(firstKey) == norm(args(1)), s"runningAccumulate(_, ${args(1)}): " +
            "the grouping resets on every value CHANGE in row order, which matches " +
            "PARTITION BY only when the ORDER BY clusters the grouping — make '" +
            args(1) + "' the leading ORDER BY key of this block (current leading key: '" +
            firstKey + "')")
        }
        val part = if (args.length == 2) s"PARTITION BY (${args(1)}) " else ""
        val frame = s"OVER (${part}ORDER BY $keys ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        val inline = """(?is)^(\w+?)(Simple)?State\s*\((.*)\)$""".r
        st match {
          case inline(base, _, inner) => s"($base($inner) $frame)"
          case _ =>
            val ident = st.substring(st.lastIndexOf('.') + 1).trim
            val base = aliases.getOrElse(ident.toLowerCase, throw new IllegalArgumentException(
              s"runningAccumulate($st): cannot infer the state's merge function — the " +
                "argument must be an inline <agg>State(...) call or a column produced by " +
                "a statement-visible `<agg>State(...) AS " + ident + "`"))
            s"(${base}Merge($st) $frame)"
        }
    }
  }

  /** Split `q` on depth-0 code `;` — one entry per statement,
    * empty segments dropped. The shims are single-statement rewrites
    * (end-anchored strips, one ORDER BY per block), so [[apply]] maps
    * them per statement instead of letting a scan or anchor bleed across
    * the boundary.
    */
  private[engine] def splitStatements(q: String): Seq[String] =
    splitTop(q, ';').filter(_.trim.nonEmpty)

  /** All shims, in the order they compose — applied PER STATEMENT
    * (see [[splitStatements]]), with [[chQuotedIdents]] innermost so
    * every later scanner sees only single quotes and backticks.
    */
  def apply(q: String): String = {
    def one(s: String): String =
      withTies(withTotals(withRollupCube(stripSettings(stripFormat(prewhere(stripGlobal(
        scalarWith(tupleIndex(chLiterals(dateDiff(xxHash(runningWindow(
          chQuotedIdents(s))))))))))))))
    splitStatements(q).map(one).mkString(";\n")
  }

  /** The catalog lookups on which [[run]]'s callers differ: a table's
    * `SAMPLE BY` key and its `FINAL` read (a state table's
    * [[graft.mv.StateTable.merged]]).
    */
  final case class Scope(
      sampleKey: String => Option[String] = _ => None,
      merged: String => DataFrame = name => sys.error(
        s"$name FINAL: FINAL needs an AggregatingMergeTree-backed table"))

  /** THE front door for ClickHouse-dialect text: one statement in, one
    * DataFrame out. In order: the string shims ([[apply]]) and CH's
    * paren-less `USING a, b`; SAMPLE, ASOF, ANY and ARRAY JOIN; FINAL;
    * DISTINCT ON, QUALIFY, LIMIT BY (QUALIFY first: its tail moves to the
    * outer wrapped query, where LIMIT BY can still find it); CH's alias
    * preference in GROUP BY / WHERE; WITH FILL. SAMPLE and ARRAY JOIN
    * become plain Spark SQL; ASOF and ANY drop their keyword and mark the
    * join's right relation, and the session's parser reads the rest. In
    * the parsed plan each table name is asked of `bound` once per call, as
    * its lowercased dotted name (an MV's insert batch answers its source
    * table's name, a replay its tables); a frame it answers, and each
    * FINAL read, replaces the name by its plan, and None leaves the name
    * to the session catalog. Each marked `Join` becomes its ASOF or ANY
    * rewrite ([[ChAsof.join]], [[ChAnyJoin.join]]), inside subquery
    * expressions and CTE bodies too. Nothing is registered in the session
    * catalog.
    */
  def run(spark: SparkSession, text: String, scope: Scope = Scope(),
      bound: String => Option[DataFrame] = _ => None): DataFrame = {
    val parser = spark.sessionState.sqlParser
    // each name's answer, asked once; FINAL reads enter under their own names
    val frames = mutable.HashMap.empty[Seq[String], Option[DataFrame]]
    def bind(df: DataFrame): String = {
      val name = s"__graft_bound_${frames.size}"
      frames(Seq(name)) = Some(df)
      name
    }
    // marker name -> (the right relation's name, the rewrite of its join)
    val marks = mutable.HashMap.empty[String, (String, (SparkSession, Join) => LogicalPlan)]
    def mark(rewrite: (SparkSession, Join) => LogicalPlan)(name: String): String = {
      val marker = s"__graft_join_${marks.size}"
      marks(marker) = (name, rewrite)
      marker
    }
    def relation(u: UnresolvedRelation): LogicalPlan = {
      val key = u.multipartIdentifier.map(_.toLowerCase)
      frames.getOrElseUpdate(key, bound(key.mkString("."))).fold[LogicalPlan](u)(df =>
        SubqueryAlias(u.multipartIdentifier, df.queryExecution.analyzed))
    }
    // the marked relation under its alias, back under its own name
    def unmark(p: LogicalPlan): Option[(LogicalPlan, (SparkSession, Join) => LogicalPlan)] =
      p match {
        case a: SubqueryAlias => unmark(a.child).map { case (c, f) => (a.copy(child = c), f) }
        case u: UnresolvedRelation => marks.get(u.multipartIdentifier.mkString(".")).map {
          case (name, f) => (relation(UnresolvedRelation(parser.parseMultipartIdentifier(name))), f)
        }
        case _ => None
      }
    var q = replaceOnMasked(apply(text), """(?i)\busing\s+(\w+(?:\s*,\s*\w+)+)""".r)(m =>
      "USING (" + m.group(1).replaceAll("\\s+", "") + ")")
    q = ChSample.rewrite(q, scope.sampleKey)
    q = ChAsof.mark(q, mark(ChAsof.join))
    q = ChAnyJoin.mark(q, mark(ChAnyJoin.join))
    q = ChArrayJoin.rewrite(q)
    q = finalReads(q, scope.merged, bind)
    if (ChDistinctOn.applies(q)) q = ChDistinctOn.rewrite(q)
    if (ChQualify.applies(q)) q = ChQualify.rewrite(q)
    if (ChLimitBy.applies(q)) q = ChLimitBy.rewrite(q)
    val (body, fill) = graft.operators.WithFill.split(aliasGroupBy(q))
    val plan = mapPlan(parser.parsePlan(body)) {
      case u: UnresolvedRelation => relation(u)
      case j: Join => unmark(j.right).fold[LogicalPlan](j) { case (right, rewrite) =>
        rewrite(spark, j.copy(right = right))
      }
    }
    fill(ColumnBridge.dataFrame(spark, plan))
  }

  /** A marked join's two analyzed sides and its condition as terms
    * `(comparator, left operand, right operand)`: each ON conjunct is
    * classified by where its attributes come from and written left
    * operand first (`r.t <= l.t` reads `l.t >= r.t`); USING columns are
    * `=` terms.
    */
  private[engine] def joinTerms(spark: SparkSession, j: Join, who: String)
      : (LogicalPlan, LogicalPlan, Seq[(String, Expression, Expression)]) = {
    val using = j.joinType match {
      case UsingJoin(_, cols) => cols
      case _ => Nil
    }
    // a condition on a side's hidden column (an earlier marked join's
    // `r.k`) adds it to that side's output under a Project
    val a = ColumnBridge.dataFrame(spark, Join(j.left, j.right, Inner, j.condition, j.hint))
      .queryExecution.analyzed match {
        case a: Join => a
        case Project(_, a: Join) => a
      }
    def column(side: LogicalPlan, c: String): Expression =
      side.resolve(Seq(c), spark.sessionState.conf.resolver).getOrElse(
        sys.error(s"$who: USING column $c is not in both sides"))
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(x, y) => conjuncts(x) ++ conjuncts(y)
      case other => Seq(other)
    }
    def side(e: Expression): Int =
      if (e.references.isEmpty) 0
      else if (e.references.subsetOf(a.left.outputSet)) 1
      else if (e.references.subsetOf(a.right.outputSet)) 2
      else 0
    val flip = Map("=" -> "=", ">=" -> "<=", "<=" -> ">=", ">" -> "<", "<" -> ">")
    val on = a.condition.toSeq.flatMap(conjuncts).map {
      case c: BinaryComparison if flip.contains(c.symbol) => (side(c.left), side(c.right)) match {
        case (1, 2) => (c.symbol, c.left, c.right)
        case (2, 1) => (flip(c.symbol), c.right, c.left)
        case (x, y) if x == y && x != 0 =>
          sys.error(s"$who: ON condition '${c.sql}' references one side twice")
        case _ => sys.error(s"$who: unsupported ON condition '${c.sql}'")
      }
      case c => sys.error(s"$who: unsupported ON condition '${c.sql}'")
    }
    (a.left, a.right, using.map(c => ("=", column(a.left, c), column(a.right, c))) ++ on)
  }

  /** A marked join's output `plan` (`left`'s columns first, in order)
    * with every right column whose name repeats an earlier one hidden:
    * reachable by qualifier only (`r.k`), the way Spark hides a USING
    * join's right keys, so an unqualified name reads the left side as in
    * ClickHouse. The left side's own same-named columns (a plain join's
    * `a.k`, `b.k`) stay shown; a left column that an earlier marked join
    * hid, and that came back through this join's condition, is hidden
    * again.
    */
  private[engine] def preferLeft(plan: LogicalPlan, left: LogicalPlan): LogicalPlan = {
    val rehidden = left.collect {
      case p: Project => p.getTagValue(Project.hiddenOutputTag).getOrElse(Nil).map(_.exprId)
    }.flatten.toSet
    val own = left.output.map(a => !rehidden(a.exprId)).padTo(plan.output.size, false)
    val seen = mutable.HashSet.empty[String]
    val (shown, hidden) = plan.output.zip(own).partition { case (a, o) =>
      seen.add(a.name.toLowerCase) || o
    }
    val p = Project(shown.map(_._1), plan)
    p.setTagValue(Project.hiddenOutputTag, hidden.map(_._1.markAsQualifiedAccessOnly()))
    p
  }

  /** Does dialect `text` read table `name` anywhere — in a subquery
    * expression or a CTE body too? Read on the parsed plan, so a literal
    * or a longer identifier that merely contains the name does not count.
    */
  private[graft] def reads(text: String, name: String): Boolean = {
    val key = CatalystSqlParser.parseMultipartIdentifier(name).map(_.toLowerCase)
    var found = false
    mapPlan(CatalystSqlParser.parsePlan(apply(text))) { case u: UnresolvedRelation =>
      found ||= u.multipartIdentifier.map(_.toLowerCase) == key
      u
    }
    found
  }

  /** `plan` rewritten bottom-up by `f`, in subquery expressions and CTE
    * bodies (which are not children of their `WITH` node) too.
    */
  private def mapPlan(plan: LogicalPlan)(
      f: PartialFunction[LogicalPlan, LogicalPlan]): LogicalPlan =
    plan.transformUpWithSubqueries(f.orElse {
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map(r =>
        r.copy(_2 = mapPlan(r._2)(f).asInstanceOf[SubqueryAlias])))
    })

  /** CH `FROM t FINAL` / `JOIN t FINAL`: each span becomes the bound
    * name of `merged(t)` — [[graft.mv.StateTable.merged]], one row per
    * ORDER BY key, simple aggregates as plain values, states merged (still
    * consumable by `-Merge`); any alias after FINAL is preserved. merged()
    * is one map-side-combined aggregate — the cost CH pays merging on
    * read; it does NOT force a compact().
    */
  private def finalReads(q: String, merged: String => DataFrame,
      bind: DataFrame => String): String =
    replaceOnMasked(q, """(?i)\b(from|join)\s+([A-Za-z_][\w.]*)\s+final\b""".r) { m =>
      s"${m.group(1)} ${bind(merged(m.group(2)))}"
    }

  /** CH alias-preference GROUP BY shim, applied PER SELECT BLOCK: each
    * subquery is masked behind a placeholder, rewritten recursively against
    * its own select list, and spliced back — so the doc's nested multi-log
    * formulations (doc:1163-1205) resolve GROUP BY names to their own
    * block's aliases, CH-style, at any nesting depth.
    */
  private def aliasGroupBy(q: String): String = {
    val masked = maskStrings(q)
    val sb = new StringBuilder
    val subs = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < q.length) {
      if (masked.charAt(i) == '(' && {
        var j = i + 1
        while (j < q.length && masked.charAt(j).isWhitespace) j += 1
        masked.regionMatches(true, j, "select", 0, 6)
      }) {
        val (body, end) = ChDdl.balanced(q, i)
        subs += aliasGroupBy(body)
        sb.append("(\u0000").append(subs.length - 1).append("\u0000)")
        i = end
      } else { sb += q.charAt(i); i += 1 }
    }
    val flat = rewriteFlatBlock(sb.toString)
    "\u0000(\\d+)\u0000".r.replaceAllIn(flat, m =>
      java.util.regex.Matcher.quoteReplacement(subs(m.group(1).toInt)))
  }

  /** The flat-text rewrite: `q` contains no nested SELECT (subqueries
    * are masked), but may still hold SIBLING branches joined by
    * top-level set operations — each branch is its own alias scope in
    * CH, so the text splits at the set-op keywords (masked match — a
    * literal 'union' must not split) and each branch rewrites against
    * its OWN select list.
    */
  private def rewriteFlatBlock(q: String): String = {
    // A bare EXCEPT/INTERSECT keyword is only a SET OPERATION when a new
    // branch follows: (optionally ALL/DISTINCT, then) SELECT or a masked
    // subquery "(NUL N NUL)" — subqueries were masked before this runs.
    // Without the lookahead the column-modifier form `SELECT * EXCEPT
    // (col)` (which scala / ChLimitBy.scala themselves emit) would
    // cut here, and the non-SELECT tail would silently skip the alias
    // rewrites. A literal `(col)` list keeps its plain text, so the
    // masked-paren alternative cannot false-match it.
    val setOpRe =
      """(?i)\b(?:union(?:\s+all|\s+distinct)?|except|intersect)\b(?=\s*(?:(?:all|distinct)\b\s*)?(?:select\b|\(\x00))""".r
    val cuts = setOpRe.findAllMatchIn(maskStrings(q))
      .map(m => (m.start, m.end)).toSeq
    if (cuts.isEmpty) rewriteFlatBranch(q)
    else {
      val sb = new StringBuilder
      var last = 0
      for ((s, e) <- cuts) {
        sb.append(rewriteFlatBranch(q.substring(last, s)))
        sb.append(q.substring(s, e))
        last = e
      }
      sb.append(rewriteFlatBranch(q.substring(last)))
      sb.toString
    }
  }

  /** One branch's rewrite: select list, GROUP BY and WHERE belong to a
    * single scope here.
    */
  private def rewriteFlatBranch(q: String): String = {
    val selM = """(?is)^\s*select\s+""".r.findFirstMatchIn(q).getOrElse(return q)
    // first top-level FROM bounds the select list (read on the masked
    // twin: a quoted literal may contain ' from ' or commas)
    val fromIdx = findTopLevelKeyword(maskStrings(q), selM.end, "from")
    if (fromIdx < 0) return q
    val items = splitTopArgs(q.substring(selM.end, fromIdx))
    val aliasOrdinal = items.zipWithIndex.flatMap { case (item, idx) =>
      """(?is)\bas\s+(\w+)\s*$""".r.findFirstMatchIn(item.trim).map(_.group(1).toLowerCase -> (idx + 1))
    }.toMap
    // alias → its expression text (the item minus the trailing AS name);
    // greedy .* pins the LAST `AS`, so `CAST(x AS INT) AS y` keeps its
    // inner cast
    val aliasExpr = items.flatMap { item =>
      """(?is)^(.*)\bas\s+(\w+)\s*$""".r.findFirstMatchIn(item.trim)
        .map(m => m.group(2).toLowerCase -> m.group(1).trim)
    }.toMap
    // a star item (`*`, `t.*`, `* EXCEPT (...)`) expands to an unknown
    // number of columns, so ITEM INDEX ≠ output ordinal — substitute the
    // alias EXPRESSION (parenthesized) instead of an ordinal there; both
    // forms carry CH's alias-over-source-column preference into Spark
    val hasStar = items.exists { it =>
      val t = it.trim
      t == "*" || t.startsWith("* ") || t.startsWith("*\t") ||
        """(?s)^\w+\s*\.\s*\*.*""".r.matches(t)
    }
    val groupByDone =
      """(?is)\b(group\s+by)\s+([\w\s,]+?)(?=\border\s+by\b|\bhaving\b|\blimit\b|\bsettings\b|$)""".r
        .replaceAllIn(q, m => {
          val terms = m.group(2).split(",").map(_.trim).filter(_.nonEmpty).map { t =>
            if (hasStar) aliasExpr.get(t.toLowerCase).map(e => s"($e)").getOrElse(t)
            else aliasOrdinal.get(t.toLowerCase).map(_.toString).getOrElse(t)
          }
          // quote the WHOLE replacement: replaceAllIn interprets $/\ in
          // the returned string, and an inlined alias expression may
          // legitimately contain either
          java.util.regex.Matcher.quoteReplacement(
            m.group(1) + " " + terms.mkString(", ") + "\n")
        })
    rewriteWhereAliases(groupByDone, aliasExpr)
  }

  /** CH's alias preference in WHERE (the GROUP BY shim's sibling): a
    * WHERE identifier naming a SELECT alias resolves to the ALIAS
    * EXPRESSION — CH's default (prefer_column_name_to_alias = 0), and
    * the reading the rebalance tool's own get_parts depends on
    * (`toUInt32(bytes_on_disk/1024/1024) AS bytes_on_disk ... WHERE
    * bytes_on_disk > 100` means a 100 MiB floor, per the tool's comment
    * — Spark's column preference would read 100 BYTES). Inlines the
    * alias's expression parenthesized; one pass over the alternation so
    * inserted text is never re-substituted, literal spans left alone,
    * qualified (`t.name`) and backticked references untouched.
    */
  private def rewriteWhereAliases(q: String,
      aliasExpr: Map[String, String]): String = {
    if (aliasExpr.isEmpty) return q
    val names = aliasExpr.keys.map(java.util.regex.Pattern.quote).mkString("|")
    // (?!\s*\() — an identifier followed by '(' is a FUNCTION call, which
    // CH resolves in the function namespace, never to an alias (an alias
    // named `floor` must not corrupt `floor(x)`)
    val nameRe = ("(?i)(?<![\\w.`])(" + names + ")\\b(?!\\s*\\()").r
    // one guarded substitution pass over a code run
    def subst(run: String, m: Map[String, String], skip: String): String =
      nameRe.replaceAllIn(run, mm => java.util.regex.Matcher.quoteReplacement {
        val n = mm.group(1).toLowerCase
        // the CAST type position (`CAST(x AS date)`) is never an alias
        // reference in CH — keep the identifier when `AS` precedes it
        if (n == skip || run.substring(0, mm.start(1)).matches("(?is).*\\bas\\s+"))
          mm.group(0)
        else "(" + m(n) + ")"
      })
    // fast bail: no WHERE/HAVING anywhere ⇒ nothing to rewrite, and the
    // alias closure below (up to |aliases| regex passes) is skipped on
    // the replay hot path
    if ("""(?i)\b(?:where|having)\b""".r.findFirstIn(q).isEmpty) return q
    // CH resolves alias chains TRANSITIVELY (`a+1 AS x, x*2 AS y ...
    // WHERE y > 0` means (a+1)*2 > 0), so close the map to a fixed point
    // before inlining. Rounds are bounded by the alias count: a genuine
    // cycle (which CH rejects as circular) stops expanding there and the
    // unresolved name falls through to Spark's resolver — a loud error,
    // not a silent wrong answer. An alias is never substituted into its
    // OWN expression (skip = self), so `x+1 AS x` keeps the column read.
    // Total text is capped: a self-doubling chain (x1 = x0||x0, …) grows
    // the closure exponentially, so past the cap expansion stops and the
    // remaining alias names again fall through to Spark — never an OOM.
    val maxClosureChars = 1 << 20
    val closed = {
      var cur = aliasExpr
      var rounds = 0
      var changed = true
      while (changed && rounds < aliasExpr.size &&
          cur.valuesIterator.map(_.length.toLong).sum < maxClosureChars) {
        changed = false
        cur = cur.map { case (n, e) =>
          val e2 = mapCode(e)(run => subst(run, cur, skip = n))
          if (e2 != e) changed = true
          n -> e2
        }
        rounds += 1
      }
      cur
    }
    // the set-operation keywords terminate the body too: an unparenthesized
    // UNION branch is a SIBLING select, not part of this WHERE. HAVING gets
    // the same alias preference (CH resolves it identically); its body ends
    // at the same terminators, HAVING itself never nests.
    val whereRe =
      ("""(?is)\b(where|having)\s+(.+?)""" +
        """(?=\bgroup\s+by\b|\border\s+by\b|\bhaving\b|\bqualify\b|""" +
        """\blimit\b|\bsettings\b|\bwindow\b|""" +
        """\bunion\b|\bexcept\b|\bintersect\b|$)""").r
    replaceOnMasked(q, whereRe) { m =>
      val body = grp(q, m, 2)
      val rewritten = mapCode(body)(run => subst(run, closed, skip = null))
      m.group(1).toUpperCase + " " + rewritten
    }
  }
}
