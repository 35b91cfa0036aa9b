package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode, explode_outer}

/** ClickHouse `ARRAY JOIN` clause → an explode projection: lets a CH user
  * run the literal syntax
  *
  *   SELECT ... FROM t [alias] [LEFT] ARRAY JOIN arr [AS elem]
  *   [WHERE ...] [GROUP BY ...] [ORDER BY ...]
  *
  * (CH docs: ARRAY JOIN clause; the row-expanding FROM modifier, distinct
  * from the `arrayJoin()` function [[graft.functions.ChCompat]] also
  * registers). Semantics preserved:
  *  - bare `ARRAY JOIN arr` REPLACES the array column with its elements
  *    under the same name (one output row per element; empty arrays drop
  *    the row);
  *  - `ARRAY JOIN arr AS elem` keeps the original array column AND adds
  *    the element column;
  *  - `LEFT ARRAY JOIN` keeps empty-array rows with a NULL element
  *    (explode_outer).
  *
  * CH's multi-array zip form (`ARRAY JOIN a, b`) is rejected with a clear
  * error — compose `arrays_zip` explicitly if needed. Translation mirrors
  * [[ChAsof]]/[[ChAnyJoin]]: resolve the table, build the projection,
  * splice its bound name, strip qualifiers.
  */
object ChArrayJoin {

  private val arrayJoinRe =
    ("(?is)\\bfrom\\s+([\\w.]+)(?:\\s+(?:as\\s+)?(?!left\\b|array\\b)(\\w+))?" +
      "\\s+(left\\s+)?array\\s+join\\s+([^\\s,]+)(\\s*,)?(?:\\s+(?:as\\s+)?(?!where\\b|group\\b|order\\b|having\\b|limit\\b|settings\\b)(\\w+))?" +
      "(?=\\s+where\\b|\\s+group\\s+by\\b|\\s+order\\s+by\\b|" +
      "\\s+having\\b|\\s+limit\\b|\\s+settings\\b|\\s*$)").r

  // expression-operand form: `FROM t [alias] [LEFT] ARRAY JOIN <expr> AS
  // name` where <expr> is a computed array (after ChSql's literal shim,
  // the doc's `[tuple, ...]` idiom arrives as `array(tuple(...), ...)`).
  // The operand needs balanced-paren scanning, so only the prefix is
  // regex-matched; rewriteExprForm consumes the operand manually.
  private val exprPrefixRe =
    ("(?is)\\bfrom\\s+([\\w.]+)(?:\\s+(?:as\\s+)?(?!left\\b|array\\b)(\\w+))?" +
      "\\s+(left\\s+)?array\\s+join\\s+(?=\\w+\\s*\\()").r

  /** Does the query contain an ARRAY JOIN clause to translate? */
  def applies(sql: String): Boolean = {
    val masked = ChSql.maskStrings(sql)
    arrayJoinRe.findFirstIn(masked).isDefined || exprPrefixRe.findFirstIn(masked).isDefined
  }

  /** Rewrite each ARRAY JOIN span (matched on the masked twin) into
    * `FROM <bind's name for the exploded projection of the table>`.
    */
  private[engine] def rewrite(query: String, table: String => DataFrame,
      bind: DataFrame => String): String = {
    // an expression operand (`array(...)`, any fn call) also PREFIX-matches
    // the column-form regex but would mis-scan at its first comma — the
    // earliest-starting form wins, expr form on ties
    val masked = ChSql.maskStrings(query)
    val exprM = exprPrefixRe.findFirstMatchIn(masked)
    val simpleM = arrayJoinRe.findFirstMatchIn(masked)
    if (exprM.isDefined && simpleM.forall(_.start >= exprM.get.start))
      return rewriteExprForm(query, masked, exprM.get, table, bind)
    val m = simpleM.getOrElse(
      sys.error("ChArrayJoin: no ARRAY JOIN clause in query"))
    val (tableName, alias) = (m.group(1), Option(m.group(2)))
    val isLeft = m.group(3) != null
    if (m.group(5) != null) sys.error(
      "ChArrayJoin: multi-array ARRAY JOIN (a, b) is not supported — " +
        "zip the arrays explicitly (arrays_zip) and ARRAY JOIN the result")
    val elemAlias = Option(m.group(6))

    val df = table(tableName)
    val quals = ChJoinSyntax.quals(tableName, alias)
    // the array reference may be qualified (`t.arr`) — strip a known
    // qualifier before resolving it against the frame
    val rawArr = m.group(4)
    val arrCol = {
      val dot = rawArr.lastIndexOf('.')
      if (dot > 0 && quals.exists(_.equalsIgnoreCase(rawArr.substring(0, dot))))
        rawArr.substring(dot + 1)
      else rawArr
    }
    require(df.columns.exists(_.equalsIgnoreCase(arrCol)),
      s"ChArrayJoin: $tableName has no column $arrCol")

    val gen = if (isLeft) explode_outer(col(arrCol)) else explode(col(arrCol))
    val out = elemAlias match {
      // AS elem: original array kept, element column added
      case Some(e) =>
        require(!df.columns.exists(_.equalsIgnoreCase(e)),
          s"ChArrayJoin: element alias $e collides with an existing column")
        df.select(df.columns.map(col).toSeq :+ gen.as(e): _*)
      // bare form: the array column is REPLACED by its elements
      case None =>
        df.select(df.columns.filterNot(_.equalsIgnoreCase(arrCol)).map(col).toSeq :+
          gen.as(arrCol): _*)
    }

    val res = ChJoinSyntax.splice(query, m, bind(out), quals)
    // translate any remaining clause (one per UNION ALL branch)
    if (applies(res)) rewrite(res, table, bind) else res
  }

  /** The expression-operand form, rewritten purely at the string level
    * (the operand is a computed array, so there is no column to resolve):
    *
    *   FROM t [LEFT] ARRAY JOIN <expr> AS name
    *     → FROM (SELECT *, explode[_outer](<expr>) AS name FROM t)
    *
    * Every occurrence rewrites (the doc's UNION ALL idiom repeats the
    * clause per branch). CH requires AS on an expression operand and so
    * does this shim.
    */
  private def rewriteExprForm(query: String, masked: String,
      m: scala.util.matching.Regex.Match, table: String => DataFrame,
      bind: DataFrame => String): String = {
    val (tableName, alias) = (m.group(1), Option(m.group(2)))
    val isLeft = m.group(3) != null
    // consume the balanced operand expression: up to depth-0 whitespace
    // or the close of an enclosing scope, read on the masked twin
    var i = m.end; var depth = 0
    while (i < query.length && (masked.charAt(i) match {
      case '(' | '[' => depth += 1; true
      case ')' | ']' => depth -= 1; depth >= 0
      case c => depth > 0 || !c.isWhitespace
    })) i += 1
    val expr = query.substring(m.end, i).trim
    val asM = """(?is)^\s+as\s+(\w+)""".r.findFirstMatchIn(masked.substring(i)).getOrElse(
      sys.error("ChArrayJoin: an expression ARRAY JOIN operand needs AS <name>"))
    val name = asM.group(1)
    val fn = if (isLeft) "explode_outer" else "explode"
    // resolve the base through the caller (replay bindings included) and
    // splice its bound name, like the column form does
    val sub = s"(SELECT *, $fn($expr) AS $name FROM ${bind(table(tableName))})" +
      alias.map(a => s" $a").getOrElse("")
    val spliced = query.substring(0, m.start) + s" FROM $sub " +
      query.substring(i + asM.end)
    // recurse: translate any remaining clause (UNION ALL branches)
    if (applies(spliced)) rewrite(spliced, table, bind) else spliced
  }
}
