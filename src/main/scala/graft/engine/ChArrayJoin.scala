package graft.engine

/** ClickHouse `ARRAY JOIN` clause → an explode projection: lets a CH user
  * run the literal syntax
  *
  *   SELECT ... FROM t [alias] [LEFT] ARRAY JOIN arr [AS elem]
  *   SELECT ... FROM t [alias] [LEFT] ARRAY JOIN <array expression> AS elem
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
  *    (explode_outer);
  *  - an expression operand (after ChSql's literal shim, the doc's
  *    `[tuple, ...]` idiom arrives as `array(tuple(...), ...)`) needs
  *    `AS`, as in CH.
  *
  * The clause is rewritten into plain Spark SQL under the same alias:
  *
  *   FROM (SELECT * [EXCEPT (arr)], explode[_outer](x) AS name FROM t a) a
  *
  * so Spark resolves the table and the operand, and qualified references
  * (`a.arr`) and everything after the clause survive verbatim. Every
  * occurrence rewrites (the doc's UNION ALL idiom repeats the clause per
  * branch). CH's multi-array zip form (`ARRAY JOIN a, b`) is rejected with
  * a clear error — compose `arrays_zip` explicitly if needed.
  */
object ChArrayJoin {

  private val prefixRe =
    ("(?is)\\bfrom\\s+([\\w.]+)(?:\\s+(?:as\\s+)?(?!left\\b|array\\b)(\\w+))?" +
      "\\s+(left\\s+)?array\\s+join\\s+").r

  // the element name after the operand; a bare word that starts the next
  // clause is not one
  private val nameRe =
    ("(?is)^\\s+(?:as\\s+)?(?!where\\b|group\\b|order\\b|having\\b|limit\\b|settings\\b|" +
      "union\\b|join\\b|left\\b|right\\b|inner\\b|full\\b|cross\\b|window\\b)(\\w+)").r

  /** Does the query contain an ARRAY JOIN clause to translate? */
  def applies(sql: String): Boolean = prefixRe.findFirstIn(ChSql.maskStrings(sql)).isDefined

  /** `query` with each ARRAY JOIN clause (matched on the masked twin)
    * rewritten into its explode subquery.
    */
  private[engine] def rewrite(query: String): String = {
    val masked = ChSql.maskStrings(query)
    prefixRe.findFirstMatchIn(masked).fold(query) { m =>
      // the operand: up to depth-0 whitespace or the close of an
      // enclosing scope, read on the masked twin
      var i = m.end; var depth = 0
      while (i < query.length && (masked.charAt(i) match {
        case '(' | '[' => depth += 1; true
        case ')' | ']' => depth -= 1; depth >= 0
        case c => depth > 0 || !c.isWhitespace
      })) i += 1
      val operand = query.substring(m.end, i)
      if (operand.endsWith(",") || masked.substring(i).trim.startsWith(",")) sys.error(
        "ChArrayJoin: multi-array ARRAY JOIN (a, b) is not supported — " +
          "zip the arrays explicitly (arrays_zip) and ARRAY JOIN the result")
      val named = nameRe.findFirstMatchIn(masked.substring(i))
      val isExpr = operand.contains('(')
      if (isExpr && named.isEmpty)
        sys.error("ChArrayJoin: an expression ARRAY JOIN operand needs AS <name>")
      val table = m.group(1)
      val alias = Option(m.group(2)).getOrElse(table.split('.').last)
      val fn = if (m.group(3) != null) "explode_outer" else "explode"
      val select = named match {
        // AS elem: original array kept, element column added
        case Some(n) => s"*, $fn($operand) AS ${n.group(1)}"
        // bare form: the array column is REPLACED by its elements
        case None =>
          val arr = operand.split('.').last
          s"* EXCEPT ($arr), $fn($operand) AS $arr"
      }
      rewrite(query.substring(0, m.start) +
        s" FROM (SELECT $select FROM $table $alias) $alias " +
        query.substring(i + named.fold(0)(_.end)))
    }
  }
}
