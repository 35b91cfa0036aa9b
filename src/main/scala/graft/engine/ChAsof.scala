package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** ClickHouse `ASOF JOIN` dialect → [[graft.operators.AsOfJoin]]: lets a
  * CH user run the literal syntax
  *
  *   SELECT ... FROM l [la] ASOF [LEFT] JOIN r [ra]
  *     ON la.k = ra.k [AND ...] AND la.t >= ra.t
  *   [WHERE ...] [ORDER BY ...]
  *
  * (ref doc's join-dialect surface; CH docs ASOF JOIN) without hand-porting
  * to the Scala operator. The ON clause must carry ≥1 equality and exactly
  * one inequality between the two sides' time columns — `>=`/`>` pick the
  * latest right row at-or-before/strictly-before the left time (CH's
  * default ASOF direction), `<=`/`<` the earliest at-or-after/strictly-
  * after; either operand order is accepted (`ra.t <= la.t` ≡ `la.t >= ra.t`).
  *
  * Translation: resolve both table references, rename the right join keys
  * onto the left's names, run the window-formulation sort-merge
  * ([[graft.operators.AsOfJoin.asof]] — one shuffle per side, no interval
  * explosion), bind the result under a fresh name ([[ChSql.run]]'s
  * binding), and splice that name into the original query with the side
  * qualifiers stripped (the joined frame carries every left column plus
  * the right payload under their original names). `ASOF JOIN` without
  * LEFT is the inner form: left rows with no match are dropped (CH
  * inner-ASOF semantics).
  *
  * Constraints (same as the Scala operator, checked with clear errors):
  * non-key right columns — including the right time column — must not
  * collide with left column names; project/alias the right side first
  * (CH users do the same to disambiguate, since the output here is one
  * flat namespace, not a qualified one).
  */
object ChAsof {

  private val asofJoinRe =
    ("(?is)\\bfrom\\s+([\\w.]+)(?:\\s+(?:as\\s+)?(?!asof\\b)(\\w+))?" +
      "\\s+asof\\s+(left\\s+)?join\\s+([\\w.]+)(?:\\s+(?:as\\s+)?(?!on\\b|using\\b)(\\w+))?" +
      "\\s+(?:on\\s+(.*?)|using\\s*\\(([^)]*)\\)\\s*)" +
      "(?=\\bwhere\\b|\\bgroup\\s+by\\b|\\border\\s+by\\b|" +
      "\\bhaving\\b|\\blimit\\b|\\bwindow\\b|\\bsettings\\b|$)").r

  /** Does the query contain an ASOF JOIN to translate? */
  def applies(sql: String): Boolean = asofJoinRe.findFirstIn(ChSql.maskStrings(sql)).isDefined

  /** Rewrite the ASOF JOIN span of `query` (matched on its masked twin)
    * into `FROM <bind's name for the asof join of the two tables>`.
    */
  private[engine] def rewrite(query: String, table: String => DataFrame,
      bind: DataFrame => String): String = {
    val m = asofJoinRe.findFirstMatchIn(ChSql.maskStrings(query)).getOrElse(
      sys.error("ChAsof: no ASOF JOIN clause in query"))
    val (leftName, leftAlias) = (m.group(1), Option(m.group(2)))
    val isLeft = m.group(3) != null
    val (rightName, rightAlias) = (m.group(4), Option(m.group(5)))
    val onClause = Option(m.group(6)).map(_ => ChSql.grp(query, m, 6).trim)
    val usingCols = Option(m.group(7)).map(_ => ChSql.grp(query, m, 7))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

    val leftDf = table(leftName)
    val rightDf = table(rightName)
    val lQuals = ChJoinSyntax.quals(leftName, leftAlias)
    val rQuals = ChJoinSyntax.quals(rightName, rightAlias)

    var keyPairs = Vector.empty[(String, String)] // (left col, right col)
    var timePair: Option[(String, String, String)] = None // (op as l-vs-r, lcol, rcol)
    // the USING form (CH: last USING column is the time axis, `>=`
    // semantics): same-named keys on both sides, and the shared time
    // column is aliased on the right so the operator's no-collision
    // contract holds; the alias is dropped from the output below
    val usingRightTs = "__asof_using_rts"
    for (cols <- usingCols) {
      require(cols.length >= 2,
        s"ChAsof: ASOF USING needs >= 2 columns (keys..., time), got (${cols.mkString(", ")})")
      keyPairs = cols.init.map(c => (c, c)).toVector
      timePair = Some((">=", cols.last, usingRightTs))
    }
    for (on <- onClause; (raw, op, lc, rc) <-
        ChJoinSyntax.onTerms(on, lQuals, rQuals, leftDf, rightDf, "ChAsof",
          ">=|<=|!?=|<>|>|<")) {
      op match {
        case "=" => keyPairs :+= (lc, rc)
        case ">=" | "<=" | ">" | "<" =>
          if (timePair.isDefined) sys.error(
            "ChAsof: ASOF JOIN needs exactly ONE inequality in ON; found a second: " + raw)
          timePair = Some((op, lc, rc))
        case other => sys.error(s"ChAsof: operator '$other' not allowed in ASOF ON")
      }
    }
    if (keyPairs.isEmpty) sys.error("ChAsof: ASOF JOIN needs at least one equality key")
    val (op, leftTs, rightTs) = timePair.getOrElse(
      sys.error("ChAsof: ASOF JOIN needs one inequality (the time condition)"))
    val (forward, strict) = op match {
      case ">=" => (false, false)
      case ">" => (false, true)
      case "<=" => (true, false)
      case "<" => (true, true)
    }

    // rename right keys onto the left's names (the operator's contract)
    var right2 = ChJoinSyntax.renameRightKeys(rightDf, keyPairs, "ChAsof")
    if (usingCols.isDefined) right2 = right2.withColumnRenamed(leftTs, rightTs)

    val joined = graft.operators.AsOfJoin.asof(
      leftDf, right2, keyPairs.map(_._1), leftTs, rightTs, forward, strict)
    val matched = if (isLeft) joined else joined.filter(col(rightTs).isNotNull)
    // USING output is one flat namespace: the right time column only
    // existed under its alias for the join — drop it (CH USING keeps the
    // left's)
    val result = if (usingCols.isDefined) matched.drop(usingRightTs) else matched
    ChJoinSyntax.splice(query, m, bind(result), lQuals ++ rQuals)
  }
}
