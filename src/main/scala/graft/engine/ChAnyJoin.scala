package graft.engine

import org.apache.spark.sql.DataFrame

/** ClickHouse ANY-strictness join dialect → [[graft.operators.AnyJoin]]:
  * lets a CH user run the literal syntax
  *
  *   SELECT ... FROM l [la] [LEFT|RIGHT|INNER] ANY JOIN r [ra]
  *     ON la.k = ra.k [AND ...] | USING (k, ...)
  *   [WHERE ...] [ORDER BY ...]
  *
  * with both CH word orders accepted (`ANY LEFT JOIN` ≡ `LEFT ANY JOIN`;
  * bare `ANY JOIN` is the inner form). The ON clause must be a
  * conjunction of equalities between the two sides.
  *
  * Documented divergence from CH: ClickHouse's ANY picks an *arbitrary*
  * matching row; here the pick is deterministic (lexicographically
  * smallest non-key tuple — see [[graft.operators.AnyJoin]]), which is a
  * refinement of the CH contract (any CH-legal answer set has exactly
  * this shape; ours is additionally reproducible).
  *
  * Translation mirrors [[ChAsof]]: resolve both tables, rename right keys
  * onto the left's names, execute the ANY join, bind it under a fresh
  * name, and splice that into the query with side qualifiers stripped.
  * Non-key right columns must not collide with left column names
  * (project/alias first — the output is one flat namespace).
  */
object ChAnyJoin {

  private val anyJoinRe =
    ("(?is)\\bfrom\\s+([\\w.]+)(?:\\s+(?:as\\s+)?(?!any\\b|left\\b|right\\b|inner\\b|join\\b)(\\w+))?" +
      "\\s+(?:(left|right|inner)\\s+any|any\\s+(left|right|inner)|any)\\s+join" +
      "\\s+([\\w.]+)(?:\\s+(?:as\\s+)?(?!on\\b|using\\b)(\\w+))?" +
      "\\s+(?:on\\s+(.*?)|using\\s*\\(([^)]*)\\)\\s*)" +
      "(?=\\bwhere\\b|\\bgroup\\s+by\\b|\\border\\s+by\\b|" +
      "\\bhaving\\b|\\blimit\\b|\\bwindow\\b|\\bsettings\\b|$)").r

  /** Does the query contain an ANY join to translate? */
  def applies(sql: String): Boolean = anyJoinRe.findFirstIn(ChSql.maskStrings(sql)).isDefined

  /** Rewrite the ANY join span of `query` (matched on its masked twin)
    * into `FROM <bind's name for the ANY join of the two tables>`.
    */
  private[engine] def rewrite(query: String, table: String => DataFrame,
      bind: DataFrame => String): String = {
    val m = anyJoinRe.findFirstMatchIn(ChSql.maskStrings(query)).getOrElse(
      sys.error("ChAnyJoin: no ANY join clause in query"))
    val (leftName, leftAlias) = (m.group(1), Option(m.group(2)))
    val strictness = Option(m.group(3)).orElse(Option(m.group(4)))
      .map(_.toLowerCase).getOrElse("inner")
    val (rightName, rightAlias) = (m.group(5), Option(m.group(6)))
    val onClause = Option(m.group(7)).map(_ => ChSql.grp(query, m, 7).trim)
    val usingCols = Option(m.group(8)).map(_ => ChSql.grp(query, m, 8))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

    val leftDf = table(leftName)
    val rightDf = table(rightName)
    val lQuals = ChJoinSyntax.quals(leftName, leftAlias)
    val rQuals = ChJoinSyntax.quals(rightName, rightAlias)

    val keyPairs = usingCols match {
      case Some(cols) =>
        require(cols.nonEmpty, "ChAnyJoin: empty USING column list")
        cols.map(c => (c, c))
      case None =>
        onClause.toSeq.flatMap(ChJoinSyntax.onTerms(_, lQuals, rQuals, leftDf, rightDf,
          "ChAnyJoin", "=", " (equalities only)")).map { case (_, _, lc, rc) => (lc, rc) }
    }
    if (keyPairs.isEmpty) sys.error("ChAnyJoin: ANY join needs at least one equality key")

    // rename right keys onto the left's names (one flat output namespace)
    val right2 = ChJoinSyntax.renameRightKeys(rightDf, keyPairs, "ChAnyJoin")
    val keys = keyPairs.map(_._1)
    val collisions = right2.columns
      .filter(c => !keys.exists(_.equalsIgnoreCase(c)))
      .filter(c => leftDf.columns.exists(_.equalsIgnoreCase(c)))
    require(collisions.isEmpty,
      s"ChAnyJoin: right columns collide with left: ${collisions.mkString(", ")} — " +
        "project/alias the right side first")

    val joined = strictness match {
      case "left" => graft.operators.AnyJoin.anyLeft(leftDf, right2, keys)
      case "right" => graft.operators.AnyJoin.anyRight(leftDf, right2, keys)
      case _ => graft.operators.AnyJoin.anyInner(leftDf, right2, keys)
    }
    ChJoinSyntax.splice(query, m, bind(joined), lQuals ++ rQuals)
  }
}
