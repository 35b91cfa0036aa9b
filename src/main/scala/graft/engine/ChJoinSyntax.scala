package graft.engine

import java.util.regex.Pattern

import org.apache.spark.sql.DataFrame

/** Shared pieces of the string-level CH join-dialect translators
  * ([[ChAsof]], [[ChAnyJoin]]): ON-clause parsing with side
  * classification against the two resolved tables, the right-key
  * rename, and qualifier stripping around the spliced result name (the
  * joined frame is one flat namespace).
  */
private[engine] object ChJoinSyntax {

  /** Which side does `alias.col` / bare `col` name? Returns ('l'|'r', col). */
  def sideOf(term: String, lQuals: Seq[String], rQuals: Seq[String],
      leftDf: DataFrame, rightDf: DataFrame, who: String): (Char, String) = {
    val dot = term.lastIndexOf('.')
    if (dot > 0) {
      val (qual, c) = (term.substring(0, dot), term.substring(dot + 1))
      if (lQuals.exists(_.equalsIgnoreCase(qual))) ('l', c)
      else if (rQuals.exists(_.equalsIgnoreCase(qual))) ('r', c)
      else sys.error(s"$who: unknown qualifier '$qual' in ON term '$term'")
    } else {
      val inL = leftDf.columns.exists(_.equalsIgnoreCase(term))
      val inR = rightDf.columns.exists(_.equalsIgnoreCase(term))
      if (inL && inR) sys.error(
        s"$who: ambiguous ON term '$term' (qualify it with the table alias)")
      else if (inL) ('l', term)
      else if (inR) ('r', term)
      else sys.error(s"$who: ON term '$term' is in neither side")
    }
  }

  /** The conjuncts of an ON clause, each `a <op> b` between the two
    * sides with `op` one of the `ops` alternation, normalized
    * left-operand-first: (conjunct, comparator as left-vs-right, left
    * col, right col). The comparator flips when the conjunct was written
    * right-side-first (`ra.t <= la.t` ≡ `la.t >= ra.t`). `hint` trails
    * the unsupported-conjunct error.
    */
  def onTerms(on: String, lQuals: Seq[String], rQuals: Seq[String],
      leftDf: DataFrame, rightDf: DataFrame, who: String,
      ops: String, hint: String = ""): Seq[(String, String, String, String)] = {
    val condRe = ("""(?s)^([\w.]+)\s*(""" + ops + """)\s*([\w.]+)$""").r
    val flip = Map(">=" -> "<=", "<=" -> ">=", ">" -> "<", "<" -> ">")
    on.split("(?i)\\band\\b").map(_.trim).filter(_.nonEmpty).toSeq.map { raw =>
      val cm = condRe.findFirstMatchIn(raw).getOrElse(
        sys.error(s"$who: unsupported ON condition '$raw'$hint"))
      val (s1, c1) = sideOf(cm.group(1), lQuals, rQuals, leftDf, rightDf, who)
      val (s2, c2) = sideOf(cm.group(3), lQuals, rQuals, leftDf, rightDf, who)
      if (s1 == s2) sys.error(s"$who: ON condition '$raw' references one side twice")
      val op = cm.group(2)
      if (s1 == 'l') (raw, op, c1, c2) else (raw, flip.getOrElse(op, op), c2, c1)
    }
  }

  /** `rightDf` with each right key renamed onto its left key (the
    * operators' one-namespace contract). Each rename is checked against
    * the PROGRESSIVELY renamed frame, so `l.a = r.b AND l.b = r.c` passes
    * (b is renamed away before the second pair needs the name); a key
    * reused on either side is rejected up front.
    */
  def renameRightKeys(rightDf: DataFrame, keyPairs: Seq[(String, String)],
      who: String): DataFrame = {
    require(keyPairs.map(_._1.toLowerCase).distinct.size == keyPairs.size,
      s"$who: duplicate left key in ON: ${keyPairs.map(_._1).mkString(", ")}")
    require(keyPairs.map(_._2.toLowerCase).distinct.size == keyPairs.size,
      s"$who: duplicate right key in ON: ${keyPairs.map(_._2).mkString(", ")}")
    keyPairs.filter { case (lk, rk) => !lk.equalsIgnoreCase(rk) }
      .foldLeft(rightDf) { case (right, (lk, rk)) =>
        require(!right.columns.exists(_.equalsIgnoreCase(lk)),
          s"$who: cannot rename right key $rk -> $lk: right already has a column $lk")
        right.withColumnRenamed(rk, lk)
      }
  }

  /** The names a table's columns may be qualified with: its alias, its
    * full name and its last name part. */
  def quals(name: String, alias: Option[String]): Seq[String] =
    (alias.toSeq :+ name) ++ name.split('.').lastOption

  /** `query` with the clause span `m` replaced by `FROM <bound>` and the
    * `quals` stripped everywhere outside literals (the bound frame is one
    * flat namespace carrying the sides' original column names).
    */
  def splice(query: String, m: scala.util.matching.Regex.Match, bound: String,
      quals: Seq[String]): String =
    stripQualifiers(query.substring(0, m.start) + s" FROM $bound " +
      query.substring(m.end), quals.distinct.filter(_.nonEmpty))

  /** Remove `qual.` prefixes outside literals, quoted names and comments. */
  def stripQualifiers(sql: String, quals: Seq[String]): String = {
    val pat = ("(?i)(?<![\\w.])(?:" +
      quals.map(Pattern.quote).mkString("|") + ")\\.").r
    // literals protected by the shared escape-aware lexer
    ChSql.mapCode(sql)(pat.replaceAllIn(_, ""))
  }
}
