package graft.engine

/** CH `QUALIFY` — filter on window-function results after the windows
  * compute (ClickHouse 23.x+; Spark has no QUALIFY). Rewrite: the query
  * up to QUALIFY wraps as a subquery and the condition becomes an outer
  * WHERE over it, so SELECT-list aliases (the idiomatic
  * `row_number() OVER ... AS rn ... QUALIFY rn = 1`) resolve naturally.
  * The condition must reference aliases, not repeat raw window calls —
  * same restriction the LIMIT BY rewrite places on its ORDER BY.
  */
object ChQualify {

  private val qualifyRe = """(?is)\bqualify\s+""".r

  private def find(q: String): Option[(Int, Int, String, String)] = {
    ChLimitBy.topLevel(qualifyRe, q).nextOption().map { m =>
      val tail = ChLimitBy.topLevel("""(?is)\b(order\s+by|limit|settings|format)\b""".r, q)
        .find(_.start >= m.end).map(_.start).getOrElse(q.length)
      (m.start, tail, q.substring(m.end, tail).trim.stripSuffix(";").trim,
        q.substring(tail).trim.stripSuffix(";"))
    }
  }

  def applies(sql: String): Boolean = find(sql).isDefined

  def rewrite(query: String): String = {
    val (start, _, cond, tail) = find(query).getOrElse(
      sys.error("ChQualify: no top-level QUALIFY clause"))
    require(cond.nonEmpty, "ChQualify: empty QUALIFY condition")
    val inner = query.substring(0, start).trim
    s"""SELECT * FROM (
       |$inner
       |) __gf_qualify WHERE $cond${if (tail.nonEmpty) "\n" + tail else ""}""".stripMargin
  }
}

/** CH `SELECT DISTINCT ON (cols) ...` — one (the first, per ORDER BY)
  * row per cols-group; CH executes it exactly as `LIMIT 1 BY cols`, and
  * so does this rewrite (delegating to [[ChLimitBy]], which requires the
  * ORDER BY that makes the pick deterministic). */
object ChDistinctOn {

  private val headRe = """(?is)^(\s*select\s+)distinct\s+on\s*\(""".r

  def applies(sql: String): Boolean = headRe.findFirstIn(sql).isDefined

  def rewrite(query: String): String = {
    val m = headRe.findFirstMatchIn(query).getOrElse(
      sys.error("ChDistinctOn: no SELECT DISTINCT ON (...) head"))
    // balanced column list, read on the masked twin (a quoted '(' must
    // not bump the depth)
    val close = ChSql.matchingClose(ChSql.maskStrings(query), m.end - 1)
    require(close >= 0, "ChDistinctOn: unbalanced DISTINCT ON column list")
    val cols = query.substring(m.end, close).trim
    require(cols.nonEmpty, "ChDistinctOn: empty DISTINCT ON column list")
    val rest = query.substring(close + 1).trim
    val stripped = (m.group(1) + rest).trim.stripSuffix(";").trim
    // the LIMIT 1 BY clause goes BEFORE any trailing top-level LIMIT n —
    // appending after it would feed 'LIMIT n' into the window's ORDER BY
    val tailLimit = ChLimitBy.topLevel("""(?is)\blimit\s+\d+\s*$""".r, stripped).nextOption()
    tailLimit match {
      case Some(t) =>
        ChLimitBy.rewrite(stripped.substring(0, t.start).trim +
          s"\nLIMIT 1 BY $cols\n" + t.matched.trim)
      case None =>
        ChLimitBy.rewrite(s"$stripped\nLIMIT 1 BY $cols")
    }
  }
}
