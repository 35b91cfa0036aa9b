package graft.engine

import scala.util.matching.Regex

/** ClickHouse `LIMIT [offset,] n BY expressions` — the per-group head
  * clause (first n rows for each distinct value of the BY expressions,
  * in the query's ORDER BY order), the SQL face of
  * [[graft.functions.ChCompat.limitBy]] (q26's Scala form). CH clause
  * order is `... ORDER BY ... LIMIT n BY cols [LIMIT m]`; both the
  * `LIMIT o, n BY` and `LIMIT n OFFSET o BY` offset spellings are
  * accepted.
  *
  * Rewrite (pure string level, like [[ChSql]]): the original query —
  * minus its ORDER BY, the LIMIT BY clause, and any trailing final
  * LIMIT — becomes a subquery; a `row_number() OVER (PARTITION BY
  * <bycols> ORDER BY <orderlist>)` ranks rows inside each BY-group; the
  * outer select keeps ranks in (offset, offset+n], restores the global
  * ORDER BY, and re-applies the final LIMIT. The window ORDER BY must
  * therefore name output columns of the select list — the CH reporting
  * idiom LIMIT BY serves ("top n per key of an aggregated report")
  * always does.
  *
  * Determinism: CH without ORDER BY returns an arbitrary n per group;
  * this translation refuses instead (same posture as
  * [[graft.operators.AnyJoin]] — an oracle-checkable engine must not
  * ship nondeterminism).
  *
  * Scale: one window over the BY-key partitions — the same distributed
  * shape CH executes (per-key heads on each shard), no driver funnel;
  * for high-cardinality BY keys the partitions are small and the
  * row_number is a single pass.
  */
object ChLimitBy {

  private case class Clause(
      offset: Long, n: Long, byCols: String,
      start: Int, end: Int)

  /** Matches of `re` on `q`'s masked twin ([[ChSql.maskStrings]]) that
    * start at bracket depth 0. Groups read the masked text, so they may
    * only capture code.
    */
  private[engine] def topLevel(re: Regex, q: String): Iterator[Regex.Match] = {
    val masked = ChSql.maskStrings(q)
    val depth = ChSql.depths(masked)
    re.findAllMatchIn(masked).filter(m => depth(m.start) == 0)
  }

  private val limitByRe =
    """(?is)\blimit\s+(\d+)(?:\s*,\s*(\d+)|\s+offset\s+(\d+))?\s+by\s+""".r

  private def findClause(q: String): Option[Clause] = {
    topLevel(limitByRe, q).nextOption().map { m =>
      // LIMIT a, b BY -> offset a, take b; LIMIT n OFFSET o BY -> take n
      val (off, n) =
        if (m.group(2) != null) (m.group(1).toLong, m.group(2).toLong)
        else if (m.group(3) != null) (m.group(3).toLong, m.group(1).toLong)
        else (0L, m.group(1).toLong)
      // BY list runs to the next top-level LIMIT / SETTINGS / FORMAT / end
      val tail = topLevel("""(?is)\b(limit|settings|format)\b""".r, q)
        .find(_.start >= m.end).map(_.start).getOrElse(q.length)
      Clause(off, n, q.substring(m.end, tail).trim.stripSuffix(";").trim, m.start, tail)
    }
  }

  def applies(sql: String): Boolean = findClause(sql).isDefined

  def rewrite(query: String): String = {
    val c = findClause(query).getOrElse(
      sys.error("ChLimitBy: no top-level LIMIT ... BY clause"))
    require(c.byCols.nonEmpty, "ChLimitBy: empty BY expression list")
    // the final LIMIT (after the BY clause), if any, re-applies outside
    val finalLimit = query.substring(c.end).trim.stripSuffix(";").trim
    require(finalLimit.isEmpty || finalLimit.matches("(?is)limit\\s+\\d+"),
      s"ChLimitBy: unexpected trailing clause after LIMIT BY: '$finalLimit'")
    // the global ORDER BY (before the BY clause) drives both the window
    // rank and the restored outer ordering
    val obM = topLevel("""(?is)\border\s+by\s+""".r, query)
      .filter(_.start < c.start).toSeq.lastOption.getOrElse(
        sys.error("ChLimitBy: LIMIT n BY needs an ORDER BY to be deterministic " +
          "(ClickHouse returns an arbitrary n per group without one)"))
    val orderList = query.substring(obM.end, c.start).trim
    val inner = query.substring(0, obM.start).trim
    val lo = c.offset; val hi = c.offset + c.n
    s"""SELECT * EXCEPT (__gf_rn) FROM (
       |  SELECT *, row_number() OVER (PARTITION BY ${c.byCols} ORDER BY $orderList) AS __gf_rn
       |  FROM ($inner) __gf_lb
       |) WHERE __gf_rn > $lo AND __gf_rn <= $hi
       |ORDER BY $orderList${if (finalLimit.nonEmpty) "\n" + finalLimit else ""}""".stripMargin
  }
}
