package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.{LeftOuter, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge

/** ClickHouse `ASOF JOIN` dialect → [[graft.operators.AsOfJoin]]: lets a
  * CH user run the literal syntax
  *
  *   SELECT ... FROM l [la] ASOF [LEFT] JOIN r [ra]
  *     ON la.k = ra.k [AND ...] AND la.t >= ra.t | USING (k, ..., t)
  *   [WHERE ...] [ORDER BY ...]
  *
  * (ref doc's join-dialect surface; CH docs ASOF JOIN) without hand-porting
  * to the Scala operator. The ON clause must carry ≥1 equality and exactly
  * one inequality between the two sides — `>=`/`>` pick the latest right
  * row at-or-before/strictly-before the left time (CH's default ASOF
  * direction), `<=`/`<` the earliest at-or-after/strictly-after; either
  * operand order is accepted (`ra.t <= la.t` ≡ `la.t >= ra.t`). The USING
  * form's last column is the time axis, with `>=`.
  *
  * Translation: [[mark]] drops the `ASOF` keyword and marks the right
  * relation; Spark's parser reads the ON/USING clause, the aliases and
  * everything after them; [[ChSql.run]] hands the marked `Join` to
  * [[join]], which classifies the analyzed condition's terms by the side
  * each attribute comes from and runs the window-formulation sort-merge
  * ([[graft.operators.AsOfJoin.asof]] — one shuffle per side, no interval
  * explosion) over the two sides under internal names. The result is
  * projected back under each column's own name and qualifier, so `l.x`
  * and `r.y` resolve to their side, an unmatched left row reads NULL for
  * every right column (its keys too), and an unqualified name both sides
  * carry reads the left's ([[ChSql.preferLeft]]). `ASOF JOIN` without
  * LEFT is the inner form: left rows with no match are dropped (CH
  * inner-ASOF semantics).
  */
object ChAsof {

  private val asofJoinRe = "(?is)\\basof\\s+(left\\s+)?join\\s+([\\w.]+)".r

  /** Does the query contain an ASOF JOIN to translate? */
  def applies(sql: String): Boolean = asofJoinRe.findFirstIn(ChSql.maskStrings(sql)).isDefined

  /** `query` with each `ASOF [LEFT] JOIN r` (matched on its masked twin)
    * read as `[LEFT] JOIN <marker(r)>`.
    */
  private[engine] def mark(query: String, marker: String => String): String =
    ChSql.replaceOnMasked(query, asofJoinRe) { m =>
      s"${Option(m.group(1)).getOrElse("")}JOIN ${marker(m.group(2))}"
    }

  /** The ASOF join `j` (an inner or left join as parsed) as a plan. */
  private[engine] def join(spark: SparkSession, j: Join): LogicalPlan = {
    val (left, right, on) = ChSql.joinTerms(spark, j, "ChAsof")
    val (terms, isLeft) = j.joinType match {
      case UsingJoin(tpe, cols) =>
        require(cols.length >= 2,
          s"ChAsof: ASOF USING needs >= 2 columns (keys..., time), got (${cols.mkString(", ")})")
        (on.init :+ on.last.copy(_1 = ">="), tpe == LeftOuter)
      case tpe => (on, tpe == LeftOuter)
    }
    val (keys, times) = terms.partition(_._1 == "=")
    if (keys.isEmpty) sys.error("ChAsof: ASOF JOIN needs at least one equality key")
    val (op, leftTs, rightTs) = times match {
      case Seq(t) => t
      case Seq() => sys.error("ChAsof: ASOF JOIN needs one inequality (the time condition)")
      case _ =>
        val (o, l, r) = times(1)
        sys.error("ChAsof: ASOF JOIN needs exactly ONE inequality in ON; found a second: " +
          s"${l.sql} $o ${r.sql}")
    }
    val (forward, strict) = op match {
      case ">=" => (false, false)
      case ">" => (false, true)
      case "<=" => (true, false)
      case "<" => (true, true)
    }
    // one side under internal names: the keys, the time, then every column
    def internal(side: LogicalPlan, k: Seq[Expression], ts: Expression, tag: String): DataFrame =
      ColumnBridge.dataFrame(spark, Project(
        k.zipWithIndex.map { case (e, i) => Alias(e, s"__k$i")() } ++
          (Alias(ts, s"__${tag}t")() +:
            side.output.zipWithIndex.map { case (a, i) => Alias(a, s"__$tag$i")() }),
        side))
    val joined = graft.operators.AsOfJoin.asof(
      internal(left, keys.map(_._2), leftTs, "l"), internal(right, keys.map(_._3), rightTs, "r"),
      keys.indices.map(i => s"__k$i"), "__lt", "__rt", forward, strict)
    val out = (if (isLeft) joined else joined.filter(col("__rt").isNotNull))
      .queryExecution.analyzed
    val byName = out.output.map(a => a.name -> a).toMap
    def back(side: LogicalPlan, tag: String) = side.output.zipWithIndex.map { case (a, i) =>
      Alias(byName(s"__$tag$i"), a.name)(qualifier = a.qualifier)
    }
    ChSql.preferLeft(Project(back(left, "l") ++ back(right, "r"), out), left)
  }
}
