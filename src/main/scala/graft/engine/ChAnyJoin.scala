package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeMap, EqualTo}
import org.apache.spark.sql.catalyst.plans.{RightOuter, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.graftbridge.ColumnBridge

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
  * Translation: [[mark]] drops the `ANY` keyword and marks the right
  * relation; Spark's parser reads the rest. [[join]] keeps the parsed
  * Spark join and replaces its deduplicated side (the right one; the left
  * one for RIGHT ANY) with [[graft.operators.AnyJoin.firstRowPerKey]] of
  * it, keyed on that side's key columns and projected back under their
  * names and qualifiers. In the ON form an unqualified name both sides
  * carry reads the left's ([[ChSql.preferLeft]]); USING keeps Spark's
  * USING output.
  */
object ChAnyJoin {

  private val anyJoinRe =
    ("(?is)\\b(?:(left|right|inner)\\s+any|any\\s+(left|right|inner)|any)\\s+join" +
      "\\s+([\\w.]+)").r

  /** Does the query contain an ANY join to translate? */
  def applies(sql: String): Boolean = anyJoinRe.findFirstIn(ChSql.maskStrings(sql)).isDefined

  /** `query` with each ANY join (matched on its masked twin) read as the
    * same join without `ANY` over `<marker(r)>`.
    */
  private[engine] def mark(query: String, marker: String => String): String =
    ChSql.replaceOnMasked(query, anyJoinRe) { m =>
      val kind = Option(m.group(1)).orElse(Option(m.group(2))).fold("")(_ + " ")
      s"${kind}JOIN ${marker(m.group(3))}"
    }

  /** The ANY join `j` (an inner, left or right join as parsed) as a plan. */
  private[engine] def join(spark: SparkSession, j: Join): LogicalPlan = {
    val (left, right, terms) = ChSql.joinTerms(spark, j, "ChAnyJoin")
    terms.find(_._1 != "=").foreach { case (op, l, r) =>
      sys.error(s"ChAnyJoin: unsupported ON condition '${l.sql} $op ${r.sql}' (equalities only)")
    }
    if (terms.isEmpty) sys.error("ChAnyJoin: ANY join needs at least one equality key")
    val dedupLeft = j.joinType match {
      case RightOuter | UsingJoin(RightOuter, _) => true
      case _ => false
    }
    val (side, keys) = if (dedupLeft) (left, terms.map(_._2)) else (right, terms.map(_._3))
    val names = keys.map {
      case a: Attribute => a.name
      case e => sys.error(s"ChAnyJoin: ANY join key ${e.sql} must be a column of its side")
    }.distinct
    val first = graft.operators.AnyJoin.firstRowPerKey(
      ColumnBridge.dataFrame(spark, side), names).queryExecution.analyzed
    val deduped = Project(side.output.map(a =>
      Alias(first.output.find(_.name.equalsIgnoreCase(a.name)).get, a.name)(
        qualifier = a.qualifier)), first)
    val (l, r) = if (dedupLeft) (deduped, right) else (left, deduped)
    j.joinType match {
      case u: UsingJoin => Join(l, r, u, None, j.hint)
      case tpe =>
        val moved = AttributeMap(side.output.zip(deduped.output))
        val cond = terms.map { case (_, a, b) => EqualTo(a, b) }.reduce(And)
          .transform { case a: Attribute => moved.getOrElse(a, a) }
        ChSql.preferLeft(Join(l, r, tpe, Some(cond), j.hint), left)
    }
  }
}
