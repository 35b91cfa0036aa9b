package graft.mv

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Attribute, AttributeReference, Expression, NamedExpression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/** ClickHouse PROJECTION analog — automatic routing of matching aggregate
  * queries onto a [[StateTable]] (ref: CH `ALTER TABLE ... ADD PROJECTION
  * (SELECT ... GROUP BY ...)`, the feature the reference's MV layering
  * approximates by hand; docs/物化视图的实战经验分享.md motivates exactly this
  * "answer from pre-aggregated states instead of raw" economics).
  *
  * A projection is registered as (source DataFrame, state table, per-metric
  * defining aggregates). [[ProjectionRewrite]] — injected via
  * `spark.experimental.extraOptimizations` ([[Projection.attach]]) or
  * [[graft.GraftExtensions]] — then rewrites any `Aggregate` whose
  *
  *  - base relation is the projection's source (same file-scan root paths),
  *  - grouping expressions are each expressible over the table's keys
  *    (exact key, key subset, or any function of keys — month-of-day
  *    rollups route too),
  *  - residual filters are expressible over keys (partition pruning carries
  *    over to the state read), and
  *  - every aggregate call matches a registered defining aggregate
  *
  * into merge-on-read of the state table, preserving the original output
  * names, types and expression ids. Queries that don't fully match are left
  * untouched — the rule never degrades a plan, it only swaps a raw scan +
  * re-aggregation for a states scan that is orders of magnitude smaller.
  *
  * Matching is semantic, not syntactic: query-side expressions are INLINED
  * through Project/Filter chains down to the base relation's attributes and
  * compared canonically against the registered definitions inlined the same
  * way — so alias renames, column pruning, and optimizer-collapsed projects
  * between the aggregate and the scan don't break routing (the same
  * plan-fragment matching discipline as Spark's own CacheManager, done at
  * expression granularity).
  *
  * Correctness contract (CH's projection contract, made explicit because
  * Spark has no transactional table+projection write path): the state table
  * must hold exactly the partial aggregates of the registered source — keep
  * them in sync via [[MaterializedView]] / [[StateTable.appendBatch]] on the
  * same inserts. At 100 TB this rule is the difference between scanning the
  * fact table and scanning states ~10^3-10^6× smaller, with no query change.
  *
  * Deliberate declines, each documented at the decision site: global
  * (group-less) aggregates — on an empty source, raw returns one row where
  * the empty state table returns none; multiple DISTINCT aggregates — the
  * optimizer has already exploded them before user rules run.
  */
object Projection {

  /** One registered projection: everything [[ProjectionRewrite]] needs,
    * pre-inlined to the source's base-relation attributes at registration
    * time so per-query matching is pure expression comparison.
    */
  final case class Registered(
      table: StateTable,
      basePaths: Set[String],
      baseByName: Map[String, Attribute],
      keyDefs: Seq[(String, Expression)],
      aggDefs: Seq[(String, AggregateExpression)],
      sourceFilters: Seq[Expression]) {
    def metric(name: String): Metric = table.metrics.find(_.name == name).get
  }

  /** Per-session registration storage, living INSIDE the session (an inert
    * rule appended to `experimental.extraOptimizations`): the session owns
    * its projections and a dropped session releases them with no global
    * map to leak (a weak-keyed map would be pinned forever here — the
    * entries reference a [[StateTable]] which references the session, a
    * value→key strong path). `apply` is identity; [[ProjectionRewrite]]
    * does the work and reads the store via [[Projection.entries]].
    */
  private final class Store extends Rule[LogicalPlan] {
    val buf = mutable.ArrayBuffer.empty[Registered]
    override def apply(plan: LogicalPlan): LogicalPlan = plan
  }

  // While a registration probe is being analyzed/optimized — or a
  // StateTable ingest/maintenance action is writing — the rule must not
  // fire: a probe rewrite would extract definitions referencing the state
  // table instead of the source, and an ingest rewrite would answer
  // `toStates` FROM the very table being appended to (losing the batch when
  // its partition is new, double-counting when it exists — the table is by
  // construction out of sync with the source mid-ingest).
  private val suppressed = new ThreadLocal[Boolean] { override def initialValue = false }

  /** Run `f` with [[ProjectionRewrite]] disabled on this thread. Every
    * [[StateTable]] write/maintenance action runs under this.
    */
  private[graft] def suppress[T](f: => T): T = {
    val prev = suppressed.get(); suppressed.set(true)
    try f finally suppressed.set(prev)
  }

  private def store(spark: SparkSession): Option[Store] =
    spark.experimental.extraOptimizations.collectFirst { case s: Store => s }

  def entries(spark: SparkSession): Seq[Registered] =
    if (suppressed.get()) Nil
    else store(spark).map(s => s.synchronized(s.buf.toSeq)).getOrElse(Nil)

  /** Register `table` as a projection of `source`. `defs` names each metric
    * of the table and gives the raw-side aggregate whose FINISHED value the
    * metric reproduces (e.g. `"uv" -> count_distinct(col("user_id"))` for a
    * [[BitmapUvMetric]] — exact, so the rewrite is value-preserving). The
    * table's keys must be columns of `source`; every def name must be a
    * metric of the table. Also [[attach]]es the rewrite rule to the session.
    */
  def register(spark: SparkSession, table: StateTable, source: DataFrame,
      defs: Seq[(String, Column)]): Unit = {
    val missing = defs.map(_._1).filterNot(n => table.metrics.exists(_.name == n))
    require(missing.isEmpty, s"projection defs name unknown metrics: ${missing.mkString(",")}")
    val entry = suppress(extract(table, source, defs))
    attach(spark)
    val s = store(spark).get
    s.synchronized { s.buf += entry }
  }

  def deregister(spark: SparkSession, table: StateTable): Unit =
    store(spark).foreach(s => s.synchronized(s.buf.filterInPlace(_.table ne table)))

  /** Idempotently give the session its projection [[Store]] and — unless
    * the session was built with [[graft.GraftExtensions]], which injects
    * [[ProjectionRewrite]] into the main optimizer — the rewrite rule
    * itself in the user-provided batch. The extensions marker keeps a
    * register() on an extensions session from running the rule in TWO
    * optimizer batches per query.
    */
  def attach(spark: SparkSession): Unit = synchronized {
    // the extensions marker is set by the injected optimizer-rule builder,
    // which Spark only runs when it assembles the optimizer's rules — do
    // that first, or an attach() before the session's first query would
    // miss the marker and install the duplicate copy anyway
    spark.sessionState.optimizer.extendedOperatorOptimizationRules
    var cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[Store])) cur = cur :+ new Store
    if (!cur.exists(_.isInstanceOf[ProjectionRewrite]) &&
        !spark.conf.getOption(graft.GraftExtensions.MarkerConf).contains("true"))
      cur = cur :+ new ProjectionRewrite(spark)
    spark.experimental.extraOptimizations = cur
  }

  /** Build the registration entry by OPTIMIZING a probe aggregate of the
    * defs over the source and inlining its pieces to the base relation —
    * the probe goes through the same optimizer the user's queries do, so
    * both sides of every later comparison are in the same normal form.
    */
  private def extract(table: StateTable, source: DataFrame,
      defs: Seq[(String, Column)]): Registered = {
    val aggCols = defs.map { case (n, c) => c.as(n) }
    val probe = source.groupBy(table.keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val plan = probe.queryExecution.optimizedPlan
    val agg = plan.collectFirst { case a: Aggregate => a }.getOrElse(
      sys.error("projection probe did not optimize to an Aggregate"))
    val (rel, sub, filters) = peel(agg.child).getOrElse(
      sys.error("projection source must be Project/Filter chains over one file scan " +
        "(joins/unions/aggregates in the source are not routable)"))
    val keyDefs = table.keys.zip(agg.groupingExpressions).map { case (k, g) =>
      k -> inline(g, sub).getOrElse(sys.error(s"projection key '$k' not inlinable"))
    }
    val aggDefs = defs.map(_._1).map { n =>
      val ae = agg.aggregateExpressions.collectFirst {
        case Alias(a: AggregateExpression, `n`) => a
      }.getOrElse(sys.error(s"projection def '$n' must be a single aggregate call " +
        "(wrap derived values in the query, not the def)"))
      val inlined = inline(ae, sub).getOrElse(sys.error(s"projection def '$n' not inlinable"))
      n -> inlined.asInstanceOf[AggregateExpression]
    }
    (keyDefs.map(_._2) ++ aggDefs.map(_._2) ++ filters).foreach { e =>
      require(e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]]),
        s"projection expressions must be deterministic and subquery-free: $e")
    }
    Registered(table, rootPaths(rel), rel.output.map(a => a.name -> a).toMap,
      keyDefs, aggDefs, filters)
  }

  // ---- plan/expression plumbing shared by registration and the rule ----

  private[mv] def rootPaths(rel: LogicalRelation): Set[String] = rel.relation match {
    case h: HadoopFsRelation => h.location.rootPaths.map(_.toString).toSet
    case _ => Set.empty
  }

  /** Peel Project/Filter/SubqueryAlias down to a single file-scan relation.
    * Returns the relation, a substitution from every intermediate output
    * attribute to its defining expression over the relation's attributes,
    * and the accumulated filter conjuncts (inlined). `None` for any other
    * shape — joins, unions, nested aggregates are not routable.
    */
  private[mv] def peel(plan: LogicalPlan)
      : Option[(LogicalRelation, Map[Long, Expression], Seq[Expression])] = plan match {
    case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
      Some((r, r.output.map(a => a.exprId.id -> (a: Expression)).toMap, Nil))
    case SubqueryAlias(_, c) => peel(c)
    case Project(list, c) =>
      peel(c).flatMap { case (r, sub, fs) =>
        val entries = list.map {
          case a: AttributeReference => sub.get(a.exprId.id).map(a.exprId.id -> _)
          case al: Alias => inline(al.child, sub).map(al.exprId.id -> _)
          case _ => None
        }
        if (entries.contains(None)) None
        else Some((r, entries.flatten.toMap, fs))
      }
    case Filter(cond, c) =>
      peel(c).flatMap { case (r, sub, fs) =>
        inline(cond, sub).map(e => (r, sub, fs ++ conjuncts(e)))
      }
    case _ => None
  }

  /** Substitute every attribute reference in `e` with its defining
    * expression over the base relation. `None` if any attribute is unknown
    * or the expression carries a subquery (not comparable across plans).
    */
  private[mv] def inline(e: Expression, sub: Map[Long, Expression]): Option[Expression] = {
    var ok = true
    val out = e.transformUp {
      case a: AttributeReference =>
        sub.getOrElse(a.exprId.id, { ok = false; a })
    }
    // check the RESULT: a substituted defining expression may itself carry a
    // subquery, which is not comparable across plans
    if (ok && !out.exists(_.isInstanceOf[PlanExpression[_]])) Some(out) else None
  }

  private[mv] def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  /** Remap base-relation attributes of the QUERY's scan onto the REGISTERED
    * scan's attributes by column name (the two scans are separate reads of
    * the same files, so attributes differ only in expression id). `None` on
    * any name/type mismatch — a schema drift means no rewrite.
    */
  private[mv] def remap(e: Expression, byName: Map[String, Attribute]): Option[Expression] = {
    var ok = true
    val out = e.transformUp {
      case a: AttributeReference =>
        byName.get(a.name) match {
          case Some(b) if b.dataType == a.dataType => b
          case _ => ok = false; a
        }
    }
    if (ok) Some(out) else None
  }
}

/** The optimizer rule: see [[Projection]]. Runs in the user-provided batch
  * (after the standard batches), so query-side expressions are compared in
  * optimized normal form — registration optimizes its probe identically.
  *
  * The rule instance CARRIES ITS OWNING SESSION rather than consulting
  * `SparkSession.getActiveSession`: in a multi-session JVM a plan optimized
  * while a different session happens to be thread-active must still consult
  * only the owner's projection store — the registrations of some other
  * session can never route this session's queries.
  */
final class ProjectionRewrite(owner: SparkSession) extends Rule[LogicalPlan] {

  // decline tracing: why an Aggregate was not routed (alignment with CH's
  // EXPLAIN for projection selection), at DEBUG on this rule's logger
  private def dbg(msg: => String): Unit = logDebug(msg)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val entries = Projection.entries(owner)
    if (entries.isEmpty) return plan
    // the routed read is built from analyzed metric expressions after the
    // optimizer's replacement pass ran, so replace its RuntimeReplaceable
    // calls (the Kernel scalars) here
    plan.transformUp {
      case agg: Aggregate =>
        rewrite(agg, entries).map(ReplaceExpressions(_)).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate,
      entries: Seq[Projection.Registered]): Option[LogicalPlan] = {
    // Global aggregates: COUNT(*) over an empty source is 1 row; over an
    // empty state table it would be 0 rows. Decline rather than diverge.
    if (agg.groupingExpressions.isEmpty) { dbg("decline: global aggregate"); return None }
    val (rel, sub, qFilters) = Projection.peel(agg.child).getOrElse {
      dbg("decline: child is not Project/Filter over one file scan"); return None }
    val paths = Projection.rootPaths(rel)
    // Projection SELECTION (CH's min-marks analog): when several
    // registered projections match the same query, answer from the one
    // with the FEWEST keys — coarser keys mean fewer state rows to scan
    // and merge (a (kind) table is ~|days|x smaller than (day, kind)).
    // Candidates are tried in key-count order (stable sort keeps
    // registration-order ties) and the FIRST successful rewrite wins, so
    // only one replacement plan is ever built/analyzed per Aggregate.
    entries.filter(_.basePaths == paths)
      .sortBy(_.table.keys.size)
      .iterator
      .flatMap { e =>
        val r = rewriteWith(agg, sub, qFilters, e)
        if (r.isDefined) dbg("selection: answering from keys " +
          e.table.keys.mkString("(", ",", ")"))
        r
      }
      .nextOption()
  }

  private def rewriteWith(agg: Aggregate,
      sub: Map[Long, Expression], qFilters: Seq[Expression],
      e: Projection.Registered): Option[LogicalPlan] = {
    def toBase(x: Expression): Option[Expression] =
      Projection.inline(x, sub).flatMap(Projection.remap(_, e.baseByName))

    // Filters: every filter the SOURCE definition applies must be present in
    // the query (else the query sees rows the states never aggregated);
    // whatever remains must be expressible over the keys to run against the
    // state read instead.
    // peel() already inlined the filters to base attributes — only remap
    val qfs = qFilters.map(Projection.remap(_, e.baseByName))
    if (qfs.contains(None)) { dbg("decline: filter not remappable: " + qFilters); return None }
    val residual = mutable.ArrayBuffer(qfs.flatten: _*)
    for (sf <- e.sourceFilters) {
      val i = residual.indexWhere(_.semanticEquals(sf))
      if (i < 0) { dbg("decline: source filter missing from query: " + sf); return None }
      residual.remove(i)
    }
    // Partition residual conjuncts: key-expressible ones run against the
    // state read; a bare IsNotNull that is not key-expressible may still be
    // DROPPED when another kept conjunct implies it (the optimizer's
    // InferFiltersFromConstraints adds e.g. `isnotnull(ts)` next to
    // `to_date(ts) >= d`; the group-key comparison rejects the null-key
    // group on the state side, so the guard is redundant there).
    val keyable = mutable.ArrayBuffer.empty[(Expression, Expression)] // (base, state)
    val guards = mutable.ArrayBuffer.empty[Expression]
    for (c <- residual) overKeys(c, e) match {
      case Some(x) => keyable += c -> x
      case None => c match {
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(g) => guards += g
        case other => dbg("decline: filter not key-expressible: " + other); return None
      }
    }
    if (!guards.forall(g => keyable.exists(k => impliesNotNull(k._1, g)))) {
      dbg("decline: un-implied null guard among: " + guards); return None }
    val stateFilters = keyable.map(_._2).toSeq

    // Grouping: each expression must be a key or a function of keys.
    val gBase = agg.groupingExpressions.map(g => toBase(g).getOrElse {
      dbg("decline: grouping not inlinable: " + g); return None })
    val gState = gBase.map(g => overKeys(g, e).getOrElse {
      dbg("decline: grouping not key-expressible: " + g); return None })
    val gNames = gState.indices.map(i => s"__g$i")

    // Outputs: aggregate subtrees must each match a def; everything else
    // must reduce to the grouping expressions.
    val needed = mutable.LinkedHashSet.empty[String]
    val favg = mutable.LinkedHashSet.empty[String]
    val outExprs = agg.aggregateExpressions.map { ne =>
      val x = toBase(stripAlias(ne)).getOrElse {
        dbg("decline: output not inlinable: " + ne); return None }
      overOutputs(x, e, gBase, gNames, needed, favg).getOrElse {
        dbg("decline: output not covered by defs/groupings: " + x); return None }
    }

    Some(build(agg, e, stateFilters, gState, gNames, needed.toSeq,
      favg.toSeq, outExprs))
  }

  private def stripAlias(ne: NamedExpression): Expression = ne match {
    case Alias(c, _) => c
    case x => x
  }

  /** Does conjunct `c` evaluating to TRUE imply `g` is not null? True when
    * `g` is reachable from `c`'s root through null-intolerant operators
    * only: then g = null propagates to c = null, and a null conjunct drops
    * the row — the same implication Spark's InferFiltersFromConstraints
    * uses to add the guard in the first place.
    */
  private def impliesNotNull(c: Expression, g: Expression): Boolean = {
    def reach(x: Expression): Boolean =
      x.semanticEquals(g) || (x.nullIntolerant && x.children.exists(reach))
    reach(c)
  }

  /** Rewrite a base-attribute filter/grouping expression onto the state
    * table's columns: maximal subtrees matching a key definition become that
    * key's (unresolved) column. Comparisons the optimizer UNWRAPPED out of
    * key form — `cast(ts AS date) >= d` becomes `ts >= timestamp'd 00:00'`
    * (UnwrapCastInBinaryComparison) — are re-wrapped onto the date key: the
    * unwrap only ever emits `>=` / `<` at a midnight boundary, and at a
    * midnight boundary those are exactly `date_key >= d` / `date_key < d`.
    * `None` if any base attribute survives — the expression needed a
    * non-key column.
    */
  private def overKeys(x: Expression, e: Projection.Registered): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThan, Literal}
    def keyOf(s: Expression): Option[String] =
      e.keyDefs.find(_._2.semanticEquals(s)).map(_._1)
    // `t` castable-to-date matching a key `cast(t AS date)`, with `lit` a
    // midnight instant in that cast's zone → (key column, date literal)
    def dayBound(t: Expression, lit: Literal): Option[(Expression, Expression)] = {
      import org.apache.spark.sql.catalyst.expressions.Cast
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
      e.keyDefs.collectFirst {
        case (k, Cast(src, DateType, tz, _)) if src.semanticEquals(t) &&
            (lit.dataType == TimestampType || lit.dataType == TimestampNTZType) =>
          val zone =
            if (lit.dataType == TimestampNTZType) java.time.ZoneOffset.UTC
            else DateTimeUtils.getZoneId(tz.getOrElse(conf.sessionLocalTimeZone))
          val micros = lit.value.asInstanceOf[Long]
          val days = DateTimeUtils.microsToDays(micros, zone)
          if (DateTimeUtils.daysToMicros(days, zone) == micros)
            Some((UnresolvedAttribute.quoted(k): Expression,
              Literal(days, DateType): Expression))
          else None
      }.flatten
    }
    // Extractors so each match evaluates keyOf/dayBound ONCE per node
    // (a `case s if f(s).isDefined => f(s).get` would scan keyDefs twice).
    object AsKey {
      def unapply(s: Expression): Option[Expression] =
        keyOf(s).map(UnresolvedAttribute.quoted(_))
    }
    object LowerDayBound { // key >= d forms
      def unapply(s: Expression): Option[(Expression, Expression)] = s match {
        case GreaterThanOrEqual(t, l: Literal) => dayBound(t, l)
        case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(l: Literal, t) =>
          dayBound(t, l)
        case _ => None
      }
    }
    object UpperDayBound { // key < d forms
      def unapply(s: Expression): Option[(Expression, Expression)] = s match {
        case LessThan(t, l: Literal) => dayBound(t, l)
        case org.apache.spark.sql.catalyst.expressions.GreaterThan(l: Literal, t) =>
          dayBound(t, l)
        case _ => None
      }
    }
    val out = x.transformDown {
      case AsKey(k) => k
      case LowerDayBound(k, d) => GreaterThanOrEqual(k, d)
      case UpperDayBound(k, d) => LessThan(k, d)
    }
    if (out.exists(_.isInstanceOf[AttributeReference])) None else Some(out)
  }

  /** Rewrite a base-attribute OUTPUT expression onto the rolled-up columns:
    * aggregate calls matching a def become that metric's column, subtrees
    * matching a grouping expression become that grouping's column. An
    * `avg(x)` with no direct def DECOMPOSES onto registered `sum(x)` +
    * count defs (what CH projections do natively — avg is never stored,
    * always sumMerge/countMerge). `None` if an aggregate or base attribute
    * survives (unregistered aggregate, or a key reference outside every
    * grouping expression).
    */
  private def overOutputs(x: Expression, e: Projection.Registered,
      gBase: Seq[Expression], gNames: Seq[String],
      needed: mutable.LinkedHashSet[String],
      favg: mutable.LinkedHashSet[String]): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal, Divide}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Count, Sum}
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    def plain(d: AggregateExpression): Boolean = !d.isDistinct && d.filter.isEmpty
    // avg(x) → (sum-def name, count-def name). Count must be count(x), or
    // count(*) when x is non-nullable (then the two counts coincide).
    // Decimals are excluded: Spark's decimal Average carries bespoke
    // precision/scale arithmetic a plain Divide would not reproduce. For
    // fractional x the decomposed sum adds partials in a different order
    // than the raw row-order accumulation — the same (documented) caveat
    // as routing any registered fractional sum def. For INTEGRAL x the
    // stored states are exact Longs but Spark's raw Average accumulates in
    // DOUBLE — so the decomposition merges those states as Double (the
    // `__favg_` derived column, see [[build]]): past Long range the routed
    // path then returns the same finite double as raw instead of wrapping
    // (non-ANSI) or erroring (ANSI) the way a plain Long sumMerge would;
    // below 2^53 the partial casts are exact and the division matches raw
    // bit-for-bit, beyond that only the documented re-ordering rounding
    // caveat remains.
    object AvgOf {
      def unapply(ae: AggregateExpression): Option[(String, String, Boolean)] =
        ae.aggregateFunction match {
          case Average(xx, _) if plain(ae) &&
              !xx.dataType.isInstanceOf[DecimalType] =>
            val sumN = e.aggDefs.collectFirst {
              case (n, d) if plain(d) && (d.aggregateFunction match {
                case Sum(sx, _) => sx.semanticEquals(xx)
                case _ => false
              }) => n
            }
            val cntN = e.aggDefs.collectFirst {
              case (n, d) if plain(d) && (d.aggregateFunction match {
                case Count(Seq(cx)) =>
                  cx.semanticEquals(xx) ||
                    (!xx.nullable && cx.isInstanceOf[Literal] && cx.foldable &&
                      cx.eval() != null)
                case _ => false
              }) => n
            }
            val integral = xx.dataType match {
              case org.apache.spark.sql.types.ByteType |
                   org.apache.spark.sql.types.ShortType |
                   org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.LongType => true
              case _ => false
            }
            for (s <- sumN; c <- cntN) yield (s, c, integral)
          case _ => None
        }
    }
    val out = x.transformDown {
      case ae: AggregateExpression if e.aggDefs.exists(_._2.semanticEquals(ae)) =>
        val n = e.aggDefs.find(_._2.semanticEquals(ae)).get._1
        needed += n
        UnresolvedAttribute.quoted(n)
      case AvgOf(s, c, integral) =>
        needed += c
        // LEGACY divide: count can be 0 only under a null-heavy sum (both
        // NULL → NULL), and Spark's own Average finishes with a non-failing
        // divide for exactly this case. Integral sums merge through the
        // DOUBLE `__favg_` column (see the AvgOf comment) — never the
        // def's exact-Long merge, which would error (ANSI) or wrap past
        // Long range where raw Average stays finite.
        val sumAttr =
          if (integral) { favg += s; UnresolvedAttribute.quoted("__favg_" + s) }
          else { needed += s; UnresolvedAttribute.quoted(s) }
        Divide(Cast(sumAttr, DoubleType),
          Cast(UnresolvedAttribute.quoted(c), DoubleType), EvalMode.LEGACY)
      case s if gBase.exists(_.semanticEquals(s)) =>
        UnresolvedAttribute.quoted(gNames(gBase.indexWhere(_.semanticEquals(s))))
    }
    if (out.exists(n => n.isInstanceOf[AttributeReference] ||
        n.isInstanceOf[AggregateExpression])) None
    else Some(out)
  }

  /** Assemble the replacement: states scan → key filters → merge at the
    * grouping expressions → finish → original output shape. Built with the
    * DataFrame API (explicit column pruning — this runs after the standard
    * optimizer batches, so nothing will prune for us) and capped with a
    * Project restoring the original names, types and expression ids.
    */
  private def build(agg: Aggregate, e: Projection.Registered,
      stateFilters: Seq[Expression], gState: Seq[Expression], gNames: Seq[String],
      needed: Seq[String], favg: Seq[String],
      outExprs: Seq[Expression]): LogicalPlan = {
    var df = e.table.read()
    df = df.select((e.table.keys ++ (needed ++ favg).distinct).map(col): _*)
    stateFilters.foreach(c => df = df.filter(ColumnBridge.column(c)))
    val gCols = gState.zip(gNames).map { case (x, n) => ColumnBridge.column(x).as(n) }
    // `needed` may be empty: an aggregate-free Aggregate (SELECT DISTINCT
    // keys / GROUP BY with no metrics) still routes — the state table holds
    // exactly the source's groups, so its distinct keys are the answer.
    // Built as groupBy + dropped dummy aggregate, NOT .distinct(): this runs
    // mid-optimization, after the batch that replaces Deduplicate with
    // Aggregate — a Deduplicate node here would reach the planner unreplaced.
    val fin =
      if (needed.isEmpty && favg.isEmpty)
        df.select(gCols: _*).groupBy(gNames.map(col): _*)
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("__d"))
          .select(gNames.map(col): _*)
      else {
        // `favg` sum states merge AS DOUBLE (raw Average's accumulator) so
        // a decomposed integral avg can never overflow where raw stays
        // finite; the derived column rides beside the exact merges, so a
        // query selecting both sum(x) and avg(x) gets each from its own.
        val mergeCols = needed.map(n => e.metric(n).merge) ++
          favg.map(n => org.apache.spark.sql.functions
            .sum(col(n).cast(org.apache.spark.sql.types.DoubleType))
            .as("__favg_" + n))
        val m = df.groupBy(gCols: _*).agg(mergeCols.head, mergeCols.tail: _*)
        m.select(gNames.map(col) ++
          needed.map(n => e.metric(n).finish(col(n)).as(n)) ++
          favg.map(n => col("__favg_" + n)): _*)
      }
    val shaped = fin.select(outExprs.zip(agg.output).map { case (x, o) =>
      ColumnBridge.column(x).cast(o.dataType).as(o.name)
    }: _*)
    val rep = shaped.queryExecution.analyzed
    Project(rep.output.zip(agg.output).map { case (a, o) =>
      Alias(a, o.name)(exprId = o.exprId)
    }, rep)
  }
}
