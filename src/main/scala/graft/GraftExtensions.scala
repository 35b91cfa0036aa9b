package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule

/** SparkSessionExtensions entry point — the idiomatic packaging for a Spark
  * library's custom functions: start any session with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)`) and the whole
  * [[functions.FunctionTable]] — bitmap aggregate family, MinHash, cosine,
  * the ClickHouse-dialect names and the `numbers` / `merge` table
  * functions — resolves in SQL without further setup, as does
  * `system.one`, and a global sort over small AQE stages plans in one
  * task ([[engine.SmallSort]]). Sessions built without the extension call
  * `functions.ChCompat.register(spark)` instead.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    LogNoise.silence()
    functions.FunctionTable.functions.foreach(ext.injectFunction)
    functions.FunctionTable.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectResolutionRule(_ => SystemOne)
    ext.injectPlannerStrategy(_ => engine.SmallSort)
    // CH-projection-style automatic aggregate routing onto registered state
    // tables (no-op until graft.mv.Projection.register is called). The rule
    // carries ITS session: a plan optimized while another session is
    // thread-active still consults only this session's store.
    ext.injectOptimizerRule { session =>
      // marker read by mv.Projection.attach: this session already runs
      // ProjectionRewrite in the main optimizer, don't add a second copy
      session.conf.set(GraftExtensions.MarkerConf, "true")
      new mv.ProjectionRewrite(session)
    }
  }
}

object GraftExtensions {
  /** Session-conf marker set when [[GraftExtensions]] injected the
    * projection rewrite into the session's main optimizer.
    */
  val MarkerConf = "spark.graft.extensions.injected"
}

/** CH's one-row `system.one` (`SELECT … FROM system.one`, the reference
  * doc's hand-built-rows idiom) as a plan, so extension sessions need no
  * catalog view: one row, `dummy = 0`.
  */
private object SystemOne extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u: UnresolvedRelation
        if u.multipartIdentifier.map(_.toLowerCase) == Seq("system", "one") =>
      SubqueryAlias(Seq("system", "one"),
        Project(Seq(Alias(Literal(0), "dummy")()), OneRowRelation()))
  }
}
