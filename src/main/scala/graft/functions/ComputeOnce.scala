package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.DataType

/** Evaluation pin for expensive projected expressions — the optimization
  * guide's §4.4 fix ("mark expensive UDFs non-deterministic to stop the
  * optimizer duplicating them") generalized to expensive BUILT-IN
  * expression trees.
  *
  * Problem it solves: a filter over a projected column (`.withColumn("q",
  * expensive).filter($"q" >= t)`) is rewritten by PushDownPredicates into
  * a Filter whose condition INLINES the expensive tree, pushed below the
  * projection (and below any repartition) — so the tree is evaluated
  * twice per surviving row (once in the sunk Filter, once in the
  * projection), and on a narrow scan the sunk copy also runs before the
  * spread exchange, i.e. on one core (measured on q39: a 958 ms
  * single-task Filter stage duplicating the langid+quality scoring that
  * then re-ran post-exchange). [[ComputeOnce]] is a value-identity
  * wrapper whose only effect is `deterministic = false`, which makes the
  * optimizer treat the projection as a placement barrier: predicates no
  * longer push through it, CollapseProject no longer inlines it, so the
  * wrapped tree is computed exactly once, where it is written.
  *
  * Results are bit-identical (eval/codegen delegate to the child). Use it
  * ONLY on projections that are (a) expensive per row and (b) immediately
  * consumed by a filter/aggregate in the same pipeline — a blanket pin
  * would block legitimate pushdowns (the §4.4 trade-off, verbatim).
  *
  * Operator constraint (because `deterministic = false`): CheckAnalysis
  * rejects nondeterministic expressions outside Project/Filter/Aggregate/
  * Window, so `once(...)` inside a JOIN KEY, SORT expression, or GROUPING
  * expression fails analysis with an opaque AnalysisException — keep pins
  * in plain projections. The pin also blocks ALL predicate pushdown
  * through its projection (including partition pruning), which is why the
  * q39 usage sits ABOVE the dedup aggregate where nothing can push
  * further anyway.
  */
case class ComputeOnce(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  // the whole point: see class doc. NOT the Nondeterministic trait — no
  // per-partition state, just an optimizer placement flag.
  override lazy val deterministic: Boolean = false
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(c: Expression): ComputeOnce =
    copy(child = c)
  override def prettyName: String = "compute_once"
}

object ComputeOnce {
  val functions = FunctionTable.define(this) { f =>
    f("compute_once") { es =>
      require(es.length == 1, "usage: compute_once(expr)")
      ComputeOnce(es.head)
    }
  }

  /** Pin `c`'s evaluation to where it is projected (see class doc).
    * Requires [[ChCompat.register]] (or [[graft.GraftExtensions]]) on the
    * session.
    */
  def once(c: Column): Column = call_function("compute_once", c)
}
