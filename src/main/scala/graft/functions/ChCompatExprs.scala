package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

object HostNameExpr {
  /** (host name, host address) of THIS server — the ONE capture behind
    * both hostName() and system.clusters' is_local row, so a statement
    * correlating the two identities always agrees; falls back to the
    * loopback identity when the local hostname does not resolve (a
    * container without /etc/hosts must not lose the function).
    */
  val localHostIdentity: (String, String) =
    try {
      val lh = java.net.InetAddress.getLocalHost
      (lh.getHostName, lh.getHostAddress)
    } catch { case _: java.net.UnknownHostException => ("localhost", "127.0.0.1") }
}

/** Keeps `CodegenFallback`: a leaf with no children, so it never splits a
  * whole-stage-codegen span around other expressions. */
case class HostNameExpr()
  extends LeafExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  // The SERVER's hostname, captured ONCE at plan construction on the
  // driver and shipped with the expression — so the value is genuinely
  // DETERMINISTIC (identical on retries, speculative tasks, and
  // recomputed partitions), which Spark's optimizer contract requires
  // and which lets the rebalance tool GROUP BY hostName() (ref
  // data_rebalance.py:144). This matches CH semantics on the published
  // 1-shard topology, where "the server" is one node; an
  // executor-local capture would instead vary across task placement —
  // a contract violation under recomputation in any real cluster.
  private val host: String = HostNameExpr.localHostIdentity._1
  @transient private lazy val hostUtf8: org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(host)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = hostUtf8
  override def prettyName: String = "hostName"
}

/** toTypeName(x) — the resolved Spark SQL type of the argument (CH's
  * debug aid, doc:897; reports Spark names, e.g. BIGINT not UInt64),
  * replaced by that string literal once the argument is resolved.
  */
case class ToTypeNameExpr(child: Expression)
  extends Expression with RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression =
    Literal(org.apache.spark.unsafe.types.UTF8String.fromString(child.dataType.sql), StringType)
  override protected def withNewChildInternal(c: Expression): ToTypeNameExpr = copy(child = c)
  override def prettyName: String = "toTypeName"
}

/** CH defaultValueOfArgumentType(expr): the default value of the
  * argument's TYPE (0 for numbers, '' for strings, epoch for
  * timestamps), never the argument's value — replaced by that literal.
  */
case class DefaultValueOfArgumentType(child: Expression)
  extends Expression with RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression = Literal.default(child.dataType)
  override protected def withNewChildInternal(c: Expression): DefaultValueOfArgumentType =
    copy(child = c)
  override def prettyName: String = "defaultValueOfArgumentType"
}

/** Truncates a (LEGACY, wrapping) SUM back to its input's own integral
  * type — CH's sumWithOverflow contract. The input type is read from the
  * RESOLVED aggregate child; Long/float/decimal inputs pass through
  * unchanged, and the LEGACY cast Long→Int/Short/Byte is exact mod-2ᵏ
  * arithmetic. */
case class SumInInputType(child: Expression)
  extends Expression with RuntimeReplaceable with UnaryLike[Expression] {

  private def inputType: DataType = child match {
    case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
      ae.aggregateFunction.children.head.dataType
    case other => other.dataType
  }
  override lazy val replacement: Expression = inputType match {
    case t @ (IntegerType | ShortType | ByteType) => Cast(child, t, None, EvalMode.LEGACY)
    case _ => child
  }
  override protected def withNewChildInternal(c: Expression): SumInInputType =
    copy(child = c)
  override def prettyName: String = "sumWithOverflow"
}
