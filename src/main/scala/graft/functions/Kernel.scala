package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce, CreateArray, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** The one Catalyst expression behind every scalar primitive of the
  * library: a call of `owner.method(children..., params...)`, where the
  * method is a plain function on a module object (reached through its
  * static forwarder) holding the primitive's loop.
  *
  * A `Kernel` is `RuntimeReplaceable`: analysis sees `name(children)` with
  * the declared `dataType` and the `accepts` type check; the optimizer
  * swaps in a `StaticInvoke`, so the call compiles inside whole-stage
  * codegen like any built-in instead of breaking the span the way a
  * `CodegenFallback` does. NULL in any child gives NULL without calling
  * the method; `returnsNull` declares that the method itself may answer
  * NULL (it then returns a boxed or object value).
  *
  * `params` are planning-time constants appended after the children —
  * scalars, or prebuilt objects such as a word set or a codebook, passed
  * as object literals so they are built once on the driver and never per
  * row. They are not children: they do not appear in the column name.
  * Every field is plain data, so equality, canonicalisation and cache
  * matching compare what the call computes.
  */
case class Kernel(
    owner: Class[_],
    method: String,
    name: String,
    override val dataType: DataType,
    children: Seq[Expression],
    accepts: Seq[Arg],
    params: Seq[Any],
    returnsNull: Boolean)
  extends Expression with RuntimeReplaceable {

  override def prettyName: String = name

  // an untyped NULL literal (NullType) fits any argument
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == accepts.length && children.zip(accepts).forall {
        case (c, a) => c.dataType == NullType || a.accepts(c.dataType) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires (${accepts.map(_.describe).mkString(", ")}), got " +
        s"(${children.map(_.dataType.simpleString).mkString(", ")})")

  override lazy val replacement: Expression =
    if (children.zip(accepts).exists { case (c, a) => c.dataType == NullType && a.nullIsNull })
      Literal(null, dataType)
    else StaticInvoke(owner, dataType, method,
      children.zip(accepts).map { case (c, a) => a.adapt(c) } ++ params.map(Kernel.literal),
      returnNullable = returnsNull)

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Kernel =
    copy(children = cs)
}

object Kernel {
  /** `owner.method(children ++ params)` under SQL name `name`. */
  def of(owner: AnyRef, method: String, name: String, dataType: DataType,
      children: Seq[Expression], accepts: Seq[Arg], params: Seq[Any] = Nil,
      returnsNull: Boolean = false): Kernel =
    Kernel(owner.getClass, method, name, dataType, children, accepts, params, returnsNull)

  /** An array argument's element type (NullType for a non-array), for
    * kernels whose loop reads elements by type. */
  private[functions] def elementType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  private def literal(v: Any): Literal = v match {
    case _: Int | _: Long | _: Double | _: Boolean => Literal(v)
    case t: DataType => Literal(t, ObjectType(classOf[DataType]))
    case o => Literal(o, ObjectType(o.getClass))
  }
}

/** What a [[Kernel]] child may be, and how the kernel method receives it.
  * A small closed set of our own (Spark's `AbstractDataType` is not public).
  */
sealed abstract class Arg(val describe: String) extends Serializable {
  def accepts(t: DataType): Boolean
  def adapt(e: Expression): Expression = e
  /** Whether a NULL here makes the call NULL. */
  def nullIsNull: Boolean = true
}

object Arg {
  case object AnyType extends Arg("any") {
    def accepts(t: DataType): Boolean = true
  }

  /** A string of any collation. */
  case object Str extends Arg("string") {
    def accepts(t: DataType): Boolean = t.isInstanceOf[StringType]
  }

  /** Any integral type, received as `long`. */
  case object Integral extends Arg("integral") {
    def accepts(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    override def adapt(e: Expression): Expression =
      if (e.dataType == LongType) e else Cast(e, LongType)
  }

  /** Any numeric type, received as `double`. */
  case object Num extends Arg("numeric") {
    def accepts(t: DataType): Boolean = t.isInstanceOf[NumericType]
    override def adapt(e: Expression): Expression =
      if (e.dataType == DoubleType) e else Cast(e, DoubleType)
  }

  case object Dec extends Arg("decimal") {
    def accepts(t: DataType): Boolean = t.isInstanceOf[DecimalType]
  }

  case object Struct extends Arg("struct") {
    def accepts(t: DataType): Boolean = t.isInstanceOf[StructType]
  }

  /** One of these types, ignoring nullability flags. */
  case class Is(types: DataType*) extends Arg(types.map(_.simpleString).mkString("|")) {
    def accepts(t: DataType): Boolean = types.exists(sameShape(_, t))
  }

  case class ArrayOf(elem: Arg) extends Arg(s"array<${elem.describe}>") {
    def accepts(t: DataType): Boolean = t match {
      case ArrayType(et, _) => elem.accepts(et)
      case _ => false
    }
  }

  case class MapOf(key: Arg, value: Arg) extends Arg(s"map<${key.describe},${value.describe}>") {
    def accepts(t: DataType): Boolean = t match {
      case MapType(k, v, _) => key.accepts(k) && value.accepts(v)
      case _ => false
    }
  }

  case class AnyOf(args: Arg*) extends Arg(args.map(_.describe).mkString("|")) {
    def accepts(t: DataType): Boolean = args.exists(_.accepts(t))
  }

  /** An optional argument whose NULL means `default` instead of NULL. */
  case class OrElse(arg: Arg, default: Any) extends Arg(arg.describe) {
    def accepts(t: DataType): Boolean = arg.accepts(t)
    override def adapt(e: Expression): Expression = Coalesce(Seq(arg.adapt(e), Literal(default)))
    override def nullIsNull: Boolean = false
  }

  /** A value cast to `t` and received as a one-element array, so a NULL
    * reaches the kernel as a NULL slot instead of nulling the call. */
  case class Cell(t: DataType) extends Arg(t.simpleString) {
    def accepts(x: DataType): Boolean = Cast.canCast(x, t)
    override def adapt(e: Expression): Expression = CreateArray(Seq(
      if (e.dataType == t) e
      else Cast(e, t, Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))))
    override def nullIsNull: Boolean = false
  }

  /** `arg` under a description of its own in the type-check message. */
  case class Named(arg: Arg, override val describe: String) extends Arg(describe) {
    def accepts(t: DataType): Boolean = arg.accepts(t)
    override def adapt(e: Expression): Expression = arg.adapt(e)
    override def nullIsNull: Boolean = arg.nullIsNull
  }

  private def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(x, _), ArrayType(y, _)) => sameShape(x, y)
    case (MapType(k1, v1, _), MapType(k2, v2, _)) => sameShape(k1, k2) && sameShape(v1, v2)
    case _ => a == b
  }
}
