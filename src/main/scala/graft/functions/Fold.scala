package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one Catalyst aggregate behind every library aggregate: the
  * two-phase `-State`/`-Merge` shape of ClickHouse's AggregatingMergeTree,
  * as a [[TypedImperativeAggregate]] whose buffer is a mutable JVM object
  * during partial aggregation and bytes only at the shuffle / state-store
  * boundary.
  *
  * `Fold` owns the Catalyst plumbing once — children, buffer offsets,
  * `prettyName`, the type check — and delegates the algorithm to its
  * [[FoldSpec]]: a plain-data case class holding the planning-time
  * constants and the create/update/merge/eval bodies, plus the
  * [[BufCodec]] of its buffer type. Every field is plain data, so
  * equality, canonicalisation and cache matching compare what the
  * aggregate computes. `dataType` is asked of the spec with the current
  * children, so a rule that rewrites a child stays right.
  */
case class Fold(
    spec: FoldSpec[_ <: AnyRef],
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[AnyRef] {

  private def s = spec.asInstanceOf[FoldSpec[AnyRef]]
  // the spec's update indexes its children once per row
  @transient private lazy val in: Array[Expression] = children.toArray

  override def prettyName: String = spec.name
  override def dataType: DataType = spec.dataType(children)
  override def nullable: Boolean = spec.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    val as = spec.accepts
    val fits = children.indices.forall { i =>
      as(math.min(i, as.length - 1)).accepts(children(i).dataType)
    }
    if (!fits) TypeCheckResult.TypeCheckFailure(
      s"${spec.name} requires (${as.map(_.describe).mkString(", ")}), got " +
        s"(${children.map(_.dataType.simpleString).mkString(", ")})")
    else spec.check(children) match {
      case Some(msg) => TypeCheckResult.TypeCheckFailure(msg)
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  override def createAggregationBuffer(): AnyRef = s.create()
  override def update(b: AnyRef, row: InternalRow): AnyRef = s.update(b, in, row)
  override def merge(b: AnyRef, o: AnyRef): AnyRef = s.merge(b, o)
  override def eval(b: AnyRef): Any = s.eval(b)
  override def serialize(b: AnyRef): Array[Byte] = s.codec.write(b)
  override def deserialize(bytes: Array[Byte]): AnyRef = s.codec.read(bytes)

  override def withNewMutableAggBufferOffset(o: Int): Fold = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): Fold = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Fold =
    copy(children = cs)
}

/** One aggregate algorithm over buffer type `B`, as plain data: fields are
  * planning-time constants (literal arguments, element types, the chosen
  * op), methods are the buffer's life cycle. No function values and no
  * `Expression`s: the children reach `update` from the [[Fold]].
  */
abstract class FoldSpec[B <: AnyRef] extends Product with Serializable {
  /** The name the aggregate prints as: column names are `name(children)`. */
  def name: String
  /** What each child may be; the last entry repeats over a variadic tail. */
  def accepts: Seq[Arg]
  /** A check beyond `accepts`: the failure message, if any. */
  def check(in: Seq[Expression]): Option[String] = None
  def dataType(in: Seq[Expression]): DataType
  def nullable: Boolean = false
  def codec: BufCodec[B]

  def create(): B
  def update(b: B, in: Array[Expression], row: InternalRow): B
  def merge(b: B, o: B): B
  def eval(b: B): Any
}

/** How one buffer type is written at the shuffle / state-store boundary.
  * These bytes are what `StateTable` parts and streaming state keep, so a
  * codec's layout is a storage format: one codec per buffer type, shared
  * by every spec over that type.
  */
trait BufCodec[B] extends Serializable {
  def write(b: B): Array[Byte]
  def read(bytes: Array[Byte]): B
}

object Fold {
  /** `spec` over `children` as an aggregate expression. */
  def agg(spec: FoldSpec[_ <: AnyRef], children: Seq[Expression]): Expression =
    Fold(spec, children).toAggregateExpression()

  /** The integral and the numeric input lanes most aggregates accept. */
  val integral: Arg = Arg.Is(LongType, IntegerType, ShortType)
  val numeric: Arg = Arg.Is(LongType, IntegerType, ShortType, DoubleType, FloatType)

  /** A numeric child's value as a double, None for NULL. A TIMESTAMP
    * reads as its micros, a BOOLEAN as 0/1, a DECIMAL by value. */
  def num(e: Expression, row: InternalRow): Option[Double] =
    e.eval(row) match {
      case null => None
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case l: Long => Some(l.toDouble)
      case i: Int => Some(i.toDouble)
      case s: Short => Some(s.toDouble)
      case b: Boolean => Some(if (b) 1d else 0d)
      case d: Decimal => Some(d.toDouble)
    }

  /** A child's value in its canonical string form, null for NULL. */
  def key(e: Expression, row: InternalRow): String = {
    val v = e.eval(row)
    if (v == null) null
    else e.dataType match {
      case StringType => v.asInstanceOf[UTF8String].toString
      case _ => v.toString
    }
  }

  /** A literal argument's value, read once when the table entry is built. */
  def literal(e: Expression, what: String): Any =
    if (e.foldable) e.eval()
    else throw new IllegalArgumentException(s"$what must be a literal, got ${e.sql}")

  /** A numeric literal argument (a bare `0.5` parses as DECIMAL). */
  def number(e: Expression, what: String): Double = literal(e, what) match {
    case n: Number => n.doubleValue()
    case d: Decimal => d.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }
}
