package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse's `uniqUpTo(N)(x)` — exact distinct count while it is ≤ N,
  * and N+1 once it exceeds N. Spelled `uniqUpTo(N, x)` (flat arity).
  *
  * The point is the STATE BOUND, not the answer shape: the buffer holds at
  * most N+1 distinct values per group and saturates permanently once full
  * — so "does this group exceed N distinct users" costs O(N) memory per
  * group regardless of group cardinality, where `count(DISTINCT x)`'s
  * expand + two-phase plan shuffles every distinct value. Saturated
  * partials serialize as a single flag byte, so merge traffic collapses
  * to O(1) for hot groups (ref uniqUpTo docs; same early-out CH applies).
  *
  * Supports integral, string, date/time, and boolean inputs (the CH-typical
  * key types); values are stored exactly — no hashing, no collision risk.
  */
object UniqUpTo {

  val functions = FunctionTable.define(this) { f =>
    f("uniqUpTo") { es =>
      require(es.length == 2, "usage: uniqUpTo(N, x)")
      val n = es.head match {
        case Literal(v: Int, IntegerType) => v
        case Literal(v: Long, LongType) => v.toInt
        case other => throw new IllegalArgumentException(
          s"uniqUpTo: N must be an integer literal, got $other")
      }
      require(n >= 1 && n <= 1000000, s"uniqUpTo: N out of range: $n")
      UniqUpToAgg(es(1), n).toAggregateExpression()
    }
  }

  def uniq_up_to(n: Int, x: Column): Column = call_function("uniqUpTo", lit(n), x)
}

/** Bounded distinct-value set; `saturated` latches once size exceeds n. */
final class UpToSet {
  private[graft] var saturated = false
  private[graft] val values = mutable.HashSet.empty[Any]
}

case class UniqUpToAgg(
    child: Expression,
    n: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[UpToSet] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         StringType | DateType | TimestampType | TimestampNTZType =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"uniqUpTo: unsupported input type ${dt.simpleString}")
  }

  override def createAggregationBuffer(): UpToSet = new UpToSet

  private def saturate(buf: UpToSet): Unit =
    if (buf.values.size > n) { buf.saturated = true; buf.values.clear() }

  override def update(buf: UpToSet, row: InternalRow): UpToSet = {
    if (!buf.saturated) {
      val v = child.eval(row)
      if (v != null) {
        // UTF8String from eval may be buffer-backed; copy before retaining
        buf.values += (v match {
          case s: UTF8String => s.clone()
          case other => other
        })
        saturate(buf)
      }
    }
    buf
  }

  override def merge(buf: UpToSet, other: UpToSet): UpToSet = {
    if (other.saturated) { buf.saturated = true; buf.values.clear() }
    else if (!buf.saturated) { buf.values ++= other.values; saturate(buf) }
    buf
  }

  override def eval(buf: UpToSet): Any =
    if (buf.saturated) (n + 1).toLong else buf.values.size.toLong

  override def serialize(buf: UpToSet): Array[Byte] = {
    if (buf.saturated) return Array[Byte](1)
    child.dataType match {
      case StringType =>
        val items = buf.values.toSeq.map(_.asInstanceOf[UTF8String].getBytes)
        val bb = ByteBuffer.allocate(1 + 4 + items.map(4 + _.length).sum)
        bb.put(0: Byte); bb.putInt(items.length)
        items.foreach { b => bb.putInt(b.length); bb.put(b) }
        bb.array()
      case _ =>
        val bb = ByteBuffer.allocate(1 + 4 + buf.values.size * 8)
        bb.put(0: Byte); bb.putInt(buf.values.size)
        buf.values.foreach { v =>
          bb.putLong(v match {
            case b: Boolean => if (b) 1L else 0L
            case x: Byte => x.toLong
            case x: Short => x.toLong
            case x: Int => x.toLong
            case x: Long => x
          })
        }
        bb.array()
    }
  }

  override def deserialize(bytes: Array[Byte]): UpToSet = {
    val buf = new UpToSet
    val bb = ByteBuffer.wrap(bytes)
    if (bb.get() == (1: Byte)) { buf.saturated = true; return buf }
    val count = bb.getInt
    child.dataType match {
      case StringType =>
        var i = 0
        while (i < count) {
          val len = bb.getInt
          val arr = new Array[Byte](len)
          bb.get(arr)
          buf.values += UTF8String.fromBytes(arr)
          i += 1
        }
      case dt =>
        var i = 0
        while (i < count) {
          val l = bb.getLong
          buf.values += (dt match {
            case BooleanType => l != 0L
            case ByteType => l.toByte
            case ShortType => l.toShort
            case IntegerType | DateType => l.toInt
            case _ => l
          })
          i += 1
        }
    }
    buf
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(o: Int): UniqUpToAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): UniqUpToAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): UniqUpToAgg =
    copy(child = cs.head)
  override def prettyName: String = "uniqUpTo"
}
