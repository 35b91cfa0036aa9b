package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
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
      Fold.agg(UniqUpTo(n, es(1).dataType), es.drop(1))
    }
  }

  def uniq_up_to(n: Int, x: Column): Column = call_function("uniqUpTo", lit(n), x)
}

/** Bounded distinct-value set; `saturated` latches once size exceeds n. */
final class UpToSet {
  private[graft] var saturated = false
  private[graft] val values = mutable.HashSet.empty[Any]
}

/** A saturated set is one flag byte; otherwise the values, as UTF-8
  * strings for a STRING input and as longs for the rest. */
case class UpToSetCodec(elem: DataType) extends BufCodec[UpToSet] {
  def write(buf: UpToSet): Array[Byte] = {
    if (buf.saturated) return Array[Byte](1)
    elem match {
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

  def read(bytes: Array[Byte]): UpToSet = {
    val buf = new UpToSet
    val bb = ByteBuffer.wrap(bytes)
    if (bb.get() == (1: Byte)) { buf.saturated = true; return buf }
    val count = bb.getInt
    elem match {
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
}

case class UniqUpTo(n: Int, elem: DataType) extends FoldSpec[UpToSet] {
  def name: String = "uniqUpTo"
  def accepts: Seq[Arg] = Seq(Arg.Is(ByteType, ShortType, IntegerType, LongType,
    BooleanType, StringType, DateType, TimestampType, TimestampNTZType))
  def dataType(in: Seq[Expression]): DataType = LongType
  @transient lazy val codec: BufCodec[UpToSet] = UpToSetCodec(elem)

  def create(): UpToSet = new UpToSet

  private def saturate(buf: UpToSet): Unit =
    if (buf.values.size > n) { buf.saturated = true; buf.values.clear() }

  def update(buf: UpToSet, in: Array[Expression], row: InternalRow): UpToSet = {
    if (!buf.saturated) {
      val v = in(0).eval(row)
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

  def merge(buf: UpToSet, other: UpToSet): UpToSet = {
    if (other.saturated) { buf.saturated = true; buf.values.clear() }
    else if (!buf.saturated) { buf.values ++= other.values; saturate(buf) }
    buf
  }

  def eval(buf: UpToSet): Any =
    if (buf.saturated) (n + 1).toLong else buf.values.size.toLong
}
