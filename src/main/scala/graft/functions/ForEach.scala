package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** ClickHouse's `-ForEach` aggregate combinator for the common bases —
  * `sumForEach` / `minForEach` / `maxForEach` / `avgForEach(arr)`:
  * element-wise aggregation of per-row arrays into one array per group
  * (the vector-accumulation primitive — per-position counters, metric
  * lanes, embedding sums). Ragged inputs follow CH: the result length is
  * the longest array seen and each position aggregates over the rows
  * where it exists (avg divides by the per-position presence count).
  *
  * State is one primitive lane array (+ presence counts) per group —
  * O(max length), map-side combined; BIGINT lanes stay exact under any
  * merge order (the hash-gate path), DOUBLE lanes carry the usual
  * float-accumulation contract.
  */
object ForEach {

  /** The element-wise combine, chosen when the table entry is built, and
    * the lane fill an absent position starts from. */
  sealed abstract class Op(val name: String, val fillD: Double, val fillL: Long)
    extends Serializable
  case object Sum extends Op("sum", 0d, 0L)
  case object Min extends Op("min", Double.PositiveInfinity, Long.MaxValue)
  case object Max extends Op("max", Double.NegativeInfinity, Long.MinValue)
  case object Avg extends Op("avg", 0d, 0L)

  val functions = FunctionTable.define(this) { f =>
    for (op <- Seq(Sum, Min, Max, Avg))
      f(s"${op.name}ForEach")(es =>
        Fold.agg(ForEachLanes(op, Kernel.elementType(es.head)), es.take(1)))
  }

  def sum_foreach(c: Column): Column = call_function("sumForEach", c)
  def min_foreach(c: Column): Column = call_function("minForEach", c)
  def max_foreach(c: Column): Column = call_function("maxForEach", c)
  def avg_foreach(c: Column): Column = call_function("avgForEach", c)
}

/** Element-wise aggregation state: one lane per array position. */
final class ForEachState {
  var vals: Array[Double] = Array.emptyDoubleArray
  var longs: Array[Long] = Array.emptyLongArray
  var counts: Array[Long] = Array.emptyLongArray
  def grow(n: Int, fillD: Double, fillL: Long): Unit = {
    if (n > counts.length) {
      val nv = Array.fill(n)(fillD); Array.copy(vals, 0, nv, 0, vals.length)
      val nl = Array.fill(n)(fillL); Array.copy(longs, 0, nl, 0, longs.length)
      val nc = new Array[Long](n); Array.copy(counts, 0, nc, 0, counts.length)
      vals = nv; longs = nl; counts = nc
    }
  }
}

/** The lanes position by position: the value (long or double lane) then
  * its presence count. */
case class ForEachCodec(op: ForEach.Op, longLanes: Boolean) extends BufCodec[ForEachState] {
  def write(buf: ForEachState): Array[Byte] = {
    val n = buf.counts.length
    val bb = ByteBuffer.allocate(4 + n * 16)
    bb.putInt(n)
    var i = 0
    while (i < n) {
      if (longLanes) bb.putLong(buf.longs(i)) else bb.putDouble(buf.vals(i))
      bb.putLong(buf.counts(i))
      i += 1
    }
    bb.array()
  }

  def read(bytes: Array[Byte]): ForEachState = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new ForEachState
    buf.grow(n, op.fillD, op.fillL)
    var i = 0
    while (i < n) {
      if (longLanes) buf.longs(i) = bb.getLong else buf.vals(i) = bb.getDouble
      buf.counts(i) = bb.getLong
      i += 1
    }
    buf
  }
}

/** `elem`: the input array's element type. */
case class ForEachLanes(op: ForEach.Op, elem: DataType) extends FoldSpec[ForEachState] {
  import ForEach._

  private val isLongIn = elem match {
    case LongType | IntegerType | ShortType => true
    case _ => false
  }
  // exact integer lanes for sum/min/max over integral arrays; avg and
  // double inputs ride double lanes
  private val longLanes = isLongIn && op != Avg

  def name: String = s"${op.name}ForEach"
  def accepts: Seq[Arg] = Seq(Arg.ArrayOf(Arg.Is(LongType, IntegerType, ShortType,
    DoubleType, FloatType)))
  def dataType(in: Seq[Expression]): DataType = op match {
    case Avg => ArrayType(DoubleType, containsNull = false)
    case _ if longLanes => ArrayType(LongType, containsNull = false)
    case _ => ArrayType(DoubleType, containsNull = false)
  }
  @transient lazy val codec: BufCodec[ForEachState] = ForEachCodec(op, longLanes)

  def create(): ForEachState = new ForEachState

  def update(buf: ForEachState, in: Array[Expression], row: InternalRow): ForEachState = {
    val v = in(0).eval(row)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val et = elem
      val n = arr.numElements()
      buf.grow(n, op.fillD, op.fillL)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          if (longLanes) {
            val x = et match {
              case LongType => arr.getLong(i)
              case IntegerType => arr.getInt(i).toLong
              case ShortType => arr.getShort(i).toLong
              case _ => 0L
            }
            op match {
              case Sum => buf.longs(i) += x
              case Min => if (x < buf.longs(i)) buf.longs(i) = x
              case Max => if (x > buf.longs(i)) buf.longs(i) = x
              case Avg =>
            }
          } else {
            val x = et match {
              case DoubleType => arr.getDouble(i)
              case FloatType => arr.getFloat(i).toDouble
              case LongType => arr.getLong(i).toDouble
              case IntegerType => arr.getInt(i).toDouble
              case ShortType => arr.getShort(i).toDouble
            }
            op match {
              case Sum | Avg => buf.vals(i) += x
              case Min => if (x < buf.vals(i)) buf.vals(i) = x
              case Max => if (x > buf.vals(i)) buf.vals(i) = x
            }
          }
          buf.counts(i) += 1
        }
        i += 1
      }
    }
    buf
  }

  def merge(buf: ForEachState, other: ForEachState): ForEachState = {
    buf.grow(other.counts.length, op.fillD, op.fillL)
    var i = 0
    while (i < other.counts.length) {
      if (other.counts(i) > 0) {
        if (longLanes) op match {
          case Sum => buf.longs(i) += other.longs(i)
          case Min => if (other.longs(i) < buf.longs(i)) buf.longs(i) = other.longs(i)
          case Max => if (other.longs(i) > buf.longs(i)) buf.longs(i) = other.longs(i)
          case Avg =>
        } else op match {
          case Sum | Avg => buf.vals(i) += other.vals(i)
          case Min => if (other.vals(i) < buf.vals(i)) buf.vals(i) = other.vals(i)
          case Max => if (other.vals(i) > buf.vals(i)) buf.vals(i) = other.vals(i)
        }
        buf.counts(i) += other.counts(i)
      }
      i += 1
    }
    buf
  }

  def eval(buf: ForEachState): Any = {
    val n = buf.counts.length
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (op == Avg) {
          if (buf.counts(i) > 0) buf.vals(i) / buf.counts(i).toDouble else 0d
        } else if (longLanes) {
          if (buf.counts(i) > 0) buf.longs(i) else 0L
        } else {
          if (buf.counts(i) > 0) buf.vals(i) else 0d
        }
      i += 1
    }
    new GenericArrayData(out)
  }
}
