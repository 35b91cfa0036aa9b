package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
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

  private val ops = Set("sum", "min", "max", "avg")

  val functions = FunctionTable.define(this) { f =>
    for (op <- ops)
      f(s"${op}ForEach")(es => ForEachAgg(es.head, op).toAggregateExpression())
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

case class ForEachAgg(
    child: Expression,
    op: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ForEachState] with UnaryLike[Expression] {

  private val isLongIn = child.dataType match {
    case ArrayType(LongType | IntegerType | ShortType, _) => true
    case _ => false
  }
  // exact integer lanes for sum/min/max over integral arrays; avg and
  // double inputs ride double lanes
  private val longLanes = isLongIn && op != "avg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType | IntegerType | ShortType | DoubleType | FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${op}ForEach: numeric array required, got ${other.simpleString}")
  }

  override def dataType: DataType = op match {
    case "avg" => ArrayType(DoubleType, containsNull = false)
    case _ if longLanes => ArrayType(LongType, containsNull = false)
    case _ => ArrayType(DoubleType, containsNull = false)
  }
  override def nullable: Boolean = false

  private def fillD: Double = op match {
    case "min" => Double.PositiveInfinity
    case "max" => Double.NegativeInfinity
    case _ => 0d
  }
  private def fillL: Long = op match {
    case "min" => Long.MaxValue
    case "max" => Long.MinValue
    case _ => 0L
  }

  override def createAggregationBuffer(): ForEachState = new ForEachState

  override def update(buf: ForEachState, row: InternalRow): ForEachState = {
    val v = child.eval(row)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val et = child.dataType.asInstanceOf[ArrayType].elementType
      val n = arr.numElements()
      buf.grow(n, fillD, fillL)
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
              case "sum" => buf.longs(i) += x
              case "min" => if (x < buf.longs(i)) buf.longs(i) = x
              case "max" => if (x > buf.longs(i)) buf.longs(i) = x
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
              case "sum" | "avg" => buf.vals(i) += x
              case "min" => if (x < buf.vals(i)) buf.vals(i) = x
              case "max" => if (x > buf.vals(i)) buf.vals(i) = x
            }
          }
          buf.counts(i) += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: ForEachState, other: ForEachState): ForEachState = {
    buf.grow(other.counts.length, fillD, fillL)
    var i = 0
    while (i < other.counts.length) {
      if (other.counts(i) > 0) {
        if (longLanes) op match {
          case "sum" => buf.longs(i) += other.longs(i)
          case "min" => if (other.longs(i) < buf.longs(i)) buf.longs(i) = other.longs(i)
          case "max" => if (other.longs(i) > buf.longs(i)) buf.longs(i) = other.longs(i)
        } else op match {
          case "sum" | "avg" => buf.vals(i) += other.vals(i)
          case "min" => if (other.vals(i) < buf.vals(i)) buf.vals(i) = other.vals(i)
          case "max" => if (other.vals(i) > buf.vals(i)) buf.vals(i) = other.vals(i)
        }
        buf.counts(i) += other.counts(i)
      }
      i += 1
    }
    buf
  }

  override def eval(buf: ForEachState): Any = {
    val n = buf.counts.length
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (op == "avg") {
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

  override def serialize(buf: ForEachState): Array[Byte] = {
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

  override def deserialize(bytes: Array[Byte]): ForEachState = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new ForEachState
    buf.grow(n, fillD, fillL)
    var i = 0
    while (i < n) {
      if (longLanes) buf.longs(i) = bb.getLong else buf.vals(i) = bb.getDouble
      buf.counts(i) = bb.getLong
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): ForEachAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ForEachAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): ForEachAgg =
    copy(child = c)
  override def prettyName: String = s"${op}ForEach"
}
