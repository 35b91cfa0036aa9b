package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse's `sumMap` / `minMap` / `maxMap` — element-wise combination
  * of (keys[], values[]) array pairs across rows, keyed by the key arrays'
  * elements; the result is a struct of (sorted keys, combined values).
  * The workhorse for CH metric tables that carry per-row breakdown maps
  * (counter name → count) instead of one row per counter.
  *
  * Scale shape: per-group state is one hash map of the group's DISTINCT
  * keys (not rows × keys); partials combine map-side, so a group with a
  * billion rows over a bounded key vocabulary moves O(vocabulary) through
  * the exchange. Key vocabularies are assumed bounded (counter names,
  * status codes); an unbounded key set makes the state unbounded too —
  * the same property CH documents.
  *
  * Keys: BIGINT or STRING; values: BIGINT or DOUBLE (cast first). Rows
  * where the two arrays differ in length fail loudly; null keys/values
  * are skipped (CH drops null map entries).
  */
object MapAggregates {

  private def build(es: Seq[Expression], op: MapCombineOp.Value): Expression = {
    require(es.length == 2, s"usage: ${op.toString.toLowerCase}Map(keys, values)")
    Fold.agg(MapCombine(op, Kernel.elementType(es(0)), Kernel.elementType(es(1))), es)
  }

  val functions = FunctionTable.define(this) { f =>
    f("sumMap")(build(_, MapCombineOp.Sum))
    f("minMap")(build(_, MapCombineOp.Min))
    f("maxMap")(build(_, MapCombineOp.Max))
  }

  def sum_map(keys: Column, values: Column): Column = call_function("sumMap", keys, values)
  def min_map(keys: Column, values: Column): Column = call_function("minMap", keys, values)
  def max_map(keys: Column, values: Column): Column = call_function("maxMap", keys, values)
}

object MapCombineOp extends Enumeration {
  val Sum, Min, Max = Value
}

/** Key → combined value state. */
final class MapCombineBuf {
  private[graft] val m = mutable.HashMap.empty[Any, Any]
}

/** Entries in map order: key (UTF-8 string or long) then value (double
  * or long), the lanes fixed by the plan's key and value types. */
case class MapCombineCodec(keyType: DataType, valType: DataType) extends BufCodec[MapCombineBuf] {
  def write(buf: MapCombineBuf): Array[Byte] = {
    val isStrKey = keyType == StringType
    val isDblVal = valType == DoubleType
    val items = buf.m.toSeq
    val size = 4 + items.map { case (k, _) =>
      (if (isStrKey) 4 + k.asInstanceOf[UTF8String].numBytes() else 8) + 8
    }.sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(items.size)
    items.foreach { case (k, v) =>
      if (isStrKey) {
        val kb = k.asInstanceOf[UTF8String].getBytes
        bb.putInt(kb.length); bb.put(kb)
      } else bb.putLong(k.asInstanceOf[Long])
      if (isDblVal) bb.putDouble(v.asInstanceOf[Double]) else bb.putLong(v.asInstanceOf[Long])
    }
    bb.array()
  }

  def read(bytes: Array[Byte]): MapCombineBuf = {
    val isStrKey = keyType == StringType
    val isDblVal = valType == DoubleType
    val buf = new MapCombineBuf
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val k: Any =
        if (isStrKey) {
          val len = bb.getInt; val arr = new Array[Byte](len); bb.get(arr)
          UTF8String.fromBytes(arr)
        } else bb.getLong
      val v: Any = if (isDblVal) bb.getDouble else bb.getLong
      buf.m(k) = v
      i += 1
    }
    buf
  }
}

/** `keyType` / `valType`: the element types of the keys and values arrays. */
case class MapCombine(op: MapCombineOp.Value, keyType: DataType, valType: DataType)
    extends FoldSpec[MapCombineBuf] {

  def name: String = op match {
    case MapCombineOp.Sum => "sumMap"
    case MapCombineOp.Min => "minMap"
    case MapCombineOp.Max => "maxMap"
  }
  def accepts: Seq[Arg] = Seq(Arg.ArrayOf(Arg.Is(LongType, StringType)),
    Arg.ArrayOf(Arg.Is(LongType, DoubleType)))
  def dataType(in: Seq[Expression]): DataType = StructType(Seq(
    StructField("keys", ArrayType(keyType, containsNull = false), nullable = false),
    StructField("values", ArrayType(valType, containsNull = false), nullable = false)))
  @transient lazy val codec: BufCodec[MapCombineBuf] = MapCombineCodec(keyType, valType)

  def create(): MapCombineBuf = new MapCombineBuf

  private def combine(a: Any, b: Any): Any = (valType, op) match {
    case (LongType, MapCombineOp.Sum) => a.asInstanceOf[Long] + b.asInstanceOf[Long]
    case (LongType, MapCombineOp.Min) => math.min(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case (LongType, MapCombineOp.Max) => math.max(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case (DoubleType, MapCombineOp.Sum) => a.asInstanceOf[Double] + b.asInstanceOf[Double]
    case (DoubleType, MapCombineOp.Min) => math.min(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case (DoubleType, MapCombineOp.Max) => math.max(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  private def put(buf: MapCombineBuf, k: Any, v: Any): Unit =
    buf.m.get(k) match {
      case Some(prev) => buf.m(k) = combine(prev, v)
      case None => buf.m(k) = v
    }

  def update(buf: MapCombineBuf, in: Array[Expression], row: InternalRow): MapCombineBuf = {
    val ks = in(0).eval(row)
    val vs = in(1).eval(row)
    if (ks != null && vs != null) {
      val ka = ks.asInstanceOf[ArrayData]
      val va = vs.asInstanceOf[ArrayData]
      require(ka.numElements() == va.numElements(),
        s"$name: keys/values length mismatch " +
          s"(${ka.numElements()} vs ${va.numElements()})")
      var i = 0
      while (i < ka.numElements()) {
        if (!ka.isNullAt(i) && !va.isNullAt(i)) {
          val k = keyType match {
            case StringType => ka.getUTF8String(i).clone()
            case _ => ka.getLong(i)
          }
          val v: Any = valType match {
            case DoubleType => va.getDouble(i)
            case _ => va.getLong(i)
          }
          put(buf, k, v)
        }
        i += 1
      }
    }
    buf
  }

  def merge(buf: MapCombineBuf, other: MapCombineBuf): MapCombineBuf = {
    other.m.foreach { case (k, v) => put(buf, k, v) }
    buf
  }

  def eval(buf: MapCombineBuf): Any = {
    val sorted = keyType match {
      case StringType => buf.m.toSeq.sortWith(
        (a, b) => a._1.asInstanceOf[UTF8String].compareTo(b._1.asInstanceOf[UTF8String]) < 0)
      case _ => buf.m.toSeq.sortBy(_._1.asInstanceOf[Long])
    }
    InternalRow(
      new GenericArrayData(sorted.map(_._1).toArray[Any]),
      new GenericArrayData(sorted.map(_._2).toArray[Any]))
  }
}
