package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** ClickHouse's sequence-shaped aggregates:
  *
  *  - `groupArrayMovingSum(x[, size])` / `groupArrayMovingAvg(x[, size])`
  *    — windowed running sums over arrival order. CH documents (and this
  *    port keeps) the caveat that arrival order across blocks/partitions
  *    is not defined; within one partition the order is the data order.
  *    Prefer window functions over an explicit ORDER BY for the
  *    deterministic form — these exist for dialect compatibility.
  *  - `exponentialMovingAverage(value, time, halflife)` — deterministic:
  *    pairs sort by time at eval; each point carries weight
  *    2^((t − t_latest)/halflife), result = Σ w·x / Σ w.
  *  - `maxIntersections(start, end)` / `maxIntersectionsPosition` — the
  *    classic sweep: half-open [start, end) intervals, +1/−1 boundary
  *    deltas in an O(distinct boundaries) count map, max prefix sum at
  *    eval (position = the first boundary attaining the max).
  */
object Moving {

  val functions = FunctionTable.define(this) { f =>
    f("groupArrayMovingSum") { es =>
      MovingSumAgg(es.head, if (es.length >= 2) es(1) else Literal(0),
        avg = false).toAggregateExpression()
    }
    f("groupArrayMovingAvg") { es =>
      MovingSumAgg(es.head, if (es.length >= 2) es(1) else Literal(0),
        avg = true).toAggregateExpression()
    }
    f("exponentialMovingAverage") { es =>
      EmaAgg(es(0), es(1), es(2)).toAggregateExpression()
    }
    f("maxIntersections") { es =>
      MaxIntersectionsAgg(es(0), es(1), position = false).toAggregateExpression()
    }
    f("maxIntersectionsPosition") { es =>
      MaxIntersectionsAgg(es(0), es(1), position = true).toAggregateExpression()
    }
    for (mode <- Seq("sum", "count", "avg", "max"))
      f(s"exponentialTimeDecayed${mode.capitalize}") { es =>
        TimeDecayedAgg(es(0), es(1), es(2), mode).toAggregateExpression()
      }
  }
}

final class ValueListBuf {
  private[graft] val buf = mutable.ArrayBuffer.empty[Double]
  /** exact lane for integral inputs — CH keeps Int64 sums exact (mod 2^64),
    * so integral values must never round-trip through Double (lossy past
    * 2^53). Exactly one of the two lanes is populated, chosen by the
    * expression's input type. */
  private[graft] val longs = mutable.ArrayBuffer.empty[Long]
}

/** windowed running sum/avg over arrival order (size 0 = unbounded). */
case class MovingSumAgg(
    child: Expression,
    sizeChild: Expression,
    avg: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ValueListBuf] {

  override def children: Seq[Expression] = Seq(child, sizeChild)

  private lazy val window: Int = sizeChild.eval(InternalRow.empty) match {
    case null => 0
    case n: Number => n.intValue()
  }
  private val isLongIn = child.dataType match {
    case LongType | IntegerType | ShortType => true
    case _ => false
  }
  // CH's result element type IS the input type — so an integral avg
  // TRUNCATES (3/2 = 1), staying in the exact Int64 lane, exactly as CH
  private val longOut = isLongIn

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | DoubleType | FloatType
      if sizeChild.foldable => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName(x[, size]): numeric x + literal size")
  }
  override def dataType: DataType =
    ArrayType(if (longOut) LongType else DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def createAggregationBuffer(): ValueListBuf = new ValueListBuf

  override def update(buf: ValueListBuf, row: InternalRow): ValueListBuf = {
    child.eval(row) match {
      case null => ()
      case d: Double => buf.buf += d
      case f: Float => buf.buf += f.toDouble
      case l: Long => buf.longs += l
      case i: Int => buf.longs += i.toLong
      case s: Short => buf.longs += s.toLong
    }
    buf
  }
  override def merge(buf: ValueListBuf, o: ValueListBuf): ValueListBuf = {
    buf.buf ++= o.buf; buf.longs ++= o.longs; buf
  }

  override def eval(buf: ValueListBuf): Any = {
    if (isLongIn) {
      // exact Int64 running sums (wrap-on-overflow, matching CH's Int64
      // result lane) — never through Double, which loses bits past 2^53
      val n = buf.longs.length
      val out = new Array[Any](n)
      var running = 0L
      var i = 0
      while (i < n) {
        running += buf.longs(i)
        if (window > 0 && i >= window) running -= buf.longs(i - window)
        // CH divides by the WINDOW SIZE (total rows when unsized), with
        // integer division for integral input — Long `/` truncates
        // toward zero, same as CH's intDiv result here
        val denom = if (window > 0) window else n
        out(i) = if (avg) running / denom else running
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val n = buf.buf.length
      val out = new Array[Any](n)
      var running = 0d
      var i = 0
      while (i < n) {
        running += buf.buf(i)
        if (window > 0 && i >= window) running -= buf.buf(i - window)
        // CH divides by the WINDOW SIZE; with no explicit size the window
        // is the total row count (prefix/N), not a running mean
        val denom = if (window > 0) window else n
        out(i) = if (avg) running / denom else running
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override def serialize(buf: ValueListBuf): Array[Byte] = {
    // the populated lane is determined by the (plan-constant) input type,
    // so the wire format needs no flag — both sides agree via isLongIn
    val n = if (isLongIn) buf.longs.length else buf.buf.length
    val bb = ByteBuffer.allocate(4 + n * 8)
    bb.putInt(n)
    if (isLongIn) buf.longs.foreach(bb.putLong) else buf.buf.foreach(bb.putDouble)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): ValueListBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new ValueListBuf
    val n = bb.getInt
    var i = 0
    if (isLongIn) while (i < n) { buf.longs += bb.getLong; i += 1 }
    else while (i < n) { buf.buf += bb.getDouble; i += 1 }
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): MovingSumAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MovingSumAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): MovingSumAgg =
    copy(child = cs(0), sizeChild = cs(1))
  override def prettyName: String =
    if (avg) "groupArrayMovingAvg" else "groupArrayMovingSum"
}

/** time-weighted EMA: weight 2^((t − t_latest)/halflife), Σw·x / Σw —
  * deterministic (ts-sorted eval), group-sized state like medianExact. */
case class EmaAgg(
    valueChild: Expression,
    timeChild: Expression,
    halflifeChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PairListBuf] {

  override def children: Seq[Expression] = Seq(valueChild, timeChild, halflifeChild)

  private lazy val halflife: Double = halflifeChild.eval(InternalRow.empty) match {
    case n: Number => n.doubleValue()
    case other => throw new IllegalArgumentException(
      s"exponentialMovingAverage: halflife must be a numeric literal, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (valueChild.dataType, timeChild.dataType) match {
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            LongType | IntegerType | ShortType | DoubleType | TimestampType | TimestampNTZType)
        if halflifeChild.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "exponentialMovingAverage(value, time, halflife): numeric value, " +
          "numeric/timestamp time, literal halflife")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def createAggregationBuffer(): PairListBuf = new PairListBuf

  private def num(e: Expression, row: InternalRow): Option[Double] =
    e.eval(row) match {
      case null => None
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case l: Long => Some(l.toDouble)
      case i: Int => Some(i.toDouble)
      case s: Short => Some(s.toDouble)
    }

  override def update(buf: PairListBuf, row: InternalRow): PairListBuf = {
    for (t <- num(timeChild, row); v <- num(valueChild, row)) buf.buf += ((t, v))
    buf
  }
  override def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = {
    buf.buf ++= o.buf; buf
  }

  override def eval(buf: PairListBuf): Any = {
    if (buf.buf.isEmpty) return null
    val sorted = buf.buf.toArray.sortBy(p => (p._1, p._2))
    val tLast = sorted.last._1
    var wSum = 0d
    var wx = 0d
    var i = 0
    while (i < sorted.length) {
      val w = math.pow(2d, (sorted(i)._1 - tLast) / halflife)
      wSum += w
      wx += w * sorted(i)._2
      i += 1
    }
    wx / wSum
  }

  override def serialize(buf: PairListBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.buf.length * 16)
    bb.putInt(buf.buf.length)
    buf.buf.foreach { case (a, b) => bb.putDouble(a); bb.putDouble(b) }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): PairListBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new PairListBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.buf += ((bb.getDouble, bb.getDouble)); i += 1 }
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): EmaAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): EmaAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): EmaAgg =
    copy(valueChild = cs(0), timeChild = cs(1), halflifeChild = cs(2))
  override def prettyName: String = "exponentialMovingAverage"
}

final class SweepBuf {
  /** boundary → net delta (+1 per interval start, −1 per end). */
  private[graft] val m = mutable.HashMap.empty[Long, Long]
  def add(k: Long, d: Long): Unit = {
    val v = m.getOrElse(k, 0L) + d
    if (v == 0) m.remove(k) else m.update(k, v)
  }
}

/** max overlapping [start, end) intervals via boundary-delta sweep. */
case class MaxIntersectionsAgg(
    startChild: Expression,
    endChild: Expression,
    position: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SweepBuf] with BinaryLike[Expression] {

  override def left: Expression = startChild
  override def right: Expression = endChild

  override def checkInputDataTypes(): TypeCheckResult =
    (startChild.dataType, endChild.dataType) match {
      case (LongType | IntegerType | ShortType, LongType | IntegerType | ShortType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: integral bounds required, got (${a.simpleString}, ${b.simpleString})")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = position
  override def createAggregationBuffer(): SweepBuf = new SweepBuf

  private def longOf(e: Expression, row: InternalRow): Option[Long] =
    e.eval(row) match {
      case null => None
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
    }

  override def update(buf: SweepBuf, row: InternalRow): SweepBuf = {
    for (s <- longOf(startChild, row); e <- longOf(endChild, row)) {
      if (s < e) { buf.add(s, 1L); buf.add(e, -1L) }
    }
    buf
  }
  override def merge(buf: SweepBuf, o: SweepBuf): SweepBuf = {
    o.m.foreach { case (k, d) => buf.add(k, d) }
    buf
  }

  override def eval(buf: SweepBuf): Any = {
    if (buf.m.isEmpty) return if (position) null else 0L
    val keys = buf.m.keys.toArray.sorted
    var depth = 0L
    var best = 0L
    var bestPos = keys(0)
    var i = 0
    while (i < keys.length) {
      depth += buf.m(keys(i))
      if (depth > best) { best = depth; bestPos = keys(i) }
      i += 1
    }
    if (position) bestPos else best
  }

  override def serialize(buf: SweepBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.m.size * 16)
    bb.putInt(buf.m.size)
    buf.m.foreach { case (k, d) => bb.putLong(k); bb.putLong(d) }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): SweepBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new SweepBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.add(bb.getLong, bb.getLong); i += 1 }
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): MaxIntersectionsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MaxIntersectionsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MaxIntersectionsAgg =
    copy(startChild = l, endChild = r)
  override def prettyName: String =
    if (position) "maxIntersectionsPosition" else "maxIntersections"
}

/** CH `exponentialTimeDecayedSum/Count/Avg/Max(λ)(v, t)` in the flat
  * spelling (v, t, λ): the value at the latest observed time, each point
  * weighted exp(−(t_max − t)/λ). Deterministic (ts-sorted reduction);
  * group-sized pair state like the EMA. */
case class TimeDecayedAgg(
    valueChild: Expression,
    timeChild: Expression,
    lambdaChild: Expression,
    mode: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PairListBuf] {

  require(Set("sum", "count", "avg", "max")(mode), s"unknown decay mode $mode")
  override def children: Seq[Expression] = Seq(valueChild, timeChild, lambdaChild)

  private lazy val lambda: Double = lambdaChild.eval(InternalRow.empty) match {
    case n: Number => n.doubleValue()
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case other => throw new IllegalArgumentException(
      s"$prettyName: decay length must be a numeric literal, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (valueChild.dataType, timeChild.dataType) match {
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            LongType | IntegerType | ShortType | DoubleType | TimestampType | TimestampNTZType)
        if lambdaChild.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName(value, time, lambda): numeric value, numeric/timestamp time, literal lambda")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def createAggregationBuffer(): PairListBuf = new PairListBuf

  private def num(e: Expression, row: InternalRow): Option[Double] =
    e.eval(row) match {
      case null => None
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case l: Long => Some(l.toDouble)
      case i: Int => Some(i.toDouble)
      case s: Short => Some(s.toDouble)
    }

  override def update(buf: PairListBuf, row: InternalRow): PairListBuf = {
    for (t <- num(timeChild, row); v <- num(valueChild, row)) buf.buf += ((t, v))
    buf
  }
  override def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = {
    buf.buf ++= o.buf; buf
  }

  override def eval(buf: PairListBuf): Any = {
    if (buf.buf.isEmpty) return null
    val sorted = buf.buf.toArray.sortBy(p => (p._1, p._2))
    val tMax = sorted.last._1
    var wSum = 0d
    var wx = 0d
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < sorted.length) {
      val w = math.exp((sorted(i)._1 - tMax) / lambda)
      wSum += w
      wx += w * sorted(i)._2
      val cand = w * sorted(i)._2
      if (cand > mx) mx = cand
      i += 1
    }
    mode match {
      case "sum" => wx
      case "count" => wSum
      case "avg" => wx / wSum
      case "max" => mx
    }
  }

  override def serialize(buf: PairListBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.buf.length * 16)
    bb.putInt(buf.buf.length)
    buf.buf.foreach { case (a, b) => bb.putDouble(a); bb.putDouble(b) }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): PairListBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new PairListBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.buf += ((bb.getDouble, bb.getDouble)); i += 1 }
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): TimeDecayedAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TimeDecayedAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TimeDecayedAgg =
    copy(valueChild = cs(0), timeChild = cs(1), lambdaChild = cs(2))
  override def prettyName: String =
    s"exponentialTimeDecayed${mode.capitalize}"
}
