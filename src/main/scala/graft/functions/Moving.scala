package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
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

  /** The statistic of `exponentialTimeDecayed*`, chosen when the table
    * entry is built. */
  sealed abstract class Decay(val name: String) extends Serializable
  object Decay {
    case object Sum extends Decay("sum")
    case object Count extends Decay("count")
    case object Avg extends Decay("avg")
    case object Max extends Decay("max")
  }

  private val time = Arg.Is(LongType, IntegerType, ShortType, DoubleType, TimestampType,
    TimestampNTZType)

  val functions = FunctionTable.define(this) { f =>
    for ((name, avg) <- Seq("groupArrayMovingSum" -> false, "groupArrayMovingAvg" -> true))
      f(name) { es =>
        val size = if (es.length >= 2) es(1) else Literal(0)
        val window = Fold.literal(size, s"$name size") match {
          case null => 0
          case n: Number => n.intValue()
        }
        Fold.agg(MovingSum(window, avg, Fold.integral.accepts(es.head.dataType)),
          Seq(es.head, size))
      }
    f("exponentialMovingAverage") { es =>
      Fold.agg(Ema(Fold.number(es(2), "exponentialMovingAverage: halflife")), es.take(3))
    }
    f("maxIntersections") { es =>
      Fold.agg(MaxIntersections(position = false), es.take(2))
    }
    f("maxIntersectionsPosition") { es =>
      Fold.agg(MaxIntersections(position = true), es.take(2))
    }
    for (mode <- Seq(Decay.Sum, Decay.Count, Decay.Avg, Decay.Max)) {
      val name = s"exponentialTimeDecayed${mode.name.capitalize}"
      f(name) { es =>
        Fold.agg(TimeDecayed(mode, Fold.number(es(2), s"$name: decay length")), es.take(3))
      }
    }
  }

  private[functions] def pairArgs: Seq[Arg] = Seq(Fold.numeric, time, Arg.AnyType)
}

final class ValueListBuf {
  private[graft] val buf = mutable.ArrayBuffer.empty[Double]
  /** exact lane for integral inputs — CH keeps Int64 sums exact (mod 2^64),
    * so integral values must never round-trip through Double (lossy past
    * 2^53). Exactly one of the two lanes is populated, chosen by the
    * expression's input type. */
  private[graft] val longs = mutable.ArrayBuffer.empty[Long]
}

/** The populated lane: its length, then its longs or doubles. The lane is
  * fixed by the (plan-constant) input type, so the bytes carry no flag. */
case class ValueListCodec(isLongIn: Boolean) extends BufCodec[ValueListBuf] {
  def write(buf: ValueListBuf): Array[Byte] = {
    val n = if (isLongIn) buf.longs.length else buf.buf.length
    val bb = ByteBuffer.allocate(4 + n * 8)
    bb.putInt(n)
    if (isLongIn) buf.longs.foreach(bb.putLong) else buf.buf.foreach(bb.putDouble)
    bb.array()
  }
  def read(bytes: Array[Byte]): ValueListBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new ValueListBuf
    val n = bb.getInt
    var i = 0
    if (isLongIn) while (i < n) { buf.longs += bb.getLong; i += 1 }
    else while (i < n) { buf.buf += bb.getDouble; i += 1 }
    buf
  }
}

/** windowed running sum/avg over arrival order (size 0 = unbounded).
  * `isLongIn`: integral input, kept in the exact Int64 lane — CH's result
  * element type IS the input type, so an integral avg TRUNCATES (3/2 = 1),
  * exactly as CH. */
case class MovingSum(window: Int, avg: Boolean, isLongIn: Boolean)
    extends FoldSpec[ValueListBuf] {
  def name: String = if (avg) "groupArrayMovingAvg" else "groupArrayMovingSum"
  def accepts: Seq[Arg] = Seq(Fold.numeric, Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType =
    ArrayType(if (isLongIn) LongType else DoubleType, containsNull = false)
  @transient lazy val codec: BufCodec[ValueListBuf] = ValueListCodec(isLongIn)
  def create(): ValueListBuf = new ValueListBuf

  def update(buf: ValueListBuf, in: Array[Expression], row: InternalRow): ValueListBuf = {
    in(0).eval(row) match {
      case null => ()
      case d: Double => buf.buf += d
      case f: Float => buf.buf += f.toDouble
      case l: Long => buf.longs += l
      case i: Int => buf.longs += i.toLong
      case s: Short => buf.longs += s.toLong
    }
    buf
  }
  def merge(buf: ValueListBuf, o: ValueListBuf): ValueListBuf = {
    buf.buf ++= o.buf; buf.longs ++= o.longs; buf
  }

  def eval(buf: ValueListBuf): Any = {
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
}

/** time-weighted EMA: weight 2^((t − t_latest)/halflife), Σw·x / Σw —
  * deterministic (ts-sorted eval), group-sized state like medianExact. */
case class Ema(halflife: Double) extends FoldSpec[PairListBuf] {
  def name: String = "exponentialMovingAverage"
  def accepts: Seq[Arg] = Moving.pairArgs
  def dataType(in: Seq[Expression]): DataType = DoubleType
  override def nullable: Boolean = true
  def codec: BufCodec[PairListBuf] = PairListBuf
  def create(): PairListBuf = new PairListBuf

  // (time, value) pairs
  def update(buf: PairListBuf, in: Array[Expression], row: InternalRow): PairListBuf =
    PairListBuf.add(buf, in(1), in(0), row)
  def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = PairListBuf.merge(buf, o)

  def eval(buf: PairListBuf): Any = {
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
}

final class SweepBuf {
  /** boundary → net delta (+1 per interval start, −1 per end). */
  private[graft] val m = mutable.HashMap.empty[Long, Long]
  def add(k: Long, d: Long): Unit = {
    val v = m.getOrElse(k, 0L) + d
    if (v == 0) m.remove(k) else m.update(k, v)
  }
}

/** boundary → delta entries in map order. */
object SweepBuf extends BufCodec[SweepBuf] {
  def write(buf: SweepBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.m.size * 16)
    bb.putInt(buf.m.size)
    buf.m.foreach { case (k, d) => bb.putLong(k); bb.putLong(d) }
    bb.array()
  }
  def read(bytes: Array[Byte]): SweepBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new SweepBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.add(bb.getLong, bb.getLong); i += 1 }
    buf
  }
}

/** max overlapping [start, end) intervals via boundary-delta sweep. */
case class MaxIntersections(position: Boolean) extends FoldSpec[SweepBuf] {
  def name: String = if (position) "maxIntersectionsPosition" else "maxIntersections"
  def accepts: Seq[Arg] = Seq(Fold.integral)
  def dataType(in: Seq[Expression]): DataType = LongType
  override def nullable: Boolean = position
  def codec: BufCodec[SweepBuf] = SweepBuf
  def create(): SweepBuf = new SweepBuf

  private def longOf(e: Expression, row: InternalRow): Option[Long] =
    e.eval(row) match {
      case null => None
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
    }

  def update(buf: SweepBuf, in: Array[Expression], row: InternalRow): SweepBuf = {
    for (s <- longOf(in(0), row); e <- longOf(in(1), row)) {
      if (s < e) { buf.add(s, 1L); buf.add(e, -1L) }
    }
    buf
  }
  def merge(buf: SweepBuf, o: SweepBuf): SweepBuf = {
    o.m.foreach { case (k, d) => buf.add(k, d) }
    buf
  }

  def eval(buf: SweepBuf): Any = {
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
}

/** CH `exponentialTimeDecayedSum/Count/Avg/Max(λ)(v, t)` in the flat
  * spelling (v, t, λ): the value at the latest observed time, each point
  * weighted exp(−(t_max − t)/λ). Deterministic (ts-sorted reduction);
  * group-sized pair state like the EMA. */
case class TimeDecayed(mode: Moving.Decay, lambda: Double) extends FoldSpec[PairListBuf] {
  def name: String = s"exponentialTimeDecayed${mode.name.capitalize}"
  def accepts: Seq[Arg] = Moving.pairArgs
  def dataType(in: Seq[Expression]): DataType = DoubleType
  override def nullable: Boolean = true
  def codec: BufCodec[PairListBuf] = PairListBuf
  def create(): PairListBuf = new PairListBuf

  // (time, value) pairs
  def update(buf: PairListBuf, in: Array[Expression], row: InternalRow): PairListBuf =
    PairListBuf.add(buf, in(1), in(0), row)
  def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = PairListBuf.merge(buf, o)

  def eval(buf: PairListBuf): Any = {
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
      case Moving.Decay.Sum => wx
      case Moving.Decay.Count => wSum
      case Moving.Decay.Avg => wx / wSum
      case Moving.Decay.Max => mx
    }
  }
}
