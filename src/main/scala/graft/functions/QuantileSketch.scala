package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Bounded, mergeable quantile-sketch aggregate family — the serving-table
  * answer to `medianExact`'s unbounded state (SCALE.md §3): the state is a
  * Greenwald-Khanna summary (Spark's own `QuantileSummaries`, the engine
  * under approxQuantile) capped at `compressThreshold` samples regardless
  * of group size, with ε-relative-error rank guarantees.
  *
  * Plays the ClickHouse `AggregateFunction(quantileTDigest, ...)` role
  * (ref dwm script AggregateFunction columns; CH quantileTDigest is its
  * bounded-median state). DOCUMENTED DIVERGENCE: the sketch algorithm is
  * GK, not t-digest — the CONTRACT matches (bounded state, mergeable,
  * ε-approximate quantiles, no exact-value guarantee in CH either), the
  * centroid layout does not. Same two-phase [[Fold]] shape as
  * [[Bitmaps]]/[[Sketches]]: mutable JVM buffer during partial
  * aggregation, serialized only at the shuffle boundary.
  */
object QuantileSketch {

  /** Mutable holder: QuantileSummaries' insert/compress return new
    * instances, so the aggregation buffer is a one-field box.
    */
  final class Buf(var qs: QuantileSummaries)

  private[graft] def empty(eps: Double): QuantileSummaries =
    new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, eps)

  private[graft] def toBytes(qs0: QuantileSummaries): Array[Byte] = {
    val qs = qs0.compress()
    val n = qs.sampled.length
    val buf = ByteBuffer.allocate(8 + 4 + 8 + 4 + n * 24)
    buf.putDouble(qs.relativeError)
    buf.putInt(qs.compressThreshold)
    buf.putLong(qs.count)
    buf.putInt(n)
    qs.sampled.foreach { s => buf.putDouble(s.value).putLong(s.g).putLong(s.delta) }
    buf.array()
  }

  private[functions] def merge(b: Buf, o: Buf): Buf = {
    b.qs = b.qs.compress().merge(o.qs.compress())
    b
  }

  private[graft] def fromBytes(b: Array[Byte]): QuantileSummaries = {
    val buf = ByteBuffer.wrap(b)
    val eps = buf.getDouble
    val threshold = buf.getInt
    val count = buf.getLong
    val n = buf.getInt
    val sampled = Array.fill(n)(
      QuantileSummaries.Stats(buf.getDouble, buf.getLong, buf.getLong))
    new QuantileSummaries(threshold, eps, sampled, count, true)
  }

  val functions = FunctionTable.define(this) { f =>
    f("quantile_sketch_agg")(exprs => Fold(GkSketch(
      if (exprs.length > 1) Fold.number(exprs(1), "quantile_sketch_agg eps") else 0.01),
      exprs.take(1)))
    f("quantile_sketch_merge_agg")(exprs => Fold(GkMerge(), exprs.take(1)))
    f("quantile_sketch_value")(exprs =>
      value(exprs.head, Fold.number(exprs(1), "quantile_sketch_value q")))
  }

  /** `quantile_sketch_value(state, q)` — the scalar finisher: the
    * q-quantile of a serialized sketch, NULL when empty. */
  private[functions] def value(state: Expression, q: Double): Kernel = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    Kernel.of(this, "sketchQuantile", "quantile_sketch_value", DoubleType, Seq(state),
      Seq(Arg.Is(BinaryType)), Seq(q), returnsNull = true)
  }

  def sketchQuantile(state: Array[Byte], q: Double): java.lang.Double =
    fromBytes(state).query(q).map(java.lang.Double.valueOf).orNull

  /** quantileTDigestState-role: aggregate doubles into a bounded sketch. */
  def quantile_state(c: Column, eps: Double = 0.01): Column =
    call_function("quantile_sketch_agg", c, lit(eps))

  /** Merge serialized sketch states (the -Merge face). */
  def quantile_merge_state(c: Column): Column =
    call_function("quantile_sketch_merge_agg", c)

  /** Finalize a serialized sketch to the q-quantile (NULL when empty). */
  def quantile_value(c: Column, q: Double): Column =
    call_function("quantile_sketch_value", c, lit(q))
}

/** A sketch as its compressed GK summary ([[QuantileSketch.toBytes]]). */
object GkBuf extends BufCodec[QuantileSketch.Buf] {
  def write(b: QuantileSketch.Buf): Array[Byte] = QuantileSketch.toBytes(b.qs)
  def read(bytes: Array[Byte]): QuantileSketch.Buf =
    new QuantileSketch.Buf(QuantileSketch.fromBytes(bytes))
}

/** `quantile_sketch_agg(x, eps)` — raw values into a bounded GK summary.
  * Null inputs are skipped (CH aggregate null handling).
  */
case class GkSketch(eps: Double) extends FoldSpec[QuantileSketch.Buf] {
  def name: String = "quantile_sketch_agg"
  def accepts: Seq[Arg] = Seq(Arg.Num)
  def dataType(in: Seq[Expression]): DataType = BinaryType
  def codec: BufCodec[QuantileSketch.Buf] = GkBuf

  def create(): QuantileSketch.Buf = new QuantileSketch.Buf(QuantileSketch.empty(eps))
  def update(b: QuantileSketch.Buf, in: Array[Expression], row: InternalRow): QuantileSketch.Buf = {
    val v = in(0).eval(row)
    if (v != null) b.qs = b.qs.insert(v.asInstanceOf[Number].doubleValue())
    b
  }
  def merge(b: QuantileSketch.Buf, o: QuantileSketch.Buf): QuantileSketch.Buf =
    QuantileSketch.merge(b, o)
  def eval(b: QuantileSketch.Buf): Any = QuantileSketch.toBytes(b.qs)
}

/** `quantile_sketch_merge_agg(state)` — merge serialized sketch states;
  * feeding raw values here is an analysis-time type error.
  */
case class GkMerge() extends FoldSpec[QuantileSketch.Buf] {
  def name: String = "quantile_sketch_merge_agg"
  def accepts: Seq[Arg] = Seq(Arg.Is(BinaryType))
  def dataType(in: Seq[Expression]): DataType = BinaryType
  def codec: BufCodec[QuantileSketch.Buf] = GkBuf

  def create(): QuantileSketch.Buf = new QuantileSketch.Buf(QuantileSketch.empty(0.01))
  def update(b: QuantileSketch.Buf, in: Array[Expression], row: InternalRow): QuantileSketch.Buf = {
    val v = in(0).eval(row)
    if (v != null)
      b.qs = b.qs.compress().merge(QuantileSketch.fromBytes(v.asInstanceOf[Array[Byte]]))
    b
  }
  def merge(b: QuantileSketch.Buf, o: QuantileSketch.Buf): QuantileSketch.Buf =
    QuantileSketch.merge(b, o)
  def eval(b: QuantileSketch.Buf): Any = QuantileSketch.toBytes(b.qs)
}
