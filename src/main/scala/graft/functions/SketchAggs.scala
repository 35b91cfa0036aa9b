package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketches, UpdateSketch}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The remaining CH sketch/display aggregates:
  *
  *  - `histogram(x, nbins)` — the adaptive streaming histogram
  *    (Ben-Haim & Tom-Tov 2010, the same algorithm CH uses): ≤ nbins
  *    (value, count) centroids, closest pair merged on overflow; exact
  *    (and merge-order independent) whenever distinct values ≤ nbins.
  *  - `sparkbar(x, y, width[, min, max])` — ▁▂▃▄▅▆▇█ bucket rendering.
  *  - `largestTriangleThreeBuckets(x, y, n)` — the LTTB downsample
  *    (Steinarsson 2013), exact and deterministic after the x-sort.
  *  - `anyHeavy(x)` — Boyer–Moore majority candidate (guaranteed correct
  *    when one value exceeds 50%, CH's contract).
  *  - `uniqTheta(x)` — Apache DataSketches Theta distinct-count union;
  *    exact below the sketch's nominal 4096 entries, ~1.6% RSE beyond.
  */
object SketchAggs {

  private def intLit(e: Expression, what: String): Int = Fold.literal(e, what) match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  val functions = FunctionTable.define(this) { f =>
    f("histogram") { es =>
      val bins = if (es.length >= 2) es(1) else Literal(10)
      Fold.agg(Histogram(math.max(1, intLit(bins, "histogram: bin count"))), Seq(es(0), bins))
    }
    f("sparkbar") { es =>
      require(es.length >= 3 && es.length <= 5, "sparkbar(x, y, width[, min, max])")
      Fold.agg(SparkBar(math.max(1, intLit(es(2), "sparkbar: width")),
        if (es.length >= 5)
          Some((Fold.number(es(3), "sparkbar: min"), Fold.number(es(4), "sparkbar: max")))
        else None), es)
    }
    for (name <- Seq("lttb", "largestTriangleThreeBuckets"))
      f(name) { es =>
        Fold.agg(Lttb(math.max(2, intLit(es(2), "largestTriangleThreeBuckets: n"))),
          es.take(3))
      }
    f("anyHeavy") { es => Fold.agg(AnyHeavy(), es.take(1)) }
    f("uniqTheta") { es => Fold.agg(UniqTheta(), es.take(1)) }
  }
}

final class CentroidBuf {
  private[graft] var centroids = mutable.ArrayBuffer.empty[(Double, Double)] // value, weight
  private[graft] var lo = Double.PositiveInfinity
  private[graft] var hi = Double.NegativeInfinity
  private[graft] def compact(nbins: Int): Unit = {
    if (centroids.length <= nbins) return
    centroids = centroids.sortBy(_._1)
    while (centroids.length > nbins) {
      // merge the closest adjacent pair (weighted mean)
      var bi = 0
      var bd = Double.PositiveInfinity
      var i = 0
      while (i + 1 < centroids.length) {
        val d = centroids(i + 1)._1 - centroids(i)._1
        if (d < bd) { bd = d; bi = i }
        i += 1
      }
      val (v1, w1) = centroids(bi)
      val (v2, w2) = centroids(bi + 1)
      centroids(bi) = ((v1 * w1 + v2 * w2) / (w1 + w2), w1 + w2)
      centroids.remove(bi + 1)
    }
  }
}

/** The centroids after compaction to `nbins`: count, lo, hi, then
  * (value, weight) pairs. */
case class CentroidCodec(nbins: Int) extends BufCodec[CentroidBuf] {
  def write(buf: CentroidBuf): Array[Byte] = {
    buf.compact(nbins)
    val bb = ByteBuffer.allocate(4 + 16 + buf.centroids.length * 16)
    bb.putInt(buf.centroids.length)
    bb.putDouble(buf.lo); bb.putDouble(buf.hi)
    buf.centroids.foreach { case (v, w) => bb.putDouble(v); bb.putDouble(w) }
    bb.array()
  }
  def read(bytes: Array[Byte]): CentroidBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new CentroidBuf
    val n = bb.getInt
    buf.lo = bb.getDouble; buf.hi = bb.getDouble
    var i = 0
    while (i < n) { buf.centroids += ((bb.getDouble, bb.getDouble)); i += 1 }
    buf
  }
}

/** Ben-Haim/Tom-Tov streaming histogram — CH's `histogram(nbins)(x)`. */
case class Histogram(nbins: Int) extends FoldSpec[CentroidBuf] {
  def name: String = "histogram"
  def accepts: Seq[Arg] = Seq(Fold.numeric, Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = ArrayType(StructType(Seq(
    StructField("lower", DoubleType, nullable = false),
    StructField("upper", DoubleType, nullable = false),
    StructField("height", DoubleType, nullable = false))), containsNull = false)
  @transient lazy val codec: BufCodec[CentroidBuf] = CentroidCodec(nbins)
  def create(): CentroidBuf = new CentroidBuf

  def update(buf: CentroidBuf, in: Array[Expression], row: InternalRow): CentroidBuf = {
    Fold.num(in(0), row).foreach { v =>
      buf.centroids += ((v, 1d))
      if (v < buf.lo) buf.lo = v
      if (v > buf.hi) buf.hi = v
      if (buf.centroids.length > 4 * nbins) buf.compact(nbins)
    }
    buf
  }
  def merge(buf: CentroidBuf, o: CentroidBuf): CentroidBuf = {
    buf.centroids ++= o.centroids
    if (o.lo < buf.lo) buf.lo = o.lo
    if (o.hi > buf.hi) buf.hi = o.hi
    buf.compact(nbins)
    buf
  }

  def eval(buf: CentroidBuf): Any = {
    buf.compact(nbins)
    val cs = buf.centroids.sortBy(_._1)
    // consolidate duplicate centroid positions, then emit midpoint bins
    val merged = mutable.ArrayBuffer.empty[(Double, Double)]
    cs.foreach { case (v, w) =>
      if (merged.nonEmpty && merged.last._1 == v)
        merged(merged.length - 1) = (v, merged.last._2 + w)
      else merged += ((v, w))
    }
    val n = merged.length
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val lower = if (i == 0) buf.lo else (merged(i - 1)._1 + merged(i)._1) / 2
      val upper = if (i == n - 1) buf.hi else (merged(i)._1 + merged(i + 1)._1) / 2
      out(i) = InternalRow(lower, upper, merged(i)._2)
      i += 1
    }
    new GenericArrayData(out)
  }
}

final class BucketBuf {
  private[graft] val m = mutable.HashMap.empty[Long, Double] // x-bits → Σy
}

/** x-bits → Σy entries in map order. */
object BucketBuf extends BufCodec[BucketBuf] {
  def write(buf: BucketBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.m.size * 16)
    bb.putInt(buf.m.size)
    buf.m.foreach { case (k, y) => bb.putLong(k); bb.putDouble(y) }
    bb.array()
  }
  def read(bytes: Array[Byte]): BucketBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new BucketBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.m.update(bb.getLong, bb.getDouble); i += 1 }
    buf
  }
}

/** CH `sparkbar(width)(x, y)` in the flat spelling (x, y, width[, min,
  * max]): ▁…█ rendering of bucketed Σy (space = empty bucket). State is
  * x → Σy (distinct x values — bounded-domain contract like sumMap). */
case class SparkBar(width: Int, fixedRange: Option[(Double, Double)])
    extends FoldSpec[BucketBuf] {
  def name: String = "sparkbar"
  def accepts: Seq[Arg] = Seq(Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = StringType
  def codec: BufCodec[BucketBuf] = BucketBuf
  def create(): BucketBuf = new BucketBuf

  def update(buf: BucketBuf, in: Array[Expression], row: InternalRow): BucketBuf = {
    for (x <- Fold.num(in(0), row); y <- Fold.num(in(1), row)) {
      val k = java.lang.Double.doubleToLongBits(x)
      buf.m.update(k, buf.m.getOrElse(k, 0d) + y)
    }
    buf
  }
  def merge(buf: BucketBuf, o: BucketBuf): BucketBuf = {
    o.m.foreach { case (k, y) => buf.m.update(k, buf.m.getOrElse(k, 0d) + y) }
    buf
  }

  private def levels = "▁▂▃▄▅▆▇█"

  def eval(buf: BucketBuf): Any = {
    if (buf.m.isEmpty) return UTF8String.fromString("")
    val xs = buf.m.toSeq.map { case (k, y) => (java.lang.Double.longBitsToDouble(k), y) }
    val (lo, hi) = fixedRange.getOrElse((xs.map(_._1).min, xs.map(_._1).max))
    val buckets = new Array[Double](width)
    val span = if (hi > lo) hi - lo else 1d
    xs.foreach { case (x, y) =>
      if (x >= lo && x <= hi) {
        val b = math.min(width - 1, ((x - lo) / span * width).toInt)
        buckets(b) += y
      }
    }
    val mx = buckets.max
    val sb = new StringBuilder
    buckets.foreach { y =>
      if (y <= 0 || mx <= 0) sb += ' '
      else sb += levels.charAt(math.min(7, math.ceil(y / mx * 8).toInt - 1))
    }
    UTF8String.fromString(sb.toString)
  }
}

/** LTTB downsample to n points — first/last kept, each middle bucket
  * contributes the point maximizing the triangle area against the
  * previously kept point and the next bucket's mean. */
case class Lttb(n: Int) extends FoldSpec[PairListBuf] {
  def name: String = "largestTriangleThreeBuckets"
  def accepts: Seq[Arg] = Seq(Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = ArrayType(StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false))), containsNull = false)
  def codec: BufCodec[PairListBuf] = PairListBuf
  def create(): PairListBuf = new PairListBuf

  def update(buf: PairListBuf, in: Array[Expression], row: InternalRow): PairListBuf =
    PairListBuf.add(buf, in(0), in(1), row)
  def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = PairListBuf.merge(buf, o)

  def eval(buf: PairListBuf): Any = {
    val pts = buf.buf.toArray.sortBy(p => (p._1, p._2))
    val m = pts.length
    if (m <= n) return new GenericArrayData(
      pts.map(p => InternalRow(p._1, p._2)).toArray[Any])
    val kept = mutable.ArrayBuffer[(Double, Double)](pts.head)
    val bucketCount = n - 2
    val inner = m - 2
    var b = 0
    while (b < bucketCount) {
      val start = 1 + b * inner / bucketCount
      val end = 1 + (b + 1) * inner / bucketCount // exclusive
      // the next-bucket anchor: the following INNER bucket's mean — the
      // final kept point only anchors the last inner bucket (reference
      // LTTB treats it as its own terminal bucket)
      var ax = 0d; var ay = 0d; var cnt = 0
      if (b == bucketCount - 1) {
        ax = pts(m - 1)._1; ay = pts(m - 1)._2; cnt = 1
      } else {
        var i = 1 + (b + 1) * inner / bucketCount
        val stop = 1 + (b + 2) * inner / bucketCount
        while (i < stop) { ax += pts(i)._1; ay += pts(i)._2; cnt += 1; i += 1 }
        if (cnt == 0) { ax = pts(m - 1)._1; ay = pts(m - 1)._2; cnt = 1 }
      }
      ax /= cnt; ay /= cnt
      val (px, py) = kept.last
      var bestI = start
      var bestA = -1d
      var j = start
      while (j < end) {
        val area = math.abs((px - ax) * (pts(j)._2 - py) - (px - pts(j)._1) * (ay - py))
        if (area > bestA) { bestA = area; bestI = j }
        j += 1
      }
      kept += pts(bestI)
      b += 1
    }
    kept += pts(m - 1)
    new GenericArrayData(kept.map(p => InternalRow(p._1, p._2)).toArray[Any])
  }
}

final class MajorityBuf {
  private[graft] var candidate: String = null
  private[graft] var count: Long = 0L
}

/** count, then the candidate's UTF-8 bytes (empty when none). */
object MajorityBuf extends BufCodec[MajorityBuf] {
  def write(buf: MajorityBuf): Array[Byte] = {
    val kb = if (buf.candidate == null) Array.emptyByteArray
      else buf.candidate.getBytes(StandardCharsets.UTF_8)
    val bb = ByteBuffer.allocate(12 + kb.length)
    bb.putLong(buf.count)
    bb.putInt(kb.length)
    bb.put(kb)
    bb.array()
  }
  def read(bytes: Array[Byte]): MajorityBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new MajorityBuf
    buf.count = bb.getLong
    val n = bb.getInt
    if (n > 0 || buf.count > 0) {
      val kb = new Array[Byte](n); bb.get(kb)
      buf.candidate = new String(kb, StandardCharsets.UTF_8)
    }
    buf
  }
}

/** Boyer–Moore majority vote — CH `anyHeavy(x)`: returns a frequently
  * occurring value; guaranteed to be THE value when it exceeds half the
  * rows (pairing cancellation survives any merge order). */
case class AnyHeavy() extends FoldSpec[MajorityBuf] {
  def name: String = "anyHeavy"
  def accepts: Seq[Arg] = Seq(Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = StringType
  override def nullable: Boolean = true
  def codec: BufCodec[MajorityBuf] = MajorityBuf
  def create(): MajorityBuf = new MajorityBuf

  private def vote(buf: MajorityBuf, k: String, w: Long): Unit = {
    if (buf.count == 0L) { buf.candidate = k; buf.count = w }
    else if (buf.candidate == k) buf.count += w
    else if (buf.count > w) buf.count -= w
    else { buf.candidate = k; buf.count = w - buf.count }
  }

  def update(buf: MajorityBuf, in: Array[Expression], row: InternalRow): MajorityBuf = {
    val k = Fold.key(in(0), row)
    if (k != null) vote(buf, k, 1L)
    buf
  }
  def merge(buf: MajorityBuf, o: MajorityBuf): MajorityBuf = {
    if (o.count > 0) vote(buf, o.candidate, o.count)
    buf
  }
  def eval(buf: MajorityBuf): Any =
    if (buf.candidate == null) null else UTF8String.fromString(buf.candidate)
}

final class ThetaBuf {
  private[graft] var sketch: UpdateSketch = UpdateSketch.builder().build()
  private[graft] var merged: org.apache.datasketches.theta.Union = null
  def union: org.apache.datasketches.theta.Union = {
    if (merged == null) {
      merged = SetOperation.builder().buildUnion()
      merged.union(sketch.compact())
    }
    merged
  }
}

/** The sketch as a DataSketches compact theta sketch. */
object ThetaBuf extends BufCodec[ThetaBuf] {
  def write(buf: ThetaBuf): Array[Byte] = {
    val c: CompactSketch =
      if (buf.merged != null) buf.merged.getResult else buf.sketch.compact()
    c.toByteArray
  }
  def read(bytes: Array[Byte]): ThetaBuf = {
    val buf = new ThetaBuf
    buf.merged = SetOperation.builder().buildUnion()
    buf.merged.union(Sketches.wrapCompactSketch(Memory.wrap(bytes)))
    buf
  }
}

/** Theta-sketch distinct count — CH `uniqTheta(x)`. Exact below the
  * nominal 4096 retained entries, ~1.6% RSE beyond; fixed-size
  * mergeable state either way. Each value is keyed by its string form. */
case class UniqTheta() extends FoldSpec[ThetaBuf] {
  def name: String = "uniqTheta"
  def accepts: Seq[Arg] = Seq(Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = LongType
  def codec: BufCodec[ThetaBuf] = ThetaBuf
  def create(): ThetaBuf = new ThetaBuf

  def update(buf: ThetaBuf, in: Array[Expression], row: InternalRow): ThetaBuf = {
    val k = Fold.key(in(0), row)
    if (k != null) {
      if (buf.merged != null)
        throw new IllegalStateException("uniqTheta: update after merge")
      buf.sketch.update(k)
    }
    buf
  }
  def merge(buf: ThetaBuf, o: ThetaBuf): ThetaBuf = {
    buf.union.union(
      if (o.merged != null) o.merged.getResult else o.sketch.compact())
    buf
  }
  def eval(buf: ThetaBuf): Any = {
    val est = if (buf.merged != null) buf.merged.getResult.getEstimate
      else buf.sketch.compact().getEstimate
    math.round(est)
  }
}
