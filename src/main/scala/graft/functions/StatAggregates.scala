package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse's statistical aggregate family
  * (reference doc surface: the CH built-in aggregates beyond the query
  * scripts — entropy, cramersV/cramersVBiasCorrected, theilsU,
  * contingency, quantileExactWeighted, deltaSum/deltaSumTimestamp,
  * rankCorr, intervalLengthSum).
  *
  * Scale shapes:
  *  - entropy / the association family carry a per-group DISTINCT-value
  *    (or value-pair) count map — O(cardinality), map-side combined,
  *    the same bounded-vocabulary contract CH documents for sumMap.
  *  - quantileExactWeighted carries value → Σweight (distinct values).
  *  - deltaSum is O(1) state (sum, first, last) with CH's documented
  *    merge-order caveat; deltaSumTimestamp is the deterministic form —
  *    its state collects (ts, value) pairs (group-sized, like
  *    medianExact) and evaluates in ts order.
  *  - rankCorr collects the group's pairs (rank transforms are global
  *    per group — CH pays the same).
  *  - intervalLengthSum keeps a compacted disjoint-interval list —
  *    O(islands), not O(rows).
  *
  * Every eval sorts its state before the float reduction so results are
  * bit-deterministic under any partitioning / merge order.
  */
object StatAggregates {

  val functions = FunctionTable.define(this) { f =>
    f("entropy") { es => Fold.agg(Entropy(), es.take(1)) }
    for (stat <- Seq(Assoc.CramersV, Assoc.CramersVBiasCorrected, Assoc.TheilsU,
        Assoc.Contingency))
      f(stat.name) { es => Fold.agg(Assoc(stat), es.take(2)) }
    // CH quantileExactWeighted(level)(x, w) in the library's flat
    // spelling (x, w, level) — same convention as quantileExact(x, p)
    f("quantileExactWeighted") { es => weighted(es, QuantileExactWeighted) }
    f("medianExactWeighted") { es => weighted(es.take(2) :+ Literal(0.5d), QuantileExactWeighted) }
    // CH quantileInterpolatedWeighted(level)(x, w), flat (x, w, level):
    // the published weighted-percentile-with-interpolation rule — each
    // distinct value sits at the MIDPOINT of its cumulative weight span,
    // p_i = (cum_i − w_i/2)/W, and the level interpolates linearly
    // between adjacent midpoints (clamping outside [p_0, p_last]).
    // Always Float64, like CH's interpolated variants.
    f("quantileInterpolatedWeighted") { es => weighted(es, QuantileInterpolatedWeighted) }
    f("medianInterpolatedWeighted") { es =>
      weighted(es.take(2) :+ Literal(0.5d), QuantileInterpolatedWeighted)
    }
    f("deltaSum") { es => Fold.agg(DeltaSum(), es.take(1)) }
    f("deltaSumTimestamp") { es => Fold.agg(DeltaSumTimestamp(), es.take(2)) }
    f("rankCorr") { es => Fold.agg(RankCorr(), es.take(2)) }
    f("studentTTest") { es => Fold.agg(TTest(welch = false), es.take(2)) }
    f("welchTTest") { es => Fold.agg(TTest(welch = true), es.take(2)) }
    f("mannWhitneyUTest") { es => Fold.agg(MannWhitney(), es.take(2)) }
    f("kolmogorovSmirnovTest") { es => Fold.agg(KolmogorovSmirnov(), es.take(2)) }
    // CH meanZTest(pop_var_x, pop_var_y, conf)(sample, index) in the flat
    // spelling (sample, index, pop_var_x, pop_var_y, conf)
    f("meanZTest") { es =>
      Fold.agg(MeanZTest(Fold.number(es(2), "meanZTest: pop_var_x"),
        Fold.number(es(3), "meanZTest: pop_var_y"), Fold.number(es(4), "meanZTest: conf")),
        es.take(5))
    }
    // machine-precision special functions over commons-math3 (on Spark's
    // own classpath)
    for (fn <- Seq("erf", "erfc", "lgamma", "tgamma", "digamma"))
      f(fn) { es => Kernel.of(this, fn, fn, DoubleType, es, Seq(Arg.Num), returnsNull = true) }
    // CH proportionsZTest(successes_x, successes_y, trials_x, trials_y,
    // conf_level, 'pooled'|'unpooled') — scalar two-proportion z-test
    f("proportionsZTest") { es =>
      Kernel.of(this, "proportionsZTest", "proportionsZTest", StructType(Seq(
        StructField("z_statistic", DoubleType, nullable = false),
        StructField("p_value", DoubleType, nullable = false),
        StructField("ci_lower", DoubleType, nullable = false),
        StructField("ci_upper", DoubleType, nullable = false))), es,
        Seq.fill(5)(Arg.Num) :+ Arg.Str)
    }
    f("minSampleSizeConversion") { es =>
      minSampleSize("minSampleSizeConversion", "minSampleSizeConversion", 4, es)
    }
    // CH's spelling really is "Continous" (sic); accept the corrected one too
    for (name <- Seq("minSampleSizeContinous", "minSampleSizeContinuous"))
      f(name) { es => minSampleSize("minSampleSizeContinuous", "minSampleSizeContinous", 5, es) }
    f("intervalLengthSum") { es =>
      Fold.agg(IntervalLengthSum(es.take(2).forall(e => Fold.integral.accepts(e.dataType))),
        es.take(2))
    }
    // -State / -Merge combinators for the count-map family (MV-
    // incremental statistics, CH's combinator contract)
    f("entropyState") { es => Fold.agg(CountMapState(weighted = false), es.take(1)) }
    f("entropyMerge") { es => Fold.agg(CountMapMerge(CountMapMerge.Entropy), es.take(1)) }
    f("quantileExactWeightedState") { es =>
      Fold.agg(CountMapState(weighted = true), es.take(2))
    }
    f("quantileExactWeightedMerge") { es =>
      val level = Fold.number(es(1), "quantileExactWeightedMerge level")
      Fold.agg(CountMapMerge(CountMapMerge.Quantile(level)), es.take(1))
    }
    // partial-to-partial merges + scalar finalizers (the StateTable
    // Metric roles: merge parts on compact, finalize on read)
    for (name <- Seq("entropyMergeState", "quantileExactWeightedMergeState"))
      f(name) { es => Fold.agg(CountMapMerge(CountMapMerge.State), es.take(1)) }
    // scalar finalizers over a STORED count-map state (post-aggregation,
    // group-count-sized row sets — the Metric.finish role)
    f("entropyFinalize") { es =>
      Kernel.of(this, "entropyFinalize", "entropyFinalize", DoubleType, es,
        Seq(Arg.Is(BinaryType)), returnsNull = true)
    }
    f("quantileExactWeightedFinalize") { es =>
      val level = Fold.number(es(1), "quantileExactWeightedFinalize level")
      Kernel.of(this, "quantileExactWeightedFinalize", "quantileExactWeightedFinalize",
        LongType, es.take(1), Seq(Arg.Is(BinaryType)), Seq(level), returnsNull = true)
    }
  }

  def entropy_state(c: Column): Column = call_function("entropyState", c)
  def entropy_merge_state(c: Column): Column = call_function("entropyMergeState", c)
  def entropy_finalize(c: Column): Column = call_function("entropyFinalize", c)

  def entropy(c: Column): Column = call_function("entropy", c)
  def cramers_v(x: Column, y: Column): Column = call_function("cramersV", x, y)
  def theils_u(x: Column, y: Column): Column = call_function("theilsU", x, y)
  def rank_corr(x: Column, y: Column): Column = call_function("rankCorr", x, y)
  def interval_length_sum(s: Column, e: Column): Column =
    call_function("intervalLengthSum", s, e)

  /** A weighted quantile over children (x, w, level), the level read now. */
  private def weighted(es: Seq[Expression],
      spec: (Double, Boolean) => FoldSpec[WeightedQuantileBuf]): Expression =
    Fold.agg(spec(Fold.number(es(2), "weighted quantile level"),
      Fold.integral.accepts(es(0).dataType)), es.take(3))

  /** CH's weighted-quantile selection rule over integral (value, Σweight)
    * pairs: ascending scan, first value whose accumulated weight reaches
    * level · total. The ONE home of this rule for the count-map paths. */
  private[functions] def weightedSelect(pairs: Seq[(Long, Long)], level: Double): Long = {
    val items = pairs.sortBy(_._1)
    val total = items.map(_._2).sum
    val threshold = level * total
    var acc = 0L
    items.find { case (_, w) => acc += w; acc >= threshold }
      .map(_._1).getOrElse(items.last._1)
  }

  /** Shannon entropy of a count multiset: log2(n) − (Σ c·log2 c)/n,
    * summed in sorted-count order for bit determinism. */
  private[functions] def shannon(counts: Array[Long]): Double = {
    val n = counts.sum.toDouble
    if (n == 0) return 0d
    java.util.Arrays.sort(counts)
    var s = 0d
    var i = 0
    while (i < counts.length) {
      val c = counts(i).toDouble
      if (c > 0) s += c * (math.log(c) / math.log(2))
      i += 1
    }
    math.log(n) / math.log(2) - s / n
  }

  // ---- kernel methods -------------------------------------------------

  def erf(x: Double): Double = org.apache.commons.math3.special.Erf.erf(x)
  def erfc(x: Double): Double = org.apache.commons.math3.special.Erf.erfc(x)
  def lgamma(x: Double): Double = org.apache.commons.math3.special.Gamma.logGamma(x)
  def tgamma(x: Double): Double = org.apache.commons.math3.special.Gamma.gamma(x)
  def digamma(x: Double): Double = org.apache.commons.math3.special.Gamma.digamma(x)

  def entropyFinalize(b: Array[Byte]): Double = shannon(CountMapBuf.read(b).m.values.toArray)

  def quantileExactWeightedFinalize(b: Array[Byte], level: Double): java.lang.Long = {
    val buf = CountMapBuf.read(b)
    if (buf.m.isEmpty) null
    else weightedSelect(buf.m.toSeq.map { case (k, w) => (k.toLong, w) }, level)
  }

  /** CH `proportionsZTest(sx, sy, tx, ty, conf, usevar)` — two-proportion
    * z-test, scalar. `usevar` is the literal string 'pooled' (variance from
    * the pooled proportion) or 'unpooled' (per-sample variances). Returns
    * (z_statistic, p_value, ci_lower, ci_upper); the confidence interval is
    * for the difference p_x − p_y at `conf`, using the same standard error
    * as the statistic (CH's convention). Degenerate inputs (zero trials,
    * zero standard error) yield NaNs, never errors — mirroring CH.
    */
  def proportionsZTest(sx: Double, sy: Double, tx: Double, ty: Double, conf: Double,
      usevar: UTF8String): InternalRow = {
    val pooled = usevar.toString.toLowerCase match {
      case "pooled" => true
      case "unpooled" => false
      case other => throw new IllegalArgumentException(
        s"proportionsZTest: usevar must be 'pooled' or 'unpooled', got '$other'")
    }
    val nan = InternalRow(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    if (tx <= 0 || ty <= 0 || sx < 0 || sy < 0 || sx > tx || sy > ty ||
      conf <= 0 || conf >= 1) return nan
    val p1 = sx / tx; val p2 = sy / ty; val d = p1 - p2
    val se =
      if (pooled) {
        val p = (sx + sy) / (tx + ty)
        math.sqrt(p * (1 - p) * (1 / tx + 1 / ty))
      } else math.sqrt(p1 * (1 - p1) / tx + p2 * (1 - p2) / ty)
    if (se == 0 || se.isNaN) return nan
    val z = d / se
    val p = StatMath.normalTwoSidedP(z)
    val zc = StatMath.probit(1 - (1 - conf) / 2)
    InternalRow(z, p, d - zc * se, d + zc * se)
  }

  /** CH's A/B-test planning scalars:
    * `minSampleSizeConversion(baseline, mde, power, alpha)` — per-group
    * sample size to detect an absolute conversion-rate change of `mde`,
    * and `minSampleSizeContinous(baseline, sigma, mde, power, alpha)` —
    * the continuous-metric twin with a RELATIVE mde. Both return the CH
    * tuple (minimum_sample_size, detect_range_lower, detect_range_upper);
    * normal quantiles ride commons-math3's probit. */
  private def minSampleSize(method: String, name: String, arity: Int,
      es: Seq[Expression]): Kernel =
    Kernel.of(this, method, name, StructType(Seq(
      StructField("minimum_sample_size", DoubleType, nullable = false),
      StructField("detect_range_lower", DoubleType, nullable = false),
      StructField("detect_range_upper", DoubleType, nullable = false))), es,
      Seq.fill(arity)(Arg.Num))

  private def z(p: Double) = StatMath.probit(p)

  def minSampleSizeConversion(p1: Double, mde: Double, power: Double,
      alpha: Double): InternalRow = {
    val p2 = p1 + mde
    val zs = z(1 - alpha / 2) + z(power)
    val n = zs * zs * (p1 * (1 - p1) + p2 * (1 - p2)) / (mde * mde)
    InternalRow(n, p1 - mde, p1 + mde)
  }

  def minSampleSizeContinuous(baseline: Double, sigma: Double, mde: Double, power: Double,
      alpha: Double): InternalRow = {
    val delta = baseline * mde // relative mde, CH's contract
    val zs = z(1 - alpha / 2) + z(power)
    val n = 2 * sigma * sigma * zs * zs / (delta * delta)
    InternalRow(n, baseline * (1 - mde), baseline * (1 + mde))
  }
}

// ---------------------------------------------------------------------------
// shared string-keyed count-map plumbing
// ---------------------------------------------------------------------------

/** value (canonical string form) → count. */
final class CountMapBuf {
  private[graft] val m = mutable.HashMap.empty[String, Long]
  def add(k: String, c: Long): Unit = m.update(k, m.getOrElse(k, 0L) + c)
}

/** Entries in map order: the key's UTF-8 bytes then its count. Also the
  * value of the `-State` forms, so a stored state reads back here. */
object CountMapBuf extends BufCodec[CountMapBuf] {
  def write(buf: CountMapBuf): Array[Byte] = {
    val items = buf.m.toSeq
    val enc = items.map { case (k, _) => k.getBytes(StandardCharsets.UTF_8) }
    val bb = ByteBuffer.allocate(4 + enc.map(_.length + 12).sum)
    bb.putInt(items.size)
    items.zip(enc).foreach { case ((_, c), kb) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(c)
    }
    bb.array()
  }
  def read(bytes: Array[Byte]): CountMapBuf = readInto(bytes, new CountMapBuf)
  /** Adds a stored state's counts into `into`. */
  def readInto(bytes: Array[Byte], into: CountMapBuf): CountMapBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](bb.getInt); bb.get(kb)
      into.add(new String(kb, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    into
  }
  def merge(buf: CountMapBuf, other: CountMapBuf): CountMapBuf = {
    other.m.foreach { case (k, c) => buf.add(k, c) }
    buf
  }
}

/** CH `entropy(x)`: Shannon entropy (base 2) of the value distribution. */
case class Entropy() extends FoldSpec[CountMapBuf] {
  def name: String = "entropy"
  def accepts: Seq[Arg] = Seq(Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = DoubleType
  def codec: BufCodec[CountMapBuf] = CountMapBuf
  def create(): CountMapBuf = new CountMapBuf

  def update(buf: CountMapBuf, in: Array[Expression], row: InternalRow): CountMapBuf = {
    val k = Fold.key(in(0), row)
    if (k != null) buf.add(k, 1L)
    buf
  }
  def merge(buf: CountMapBuf, other: CountMapBuf): CountMapBuf = CountMapBuf.merge(buf, other)
  def eval(buf: CountMapBuf): Any = StatAggregates.shannon(buf.m.values.toArray)
}

/** (x, y) pair counts → the CH categorical-association family:
  * cramersV, cramersVBiasCorrected, theilsU, contingency. Pair keys ride
  * one string with a 0x00 separator (neither side may contain NUL). */
case class Assoc(stat: Assoc.Stat) extends FoldSpec[CountMapBuf] {
  def name: String = stat.name
  def accepts: Seq[Arg] = Seq(Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = DoubleType
  def codec: BufCodec[CountMapBuf] = CountMapBuf
  def create(): CountMapBuf = new CountMapBuf

  def update(buf: CountMapBuf, in: Array[Expression], row: InternalRow): CountMapBuf = {
    val kx = Fold.key(in(0), row)
    val ky = Fold.key(in(1), row)
    if (kx != null && ky != null) buf.add(kx + "\u0000" + ky, 1L)
    buf
  }
  def merge(buf: CountMapBuf, other: CountMapBuf): CountMapBuf = CountMapBuf.merge(buf, other)

  def eval(buf: CountMapBuf): Any = {
    // contingency table in sorted-cell order (bit-deterministic sums)
    val cells = buf.m.toSeq.map { case (k, c) =>
      val i = k.indexOf('\u0000')
      (k.substring(0, i), k.substring(i + 1), c)
    }.sortBy(t => (t._1, t._2))
    if (cells.isEmpty) return 0d
    val rowTot = mutable.TreeMap.empty[String, Long]
    val colTot = mutable.TreeMap.empty[String, Long]
    cells.foreach { case (x, y, c) =>
      rowTot.update(x, rowTot.getOrElse(x, 0L) + c)
      colTot.update(y, colTot.getOrElse(y, 0L) + c)
    }
    val n = cells.map(_._3).sum.toDouble
    val r = rowTot.size
    val q = colTot.size

    def chi2: Double = {
      // all r×q cells (absent observed = 0), sorted iteration
      val obs = cells.map(t => (t._1, t._2) -> t._3.toDouble).toMap
      var s = 0d
      for ((x, rx) <- rowTot; (y, cy) <- colTot) {
        val e = rx.toDouble * cy.toDouble / n
        val o = obs.getOrElse((x, y), 0d)
        s += (o - e) * (o - e) / e
      }
      s
    }

    stat match {
      case Assoc.CramersV =>
        val d = math.min(r - 1, q - 1)
        if (d <= 0) 0d else math.sqrt(chi2 / n / d)
      case Assoc.CramersVBiasCorrected =>
        if (n <= 1) return 0d
        val phi2 = chi2 / n
        val phi2c = math.max(0d, phi2 - (r - 1d) * (q - 1d) / (n - 1d))
        val rc = r - (r - 1d) * (r - 1d) / (n - 1d)
        val qc = q - (q - 1d) * (q - 1d) / (n - 1d)
        val d = math.min(rc - 1d, qc - 1d)
        if (d <= 0) 0d else math.sqrt(phi2c / d)
      case Assoc.Contingency =>
        val c2 = chi2
        math.sqrt(c2 / (c2 + n))
      case Assoc.TheilsU =>
        // uncertainty coefficient U(x|y) = (H(X) − H(X|Y)) / H(X)
        val hx = StatAggregates.shannon(rowTot.values.toArray)
        if (hx == 0d) return 0d
        // H(X|Y) = Σ_y p(y)·H(X|Y=y), accumulated in sorted order
        var hxy = 0d
        for ((y, cy) <- colTot) {
          val sub = cells.filter(_._2 == y).map(_._3).toArray
          hxy += cy.toDouble / n * StatAggregates.shannon(sub)
        }
        (hx - hxy) / hx
    }
  }
}

object Assoc {
  /** The statistic, chosen when the table entry is built. */
  sealed abstract class Stat(val name: String) extends Serializable
  case object CramersV extends Stat("cramersV")
  case object CramersVBiasCorrected extends Stat("cramersVBiasCorrected")
  case object TheilsU extends Stat("theilsU")
  case object Contingency extends Stat("contingency")
}

// ---------------------------------------------------------------------------
// quantileExactWeighted
// ---------------------------------------------------------------------------

final class WeightedQuantileBuf {
  private[graft] val m = mutable.HashMap.empty[Long, Long] // value bits → Σweight
}

/** Entries in map order: value bits then Σweight. */
object WeightedQuantileBuf extends BufCodec[WeightedQuantileBuf] {
  def write(buf: WeightedQuantileBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.m.size * 16)
    bb.putInt(buf.m.size)
    buf.m.foreach { case (k, w) => bb.putLong(k); bb.putLong(w) }
    bb.array()
  }
  def read(bytes: Array[Byte]): WeightedQuantileBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new WeightedQuantileBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.m.update(bb.getLong, bb.getLong); i += 1 }
    buf
  }

  private def valueBits(value: Expression, row: InternalRow): Option[Long] = {
    val v = value.eval(row)
    if (v == null) None
    else Some(value.dataType match {
      case LongType => v.asInstanceOf[Long]
      case IntegerType => v.asInstanceOf[Int].toLong
      case ShortType => v.asInstanceOf[Short].toLong
      case DoubleType => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
      case FloatType => java.lang.Double.doubleToLongBits(v.asInstanceOf[Float].toDouble)
    })
  }
  private def weightOf(weight: Expression, row: InternalRow): Long = weight.eval(row) match {
    case null => 0L
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
  }

  /** One row of children (x, w, ...): a positive weight adds to x's Σweight. */
  def update(buf: WeightedQuantileBuf, in: Array[Expression], row: InternalRow): WeightedQuantileBuf = {
    valueBits(in(0), row).foreach { k =>
      val w = weightOf(in(1), row)
      if (w > 0) buf.m.update(k, buf.m.getOrElse(k, 0L) + w)
    }
    buf
  }
  def merge(buf: WeightedQuantileBuf, o: WeightedQuantileBuf): WeightedQuantileBuf = {
    o.m.foreach { case (k, w) => buf.m.update(k, buf.m.getOrElse(k, 0L) + w) }
    buf
  }

  /** numeric x, integral w, then literal levels */
  val accepts: Seq[Arg] =
    Seq(Fold.numeric, Fold.integral, Arg.AnyType)
}

/** CH `quantileExactWeighted(level)(x, w)`: exact weighted quantile over a
  * value → Σweight map. CH's selection rule: ascending scan, return the
  * first value whose accumulated weight ≥ level · totalWeight.
  * Long inputs keep a Long result; doubles ride their raw bits in the
  * same map (sort order restored via the eval decode).
  */
case class QuantileExactWeighted(level: Double, isLong: Boolean)
    extends FoldSpec[WeightedQuantileBuf] {
  def name: String = "quantileExactWeighted"
  def accepts: Seq[Arg] = WeightedQuantileBuf.accepts
  def dataType(in: Seq[Expression]): DataType = if (isLong) LongType else DoubleType
  override def nullable: Boolean = true
  def codec: BufCodec[WeightedQuantileBuf] = WeightedQuantileBuf
  def create(): WeightedQuantileBuf = new WeightedQuantileBuf
  def update(buf: WeightedQuantileBuf, in: Array[Expression], row: InternalRow): WeightedQuantileBuf =
    WeightedQuantileBuf.update(buf, in, row)
  def merge(buf: WeightedQuantileBuf, o: WeightedQuantileBuf): WeightedQuantileBuf =
    WeightedQuantileBuf.merge(buf, o)

  def eval(buf: WeightedQuantileBuf): Any = {
    if (buf.m.isEmpty) return null
    def decode(bits: Long): Double =
      if (isLong) bits.toDouble else java.lang.Double.longBitsToDouble(bits)
    val items = buf.m.toArray.sortBy { case (bits, _) => decode(bits) }
    val total = items.map(_._2).sum
    val threshold = level * total
    var acc = 0L
    var i = 0
    while (i < items.length) {
      acc += items(i)._2
      if (acc >= threshold)
        return if (isLong) items(i)._1
        else java.lang.Double.longBitsToDouble(items(i)._1)
      i += 1
    }
    if (isLong) items.last._1 else java.lang.Double.longBitsToDouble(items.last._1)
  }
}

/** Weighted quantile with linear interpolation between midpoints of the
  * cumulative weight spans (the standard published weighted-percentile
  * method; CH's quantileInterpolatedWeighted uses the same midpoint
  * construction). Shares [[WeightedQuantileBuf]]'s value→Σweight state
  * with the exact variant — distinct-value-sized, map-side combined.
  * Fixed double expression order (p = (cum − 0.5·w)/W; interpolation
  * ((vᵤ−vₗ)·(q−pₗ))/(pᵤ−pₗ)) so a SQL mirror reproduces the bits.
  */
case class QuantileInterpolatedWeighted(level: Double, isLong: Boolean)
    extends FoldSpec[WeightedQuantileBuf] {
  require(level >= 0 && level <= 1, s"$name: level must be in [0, 1]")

  def name: String = "quantileInterpolatedWeighted"
  def accepts: Seq[Arg] = WeightedQuantileBuf.accepts
  def dataType(in: Seq[Expression]): DataType = DoubleType
  override def nullable: Boolean = true
  def codec: BufCodec[WeightedQuantileBuf] = WeightedQuantileBuf
  def create(): WeightedQuantileBuf = new WeightedQuantileBuf
  def update(buf: WeightedQuantileBuf, in: Array[Expression], row: InternalRow): WeightedQuantileBuf =
    WeightedQuantileBuf.update(buf, in, row)
  def merge(buf: WeightedQuantileBuf, o: WeightedQuantileBuf): WeightedQuantileBuf =
    WeightedQuantileBuf.merge(buf, o)

  def eval(buf: WeightedQuantileBuf): Any = {
    if (buf.m.isEmpty) return null
    def decode(bits: Long): Double =
      if (isLong) bits.toDouble else java.lang.Double.longBitsToDouble(bits)
    val items = buf.m.toArray.sortBy { case (bits, _) => decode(bits) }
    val total = items.map(_._2).sum.toDouble
    // midpoint coordinates p_i = (cum_i − 0.5·w_i)/W, strictly increasing
    var cum = 0L
    var prevP = Double.NaN
    var prevV = Double.NaN
    var i = 0
    while (i < items.length) {
      val w = items(i)._2
      val v = decode(items(i)._1)
      cum += w
      val p = (cum.toDouble - 0.5 * w.toDouble) / total
      if (level <= p) {
        return if (i == 0 || level <= prevP) {
          if (i == 0) v else prevV // clamp below the first midpoint
        } else prevV + (v - prevV) * (level - prevP) / (p - prevP)
      }
      prevP = p; prevV = v
      i += 1
    }
    prevV // clamp above the last midpoint
  }
}

/** plural `quantilesExactWeighted(x, w, p1, ..., pn)` — ONE value→Σweight
  * map per group, one ascending scan reading every level (the singular
  * form shares the same buffer and selection rule). */
case class QuantilesExactWeighted(levels: Seq[Double], isLong: Boolean)
    extends FoldSpec[WeightedQuantileBuf] {
  def name: String = "quantilesExactWeighted"
  def accepts: Seq[Arg] = WeightedQuantileBuf.accepts
  def dataType(in: Seq[Expression]): DataType =
    ArrayType(if (isLong) LongType else DoubleType, containsNull = false)
  override def nullable: Boolean = true
  def codec: BufCodec[WeightedQuantileBuf] = WeightedQuantileBuf
  def create(): WeightedQuantileBuf = new WeightedQuantileBuf
  def update(buf: WeightedQuantileBuf, in: Array[Expression], row: InternalRow): WeightedQuantileBuf =
    WeightedQuantileBuf.update(buf, in, row)
  def merge(buf: WeightedQuantileBuf, o: WeightedQuantileBuf): WeightedQuantileBuf =
    WeightedQuantileBuf.merge(buf, o)

  def eval(buf: WeightedQuantileBuf): Any = {
    if (buf.m.isEmpty) return null
    def decode(bits: Long): Double =
      if (isLong) bits.toDouble else java.lang.Double.longBitsToDouble(bits)
    val items = buf.m.toArray.sortBy { case (bits, _) => decode(bits) }
    val total = items.map(_._2).sum
    val out = levels.map { level =>
      val threshold = level * total
      var acc = 0L
      var i = 0
      var res = items.last._1
      var done = false
      while (i < items.length && !done) {
        acc += items(i)._2
        if (acc >= threshold) { res = items(i)._1; done = true }
        i += 1
      }
      if (isLong) res: Any else java.lang.Double.longBitsToDouble(res): Any
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

// ---------------------------------------------------------------------------
// deltaSum / deltaSumTimestamp
// ---------------------------------------------------------------------------

final class DeltaSumBuf {
  var seen = false
  var first = 0d
  var last = 0d
  var sum = 0d
}

/** seen flag, first, last, sum. */
object DeltaSumBuf extends BufCodec[DeltaSumBuf] {
  def write(buf: DeltaSumBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(25)
    bb.put(if (buf.seen) 1.toByte else 0.toByte)
    bb.putDouble(buf.first); bb.putDouble(buf.last); bb.putDouble(buf.sum)
    bb.array()
  }
  def read(bytes: Array[Byte]): DeltaSumBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new DeltaSumBuf
    buf.seen = bb.get() == 1
    buf.first = bb.getDouble; buf.last = bb.getDouble; buf.sum = bb.getDouble
    buf
  }
}

/** CH `deltaSum(x)`: sum of positive consecutive differences in data
  * order. O(1) state (sum, first, last); carries CH's own documented
  * caveat — partial-state merge order is not data order under a shuffle,
  * so distributed results depend on merge order exactly as in CH
  * (use deltaSumTimestamp for the deterministic form). */
case class DeltaSum() extends FoldSpec[DeltaSumBuf] {
  def name: String = "deltaSum"
  def accepts: Seq[Arg] = Seq(Fold.numeric)
  def dataType(in: Seq[Expression]): DataType = DoubleType
  def codec: BufCodec[DeltaSumBuf] = DeltaSumBuf
  def create(): DeltaSumBuf = new DeltaSumBuf

  def update(buf: DeltaSumBuf, in: Array[Expression], row: InternalRow): DeltaSumBuf = {
    Fold.num(in(0), row).foreach { v =>
      if (!buf.seen) { buf.seen = true; buf.first = v }
      else if (v > buf.last) buf.sum += v - buf.last
      buf.last = v
    }
    buf
  }
  def merge(buf: DeltaSumBuf, o: DeltaSumBuf): DeltaSumBuf = {
    if (o.seen) {
      if (!buf.seen) { buf.seen = true; buf.first = o.first; buf.last = o.last; buf.sum = o.sum }
      else {
        if (o.first > buf.last) buf.sum += o.first - buf.last
        buf.sum += o.sum
        buf.last = o.last
      }
    }
    buf
  }
  def eval(buf: DeltaSumBuf): Any = buf.sum
}

final class PairListBuf {
  private[graft] val buf = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** The pairs in collection order, two doubles each. Shared by every
  * pair-collecting aggregate (the EMA and decays, LTTB, deltaSumTimestamp,
  * rankCorr, the rank tests). */
object PairListBuf extends BufCodec[PairListBuf] {
  def write(buf: PairListBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.buf.length * 16)
    bb.putInt(buf.buf.length)
    buf.buf.foreach { case (a, b) => bb.putDouble(a); bb.putDouble(b) }
    bb.array()
  }
  def read(bytes: Array[Byte]): PairListBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new PairListBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.buf += ((bb.getDouble, bb.getDouble)); i += 1 }
    buf
  }

  /** Collects (a, b) when both are non-NULL ([[Fold.num]]: a TIMESTAMP as
    * its micros, a BOOLEAN index as 0/1). */
  def add(buf: PairListBuf, a: Expression, b: Expression, row: InternalRow): PairListBuf = {
    for (x <- Fold.num(a, row); y <- Fold.num(b, row)) buf.buf += ((x, y))
    buf
  }
  def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = {
    buf.buf ++= o.buf; buf
  }
}

/** CH `deltaSumTimestamp(value, ts)` — the deterministic deltaSum: pairs
  * sort by (ts, value) at eval and positive deltas accumulate in that
  * order, so the result is independent of partitioning. State is
  * group-sized (like medianExact) — the price of exact order recovery. */
case class DeltaSumTimestamp() extends FoldSpec[PairListBuf] {
  def name: String = "deltaSumTimestamp"
  def accepts: Seq[Arg] = Seq(Fold.numeric, Arg.Is(LongType, IntegerType, ShortType,
    DoubleType, TimestampType, TimestampNTZType))
  def dataType(in: Seq[Expression]): DataType = DoubleType
  def codec: BufCodec[PairListBuf] = PairListBuf
  def create(): PairListBuf = new PairListBuf
  // (ts, value) pairs
  def update(buf: PairListBuf, in: Array[Expression], row: InternalRow): PairListBuf =
    PairListBuf.add(buf, in(1), in(0), row)
  def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = PairListBuf.merge(buf, o)

  def eval(buf: PairListBuf): Any = {
    val sorted = buf.buf.toArray.sortBy(p => (p._1, p._2)) // (ts, value)
    var sum = 0d
    var i = 1
    while (i < sorted.length) {
      val d = sorted(i)._2 - sorted(i - 1)._2
      if (d > 0) sum += d
      i += 1
    }
    sum
  }
}

/** CH `rankCorr(x, y)`: Spearman rank correlation, exact — average ranks
  * on ties, Pearson over the rank pairs (accumulated in sorted order). */
case class RankCorr() extends FoldSpec[PairListBuf] {
  def name: String = "rankCorr"
  def accepts: Seq[Arg] = Seq(Fold.numeric)
  def dataType(in: Seq[Expression]): DataType = DoubleType
  override def nullable: Boolean = true
  def codec: BufCodec[PairListBuf] = PairListBuf
  def create(): PairListBuf = new PairListBuf
  def update(buf: PairListBuf, in: Array[Expression], row: InternalRow): PairListBuf =
    PairListBuf.add(buf, in(0), in(1), row)
  def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = PairListBuf.merge(buf, o)

  /** average-rank transform (ties share the mean of their positions). */
  private def ranks(vs: Array[Double]): Array[Double] = {
    val idx = vs.indices.toArray.sortBy(vs)
    val out = new Array[Double](vs.length)
    var i = 0
    while (i < idx.length) {
      var j = i
      while (j + 1 < idx.length && vs(idx(j + 1)) == vs(idx(i))) j += 1
      val avg = (i + j + 2) / 2.0 // mean of 1-based positions i+1..j+1
      var k = i
      while (k <= j) { out(idx(k)) = avg; k += 1 }
      i = j + 1
    }
    out
  }

  def eval(buf: PairListBuf): Any = {
    val n = buf.buf.length
    if (n < 2) return null
    // deterministic processing order
    val pairs = buf.buf.toArray.sortBy(p => (p._1, p._2))
    val rx = ranks(pairs.map(_._1))
    val ry = ranks(pairs.map(_._2))
    var sx = 0d; var sy = 0d
    var i = 0
    while (i < n) { sx += rx(i); sy += ry(i); i += 1 }
    val mx = sx / n; val my = sy / n
    var cov = 0d; var vx = 0d; var vy = 0d
    i = 0
    while (i < n) {
      val dx = rx(i) - mx; val dy = ry(i) - my
      cov += dx * dy; vx += dx * dx; vy += dy * dy
      i += 1
    }
    if (vx == 0d || vy == 0d) null else cov / math.sqrt(vx * vy)
  }
}

// ---------------------------------------------------------------------------
// intervalLengthSum
// ---------------------------------------------------------------------------

final class IntervalBuf {
  /** pending (possibly overlapping) segments; compacted to disjoint
    * sorted islands whenever it grows past the watermark. */
  private[graft] var segs = mutable.ArrayBuffer.empty[(Double, Double)]
  private[graft] def compact(): Unit = {
    if (segs.length <= 1) return
    val sorted = segs.sortBy(_._1)
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    var (cs, ce) = sorted.head
    var i = 1
    while (i < sorted.length) {
      val (s, e) = sorted(i)
      if (s <= ce) { if (e > ce) ce = e }
      else { out += ((cs, ce)); cs = s; ce = e }
      i += 1
    }
    out += ((cs, ce))
    segs = out
  }
}

/** The disjoint islands after compaction, (start, end) doubles each. */
object IntervalBuf extends BufCodec[IntervalBuf] {
  def write(buf: IntervalBuf): Array[Byte] = {
    buf.compact()
    val bb = ByteBuffer.allocate(4 + buf.segs.length * 16)
    bb.putInt(buf.segs.length)
    buf.segs.foreach { case (s, e) => bb.putDouble(s); bb.putDouble(e) }
    bb.array()
  }
  def read(bytes: Array[Byte]): IntervalBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new IntervalBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.segs += ((bb.getDouble, bb.getDouble)); i += 1 }
    buf
  }
}

/** CH `intervalLengthSum(start, end)`: total length of the union of the
  * group's [start, end] segments (overlaps counted once, adjacent
  * segments merge, start > end rows ignored). State is the compacted
  * disjoint-island list — O(islands), not O(rows). Integral inputs
  * return BIGINT (CH UInt64), floats return DOUBLE (CH Float64). */
case class IntervalLengthSum(isLong: Boolean) extends FoldSpec[IntervalBuf] {
  def name: String = "intervalLengthSum"
  def accepts: Seq[Arg] = Seq(Fold.numeric)
  def dataType(in: Seq[Expression]): DataType = if (isLong) LongType else DoubleType
  def codec: BufCodec[IntervalBuf] = IntervalBuf
  def create(): IntervalBuf = new IntervalBuf

  def update(buf: IntervalBuf, in: Array[Expression], row: InternalRow): IntervalBuf = {
    for (s <- Fold.num(in(0), row); e <- Fold.num(in(1), row)) {
      if (s <= e) {
        buf.segs += ((s, e))
        if (buf.segs.length >= 256) buf.compact()
      }
    }
    buf
  }
  def merge(buf: IntervalBuf, o: IntervalBuf): IntervalBuf = {
    buf.segs ++= o.segs
    buf.compact()
    buf
  }
  def eval(buf: IntervalBuf): Any = {
    buf.compact()
    var total = 0d
    buf.segs.foreach { case (s, e) => total += e - s }
    if (isLong) total.toLong else total
  }
}

// ---------------------------------------------------------------------------
// two-sample tests: studentTTest / welchTTest / mannWhitneyUTest
// ---------------------------------------------------------------------------

/** Special-function helpers for the test p-values (classic public-domain
  * numerics: Lanczos log-gamma, Lentz continued-fraction incomplete beta). */
private[functions] object StatMath {
  /** Numeric eval result → Double; loud IllegalArgumentException (not a
    * MatchError) on a non-numeric input. Shared by the scalar stat
    * expressions so the arm list cannot drift between them.
    */
  def numToDouble(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case s: Short => s.toDouble
    case b: Byte => b.toDouble
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case other => throw new IllegalArgumentException(
      s"numeric argument required, got ${if (other == null) "NULL" else other.getClass.getSimpleName}: $other")
  }

  private val stdNormal =
    new org.apache.commons.math3.distribution.NormalDistribution(null, 0, 1)

  /** Standard normal quantile (probit), shared and allocation-free per
    * call (the commons-math distribution object is stateless for this).
    */
  def probit(p: Double): Double = stdNormal.inverseCumulativeProbability(p)

  private val lanczos = Array(
    676.5203681218851, -1259.1392167224028, 771.32342877765313,
    -176.61502916214059, 12.507343278686905, -0.13857109526572012,
    9.9843695780195716e-6, 1.5056327351493116e-7)

  def lgamma(xIn: Double): Double = {
    if (xIn < 0.5)
      math.log(math.Pi / math.sin(math.Pi * xIn)) - lgamma(1 - xIn)
    else {
      val x = xIn - 1
      var a = 0.99999999999980993
      var i = 0
      while (i < lanczos.length) { a += lanczos(i) / (x + i + 1); i += 1 }
      val t = x + lanczos.length - 0.5
      0.5 * math.log(2 * math.Pi) + (x + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** regularized incomplete beta I_x(a, b). */
  def betainc(a: Double, b: Double, x: Double): Double = {
    if (x <= 0) return 0d
    if (x >= 1) return 1d
    val lbeta = lgamma(a + b) - lgamma(a) - lgamma(b) +
      a * math.log(x) + b * math.log(1 - x)
    if (x < (a + 1) / (a + b + 2)) math.exp(lbeta) * betacf(a, b, x) / a
    else 1 - math.exp(lgamma(a + b) - lgamma(a) - lgamma(b) +
      b * math.log(1 - x) + a * math.log(x)) * betacf(b, a, 1 - x) / b
  }

  private def betacf(a: Double, b: Double, x: Double): Double = {
    val eps = 1e-14
    val fpmin = 1e-300
    val qab = a + b; val qap = a + 1; val qam = a - 1
    var c = 1d
    var d = 1 - qab * x / qap
    if (math.abs(d) < fpmin) d = fpmin
    d = 1 / d
    var h = d
    var m = 1
    while (m <= 300) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
      d = 1 + aa * d; if (math.abs(d) < fpmin) d = fpmin
      c = 1 + aa / c; if (math.abs(c) < fpmin) c = fpmin
      d = 1 / d
      h *= d * c
      aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
      d = 1 + aa * d; if (math.abs(d) < fpmin) d = fpmin
      c = 1 + aa / c; if (math.abs(c) < fpmin) c = fpmin
      d = 1 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1) < eps) return h
      m += 1
    }
    h
  }

  /** two-sided Student p-value: P(|T_df| > t) = I_{df/(df+t²)}(df/2, 1/2). */
  def studentP(t: Double, df: Double): Double =
    if (df <= 0 || t.isNaN) Double.NaN
    else betainc(df / 2, 0.5, df / (df + t * t))

  /** standard normal two-sided p via erfc(|z|/√2) (Abramowitz–Stegun 7.1.26
    * rational erf approximation, |err| < 1.5e-7). */
  def normalTwoSidedP(z: Double): Double = {
    val x = math.abs(z) / math.sqrt(2)
    val t = 1 / (1 + 0.3275911 * x)
    val y = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
      t * (-1.453152027 + t * 1.061405429)))) * math.exp(-x * x)
    y // = erfc(x), already the two-sided tail
  }
}

final class TTestBuf {
  // Welford per group: n, mean, M2
  val n = new Array[Long](2)
  val mean = new Array[Double](2)
  val m2 = new Array[Double](2)
  def add(g: Int, v: Double): Unit = {
    n(g) += 1
    val d = v - mean(g)
    mean(g) += d / n(g)
    m2(g) += d * (v - mean(g))
  }
  def mergeFrom(o: TTestBuf): Unit = {
    var g = 0
    while (g < 2) {
      if (o.n(g) > 0) {
        if (n(g) == 0) { n(g) = o.n(g); mean(g) = o.mean(g); m2(g) = o.m2(g) }
        else {
          val nA = n(g).toDouble; val nB = o.n(g).toDouble
          val d = o.mean(g) - mean(g)
          val nT = nA + nB
          m2(g) += o.m2(g) + d * d * nA * nB / nT
          mean(g) += d * nB / nT
          n(g) += o.n(g)
        }
      }
      g += 1
    }
  }
}

/** (n, mean, M2) for each of the first `groups` samples. */
case class TTestCodec(groups: Int) extends BufCodec[TTestBuf] {
  def write(buf: TTestBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(24 * groups)
    var g = 0
    while (g < groups) {
      bb.putLong(buf.n(g)); bb.putDouble(buf.mean(g)); bb.putDouble(buf.m2(g))
      g += 1
    }
    bb.array()
  }
  def read(bytes: Array[Byte]): TTestBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TTestBuf
    var g = 0
    while (g < groups) {
      buf.n(g) = bb.getLong; buf.mean(g) = bb.getDouble; buf.m2(g) = bb.getDouble
      g += 1
    }
    buf
  }
}

object TTestBuf {
  val one: BufCodec[TTestBuf] = TTestCodec(1)
  val two: BufCodec[TTestBuf] = TTestCodec(2)

  /** A 0/1 sample index: a boolean, or an integral (non-zero = 1). */
  def index(v: Any): Int = v match {
    case b: Boolean => if (b) 1 else 0
    case l: Long => if (l != 0) 1 else 0
    case i: Int => if (i != 0) 1 else 0
    case s: Short => if (s != 0) 1 else 0
  }
}

/** CH `studentTTest(value, index)` / `welchTTest(value, index)`:
  * two-sample location tests over 0/1-indexed samples. O(1) Welford
  * state per group, exact merge; returns (t_statistic, p_value). */
case class TTest(welch: Boolean) extends FoldSpec[TTestBuf] {
  def name: String = if (welch) "welchTTest" else "studentTTest"
  def accepts: Seq[Arg] = Seq(Fold.numeric, Arg.Is(LongType, IntegerType, ShortType, BooleanType))
  def dataType(in: Seq[Expression]): DataType = StructType(Seq(
    StructField("t_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true)))
  def codec: BufCodec[TTestBuf] = TTestBuf.two
  def create(): TTestBuf = new TTestBuf

  def update(buf: TTestBuf, in: Array[Expression], row: InternalRow): TTestBuf = {
    for (v <- Fold.num(in(0), row)) {
      val g = in(1).eval(row)
      if (g != null) buf.add(TTestBuf.index(g), v)
    }
    buf
  }
  def merge(buf: TTestBuf, o: TTestBuf): TTestBuf = { buf.mergeFrom(o); buf }

  def eval(buf: TTestBuf): Any = {
    val n0 = buf.n(0).toDouble; val n1 = buf.n(1).toDouble
    if (n0 < 2 || n1 < 2) return InternalRow(null, null)
    val diff = buf.mean(0) - buf.mean(1)
    val (t, df) =
      if (welch) {
        val v0 = buf.m2(0) / (n0 - 1); val v1 = buf.m2(1) / (n1 - 1)
        val se0 = v0 / n0; val se1 = v1 / n1
        val tt = diff / math.sqrt(se0 + se1)
        val dd = (se0 + se1) * (se0 + se1) /
          (se0 * se0 / (n0 - 1) + se1 * se1 / (n1 - 1))
        (tt, dd)
      } else {
        val s2p = (buf.m2(0) + buf.m2(1)) / (n0 + n1 - 2)
        (diff / math.sqrt(s2p * (1 / n0 + 1 / n1)), n0 + n1 - 2)
      }
    InternalRow(t, StatMath.studentP(t, df))
  }
}

/** CH `mannWhitneyUTest(value, index)`: rank-sum U (reported for the
  * smaller side: U = min(U0, U1)) with the tie-corrected normal
  * approximation and continuity correction for the p-value. Collects the
  * group's pairs (rank transforms are per-group-global, like rankCorr). */
case class MannWhitney() extends FoldSpec[PairListBuf] {
  def name: String = "mannWhitneyUTest"
  def accepts: Seq[Arg] = Seq(Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = StructType(Seq(
    StructField("u_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true)))
  def codec: BufCodec[PairListBuf] = PairListBuf
  def create(): PairListBuf = new PairListBuf
  def update(buf: PairListBuf, in: Array[Expression], row: InternalRow): PairListBuf =
    PairListBuf.add(buf, in(0), in(1), row)
  def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = PairListBuf.merge(buf, o)

  def eval(buf: PairListBuf): Any = {
    val pairs = buf.buf.toArray.sortBy(_._1)
    val n = pairs.length
    val n1 = pairs.count(_._2 != 0d).toDouble
    val n0 = n - n1
    if (n0 < 1 || n1 < 1) return InternalRow(null, null)
    // average ranks + tie runs in one sorted pass
    var r0 = 0d // rank sum of group 0
    var tieTerm = 0d // Σ (t³ − t)
    var i = 0
    while (i < n) {
      var j = i
      while (j + 1 < n && pairs(j + 1)._1 == pairs(i)._1) j += 1
      val run = (j - i + 1).toDouble
      val avgRank = (i + j + 2) / 2.0
      if (run > 1) tieTerm += run * run * run - run
      var k = i
      while (k <= j) {
        if (pairs(k)._2 == 0d) r0 += avgRank
        k += 1
      }
      i = j + 1
    }
    val u0 = r0 - n0 * (n0 + 1) / 2
    val u1 = n0 * n1 - u0
    val u = math.min(u0, u1)
    val mu = n0 * n1 / 2
    val nn = n.toDouble
    val sigma2 = n0 * n1 / 12 * ((nn + 1) - tieTerm / (nn * (nn - 1)))
    if (sigma2 <= 0) return InternalRow(u, null)
    val z = (u - mu + 0.5) / math.sqrt(sigma2) // continuity toward the mean
    InternalRow(u, StatMath.normalTwoSidedP(z))
  }
}

/** CH `kolmogorovSmirnovTest(value, index)`: two-sample KS — D is the
  * max ECDF gap (ties consumed before evaluating, both samples), p the
  * asymptotic Kolmogorov tail with the small-sample correction
  * λ = (√ne + 0.12 + 0.11/√ne)·D. Collects the pooled sample. */
case class KolmogorovSmirnov() extends FoldSpec[PairListBuf] {
  def name: String = "kolmogorovSmirnovTest"
  def accepts: Seq[Arg] = Seq(Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = StructType(Seq(
    StructField("d_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true)))
  def codec: BufCodec[PairListBuf] = PairListBuf
  def create(): PairListBuf = new PairListBuf
  def update(buf: PairListBuf, in: Array[Expression], row: InternalRow): PairListBuf =
    PairListBuf.add(buf, in(0), in(1), row)
  def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = PairListBuf.merge(buf, o)

  def eval(buf: PairListBuf): Any = {
    val pairs = buf.buf.toArray.sortBy(_._1)
    val n = pairs.length
    val n1 = pairs.count(_._2 != 0d).toDouble
    val n0 = n - n1
    if (n0 < 1 || n1 < 1) return InternalRow(null, null)
    var c0 = 0L
    var c1 = 0L
    var d = 0d
    var i = 0
    while (i < n) {
      var j = i
      while (j + 1 < n && pairs(j + 1)._1 == pairs(i)._1) j += 1
      var k = i
      while (k <= j) {
        if (pairs(k)._2 == 0d) c0 += 1 else c1 += 1
        k += 1
      }
      val gap = math.abs(c0 / n0 - c1 / n1)
      if (gap > d) d = gap
      i = j + 1
    }
    val ne = n0 * n1 / (n0 + n1)
    val lambda = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    // λ → 0 makes the alternating series cancel to 0 numerically, but the
    // true tail P(K > 0) is 1 — identical samples must report p = 1
    val p =
      if (lambda < 1e-9) 1d
      else {
        var s = 0d
        var k = 1
        while (k <= 100) {
          s += 2 * (if (k % 2 == 1) 1d else -1d) * math.exp(-2d * k * k * lambda * lambda)
          k += 1
        }
        s
      }
    InternalRow(d, math.max(0d, math.min(1d, p)))
  }
}

/** CH `meanZTest(sample, index, pop_var_0, pop_var_1, conf)` in the flat
  * spelling: two-sample z-test with KNOWN population variances —
  * (z, p, ci_low, ci_high) where the CI bounds the mean difference at
  * the given confidence. O(1) Welford state (means only matter). */
case class MeanZTest(v0: Double, v1: Double, conf: Double) extends FoldSpec[TTestBuf] {
  def name: String = "meanZTest"
  def accepts: Seq[Arg] = Seq(Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = StructType(Seq(
    StructField("z_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true),
    StructField("ci_low", DoubleType, nullable = true),
    StructField("ci_high", DoubleType, nullable = true)))
  def codec: BufCodec[TTestBuf] = TTestBuf.two
  def create(): TTestBuf = new TTestBuf

  def update(buf: TTestBuf, in: Array[Expression], row: InternalRow): TTestBuf = {
    val v = in(0).eval(row)
    val g = in(1).eval(row)
    if (v != null && g != null) {
      val x = StatMath.numToDouble(v)
      buf.add(TTestBuf.index(g), x)
    }
    buf
  }
  def merge(buf: TTestBuf, o: TTestBuf): TTestBuf = { buf.mergeFrom(o); buf }

  def eval(buf: TTestBuf): Any = {
    val n0 = buf.n(0).toDouble
    val n1 = buf.n(1).toDouble
    if (n0 < 1 || n1 < 1) return InternalRow(null, null, null, null)
    val diff = buf.mean(0) - buf.mean(1)
    val se = math.sqrt(v0 / n0 + v1 / n1)
    val z = diff / se
    val p = StatMath.normalTwoSidedP(z)
    val zq = StatMath.probit(1 - (1 - conf) / 2)
    InternalRow(z, p, diff - zq * se, diff + zq * se)
  }
}

/** The set in order, UTF-8 strings; read back under the set's ordering. */
case class SortedStringsCodec(longIn: Boolean) extends BufCodec[mutable.TreeSet[String]] {
  def write(buf: mutable.TreeSet[String]): Array[Byte] = {
    val enc = buf.toSeq.map(_.getBytes(StandardCharsets.UTF_8))
    val bb = ByteBuffer.allocate(4 + enc.map(_.length + 4).sum)
    bb.putInt(enc.size)
    enc.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }
  def read(bytes: Array[Byte]): mutable.TreeSet[String] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = SortedStringsCodec.empty(longIn)
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val b = new Array[Byte](bb.getInt); bb.get(b)
      buf.add(new String(b, StandardCharsets.UTF_8)): Unit
      i += 1
    }
    buf
  }
}

object SortedStringsCodec {
  // keys ride their canonical string form; numeric order is restored by
  // a numeric-aware ordering so 9 < 10 for integral inputs
  def ordering(longIn: Boolean): Ordering[String] =
    if (longIn) Ordering.by[String, Long](_.toLong) else Ordering.String
  def empty(longIn: Boolean): mutable.TreeSet[String] =
    mutable.TreeSet.empty[String](ordering(longIn))
}

/** Bounded distinct collect — CH `groupUniqArray(max_size)(x)` with the
  * deterministic refinement "the SORTED first max_size distinct values":
  * per-group state holds AT MOST max_size elements (a candidate only
  * displaces the current maximum), so high-cardinality columns cannot
  * blow the aggregation buffer the way an unbounded collect_set would.
  * `longIn`: an integral input (else STRING). */
case class BoundedDistinct(cap: Int, longIn: Boolean) extends FoldSpec[mutable.TreeSet[String]] {
  def name: String = "groupUniqArrayCapped"
  def accepts: Seq[Arg] = Seq(Arg.Is(StringType, LongType, IntegerType, ShortType), Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType =
    ArrayType(if (longIn) LongType else StringType, containsNull = false)
  @transient lazy val codec: BufCodec[mutable.TreeSet[String]] = SortedStringsCodec(longIn)

  @transient private lazy val ord = SortedStringsCodec.ordering(longIn)
  def create(): mutable.TreeSet[String] = SortedStringsCodec.empty(longIn)

  private def offer(buf: mutable.TreeSet[String], k: String): Unit = {
    if (buf.size < cap) buf.add(k): Unit
    else if (ord.lt(k, buf.last) && !buf.contains(k)) {
      buf.remove(buf.last): Unit
      buf.add(k): Unit
    }
  }

  def update(buf: mutable.TreeSet[String], in: Array[Expression],
      row: InternalRow): mutable.TreeSet[String] = {
    val k = Fold.key(in(0), row)
    if (k != null) offer(buf, k)
    buf
  }
  def merge(buf: mutable.TreeSet[String], o: mutable.TreeSet[String]): mutable.TreeSet[String] = {
    o.foreach(offer(buf, _))
    buf
  }
  def eval(buf: mutable.TreeSet[String]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      buf.toSeq.map(k =>
        if (longIn) k.toLong
        else UTF8String.fromString(k): Any).toArray)
}

/** `-State` / `-Merge` combinators for the count-map statistics —
  * `entropyState(x)` emits the serialized value→count map (a mergeable
  * partial, storable in an AggregatingMergeTree StateTable exactly like
  * uniqCombinedState), `entropyMerge(state)` folds stored partials and
  * finalizes. The same pair exists for quantileExactWeighted (its map is
  * value→Σweight). This is CH's any-aggregate-takes-combinators contract
  * for the family whose state is a count map. `weighted`: a second child
  * is the per-row weight. */
case class CountMapState(weighted: Boolean) extends FoldSpec[CountMapBuf] {
  def name: String = if (weighted) "quantileExactWeightedState" else "entropyState"
  // any type counts; the weighted state's keys must round-trip through
  // toLong at merge and finalize time — restrict to integral values (the
  // one-shot quantileExactWeighted's Double path does not persist as a state)
  def accepts: Seq[Arg] =
    if (!weighted) Seq(Arg.AnyType)
    else Seq(Arg.Is(LongType, IntegerType, ShortType))
  def dataType(in: Seq[Expression]): DataType = BinaryType
  def codec: BufCodec[CountMapBuf] = CountMapBuf
  def create(): CountMapBuf = new CountMapBuf

  def update(buf: CountMapBuf, in: Array[Expression], row: InternalRow): CountMapBuf = {
    val k = Fold.key(in(0), row)
    if (k != null) {
      val w =
        if (!weighted) 1L
        else in(1).eval(row) match {
          case null => 0L
          case l: java.lang.Long => l.longValue()
          case i: java.lang.Integer => i.longValue()
          case s: java.lang.Short => s.longValue()
          case other => throw new IllegalArgumentException(
            s"$name: integral weight required, got $other")
        }
      if (w > 0) buf.add(k, w)
    }
    buf
  }
  def merge(buf: CountMapBuf, o: CountMapBuf): CountMapBuf = CountMapBuf.merge(buf, o)
  def eval(buf: CountMapBuf): Any = CountMapBuf.write(buf)
}

/** folds stored count-map partials and finalizes the chosen statistic. */
case class CountMapMerge(stat: CountMapMerge.Finish) extends FoldSpec[CountMapBuf] {
  def name: String = stat.name
  def accepts: Seq[Arg] = Seq(Arg.Named(Arg.Is(BinaryType), "a serialized count-map state"))
  def dataType(in: Seq[Expression]): DataType = stat.dataType
  override def nullable: Boolean = stat.nullable
  def codec: BufCodec[CountMapBuf] = CountMapBuf
  def create(): CountMapBuf = new CountMapBuf

  def update(buf: CountMapBuf, in: Array[Expression], row: InternalRow): CountMapBuf = {
    val v = in(0).eval(row)
    if (v != null) CountMapBuf.readInto(v.asInstanceOf[Array[Byte]], buf)
    buf
  }
  def merge(buf: CountMapBuf, o: CountMapBuf): CountMapBuf = CountMapBuf.merge(buf, o)
  def eval(buf: CountMapBuf): Any = stat match {
    case CountMapMerge.Entropy => StatAggregates.shannon(buf.m.values.toArray)
    case CountMapMerge.State => CountMapBuf.write(buf) // partial-to-partial merge
    case CountMapMerge.Quantile(level) =>
      if (buf.m.isEmpty) null
      else StatAggregates.weightedSelect(
        // count-map keys are the canonical string form of LONG values
        // (CountMapState's weighted mode type-checks that)
        buf.m.toSeq.map { case (k, w) => (k.toLong, w) },
        level)
  }
}

object CountMapMerge {
  /** What the merged map finalizes to, chosen when the table entry is built. */
  sealed abstract class Finish(val name: String, val dataType: DataType, val nullable: Boolean)
    extends Serializable
  case object Entropy extends Finish("entropyMerge", DoubleType, false)
  /** the merged map itself: a partial-to-partial merge */
  case object State extends Finish("countMapMergeState", BinaryType, false)
  case class Quantile(level: Double) extends Finish("quantileExactWeightedMerge", LongType, true)
}
