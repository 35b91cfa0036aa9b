package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
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
    f("entropy") { es => EntropyAgg(es.head).toAggregateExpression() }
    f("cramersV") { es => AssocAgg(es(0), es(1), "cramersV").toAggregateExpression() }
    f("cramersVBiasCorrected") { es =>
      AssocAgg(es(0), es(1), "cramersVBiasCorrected").toAggregateExpression()
    }
    f("theilsU") { es => AssocAgg(es(0), es(1), "theilsU").toAggregateExpression() }
    f("contingency") { es => AssocAgg(es(0), es(1), "contingency").toAggregateExpression() }
    // CH quantileExactWeighted(level)(x, w) in the library's flat
    // spelling (x, w, level) — same convention as quantileExact(x, p)
    f("quantileExactWeighted") { es =>
      QuantileExactWeightedAgg(es(0), es(1), es(2)).toAggregateExpression()
    }
    f("medianExactWeighted") { es =>
      QuantileExactWeightedAgg(es(0), es(1),
        org.apache.spark.sql.catalyst.expressions.Literal(0.5d)).toAggregateExpression()
    }
    // CH quantileInterpolatedWeighted(level)(x, w), flat (x, w, level):
    // the published weighted-percentile-with-interpolation rule — each
    // distinct value sits at the MIDPOINT of its cumulative weight span,
    // p_i = (cum_i − w_i/2)/W, and the level interpolates linearly
    // between adjacent midpoints (clamping outside [p_0, p_last]).
    // Always Float64, like CH's interpolated variants.
    f("quantileInterpolatedWeighted") { es =>
      QuantileInterpolatedWeightedAgg(es(0), es(1), es(2)).toAggregateExpression()
    }
    f("medianInterpolatedWeighted") { es =>
      QuantileInterpolatedWeightedAgg(es(0), es(1),
        org.apache.spark.sql.catalyst.expressions.Literal(0.5d)).toAggregateExpression()
    }
    f("deltaSum") { es => DeltaSumAgg(es.head).toAggregateExpression() }
    f("deltaSumTimestamp") { es =>
      DeltaSumTimestampAgg(es(0), es(1)).toAggregateExpression()
    }
    f("rankCorr") { es => RankCorrAgg(es(0), es(1)).toAggregateExpression() }
    f("studentTTest") { es =>
      TTestAgg(es(0), es(1), welch = false).toAggregateExpression()
    }
    f("welchTTest") { es =>
      TTestAgg(es(0), es(1), welch = true).toAggregateExpression()
    }
    f("mannWhitneyUTest") { es =>
      MannWhitneyAgg(es(0), es(1)).toAggregateExpression()
    }
    f("kolmogorovSmirnovTest") { es =>
      KolmogorovSmirnovAgg(es(0), es(1)).toAggregateExpression()
    }
    // CH meanZTest(pop_var_x, pop_var_y, conf)(sample, index) in the flat
    // spelling (sample, index, pop_var_x, pop_var_y, conf)
    f("meanZTest") { es =>
      MeanZTestAgg(es(0), es(1), es(2), es(3), es(4)).toAggregateExpression()
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
      IntervalLengthSumAgg(es(0), es(1)).toAggregateExpression()
    }
    // -State / -Merge combinators for the count-map family (MV-
    // incremental statistics, CH's combinator contract)
    f("entropyState") { es =>
      CountMapStateAgg(es.head, None).toAggregateExpression()
    }
    f("entropyMerge") { es =>
      CountMapMergeAgg(es.head, "entropy").toAggregateExpression()
    }
    f("quantileExactWeightedState") { es =>
      CountMapStateAgg(es(0), Some(es(1))).toAggregateExpression()
    }
    f("quantileExactWeightedMerge") { es =>
      val level = litDouble(es(1), "quantileExactWeightedMerge level")
      CountMapMergeAgg(es(0), s"quantile:$level").toAggregateExpression()
    }
    // partial-to-partial merges + scalar finalizers (the StateTable
    // Metric roles: merge parts on compact, finalize on read)
    f("entropyMergeState") { es =>
      CountMapMergeAgg(es.head, "state").toAggregateExpression()
    }
    f("quantileExactWeightedMergeState") { es =>
      CountMapMergeAgg(es.head, "state").toAggregateExpression()
    }
    // scalar finalizers over a STORED count-map state (post-aggregation,
    // group-count-sized row sets — the Metric.finish role)
    f("entropyFinalize") { es =>
      Kernel.of(this, "entropyFinalize", "entropyFinalize", DoubleType, es,
        Seq(Arg.Is(BinaryType)), returnsNull = true)
    }
    f("quantileExactWeightedFinalize") { es =>
      val level = litDouble(es(1), "quantileExactWeightedFinalize level")
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

  /** numeric literal (Number or Spark Decimal — a bare `0.5` parses as
    * DecimalType) for level/parameter arguments. */
  private[functions] def litDouble(e: Expression, what: String): Double =
    e match {
      case lit if lit.foldable => lit.eval() match {
        case n: Number => n.doubleValue()
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case other => throw new IllegalArgumentException(
          s"$what: numeric literal required, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"$what: numeric literal required, got $other")
    }

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

  private object countMaps extends StringKeyed {
    def read(b: Array[Byte]): CountMapBuf = { val buf = new CountMapBuf; readCountMap(b, buf); buf }
  }

  def entropyFinalize(b: Array[Byte]): Double = shannon(countMaps.read(b).m.values.toArray)

  def quantileExactWeightedFinalize(b: Array[Byte], level: Double): java.lang.Long = {
    val buf = countMaps.read(b)
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

private[functions] trait StringKeyed {
  /** canonical per-row key: null input → no contribution (CH skips nulls). */
  protected def keyOf(e: Expression, row: InternalRow): String = {
    val v = e.eval(row)
    if (v == null) null
    else e.dataType match {
      case StringType => v.asInstanceOf[UTF8String].toString
      case _ => v.toString
    }
  }
  protected def writeCountMap(m: mutable.HashMap[String, Long]): Array[Byte] = {
    val items = m.toSeq
    val enc = items.map { case (k, _) => k.getBytes(StandardCharsets.UTF_8) }
    val bb = ByteBuffer.allocate(4 + enc.map(_.length + 12).sum)
    bb.putInt(items.size)
    items.zip(enc).foreach { case ((_, c), kb) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(c)
    }
    bb.array()
  }
  protected def readCountMap(bytes: Array[Byte], into: CountMapBuf): Unit = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](bb.getInt); bb.get(kb)
      into.add(new String(kb, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
  }
}

/** CH `entropy(x)`: Shannon entropy (base 2) of the value distribution. */
case class EntropyAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMapBuf] with UnaryLike[Expression]
  with StringKeyed {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): CountMapBuf = new CountMapBuf

  override def update(buf: CountMapBuf, row: InternalRow): CountMapBuf = {
    val k = keyOf(child, row)
    if (k != null) buf.add(k, 1L)
    buf
  }
  override def merge(buf: CountMapBuf, other: CountMapBuf): CountMapBuf = {
    other.m.foreach { case (k, c) => buf.add(k, c) }
    buf
  }
  override def eval(buf: CountMapBuf): Any =
    StatAggregates.shannon(buf.m.values.toArray)

  override def serialize(buf: CountMapBuf): Array[Byte] = writeCountMap(buf.m)
  override def deserialize(b: Array[Byte]): CountMapBuf = {
    val buf = new CountMapBuf; readCountMap(b, buf); buf
  }
  override def withNewMutableAggBufferOffset(o: Int): EntropyAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): EntropyAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): EntropyAgg =
    copy(child = c)
  override def prettyName: String = "entropy"
}

/** (x, y) pair counts → the CH categorical-association family:
  * cramersV, cramersVBiasCorrected, theilsU, contingency. Pair keys ride
  * one string with a 0x00 separator (neither side may contain NUL). */
case class AssocAgg(
    xChild: Expression,
    yChild: Expression,
    stat: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMapBuf] with BinaryLike[Expression]
  with StringKeyed {

  override def left: Expression = xChild
  override def right: Expression = yChild
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): CountMapBuf = new CountMapBuf

  override def update(buf: CountMapBuf, row: InternalRow): CountMapBuf = {
    val kx = keyOf(xChild, row)
    val ky = keyOf(yChild, row)
    if (kx != null && ky != null) buf.add(kx + "\u0000" + ky, 1L)
    buf
  }
  override def merge(buf: CountMapBuf, other: CountMapBuf): CountMapBuf = {
    other.m.foreach { case (k, c) => buf.add(k, c) }
    buf
  }

  override def eval(buf: CountMapBuf): Any = {
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
      case "cramersV" =>
        val d = math.min(r - 1, q - 1)
        if (d <= 0) 0d else math.sqrt(chi2 / n / d)
      case "cramersVBiasCorrected" =>
        if (n <= 1) return 0d
        val phi2 = chi2 / n
        val phi2c = math.max(0d, phi2 - (r - 1d) * (q - 1d) / (n - 1d))
        val rc = r - (r - 1d) * (r - 1d) / (n - 1d)
        val qc = q - (q - 1d) * (q - 1d) / (n - 1d)
        val d = math.min(rc - 1d, qc - 1d)
        if (d <= 0) 0d else math.sqrt(phi2c / d)
      case "contingency" =>
        val c2 = chi2
        math.sqrt(c2 / (c2 + n))
      case "theilsU" =>
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
      case other => throw new IllegalStateException(s"unknown stat $other")
    }
  }

  override def serialize(buf: CountMapBuf): Array[Byte] = writeCountMap(buf.m)
  override def deserialize(b: Array[Byte]): CountMapBuf = {
    val buf = new CountMapBuf; readCountMap(b, buf); buf
  }
  override def withNewMutableAggBufferOffset(o: Int): AssocAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): AssocAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AssocAgg =
    copy(xChild = l, yChild = r)
  override def prettyName: String = stat
}

// ---------------------------------------------------------------------------
// quantileExactWeighted
// ---------------------------------------------------------------------------

final class WeightedQuantileBuf {
  private[graft] val m = mutable.HashMap.empty[Long, Long] // value bits → Σweight
}

/** CH `quantileExactWeighted(level)(x, w)`: exact weighted quantile over a
  * value → Σweight map. CH's selection rule: ascending scan, return the
  * first value whose accumulated weight ≥ level · totalWeight.
  * Long inputs keep a Long result; doubles ride their raw bits in the
  * same map (sort order restored via the eval decode).
  */
/** Weighted quantile with linear interpolation between midpoints of the
  * cumulative weight spans (the standard published weighted-percentile
  * method; CH's quantileInterpolatedWeighted uses the same midpoint
  * construction). Shares [[WeightedQuantileBuf]]'s value→Σweight state
  * with the exact variant — distinct-value-sized, map-side combined.
  * Fixed double expression order (p = (cum − 0.5·w)/W; interpolation
  * ((vᵤ−vₗ)·(q−pₗ))/(pᵤ−pₗ)) so a SQL mirror reproduces the bits.
  */
case class QuantileInterpolatedWeightedAgg(
    valueChild: Expression,
    weightChild: Expression,
    levelChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WeightedQuantileBuf] {

  override def children: Seq[Expression] = Seq(valueChild, weightChild, levelChild)

  private lazy val level: Double = levelChild.eval(InternalRow.empty) match {
    case n: Number => n.doubleValue()
    // a bare SQL literal like 0.25 parses as DecimalType, not Double
    case d: Decimal => d.toDouble
    case other => throw new IllegalArgumentException(
      s"$prettyName: level must be a numeric literal, got $other")
  }
  require(!levelChild.foldable || { val l = level; l >= 0 && l <= 1 },
    s"$prettyName: level must be in [0, 1]")

  private val isLong = valueChild.dataType match {
    case LongType | IntegerType | ShortType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (valueChild.dataType, weightChild.dataType) match {
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            LongType | IntegerType | ShortType) if levelChild.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName(x, w, level): numeric x, integral w, literal level")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def createAggregationBuffer(): WeightedQuantileBuf = new WeightedQuantileBuf

  private def valueBits(row: InternalRow): Option[Long] = {
    val v = valueChild.eval(row)
    if (v == null) None
    else Some(valueChild.dataType match {
      case LongType => v.asInstanceOf[Long]
      case IntegerType => v.asInstanceOf[Int].toLong
      case ShortType => v.asInstanceOf[Short].toLong
      case DoubleType => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
      case FloatType => java.lang.Double.doubleToLongBits(v.asInstanceOf[Float].toDouble)
    })
  }
  private def weightOf(row: InternalRow): Long = weightChild.eval(row) match {
    case null => 0L
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
  }

  override def update(buf: WeightedQuantileBuf, row: InternalRow): WeightedQuantileBuf = {
    valueBits(row).foreach { k =>
      val w = weightOf(row)
      if (w > 0) buf.m.update(k, buf.m.getOrElse(k, 0L) + w)
    }
    buf
  }
  override def merge(buf: WeightedQuantileBuf, o: WeightedQuantileBuf): WeightedQuantileBuf = {
    o.m.foreach { case (k, w) => buf.m.update(k, buf.m.getOrElse(k, 0L) + w) }
    buf
  }

  override def eval(buf: WeightedQuantileBuf): Any = {
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

  override def serialize(buf: WeightedQuantileBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.m.size * 16)
    bb.putInt(buf.m.size)
    buf.m.foreach { case (k, w) => bb.putLong(k); bb.putLong(w) }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): WeightedQuantileBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new WeightedQuantileBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.m.update(bb.getLong, bb.getLong); i += 1 }
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): QuantileInterpolatedWeightedAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QuantileInterpolatedWeightedAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): QuantileInterpolatedWeightedAgg =
    copy(valueChild = cs(0), weightChild = cs(1), levelChild = cs(2))
  override def prettyName: String = "quantileInterpolatedWeighted"
}

case class QuantileExactWeightedAgg(
    valueChild: Expression,
    weightChild: Expression,
    levelChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WeightedQuantileBuf] {

  override def children: Seq[Expression] = Seq(valueChild, weightChild, levelChild)

  private lazy val level: Double = levelChild.eval(InternalRow.empty) match {
    case d: Double => d
    case f: Float => f.toDouble
    case n: Number => n.doubleValue()
    // a bare SQL literal like 0.25 parses as DecimalType, not Double
    case d: Decimal => d.toDouble
    case other => throw new IllegalArgumentException(
      s"quantileExactWeighted: level must be a numeric literal, got $other")
  }

  private val isLong = valueChild.dataType match {
    case LongType | IntegerType | ShortType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (valueChild.dataType, weightChild.dataType) match {
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            LongType | IntegerType | ShortType) if levelChild.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "quantileExactWeighted(x, w, level): numeric x, integral w, literal level")
    }

  override def dataType: DataType = if (isLong) LongType else DoubleType
  override def nullable: Boolean = true
  override def createAggregationBuffer(): WeightedQuantileBuf = new WeightedQuantileBuf

  private def valueBits(row: InternalRow): Option[Long] = {
    val v = valueChild.eval(row)
    if (v == null) None
    else Some(valueChild.dataType match {
      case LongType => v.asInstanceOf[Long]
      case IntegerType => v.asInstanceOf[Int].toLong
      case ShortType => v.asInstanceOf[Short].toLong
      case DoubleType => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
      case FloatType => java.lang.Double.doubleToLongBits(v.asInstanceOf[Float].toDouble)
    })
  }
  private def weightOf(row: InternalRow): Long = weightChild.eval(row) match {
    case null => 0L
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
  }

  override def update(buf: WeightedQuantileBuf, row: InternalRow): WeightedQuantileBuf = {
    valueBits(row).foreach { k =>
      val w = weightOf(row)
      if (w > 0) buf.m.update(k, buf.m.getOrElse(k, 0L) + w)
    }
    buf
  }
  override def merge(buf: WeightedQuantileBuf, o: WeightedQuantileBuf): WeightedQuantileBuf = {
    o.m.foreach { case (k, w) => buf.m.update(k, buf.m.getOrElse(k, 0L) + w) }
    buf
  }

  override def eval(buf: WeightedQuantileBuf): Any = {
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

  override def serialize(buf: WeightedQuantileBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.m.size * 16)
    bb.putInt(buf.m.size)
    buf.m.foreach { case (k, w) => bb.putLong(k); bb.putLong(w) }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): WeightedQuantileBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new WeightedQuantileBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.m.update(bb.getLong, bb.getLong); i += 1 }
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): QuantileExactWeightedAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QuantileExactWeightedAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): QuantileExactWeightedAgg =
    copy(valueChild = cs(0), weightChild = cs(1), levelChild = cs(2))
  override def prettyName: String = "quantileExactWeighted"
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

/** CH `deltaSum(x)`: sum of positive consecutive differences in data
  * order. O(1) state (sum, first, last); carries CH's own documented
  * caveat — partial-state merge order is not data order under a shuffle,
  * so distributed results depend on merge order exactly as in CH
  * (use deltaSumTimestamp for the deterministic form). */
case class DeltaSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DeltaSumBuf] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | DoubleType | FloatType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"deltaSum: numeric required, got ${t.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): DeltaSumBuf = new DeltaSumBuf

  private def num(row: InternalRow): Option[Double] = child.eval(row) match {
    case null => None
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case s: Short => Some(s.toDouble)
  }

  override def update(buf: DeltaSumBuf, row: InternalRow): DeltaSumBuf = {
    num(row).foreach { v =>
      if (!buf.seen) { buf.seen = true; buf.first = v }
      else if (v > buf.last) buf.sum += v - buf.last
      buf.last = v
    }
    buf
  }
  override def merge(buf: DeltaSumBuf, o: DeltaSumBuf): DeltaSumBuf = {
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
  override def eval(buf: DeltaSumBuf): Any = buf.sum

  override def serialize(buf: DeltaSumBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(25)
    bb.put(if (buf.seen) 1.toByte else 0.toByte)
    bb.putDouble(buf.first); bb.putDouble(buf.last); bb.putDouble(buf.sum)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): DeltaSumBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new DeltaSumBuf
    buf.seen = bb.get() == 1
    buf.first = bb.getDouble; buf.last = bb.getDouble; buf.sum = bb.getDouble
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): DeltaSumAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DeltaSumAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): DeltaSumAgg =
    copy(child = c)
  override def prettyName: String = "deltaSum"
}

final class PairListBuf {
  private[graft] val buf = mutable.ArrayBuffer.empty[(Double, Double)]
}

private[functions] trait PairCollecting { self: TypedImperativeAggregate[PairListBuf] =>
  protected def aChild: Expression
  protected def bChild: Expression

  protected def numOf(e: Expression, row: InternalRow): Option[Double] =
    e.eval(row) match {
      case null => None
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case l: Long => Some(l.toDouble)
      case i: Int => Some(i.toDouble)
      case s: Short => Some(s.toDouble)
      // boolean 0/1 indexes (mannWhitneyUTest(v, cond) — the natural
      // spelling the t-tests also accept)
      case b: Boolean => Some(if (b) 1d else 0d)
      // decimal literals (Spark parses 1.0 as DECIMAL(2,1))
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case ts: java.lang.Long => Some(ts.toDouble)
    }

  override def createAggregationBuffer(): PairListBuf = new PairListBuf
  override def update(buf: PairListBuf, row: InternalRow): PairListBuf = {
    for (a <- numOf(aChild, row); b <- numOf(bChild, row)) buf.buf += ((a, b))
    buf
  }
  override def merge(buf: PairListBuf, o: PairListBuf): PairListBuf = {
    buf.buf ++= o.buf; buf
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
}

/** CH `deltaSumTimestamp(value, ts)` — the deterministic deltaSum: pairs
  * sort by (ts, value) at eval and positive deltas accumulate in that
  * order, so the result is independent of partitioning. State is
  * group-sized (like medianExact) — the price of exact order recovery. */
case class DeltaSumTimestampAgg(
    valueChild: Expression,
    tsChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PairListBuf] with BinaryLike[Expression]
  with PairCollecting {

  override def left: Expression = valueChild
  override def right: Expression = tsChild
  override protected def aChild: Expression = tsChild
  override protected def bChild: Expression = valueChild

  override def checkInputDataTypes(): TypeCheckResult =
    (valueChild.dataType, tsChild.dataType) match {
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            LongType | IntegerType | ShortType | DoubleType | TimestampType | TimestampNTZType) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, t) => TypeCheckResult.TypeCheckFailure(
        s"deltaSumTimestamp(value, ts): numeric value + numeric/timestamp ts, " +
          s"got (${v.simpleString}, ${t.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def eval(buf: PairListBuf): Any = {
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

  override def withNewMutableAggBufferOffset(o: Int): DeltaSumTimestampAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DeltaSumTimestampAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DeltaSumTimestampAgg =
    copy(valueChild = l, tsChild = r)
  override def prettyName: String = "deltaSumTimestamp"
}

/** CH `rankCorr(x, y)`: Spearman rank correlation, exact — average ranks
  * on ties, Pearson over the rank pairs (accumulated in sorted order). */
case class RankCorrAgg(
    xChild: Expression,
    yChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PairListBuf] with BinaryLike[Expression]
  with PairCollecting {

  override def left: Expression = xChild
  override def right: Expression = yChild
  override protected def aChild: Expression = xChild
  override protected def bChild: Expression = yChild

  override def checkInputDataTypes(): TypeCheckResult =
    (xChild.dataType, yChild.dataType) match {
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            LongType | IntegerType | ShortType | DoubleType | FloatType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"rankCorr: numeric inputs required, got (${a.simpleString}, ${b.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

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

  override def eval(buf: PairListBuf): Any = {
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

  override def withNewMutableAggBufferOffset(o: Int): RankCorrAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): RankCorrAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RankCorrAgg =
    copy(xChild = l, yChild = r)
  override def prettyName: String = "rankCorr"
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

/** CH `intervalLengthSum(start, end)`: total length of the union of the
  * group's [start, end] segments (overlaps counted once, adjacent
  * segments merge, start > end rows ignored). State is the compacted
  * disjoint-island list — O(islands), not O(rows). Integral inputs
  * return BIGINT (CH UInt64), floats return DOUBLE (CH Float64). */
case class IntervalLengthSumAgg(
    startChild: Expression,
    endChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[IntervalBuf] with BinaryLike[Expression] {

  override def left: Expression = startChild
  override def right: Expression = endChild

  private val isLong = (startChild.dataType, endChild.dataType) match {
    case (LongType | IntegerType | ShortType, LongType | IntegerType | ShortType) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (startChild.dataType, endChild.dataType) match {
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            LongType | IntegerType | ShortType | DoubleType | FloatType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"intervalLengthSum: numeric bounds required, got (${a.simpleString}, ${b.simpleString})")
    }
  override def dataType: DataType = if (isLong) LongType else DoubleType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): IntervalBuf = new IntervalBuf

  private def num(e: Expression, row: InternalRow): Option[Double] =
    e.eval(row) match {
      case null => None
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case l: Long => Some(l.toDouble)
      case i: Int => Some(i.toDouble)
      case s: Short => Some(s.toDouble)
    }

  override def update(buf: IntervalBuf, row: InternalRow): IntervalBuf = {
    for (s <- num(startChild, row); e <- num(endChild, row)) {
      if (s <= e) {
        buf.segs += ((s, e))
        if (buf.segs.length >= 256) buf.compact()
      }
    }
    buf
  }
  override def merge(buf: IntervalBuf, o: IntervalBuf): IntervalBuf = {
    buf.segs ++= o.segs
    buf.compact()
    buf
  }
  override def eval(buf: IntervalBuf): Any = {
    buf.compact()
    var total = 0d
    buf.segs.foreach { case (s, e) => total += e - s }
    if (isLong) total.toLong else total
  }

  override def serialize(buf: IntervalBuf): Array[Byte] = {
    buf.compact()
    val bb = ByteBuffer.allocate(4 + buf.segs.length * 16)
    bb.putInt(buf.segs.length)
    buf.segs.foreach { case (s, e) => bb.putDouble(s); bb.putDouble(e) }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): IntervalBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new IntervalBuf
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.segs += ((bb.getDouble, bb.getDouble)); i += 1 }
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): IntervalLengthSumAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): IntervalLengthSumAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntervalLengthSumAgg =
    copy(startChild = l, endChild = r)
  override def prettyName: String = "intervalLengthSum"
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

/** CH `studentTTest(value, index)` / `welchTTest(value, index)`:
  * two-sample location tests over 0/1-indexed samples. O(1) Welford
  * state per group, exact merge; returns (t_statistic, p_value). */
case class TTestAgg(
    valueChild: Expression,
    indexChild: Expression,
    welch: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TTestBuf] with BinaryLike[Expression] {

  override def left: Expression = valueChild
  override def right: Expression = indexChild

  override def checkInputDataTypes(): TypeCheckResult =
    (valueChild.dataType, indexChild.dataType) match {
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            LongType | IntegerType | ShortType | BooleanType) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, i) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName(value, index): numeric value + 0/1 index, " +
          s"got (${v.simpleString}, ${i.simpleString})")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("t_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true)))
  override def nullable: Boolean = false
  override def createAggregationBuffer(): TTestBuf = new TTestBuf

  private def numV(row: InternalRow): Option[Double] = valueChild.eval(row) match {
    case null => None
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case s: Short => Some(s.toDouble)
  }
  private def groupOf(row: InternalRow): Option[Int] = indexChild.eval(row) match {
    case null => None
    case b: Boolean => Some(if (b) 1 else 0)
    case l: Long => Some(if (l != 0) 1 else 0)
    case i: Int => Some(if (i != 0) 1 else 0)
    case s: Short => Some(if (s != 0) 1 else 0)
  }

  override def update(buf: TTestBuf, row: InternalRow): TTestBuf = {
    for (v <- numV(row); g <- groupOf(row)) buf.add(g, v)
    buf
  }
  override def merge(buf: TTestBuf, o: TTestBuf): TTestBuf = { buf.mergeFrom(o); buf }

  override def eval(buf: TTestBuf): Any = {
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

  override def serialize(buf: TTestBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(48)
    var g = 0
    while (g < 2) {
      bb.putLong(buf.n(g)); bb.putDouble(buf.mean(g)); bb.putDouble(buf.m2(g))
      g += 1
    }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): TTestBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TTestBuf
    var g = 0
    while (g < 2) {
      buf.n(g) = bb.getLong; buf.mean(g) = bb.getDouble; buf.m2(g) = bb.getDouble
      g += 1
    }
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): TTestAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TTestAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TTestAgg =
    copy(valueChild = l, indexChild = r)
  override def prettyName: String = if (welch) "welchTTest" else "studentTTest"
}

/** CH `mannWhitneyUTest(value, index)`: rank-sum U (reported for the
  * smaller side: U = min(U0, U1)) with the tie-corrected normal
  * approximation and continuity correction for the p-value. Collects the
  * group's pairs (rank transforms are per-group-global, like rankCorr). */
case class MannWhitneyAgg(
    valueChild: Expression,
    indexChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PairListBuf] with BinaryLike[Expression]
  with PairCollecting {

  override def left: Expression = valueChild
  override def right: Expression = indexChild
  override protected def aChild: Expression = valueChild
  override protected def bChild: Expression = indexChild

  override def dataType: DataType = StructType(Seq(
    StructField("u_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true)))
  override def nullable: Boolean = false

  override def eval(buf: PairListBuf): Any = {
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

  override def withNewMutableAggBufferOffset(o: Int): MannWhitneyAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MannWhitneyAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MannWhitneyAgg =
    copy(valueChild = l, indexChild = r)
  override def prettyName: String = "mannWhitneyUTest"
}

/** CH `kolmogorovSmirnovTest(value, index)`: two-sample KS — D is the
  * max ECDF gap (ties consumed before evaluating, both samples), p the
  * asymptotic Kolmogorov tail with the small-sample correction
  * λ = (√ne + 0.12 + 0.11/√ne)·D. Collects the pooled sample. */
case class KolmogorovSmirnovAgg(
    valueChild: Expression,
    indexChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PairListBuf] with BinaryLike[Expression]
  with PairCollecting {

  override def left: Expression = valueChild
  override def right: Expression = indexChild
  override protected def aChild: Expression = valueChild
  override protected def bChild: Expression = indexChild

  override def dataType: DataType = StructType(Seq(
    StructField("d_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true)))
  override def nullable: Boolean = false

  override def eval(buf: PairListBuf): Any = {
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

  override def withNewMutableAggBufferOffset(o: Int): KolmogorovSmirnovAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KolmogorovSmirnovAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KolmogorovSmirnovAgg =
    copy(valueChild = l, indexChild = r)
  override def prettyName: String = "kolmogorovSmirnovTest"
}

/** CH `meanZTest(sample, index, pop_var_0, pop_var_1, conf)` in the flat
  * spelling: two-sample z-test with KNOWN population variances —
  * (z, p, ci_low, ci_high) where the CI bounds the mean difference at
  * the given confidence. O(1) Welford state (means only matter). */
case class MeanZTestAgg(
    valueChild: Expression,
    indexChild: Expression,
    var0Child: Expression,
    var1Child: Expression,
    confChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TTestBuf] {

  override def children: Seq[Expression] =
    Seq(valueChild, indexChild, var0Child, var1Child, confChild)

  private lazy val v0 = var0Child.eval(InternalRow.empty).asInstanceOf[Number].doubleValue()
  private lazy val v1 = var1Child.eval(InternalRow.empty).asInstanceOf[Number].doubleValue()
  private lazy val conf = confChild.eval(InternalRow.empty).asInstanceOf[Number].doubleValue()

  override def dataType: DataType = StructType(Seq(
    StructField("z_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true),
    StructField("ci_low", DoubleType, nullable = true),
    StructField("ci_high", DoubleType, nullable = true)))
  override def nullable: Boolean = false
  override def createAggregationBuffer(): TTestBuf = new TTestBuf

  override def update(buf: TTestBuf, row: InternalRow): TTestBuf = {
    val v = valueChild.eval(row)
    val g = indexChild.eval(row)
    if (v != null && g != null) {
      val x = StatMath.numToDouble(v)
      val gi = g match {
        case b: Boolean => if (b) 1 else 0
        case l: Long => if (l != 0) 1 else 0
        case i: Int => if (i != 0) 1 else 0
        case s: Short => if (s != 0) 1 else 0
      }
      buf.add(gi, x)
    }
    buf
  }
  override def merge(buf: TTestBuf, o: TTestBuf): TTestBuf = { buf.mergeFrom(o); buf }

  override def eval(buf: TTestBuf): Any = {
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

  override def serialize(buf: TTestBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(48)
    var g = 0
    while (g < 2) {
      bb.putLong(buf.n(g)); bb.putDouble(buf.mean(g)); bb.putDouble(buf.m2(g))
      g += 1
    }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): TTestBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TTestBuf
    var g = 0
    while (g < 2) {
      buf.n(g) = bb.getLong; buf.mean(g) = bb.getDouble; buf.m2(g) = bb.getDouble
      g += 1
    }
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): MeanZTestAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MeanZTestAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): MeanZTestAgg =
    copy(valueChild = cs(0), indexChild = cs(1), var0Child = cs(2),
      var1Child = cs(3), confChild = cs(4))
  override def prettyName: String = "meanZTest"
}

/** Bounded distinct collect — CH `groupUniqArray(max_size)(x)` with the
  * deterministic refinement "the SORTED first max_size distinct values":
  * per-group state holds AT MOST max_size elements (a candidate only
  * displaces the current maximum), so high-cardinality columns cannot
  * blow the aggregation buffer the way an unbounded collect_set would. */
case class BoundedDistinctAgg(
    child: Expression,
    capChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[String]]
  with BinaryLike[Expression] with StringKeyed {

  override def left: Expression = child
  override def right: Expression = capChild

  private lazy val cap: Int = capChild.eval(InternalRow.empty) match {
    case n: Number => math.max(1, n.intValue())
    case other => throw new IllegalArgumentException(
      s"groupUniqArrayCapped: max_size must be an int literal, got $other")
  }

  private val stringIn = child.dataType == StringType
  private val longIn = child.dataType match {
    case LongType | IntegerType | ShortType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | LongType | IntegerType | ShortType
      if capChild.foldable => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"groupUniqArrayCapped(x, max_size): string/integral x, got ${t.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(if (longIn) LongType else StringType, containsNull = false)
  override def nullable: Boolean = false

  // keys ride their canonical string form; numeric order is restored by
  // a numeric-aware ordering so 9 < 10 for integral inputs
  private implicit val ord: Ordering[String] =
    if (longIn) Ordering.by[String, Long](_.toLong) else Ordering.String

  override def createAggregationBuffer(): mutable.TreeSet[String] =
    mutable.TreeSet.empty[String](ord)

  private def offer(buf: mutable.TreeSet[String], k: String): Unit = {
    if (buf.size < cap) buf.add(k): Unit
    else if (ord.lt(k, buf.last) && !buf.contains(k)) {
      buf.remove(buf.last): Unit
      buf.add(k): Unit
    }
  }

  override def update(buf: mutable.TreeSet[String], row: InternalRow): mutable.TreeSet[String] = {
    val k = keyOf(child, row)
    if (k != null) offer(buf, k)
    buf
  }
  override def merge(buf: mutable.TreeSet[String], o: mutable.TreeSet[String]): mutable.TreeSet[String] = {
    o.foreach(offer(buf, _))
    buf
  }
  override def eval(buf: mutable.TreeSet[String]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      buf.toSeq.map(k =>
        if (longIn) k.toLong
        else UTF8String.fromString(k): Any).toArray)

  override def serialize(buf: mutable.TreeSet[String]): Array[Byte] = {
    val enc = buf.toSeq.map(_.getBytes(StandardCharsets.UTF_8))
    val bb = ByteBuffer.allocate(4 + enc.map(_.length + 4).sum)
    bb.putInt(enc.size)
    enc.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[String] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val b = new Array[Byte](bb.getInt); bb.get(b)
      buf.add(new String(b, StandardCharsets.UTF_8)): Unit
      i += 1
    }
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): BoundedDistinctAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedDistinctAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BoundedDistinctAgg =
    copy(child = l, capChild = r)
  override def prettyName: String = "groupUniqArrayCapped"
}

/** plural `quantilesExactWeighted(x, w, p1, ..., pn)` — ONE value→Σweight
  * map per group, one ascending scan reading every level (the singular
  * form shares the same buffer class and selection rule). */
case class QuantilesExactWeightedAgg(
    valueChild: Expression,
    weightChild: Expression,
    levelChildren: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WeightedQuantileBuf] {

  override def children: Seq[Expression] =
    Seq(valueChild, weightChild) ++ levelChildren

  private lazy val levels: Seq[Double] = levelChildren.map(_.eval(InternalRow.empty) match {
    case n: Number => n.doubleValue()
    case other => throw new IllegalArgumentException(
      s"quantilesExactWeighted: levels must be numeric literals, got $other")
  })

  private val isLong = valueChild.dataType match {
    case LongType | IntegerType | ShortType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (valueChild.dataType, weightChild.dataType) match {
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            LongType | IntegerType | ShortType) if levelChildren.forall(_.foldable) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "quantilesExactWeighted(x, w, p1, ...): numeric x, integral w, literal levels")
    }

  override def dataType: DataType =
    ArrayType(if (isLong) LongType else DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def createAggregationBuffer(): WeightedQuantileBuf = new WeightedQuantileBuf

  private val single = QuantileExactWeightedAgg(valueChild, weightChild,
    org.apache.spark.sql.catalyst.expressions.Literal(0.5d))

  override def update(buf: WeightedQuantileBuf, row: InternalRow): WeightedQuantileBuf =
    single.update(buf, row)
  override def merge(buf: WeightedQuantileBuf, o: WeightedQuantileBuf): WeightedQuantileBuf =
    single.merge(buf, o)

  override def eval(buf: WeightedQuantileBuf): Any = {
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

  override def serialize(buf: WeightedQuantileBuf): Array[Byte] = single.serialize(buf)
  override def deserialize(bytes: Array[Byte]): WeightedQuantileBuf =
    single.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): QuantilesExactWeightedAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QuantilesExactWeightedAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): QuantilesExactWeightedAgg =
    copy(valueChild = cs(0), weightChild = cs(1), levelChildren = cs.drop(2))
  override def prettyName: String = "quantilesExactWeighted"
}

/** `-State` / `-Merge` combinators for the count-map statistics —
  * `entropyState(x)` emits the serialized value→count map (a mergeable
  * partial, storable in an AggregatingMergeTree StateTable exactly like
  * uniqCombinedState), `entropyMerge(state)` folds stored partials and
  * finalizes. The same pair exists for quantileExactWeighted (its map is
  * value→Σweight). This is CH's any-aggregate-takes-combinators contract
  * for the family whose state is a count map. */
case class CountMapStateAgg(
    child: Expression,
    weightChild: Option[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMapBuf] with StringKeyed {

  override def children: Seq[Expression] = child +: weightChild.toSeq

  override def checkInputDataTypes(): TypeCheckResult =
    if (weightChild.isEmpty) TypeCheckResult.TypeCheckSuccess // any type counts
    else (child.dataType, weightChild.get.dataType) match {
      // the weighted state's keys must round-trip through toLong at merge
      // and finalize time — restrict to integral values (the one-shot
      // quantileExactWeighted's Double path does not persist as a state)
      case (LongType | IntegerType | ShortType, LongType | IntegerType | ShortType) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, w) => TypeCheckResult.TypeCheckFailure(
        s"quantileExactWeightedState(x, w): integral x and w required, " +
          s"got (${v.simpleString}, ${w.simpleString})")
    }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): CountMapBuf = new CountMapBuf

  override def update(buf: CountMapBuf, row: InternalRow): CountMapBuf = {
    val k = keyOf(child, row)
    if (k != null) {
      val w = weightChild.map(_.eval(row)) match {
        case None => 1L
        case Some(null) => 0L
        case Some(l: java.lang.Long) => l.longValue()
        case Some(i: java.lang.Integer) => i.longValue()
        case Some(s: java.lang.Short) => s.longValue()
        case Some(other) => throw new IllegalArgumentException(
          s"${prettyName}: integral weight required, got $other")
      }
      if (w > 0) buf.add(k, w)
    }
    buf
  }
  override def merge(buf: CountMapBuf, o: CountMapBuf): CountMapBuf = {
    o.m.foreach { case (k, c) => buf.add(k, c) }
    buf
  }
  override def eval(buf: CountMapBuf): Any = writeCountMap(buf.m)
  override def serialize(buf: CountMapBuf): Array[Byte] = writeCountMap(buf.m)
  override def deserialize(b: Array[Byte]): CountMapBuf = {
    val buf = new CountMapBuf; readCountMap(b, buf); buf
  }
  override def withNewMutableAggBufferOffset(o: Int): CountMapStateAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMapStateAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): CountMapStateAgg =
    copy(child = cs(0), weightChild = if (cs.length >= 2) Some(cs(1)) else None)
  override def prettyName: String =
    if (weightChild.isDefined) "quantileExactWeightedState" else "entropyState"
}

/** folds stored count-map partials and finalizes the named statistic. */
case class CountMapMergeAgg(
    child: Expression,
    stat: String, // "entropy" | "quantile:<level>"
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMapBuf] with UnaryLike[Expression]
  with StringKeyed {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a serialized count-map state, got ${t.simpleString}")
  }
  override def dataType: DataType = stat match {
    case "entropy" => DoubleType
    case "state" => BinaryType
    case _ => LongType
  }
  override def nullable: Boolean = stat != "entropy" && stat != "state"
  override def createAggregationBuffer(): CountMapBuf = new CountMapBuf

  override def update(buf: CountMapBuf, row: InternalRow): CountMapBuf = {
    val v = child.eval(row)
    if (v != null) readCountMap(v.asInstanceOf[Array[Byte]], buf)
    buf
  }
  override def merge(buf: CountMapBuf, o: CountMapBuf): CountMapBuf = {
    o.m.foreach { case (k, c) => buf.add(k, c) }
    buf
  }
  override def eval(buf: CountMapBuf): Any = stat match {
    case "entropy" => StatAggregates.shannon(buf.m.values.toArray)
    case "state" => writeCountMap(buf.m) // partial-to-partial merge
    case q if q.startsWith("quantile:") =>
      if (buf.m.isEmpty) null
      else StatAggregates.weightedSelect(
        // count-map keys are the canonical string form of LONG values
        // (CountMapStateAgg's weighted mode type-checks that)
        buf.m.toSeq.map { case (k, w) => (k.toLong, w) },
        q.stripPrefix("quantile:").toDouble)
    case other => throw new IllegalStateException(s"unknown stat $other")
  }

  override def serialize(buf: CountMapBuf): Array[Byte] = writeCountMap(buf.m)
  override def deserialize(b: Array[Byte]): CountMapBuf = {
    val buf = new CountMapBuf; readCountMap(b, buf); buf
  }
  override def withNewMutableAggBufferOffset(o: Int): CountMapMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMapMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CountMapMergeAgg =
    copy(child = c)
  override def prettyName: String = stat match {
    case "entropy" => "entropyMerge"
    case "state" => "countMapMergeState"
    case _ => "quantileExactWeightedMerge"
  }
}
