package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** CH's multivariate second-order aggregates and positional collector:
  *
  *  - `corrMatrix(x1..xk)` / `covarSampMatrix` / `covarPopMatrix` —
  *    the pairwise statistic matrix as Array(Array(Float64)). State is
  *    the CENTERED co-moment matrix (n, mean[k], C[i][j]) with the
  *    classic pairwise-merge update — not raw Σxy sums, which cancel
  *    catastrophically when |mean| ≫ stddev at large n (exactly the
  *    100 TB regime); O(k²) doubles per group, map-side combined.
  *  - `studentTTestOneSample(value, population_mean)` — one-sample
  *    location t-test, (t_statistic, p_value) like the two-sample
  *    [[TTest]]; O(1) Welford state.
  *  - `groupArrayInsertAt(x, pos[, default[, size]])` (flat spelling of
  *    CH's `groupArrayInsertAt(default, size)(x, pos)`) — place each
  *    value at its position, `default` (or the type default) filling
  *    gaps. CH leaves same-position collisions unspecified; this port
  *    keeps the SMALLEST value for partition-order determinism.
  */
object StatMatrix {

  /** The statistic of `corrMatrix` / `covarSampMatrix` /
    * `covarPopMatrix`, chosen when the table entry is built. */
  sealed abstract class Moment(val name: String) extends Serializable
  case object Corr extends Moment("corr")
  case object CovarSamp extends Moment("covarSamp")
  case object CovarPop extends Moment("covarPop")

  private[functions] def matrix(mode: Moment, es: Seq[Expression]): Expression =
    Fold.agg(CoMoment(mode, es.length), es)

  val functions = FunctionTable.define(this) { f =>
    for (mode <- Seq(Corr, CovarSamp, CovarPop))
      f(s"${mode.name}Matrix")(matrix(mode, _))
    f("studentTTestOneSample") { es =>
      Fold.agg(TTestOneSample(
        Fold.number(es(1), "studentTTestOneSample: population mean")), es.take(2))
    }
    f("groupArrayInsertAt") { es =>
      val lane = es(0).dataType match {
        case StringType => StringType
        case DoubleType | FloatType => DoubleType
        case _ => LongType
      }
      val default = es.lift(2).map(Fold.literal(_, "groupArrayInsertAt: default"))
      val size = es.lift(3).map(Fold.literal(_, "groupArrayInsertAt: size") match {
        case n: Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"groupArrayInsertAt: size must be an integer literal, got $other")
      })
      Fold.agg(GroupArrayInsertAt(lane, GroupArrayInsertAt.defaultIn(lane, default), size),
        es.take(4))
    }
    f("sumKahan") { es =>
      Fold.agg(KahanSum(Fold.integral.accepts(es.head.dataType)),
        es.take(1))
    }
    for (name <- Seq("analysisOfVariance", "anova"))
      f(name) { es => Fold.agg(Anova(es(1).dataType == StringType), es.take(2)) }
    f("groupArrayIntersect") { es =>
      Fold.agg(GroupArrayIntersect(Kernel.elementType(es.head)), es.take(1))
    }
  }
}

final class ArrayIntersectBuf {
  /** null until the first (non-null) array arrives — the intersection
    * identity is the universe, which isn't representable */
  private[graft] var s: mutable.HashSet[Any] = null
}

/** CH `groupArrayIntersect(arr)`: the intersection of all the group's
  * arrays (per-row duplicates count once). Associative + commutative
  * null-seeded fold like [[BitmapFold]]'s AND; the state only
  * ever SHRINKS after the seed, so it is bounded by the first row's
  * array. Output sorted ascending for partition-order determinism (CH
  * leaves the order unspecified). Long/Double/String element lanes.
  */
/** A flag byte (0 = unseeded), then the set's count and its values in the
  * lane of the plan's element type. */
case class ArrayIntersectCodec(isString: Boolean, isDouble: Boolean)
    extends BufCodec[ArrayIntersectBuf] {
  def write(buf: ArrayIntersectBuf): Array[Byte] = {
    if (buf.s == null) return Array[Byte](0)
    val entries = buf.s.toArray
    val strBytes = entries.map {
      case s: String => s.getBytes(StandardCharsets.UTF_8)
      case _ => null
    }
    val size = 5 + (if (isString) strBytes.map(4 + _.length).sum
                    else entries.length * 8)
    val bb = ByteBuffer.allocate(size)
    bb.put(1.toByte)
    bb.putInt(entries.length)
    entries.zip(strBytes).foreach {
      case (_, sb) if isString => bb.putInt(sb.length); bb.put(sb)
      case (d: Double, _) => bb.putDouble(d)
      case (l: Long, _) => bb.putLong(l)
      case (other, _) => throw new IllegalStateException(s"bad lane: $other")
    }
    bb.array()
  }
  def read(bytes: Array[Byte]): ArrayIntersectBuf = {
    val buf = new ArrayIntersectBuf
    val bb = ByteBuffer.wrap(bytes)
    if (bb.get() == 1.toByte) {
      val n = bb.getInt
      buf.s = mutable.HashSet.empty[Any]
      var i = 0
      while (i < n) {
        buf.s +=
          (if (isString) { val b = new Array[Byte](bb.getInt); bb.get(b)
            new String(b, StandardCharsets.UTF_8) }
          else if (isDouble) bb.getDouble
          else bb.getLong)
        i += 1
      }
    }
    buf
  }
}

/** `elem`: the input array's element type. */
case class GroupArrayIntersect(elem: DataType) extends FoldSpec[ArrayIntersectBuf] {
  // hoisted: these pattern-match on dataType and sit inside per-element
  // hot loops
  private val isString = elem == StringType
  private val isDouble = elem match {
    case DoubleType | FloatType => true
    case _ => false
  }

  def name: String = "groupArrayIntersect"
  def accepts: Seq[Arg] = Seq(Arg.ArrayOf(Arg.Is(LongType, IntegerType, ShortType,
    DoubleType, FloatType, StringType)))
  private def outElem: DataType =
    if (isString) StringType else if (isDouble) DoubleType else LongType
  def dataType(in: Seq[Expression]): DataType = ArrayType(outElem, containsNull = false)
  @transient lazy val codec: BufCodec[ArrayIntersectBuf] = ArrayIntersectCodec(isString, isDouble)
  def create(): ArrayIntersectBuf = new ArrayIntersectBuf

  private def norm(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case f: Float => f.toDouble
    case i: Int => i.toLong
    case s: Short => s.toLong
    case other => other
  }

  def update(buf: ArrayIntersectBuf, in: Array[Expression], row: InternalRow): ArrayIntersectBuf = {
    // once annihilated the intersection can never grow — skip the
    // per-row set build entirely
    if (buf.s != null && buf.s.isEmpty) return buf
    val a = in(0).eval(row)
    if (a != null) {
      val ad = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val incoming = mutable.HashSet.empty[Any]
      var i = 0
      while (i < ad.numElements()) {
        if (!ad.isNullAt(i)) incoming += norm(ad.get(i, elem))
        i += 1
      }
      if (buf.s == null) buf.s = incoming
      else buf.s.filterInPlace(incoming.contains)
    }
    buf
  }
  def merge(buf: ArrayIntersectBuf, o: ArrayIntersectBuf): ArrayIntersectBuf = {
    if (o.s != null) {
      if (buf.s == null) buf.s = o.s
      else buf.s.filterInPlace(o.s.contains)
    }
    buf
  }

  def eval(buf: ArrayIntersectBuf): Any = {
    if (buf.s == null) return new GenericArrayData(Array.empty[Any])
    val sorted: Array[Any] =
      if (isString) buf.s.toArray.map(_.asInstanceOf[String]).sorted
        .map(s => UTF8String.fromString(s): Any)
      else if (isDouble) buf.s.toArray.map(_.asInstanceOf[Double]).sorted
        .map(d => d: Any)
      else buf.s.toArray.map(_.asInstanceOf[Long]).sorted.map(l => l: Any)
    new GenericArrayData(sorted)
  }
}

final class AnovaBuf {
  /** group key (Long for integral/bool groups, String for string groups —
    * exact, never a lossy hash that could silently merge two labels) →
    * (n, mean, M2) Welford triple */
  private[graft] val m = mutable.HashMap.empty[Any, Array[Double]]
  def add(g: Any, v: Double): Unit = {
    val s = m.getOrElseUpdate(g, new Array[Double](3))
    s(0) += 1
    val d = v - s(1)
    s(1) += d / s(0)
    s(2) += d * (v - s(1))
  }
  def mergeGroup(g: Any, o: Array[Double]): Unit = m.get(g) match {
    case None => m.update(g, o.clone())
    case Some(s) =>
      val nA = s(0); val nB = o(0)
      if (nB > 0) {
        val d = o(1) - s(1)
        val nT = nA + nB
        s(2) += o(2) + d * d * nA * nB / nT
        s(1) += d * nB / nT
        s(0) = nT
      }
  }
}

/** Groups in map order: the key (long, or UTF-8 string for a STRING group
  * child — a plan constant, so no per-entry flag), then (n, mean, M2). */
case class AnovaCodec(isStringGroup: Boolean) extends BufCodec[AnovaBuf] {
  def write(buf: AnovaBuf): Array[Byte] = {
    val keyBytes = buf.m.keysIterator.map {
      case s: String => s.getBytes(StandardCharsets.UTF_8)
      case _ => null
    }.toArray
    val size = 4 + buf.m.size * 24 +
      (if (isStringGroup) keyBytes.map(4 + _.length).sum else buf.m.size * 8)
    val bb = ByteBuffer.allocate(size)
    bb.putInt(buf.m.size)
    buf.m.iterator.zip(keyBytes.iterator).foreach { case ((g, s), kb) =>
      g match {
        case l: Long => bb.putLong(l)
        case _: String => bb.putInt(kb.length); bb.put(kb)
      }
      bb.putDouble(s(0)); bb.putDouble(s(1)); bb.putDouble(s(2))
    }
    bb.array()
  }
  def read(bytes: Array[Byte]): AnovaBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new AnovaBuf
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val g: Any =
        if (isStringGroup) {
          val kb = new Array[Byte](bb.getInt); bb.get(kb)
          new String(kb, StandardCharsets.UTF_8)
        } else bb.getLong
      buf.m.update(g, Array(bb.getDouble, bb.getDouble, bb.getDouble))
      i += 1
    }
    buf
  }
}

/** CH `analysisOfVariance(value, group_index)` (alias `anova`): one-way
  * ANOVA over any number of groups — returns (f_statistic, p_value).
  * State is one Welford triple per group index (O(groups), map-side
  * combined); F = [Σ n_g(x̄_g − x̄)²/(k−1)] / [Σ M2_g/(N−k)], and the
  * p-value is the F(k−1, N−k) upper tail via the regularized incomplete
  * beta (shared [[StatMath]] machinery — for 2 groups it equals the
  * two-sided pooled-t p, pinned in the spec). */
case class Anova(isStringGroup: Boolean) extends FoldSpec[AnovaBuf] {
  def name: String = "analysisOfVariance"
  def accepts: Seq[Arg] = Seq(Fold.numeric,
    Arg.Is(LongType, IntegerType, ShortType, StringType, BooleanType))
  def dataType(in: Seq[Expression]): DataType = StructType(Seq(
    StructField("f_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true)))
  @transient lazy val codec: BufCodec[AnovaBuf] = AnovaCodec(isStringGroup)
  def create(): AnovaBuf = new AnovaBuf

  private def groupOf(e: Expression, row: InternalRow): Option[Any] = e.eval(row) match {
    case null => None
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Boolean => Some(if (b) 1L else 0L)
    // the exact string is the key (copied out of the reused UTF8String
    // buffer) — a hashed id could silently merge two colliding labels
    case u: UTF8String => Some(u.toString)
  }

  def update(buf: AnovaBuf, in: Array[Expression], row: InternalRow): AnovaBuf = {
    val v = in(0).eval(row) match {
      case null => return buf
      case x => StatMath.numToDouble(x)
    }
    groupOf(in(1), row).foreach(g => buf.add(g, v))
    buf
  }
  def merge(buf: AnovaBuf, o: AnovaBuf): AnovaBuf = {
    o.m.foreach { case (g, s) => buf.mergeGroup(g, s) }
    buf
  }

  def eval(buf: AnovaBuf): Any = {
    val k = buf.m.size
    val bigN = buf.m.valuesIterator.map(_(0)).sum
    if (k < 2 || bigN <= k) return InternalRow(null, null)
    val grand = buf.m.valuesIterator.map(s => s(0) * s(1)).sum / bigN
    var ssb = 0d
    var ssw = 0d
    buf.m.valuesIterator.foreach { s =>
      val d = s(1) - grand
      ssb += s(0) * d * d
      ssw += s(2)
    }
    val d1 = (k - 1).toDouble
    val d2 = bigN - k
    if (ssw == 0d) {
      // ssb = ssw = 0 (all values identical): the statistic is 0/0 —
      // NaN like CH, never a false "infinitely significant" claim;
      // ssb > 0 with zero within-group variance IS perfect separation
      return if (ssb == 0d) InternalRow(Double.NaN, Double.NaN)
      else InternalRow(Double.PositiveInfinity, 0d)
    }
    val f = (ssb / d1) / (ssw / d2)
    // upper tail of F(d1, d2): I_{d2/(d2 + d1 f)}(d2/2, d1/2)
    val p = StatMath.betainc(d2 / 2, d1 / 2, d2 / (d2 + d1 * f))
    InternalRow(f, p)
  }
}

final class KahanBuf {
  /** float lane (sum + compensation) or exact Int64 lane — one active */
  var sum = 0d
  var comp = 0d
  var lsum = 0L
  var n = 0L
}

/** sum, compensation, long sum, count. */
object KahanBuf extends BufCodec[KahanBuf] {
  def write(buf: KahanBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(32)
    bb.putDouble(buf.sum); bb.putDouble(buf.comp)
    bb.putLong(buf.lsum); bb.putLong(buf.n)
    bb.array()
  }
  def read(bytes: Array[Byte]): KahanBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new KahanBuf
    buf.sum = bb.getDouble; buf.comp = bb.getDouble
    buf.lsum = bb.getLong; buf.n = bb.getLong
    buf
  }
}

/** CH `sumKahan(x)`: compensated (Kahan–Babuška/Neumaier) float
  * summation — the running compensation term rides the state, so
  * magnitude-mismatched additions (1e16 + 1.0 − 1e16) keep the small
  * term instead of losing it to rounding. Partials merge by Kahan-adding
  * the other side's sum and compensation. Integral inputs take an EXACT
  * Int64 lane instead (compensation can't beat exactness, and routing
  * Longs through Double would LOSE bits past 2^53 — the same contract as
  * groupArrayMovingSum's long lane); result type follows the lane. */
case class KahanSum(isLongIn: Boolean) extends FoldSpec[KahanBuf] {
  def name: String = "sumKahan"
  def accepts: Seq[Arg] = Seq(Fold.numeric)
  def dataType(in: Seq[Expression]): DataType = if (isLongIn) LongType else DoubleType
  override def nullable: Boolean = true
  def codec: BufCodec[KahanBuf] = KahanBuf
  def create(): KahanBuf = new KahanBuf

  private def kadd(buf: KahanBuf, v: Double): Unit = {
    // Neumaier's variant: robust when the addend exceeds the running sum
    val t = buf.sum + v
    buf.comp +=
      (if (math.abs(buf.sum) >= math.abs(v)) (buf.sum - t) + v
       else (v - t) + buf.sum)
    buf.sum = t
  }

  def update(buf: KahanBuf, in: Array[Expression], row: InternalRow): KahanBuf = {
    in(0).eval(row) match {
      case null => ()
      case d: Double => kadd(buf, d); buf.n += 1
      case f: Float => kadd(buf, f.toDouble); buf.n += 1
      case l: Long => buf.lsum += l; buf.n += 1
      case i: Int => buf.lsum += i; buf.n += 1
      case s: Short => buf.lsum += s; buf.n += 1
    }
    buf
  }
  def merge(buf: KahanBuf, o: KahanBuf): KahanBuf = {
    if (isLongIn) buf.lsum += o.lsum
    else { kadd(buf, o.sum); kadd(buf, o.comp) }
    buf.n += o.n
    buf
  }
  def eval(buf: KahanBuf): Any =
    if (buf.n == 0) null
    else if (isLongIn) buf.lsum
    else buf.sum + buf.comp
}

/** Centered co-moment state: n, means, and C[i][j] = Σ(xi−x̄i)(xj−x̄j)
  * (upper triangle stored, symmetric by construction). */
final class CoMomentBuf(val k: Int) {
  var n: Long = 0L
  val mean = new Array[Double](k)
  val c = Array.ofDim[Double](k, k) // only i <= j populated
  private val d = new Array[Double](k)

  def add(x: Array[Double]): Unit = {
    n += 1
    val f = (n - 1).toDouble / n
    var i = 0
    while (i < k) { d(i) = x(i) - mean(i); i += 1 }
    i = 0
    while (i < k) {
      var j = i
      while (j < k) { c(i)(j) += d(i) * d(j) * f; j += 1 }
      mean(i) += d(i) / n
      i += 1
    }
  }

  def mergeFrom(o: CoMomentBuf): Unit = {
    if (o.n == 0) return
    if (n == 0) {
      n = o.n
      Array.copy(o.mean, 0, mean, 0, k)
      var i = 0
      while (i < k) { Array.copy(o.c(i), 0, c(i), 0, k); i += 1 }
      return
    }
    val nA = n.toDouble; val nB = o.n.toDouble; val nT = nA + nB
    var i = 0
    while (i < k) { d(i) = o.mean(i) - mean(i); i += 1 }
    i = 0
    while (i < k) {
      var j = i
      while (j < k) { c(i)(j) += o.c(i)(j) + d(i) * d(j) * nA * nB / nT; j += 1 }
      mean(i) += d(i) * nB / nT
      i += 1
    }
    n += o.n
  }

  /** symmetric read */
  def cAt(i: Int, j: Int): Double = if (i <= j) c(i)(j) else c(j)(i)
}

/** n, the k means, then the upper triangle row by row. */
case class CoMomentCodec(k: Int) extends BufCodec[CoMomentBuf] {
  def write(buf: CoMomentBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * k + 8 * k * (k + 1) / 2)
    bb.putLong(buf.n)
    var i = 0
    while (i < k) { bb.putDouble(buf.mean(i)); i += 1 }
    i = 0
    while (i < k) {
      var j = i
      while (j < k) { bb.putDouble(buf.c(i)(j)); j += 1 }
      i += 1
    }
    bb.array()
  }
  def read(bytes: Array[Byte]): CoMomentBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new CoMomentBuf(k)
    buf.n = bb.getLong
    var i = 0
    while (i < k) { buf.mean(i) = bb.getDouble; i += 1 }
    i = 0
    while (i < k) {
      var j = i
      while (j < k) { buf.c(i)(j) = bb.getDouble; j += 1 }
      i += 1
    }
    buf
  }
}

/** `k`: the number of columns. */
case class CoMoment(mode: StatMatrix.Moment, k: Int) extends FoldSpec[CoMomentBuf] {
  require(k >= 1, s"$name needs at least one column")

  def name: String = s"${mode.name}Matrix"
  def accepts: Seq[Arg] = Seq(Fold.numeric)
  def dataType(in: Seq[Expression]): DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  @transient lazy val codec: BufCodec[CoMomentBuf] = CoMomentCodec(k)
  def create(): CoMomentBuf = new CoMomentBuf(k)

  def update(buf: CoMomentBuf, in: Array[Expression], row: InternalRow): CoMomentBuf = {
    val x = new Array[Double](k)
    var i = 0
    while (i < k) {
      in(i).eval(row) match {
        case null => return buf // CH skips the row if any column is NULL
        case d: Double => x(i) = d
        case f: Float => x(i) = f.toDouble
        case l: Long => x(i) = l.toDouble
        case n: Int => x(i) = n.toDouble
        case s: Short => x(i) = s.toDouble
      }
      i += 1
    }
    buf.add(x)
    buf
  }
  def merge(buf: CoMomentBuf, o: CoMomentBuf): CoMomentBuf = {
    buf.mergeFrom(o); buf
  }

  def eval(buf: CoMomentBuf): Any = {
    val rows = new Array[Any](k)
    var i = 0
    while (i < k) {
      val r = new Array[Any](k)
      var j = 0
      while (j < k) {
        r(j) = mode match {
          case StatMatrix.CovarPop =>
            if (buf.n < 1) Double.NaN else buf.cAt(i, j) / buf.n
          case StatMatrix.CovarSamp =>
            if (buf.n < 2) Double.NaN else buf.cAt(i, j) / (buf.n - 1)
          case StatMatrix.Corr =>
            // zero variance (or n<2) divides to NaN, matching CH's nan
            buf.cAt(i, j) / math.sqrt(buf.cAt(i, i) * buf.cAt(j, j))
        }
        j += 1
      }
      rows(i) = new GenericArrayData(r)
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** One-sample Student t: t = (x̄ − μ)/(s/√n), df = n−1; O(1) Welford. */
case class TTestOneSample(mu: Double) extends FoldSpec[TTestBuf] {
  def name: String = "studentTTestOneSample"
  def accepts: Seq[Arg] = Seq(Fold.numeric, Arg.AnyType)
  def dataType(in: Seq[Expression]): DataType = StructType(Seq(
    StructField("t_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true)))
  // one sample: group 0 only
  def codec: BufCodec[TTestBuf] = TTestBuf.one
  def create(): TTestBuf = new TTestBuf

  def update(buf: TTestBuf, in: Array[Expression], row: InternalRow): TTestBuf = {
    in(0).eval(row) match {
      case null => ()
      case d: Double => buf.add(0, d)
      case f: Float => buf.add(0, f.toDouble)
      case l: Long => buf.add(0, l.toDouble)
      case i: Int => buf.add(0, i.toDouble)
      case s: Short => buf.add(0, s.toDouble)
    }
    buf
  }
  def merge(buf: TTestBuf, o: TTestBuf): TTestBuf = { buf.mergeFrom(o); buf }

  def eval(buf: TTestBuf): Any = {
    val n = buf.n(0).toDouble
    if (n < 2) return InternalRow(null, null)
    val s2 = buf.m2(0) / (n - 1)
    val t = (buf.mean(0) - mu) / math.sqrt(s2 / n)
    InternalRow(t, StatMath.studentP(t, n - 1))
  }
}

final class InsertAtBuf {
  /** pos → value (Long | Double | String), smallest value kept on clash */
  private[graft] val m = mutable.HashMap.empty[Int, Any]
}

/** Entries in map order: position, then the value in the plan's lane (a
  * STRING value pads an 8-byte slot before its length and UTF-8 bytes). */
case class InsertAtCodec(isString: Boolean, isDouble: Boolean) extends BufCodec[InsertAtBuf] {
  def write(buf: InsertAtBuf): Array[Byte] = {
    val entries = buf.m.toSeq
    val strBytes = entries.map {
      case (_, s: String) => s.getBytes(StandardCharsets.UTF_8)
      case _ => null
    }
    val size = 4 + entries.length * 12 +
      strBytes.map(b => if (b == null) 0 else 4 + b.length).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(entries.length)
    entries.zip(strBytes).foreach { case ((pos, v), sb) =>
      bb.putInt(pos)
      v match {
        case l: Long => bb.putLong(l)
        case d: Double => bb.putDouble(d)
        case _: String => bb.putLong(0L); bb.putInt(sb.length); bb.put(sb)
      }
    }
    bb.array()
  }
  def read(bytes: Array[Byte]): InsertAtBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new InsertAtBuf
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val pos = bb.getInt
      val v: Any =
        if (isString) { bb.getLong; val b = new Array[Byte](bb.getInt); bb.get(b)
          new String(b, StandardCharsets.UTF_8) }
        else if (isDouble) bb.getDouble
        else bb.getLong
      buf.m.update(pos, v)
      i += 1
    }
    buf
  }
}

/** `lane`: LongType, DoubleType or StringType, from the value child;
  * `defaultValue`: the gap fill, already in the lane (null = NULL gaps);
  * `size`: the fixed result length, if given. */
case class GroupArrayInsertAt(lane: DataType, defaultValue: Any, size: Option[Int])
    extends FoldSpec[InsertAtBuf] {

  // guard against a hostile/corrupt position column allocating the driver
  // away: CH bounds positions too (it errors past array_size_overflow)
  private val MaxPos = 1 << 20

  private def isString = lane == StringType
  private def isDouble = lane == DoubleType

  def name: String = "groupArrayInsertAt"
  def accepts: Seq[Arg] = Seq(Arg.Is(LongType, IntegerType, DoubleType, FloatType, StringType),
    Arg.Is(LongType, IntegerType, ShortType), Arg.AnyType)
  // the default must live in the value lane, or serialization and the
  // unsafe array writer disagree at runtime — reject at analysis
  override def check(in: Seq[Expression]): Option[String] =
    in.lift(2).filterNot { d =>
      (d.dataType, in(0).dataType) match {
        case (NullType, _) => true
        case (StringType, StringType) => true
        case (StringType, _) | (_, StringType) => false
        case (LongType | IntegerType | ShortType | DoubleType | FloatType, _) => true
        case _ => false
      }
    }.map(d => s"$name: default type ${d.dataType.simpleString} " +
      s"does not match the value lane ${in(0).dataType.simpleString}")
  // a nullable default means NULL fills the gaps — the array type must
  // admit it or the unsafe writer reads the null back as 0
  def dataType(in: Seq[Expression]): DataType =
    ArrayType(lane, containsNull = in.lift(2).exists(_.nullable))
  @transient lazy val codec: BufCodec[InsertAtBuf] = InsertAtCodec(isString, isDouble)
  def create(): InsertAtBuf = new InsertAtBuf

  private def norm(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case f: Float => f.toDouble
    case i: Int => i.toLong
    case other => other // Long | Double | String
  }

  @annotation.nowarn("msg=match may not be exhaustive")
  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Double, y: Double) => x < y
    case (x: String, y: String) => x < y
  }

  def update(buf: InsertAtBuf, in: Array[Expression], row: InternalRow): InsertAtBuf = {
    val p = in(1).eval(row)
    val v = in(0).eval(row)
    if (p != null && v != null) {
      val pos = p.asInstanceOf[Number].intValue()
      require(pos >= 0 && pos <= MaxPos, s"$name: position out of range: $pos")
      val nv = norm(v)
      buf.m.get(pos) match {
        case Some(old) if !lt(nv, old) => ()
        case _ => buf.m.update(pos, nv)
      }
    }
    buf
  }
  def merge(buf: InsertAtBuf, o: InsertAtBuf): InsertAtBuf = {
    o.m.foreach { case (pos, nv) =>
      buf.m.get(pos) match {
        case Some(old) if !lt(nv, old) => ()
        case _ => buf.m.update(pos, nv)
      }
    }
    buf
  }

  def eval(buf: InsertAtBuf): Any = {
    val len = size.getOrElse(if (buf.m.isEmpty) 0 else buf.m.keys.max + 1)
    val out = new Array[Any](len)
    var i = 0
    while (i < len) {
      val v = buf.m.getOrElse(i, defaultValue)
      out(i) = v match {
        case s: String => UTF8String.fromString(s)
        case other => other
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

object GroupArrayInsertAt {
  /** The literal default coerced into the value lane (CH's type default
    * when absent). */
  def defaultIn(lane: DataType, default: Option[Any]): Any = default match {
    case Some(v) => v match {
      case null => null // explicit NULL default → NULL gaps (CH parity)
      case u: UTF8String => u.toString
      // coerce into the value lane so the typed array writer agrees
      case n: java.lang.Number => if (lane == DoubleType) n.doubleValue() else n.longValue()
      case other => other
    }
    case None => if (lane == StringType) "" else if (lane == DoubleType) 0.0d else 0L
  }
}
