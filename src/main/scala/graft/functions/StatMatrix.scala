package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
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
  *    [[TTestAgg]]; O(1) Welford state.
  *  - `groupArrayInsertAt(x, pos[, default[, size]])` (flat spelling of
  *    CH's `groupArrayInsertAt(default, size)(x, pos)`) — place each
  *    value at its position, `default` (or the type default) filling
  *    gaps. CH leaves same-position collisions unspecified; this port
  *    keeps the SMALLEST value for partition-order determinism.
  */
object StatMatrix {

  val functions = FunctionTable.define(this) { f =>
    for (mode <- Seq("corr", "covarSamp", "covarPop"))
      f(s"${mode}Matrix") { es =>
        CoMomentMatrixAgg(es, mode).toAggregateExpression()
      }
    f("studentTTestOneSample") { es =>
      TTestOneSampleAgg(es(0), es(1)).toAggregateExpression()
    }
    f("groupArrayInsertAt") { es =>
      GroupArrayInsertAtAgg(es(0), es(1),
        if (es.length >= 3) Some(es(2)) else None,
        if (es.length >= 4) Some(es(3)) else None).toAggregateExpression()
    }
    f("sumKahan") { es => KahanSumAgg(es.head).toAggregateExpression() }
    f("analysisOfVariance") { es =>
      AnovaAgg(es(0), es(1)).toAggregateExpression()
    }
    f("anova") { es => AnovaAgg(es(0), es(1)).toAggregateExpression() }
    f("groupArrayIntersect") { es =>
      GroupArrayIntersectAgg(es.head).toAggregateExpression()
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
  * null-seeded fold like [[BitmapFoldAggregate]]'s AND; the state only
  * ever SHRINKS after the seed, so it is bounded by the first row's
  * array. Output sorted ascending for partition-order determinism (CH
  * leaves the order unspecified). Long/Double/String element lanes.
  */
case class GroupArrayIntersectAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayIntersectBuf]
  with UnaryLike[Expression] {

  // hoisted: these pattern-match on dataType and sit inside per-element
  // hot loops
  private lazy val elem: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }
  private lazy val isString = elem == StringType
  private lazy val isDouble = elem match {
    case DoubleType | FloatType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType | IntegerType | ShortType | DoubleType | FloatType
                   | StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: array of long/double/string required (cast other " +
        s"element types), got ${t.simpleString}")
  }
  private def outElem: DataType =
    if (isString) StringType else if (isDouble) DoubleType else LongType
  override def dataType: DataType = ArrayType(outElem, containsNull = false)
  override def nullable: Boolean = false
  override def createAggregationBuffer(): ArrayIntersectBuf = new ArrayIntersectBuf

  private def norm(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case f: Float => f.toDouble
    case i: Int => i.toLong
    case s: Short => s.toLong
    case other => other
  }

  override def update(buf: ArrayIntersectBuf, row: InternalRow): ArrayIntersectBuf = {
    // once annihilated the intersection can never grow — skip the
    // per-row set build entirely
    if (buf.s != null && buf.s.isEmpty) return buf
    val a = child.eval(row)
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
  override def merge(buf: ArrayIntersectBuf, o: ArrayIntersectBuf): ArrayIntersectBuf = {
    if (o.s != null) {
      if (buf.s == null) buf.s = o.s
      else buf.s.filterInPlace(o.s.contains)
    }
    buf
  }

  override def eval(buf: ArrayIntersectBuf): Any = {
    if (buf.s == null) return new GenericArrayData(Array.empty[Any])
    val sorted: Array[Any] =
      if (isString) buf.s.toArray.map(_.asInstanceOf[String]).sorted
        .map(s => UTF8String.fromString(s): Any)
      else if (isDouble) buf.s.toArray.map(_.asInstanceOf[Double]).sorted
        .map(d => d: Any)
      else buf.s.toArray.map(_.asInstanceOf[Long]).sorted.map(l => l: Any)
    new GenericArrayData(sorted)
  }

  override def serialize(buf: ArrayIntersectBuf): Array[Byte] = {
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
  override def deserialize(bytes: Array[Byte]): ArrayIntersectBuf = {
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
  override def withNewMutableAggBufferOffset(o: Int): GroupArrayIntersectAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GroupArrayIntersectAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): GroupArrayIntersectAgg =
    copy(child = c)
  override def prettyName: String = "groupArrayIntersect"
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

/** CH `analysisOfVariance(value, group_index)` (alias `anova`): one-way
  * ANOVA over any number of groups — returns (f_statistic, p_value).
  * State is one Welford triple per group index (O(groups), map-side
  * combined); F = [Σ n_g(x̄_g − x̄)²/(k−1)] / [Σ M2_g/(N−k)], and the
  * p-value is the F(k−1, N−k) upper tail via the regularized incomplete
  * beta (shared [[StatMath]] machinery — for 2 groups it equals the
  * two-sided pooled-t p, pinned in the spec). */
case class AnovaAgg(
    valueChild: Expression,
    groupChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[AnovaBuf] {

  override def children: Seq[Expression] = Seq(valueChild, groupChild)

  override def checkInputDataTypes(): TypeCheckResult =
    (valueChild.dataType, groupChild.dataType) match {
      case (LongType | IntegerType | ShortType | DoubleType | FloatType,
            LongType | IntegerType | ShortType | StringType | BooleanType) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, g) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName(value, group): numeric value + integral/string group, " +
          s"got (${v.simpleString}, ${g.simpleString})")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("f_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true)))
  override def nullable: Boolean = false
  override def createAggregationBuffer(): AnovaBuf = new AnovaBuf

  private def groupOf(row: InternalRow): Option[Any] = groupChild.eval(row) match {
    case null => None
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Boolean => Some(if (b) 1L else 0L)
    // the exact string is the key (copied out of the reused UTF8String
    // buffer) — a hashed id could silently merge two colliding labels
    case u: UTF8String => Some(u.toString)
  }

  override def update(buf: AnovaBuf, row: InternalRow): AnovaBuf = {
    val v = valueChild.eval(row) match {
      case null => return buf
      case x => StatMath.numToDouble(x)
    }
    groupOf(row).foreach(g => buf.add(g, v))
    buf
  }
  override def merge(buf: AnovaBuf, o: AnovaBuf): AnovaBuf = {
    o.m.foreach { case (g, s) => buf.mergeGroup(g, s) }
    buf
  }

  override def eval(buf: AnovaBuf): Any = {
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

  // the key lane is a plan-constant property of the group child's type,
  // so the wire format needs no per-entry flag
  private def isStringGroup = groupChild.dataType == StringType

  override def serialize(buf: AnovaBuf): Array[Byte] = {
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
  override def deserialize(bytes: Array[Byte]): AnovaBuf = {
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
  override def withNewMutableAggBufferOffset(o: Int): AnovaAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): AnovaAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): AnovaAgg =
    copy(valueChild = cs(0), groupChild = cs(1))
  override def prettyName: String = "analysisOfVariance"
}

final class KahanBuf {
  /** float lane (sum + compensation) or exact Int64 lane — one active */
  var sum = 0d
  var comp = 0d
  var lsum = 0L
  var n = 0L
}

/** CH `sumKahan(x)`: compensated (Kahan–Babuška/Neumaier) float
  * summation — the running compensation term rides the state, so
  * magnitude-mismatched additions (1e16 + 1.0 − 1e16) keep the small
  * term instead of losing it to rounding. Partials merge by Kahan-adding
  * the other side's sum and compensation. Integral inputs take an EXACT
  * Int64 lane instead (compensation can't beat exactness, and routing
  * Longs through Double would LOSE bits past 2^53 — the same contract as
  * groupArrayMovingSum's long lane); result type follows the lane. */
case class KahanSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KahanBuf]
  with UnaryLike[Expression] {

  private val isLongIn = child.dataType match {
    case LongType | IntegerType | ShortType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType | FloatType | LongType | IntegerType | ShortType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sumKahan: numeric input required, got ${t.simpleString}")
  }
  override def dataType: DataType = if (isLongIn) LongType else DoubleType
  override def nullable: Boolean = true
  override def createAggregationBuffer(): KahanBuf = new KahanBuf

  private def kadd(buf: KahanBuf, v: Double): Unit = {
    // Neumaier's variant: robust when the addend exceeds the running sum
    val t = buf.sum + v
    buf.comp +=
      (if (math.abs(buf.sum) >= math.abs(v)) (buf.sum - t) + v
       else (v - t) + buf.sum)
    buf.sum = t
  }

  override def update(buf: KahanBuf, row: InternalRow): KahanBuf = {
    child.eval(row) match {
      case null => ()
      case d: Double => kadd(buf, d); buf.n += 1
      case f: Float => kadd(buf, f.toDouble); buf.n += 1
      case l: Long => buf.lsum += l; buf.n += 1
      case i: Int => buf.lsum += i; buf.n += 1
      case s: Short => buf.lsum += s; buf.n += 1
    }
    buf
  }
  override def merge(buf: KahanBuf, o: KahanBuf): KahanBuf = {
    if (isLongIn) buf.lsum += o.lsum
    else { kadd(buf, o.sum); kadd(buf, o.comp) }
    buf.n += o.n
    buf
  }
  override def eval(buf: KahanBuf): Any =
    if (buf.n == 0) null
    else if (isLongIn) buf.lsum
    else buf.sum + buf.comp

  override def serialize(buf: KahanBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(32)
    bb.putDouble(buf.sum); bb.putDouble(buf.comp)
    bb.putLong(buf.lsum); bb.putLong(buf.n)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): KahanBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new KahanBuf
    buf.sum = bb.getDouble; buf.comp = bb.getDouble
    buf.lsum = bb.getLong; buf.n = bb.getLong
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): KahanSumAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KahanSumAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KahanSumAgg =
    copy(child = c)
  override def prettyName: String = "sumKahan"
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

case class CoMomentMatrixAgg(
    children: Seq[Expression],
    mode: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CoMomentBuf] {

  require(Set("corr", "covarSamp", "covarPop")(mode), s"unknown matrix mode $mode")
  require(children.nonEmpty, s"$prettyName needs at least one column")
  private def k = children.length

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType match {
      case LongType | IntegerType | ShortType | DoubleType | FloatType => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName: numeric columns required")

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullable: Boolean = false
  override def createAggregationBuffer(): CoMomentBuf = new CoMomentBuf(k)

  override def update(buf: CoMomentBuf, row: InternalRow): CoMomentBuf = {
    val x = new Array[Double](k)
    var i = 0
    while (i < k) {
      children(i).eval(row) match {
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
  override def merge(buf: CoMomentBuf, o: CoMomentBuf): CoMomentBuf = {
    buf.mergeFrom(o); buf
  }

  override def eval(buf: CoMomentBuf): Any = {
    val rows = new Array[Any](k)
    var i = 0
    while (i < k) {
      val r = new Array[Any](k)
      var j = 0
      while (j < k) {
        r(j) = mode match {
          case "covarPop" =>
            if (buf.n < 1) Double.NaN else buf.cAt(i, j) / buf.n
          case "covarSamp" =>
            if (buf.n < 2) Double.NaN else buf.cAt(i, j) / (buf.n - 1)
          case "corr" =>
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

  override def serialize(buf: CoMomentBuf): Array[Byte] = {
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
  override def deserialize(bytes: Array[Byte]): CoMomentBuf = {
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
  override def withNewMutableAggBufferOffset(o: Int): CoMomentMatrixAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CoMomentMatrixAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): CoMomentMatrixAgg =
    copy(children = cs)
  override def prettyName: String = s"${mode}Matrix"
}

/** One-sample Student t: t = (x̄ − μ)/(s/√n), df = n−1; O(1) Welford. */
case class TTestOneSampleAgg(
    valueChild: Expression,
    muChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TTestBuf] {

  override def children: Seq[Expression] = Seq(valueChild, muChild)

  private lazy val mu: Double = muChild.eval(InternalRow.empty) match {
    case n: Number => n.doubleValue()
    case d: Decimal => d.toDouble
    case other => throw new IllegalArgumentException(
      s"$prettyName: population mean must be a numeric literal, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult = valueChild.dataType match {
    case LongType | IntegerType | ShortType | DoubleType | FloatType
      if muChild.foldable => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName(value, population_mean): numeric value + literal mean")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("t_statistic", DoubleType, nullable = true),
    StructField("p_value", DoubleType, nullable = true)))
  override def nullable: Boolean = false
  override def createAggregationBuffer(): TTestBuf = new TTestBuf

  override def update(buf: TTestBuf, row: InternalRow): TTestBuf = {
    valueChild.eval(row) match {
      case null => ()
      case d: Double => buf.add(0, d)
      case f: Float => buf.add(0, f.toDouble)
      case l: Long => buf.add(0, l.toDouble)
      case i: Int => buf.add(0, i.toDouble)
      case s: Short => buf.add(0, s.toDouble)
    }
    buf
  }
  override def merge(buf: TTestBuf, o: TTestBuf): TTestBuf = { buf.mergeFrom(o); buf }

  override def eval(buf: TTestBuf): Any = {
    val n = buf.n(0).toDouble
    if (n < 2) return InternalRow(null, null)
    val s2 = buf.m2(0) / (n - 1)
    val t = (buf.mean(0) - mu) / math.sqrt(s2 / n)
    InternalRow(t, StatMath.studentP(t, n - 1))
  }

  override def serialize(buf: TTestBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(24)
    bb.putLong(buf.n(0)); bb.putDouble(buf.mean(0)); bb.putDouble(buf.m2(0))
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): TTestBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TTestBuf
    buf.n(0) = bb.getLong; buf.mean(0) = bb.getDouble; buf.m2(0) = bb.getDouble
    buf
  }
  override def withNewMutableAggBufferOffset(o: Int): TTestOneSampleAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TTestOneSampleAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TTestOneSampleAgg =
    copy(valueChild = cs(0), muChild = cs(1))
  override def prettyName: String = "studentTTestOneSample"
}

final class InsertAtBuf {
  /** pos → value (Long | Double | String), smallest value kept on clash */
  private[graft] val m = mutable.HashMap.empty[Int, Any]
}

case class GroupArrayInsertAtAgg(
    valueChild: Expression,
    posChild: Expression,
    defaultChild: Option[Expression],
    sizeChild: Option[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[InsertAtBuf] {

  override def children: Seq[Expression] =
    Seq(valueChild, posChild) ++ defaultChild ++ sizeChild

  // guard against a hostile/corrupt position column allocating the driver
  // away: CH bounds positions too (it errors past array_size_overflow)
  private val MaxPos = 1 << 20

  private lazy val sizeOpt: Option[Int] = sizeChild.map(_.eval(InternalRow.empty) match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$prettyName: size must be an integer literal, got $other")
  })

  private def isString = valueChild.dataType == StringType
  private def isDouble = valueChild.dataType match {
    case DoubleType | FloatType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (valueChild.dataType, posChild.dataType) match {
      case (LongType | IntegerType | DoubleType | FloatType | StringType,
            LongType | IntegerType | ShortType)
        if defaultChild.forall(_.foldable) && sizeChild.forall(_.foldable) =>
        // the default must live in the value lane, or serialization and
        // the unsafe array writer disagree at runtime — reject at analysis
        val laneOk = defaultChild.forall { d =>
          (d.dataType, valueChild.dataType) match {
            case (NullType, _) => true
            case (StringType, StringType) => true
            case (StringType, _) | (_, StringType) => false
            case (LongType | IntegerType | ShortType | DoubleType | FloatType, _) => true
            case _ => false
          }
        }
        if (laneOk) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName: default type ${defaultChild.get.dataType.simpleString} " +
            s"does not match the value lane ${valueChild.dataType.simpleString}")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName(x, pos[, default[, size]]): long/double/string x (cast " +
          "other types), integral pos, literal default/size")
    }

  private def elemType: DataType =
    if (isString) StringType else if (isDouble) DoubleType else LongType
  // a nullable default means NULL fills the gaps — the array type must
  // admit it or the unsafe writer reads the null back as 0
  override def dataType: DataType =
    ArrayType(elemType, containsNull = defaultChild.exists(_.nullable))
  override def nullable: Boolean = false
  override def createAggregationBuffer(): InsertAtBuf = new InsertAtBuf

  private def norm(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case f: Float => f.toDouble
    case i: Int => i.toLong
    case other => other // Long | Double | String
  }
  private lazy val defaultValue: Any = defaultChild match {
    case Some(e) => e.eval(InternalRow.empty) match {
      case null => null // explicit NULL default → NULL gaps (CH parity)
      case u: UTF8String => u.toString
      // coerce into the value lane so the typed array writer agrees
      case n: java.lang.Number => if (isDouble) n.doubleValue() else n.longValue()
      case other => norm(other)
    }
    case None => if (isString) "" else if (isDouble) 0.0d else 0L
  }

  @annotation.nowarn("msg=match may not be exhaustive")
  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Double, y: Double) => x < y
    case (x: String, y: String) => x < y
  }

  override def update(buf: InsertAtBuf, row: InternalRow): InsertAtBuf = {
    val p = posChild.eval(row)
    val v = valueChild.eval(row)
    if (p != null && v != null) {
      val pos = p.asInstanceOf[Number].intValue()
      require(pos >= 0 && pos <= MaxPos, s"$prettyName: position out of range: $pos")
      val nv = norm(v)
      buf.m.get(pos) match {
        case Some(old) if !lt(nv, old) => ()
        case _ => buf.m.update(pos, nv)
      }
    }
    buf
  }
  override def merge(buf: InsertAtBuf, o: InsertAtBuf): InsertAtBuf = {
    o.m.foreach { case (pos, nv) =>
      buf.m.get(pos) match {
        case Some(old) if !lt(nv, old) => ()
        case _ => buf.m.update(pos, nv)
      }
    }
    buf
  }

  override def eval(buf: InsertAtBuf): Any = {
    val len = sizeOpt.getOrElse(if (buf.m.isEmpty) 0 else buf.m.keys.max + 1)
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

  override def serialize(buf: InsertAtBuf): Array[Byte] = {
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
  override def deserialize(bytes: Array[Byte]): InsertAtBuf = {
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
  override def withNewMutableAggBufferOffset(o: Int): GroupArrayInsertAtAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GroupArrayInsertAtAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): GroupArrayInsertAtAgg =
    copy(valueChild = cs(0), posChild = cs(1),
      defaultChild = defaultChild.map(_ => cs(2)),
      sizeChild = sizeChild.map(_ => cs(if (defaultChild.isDefined) 3 else 2)))
  override def prettyName: String = "groupArrayInsertAt"
}
