package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types._

/** Centroid-quantization primitives as Catalyst expressions — the IVF
  * coarse quantizer (nearest centroids by cosine) and the PQ codec
  * (per-subspace L2 nearest code, ADC lookup tables, ADC scoring). These
  * replace the interpreted per-row UDF closures on the index-BUILD paths
  * ([[graft.similarity.Ann.ivfIndex]], [[graft.similarity.Pq.encode]]):
  * O(nlist × dim) / O(ksub × dim) boxed work per corpus row was exactly
  * the cost the other hot loops already shed (LshSignaturesExpr et al.).
  *
  * Centroids/codebooks ride the plan as literals parsed ONCE at function
  * construction into primitive arrays (driver side, no per-row or
  * per-executor re-parse; nlist and m × ksub are small by IVF/PQ design).
  *
  * Every loop is arithmetic-identical to the UDF it replaced — same
  * double accumulation order, same min-length guards, same -2.0 empty
  * sentinels, same first-wins/lowest-id tie-breaks — so persisted
  * IvfIndex/PqIndex layouts built before the swap remain valid
  * (round-trip-gated by IvfIndexSpec/PqSpec, 0-mismatch-gated by
  * AnnSpec/PqSpec bit-identity probes).
  */
object VectorQuant {

  val functions = FunctionTable.define(this) { f =>
    f("nearest_centroids") { es =>
      require(es.length == 3, "usage: nearest_centroids(vec, centroidsLit, n)")
      val (cids, cents) = centroidsLit(es(1))
      NearestCentroidsExpr(es.head, cids, cents, intLit(es(2), "n"))
    }
    f("pq_nearest_code") { es =>
      require(es.length == 3, "usage: pq_nearest_code(mIdx, subvec, codebookLit)")
      PqNearestCodeExpr(es(0), es(1), codebookLit(es(2)))
    }
    f("pq_encode") { es =>
      require(es.length == 2, "usage: pq_encode(vec, codebookLit)")
      PqEncodeExpr(es.head, codebookLit(es(1)))
    }
    f("pq_lut") { es =>
      require(es.length == 2, "usage: pq_lut(vec, codebookLit)")
      PqLutExpr(es.head, codebookLit(es(1)))
    }
    f("pq_decode") { es =>
      require(es.length == 2, "usage: pq_decode(codes, codebookLit)")
      PqDecodeExpr(es.head, codebookLit(es(1)))
    }
    f("pq_adc_dot") { es =>
      require(es.length == 2, "usage: pq_adc_dot(codes, lut)")
      PqAdcDotExpr(es(0), es(1))
    }
    f("pq_recon_error") { es =>
      require(es.length == 2, "usage: pq_recon_error(vec, codebookLit)")
      PqReconErrorExpr(es.head, codebookLit(es(1)))
    }
    f("pq_adc_score") { es =>
      require(es.length == 4, "usage: pq_adc_score(codes, lut, pn, codebookLit)")
      val cb = codebookLit(es(3))
      // |centroid|² per (m, code), same double promotion as Codebook.cnorm2
      val cnorm2 = cb.map(_.map { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }
        s
      })
      PqAdcScoreExpr(es(0), es(1), es(2), cnorm2)
    }
  }

  /** Ids of the `n` nearest centroids to `vec` by cosine, ordered by
    * (-similarity, cid); ties to the lowest cid. n = 1 is IVF assignment.
    */
  def nearest_centroids(vec: Column, cents: Array[(Int, Array[Float])], n: Int): Column =
    call_function("nearest_centroids", vec,
      typedLit(cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }), lit(n))

  /** Nearest code of subspace `mIdx` for a subvector (L2). */
  def pq_nearest_code(mIdx: Column, subvec: Column, cb: Array[Array[Array[Float]]]): Column =
    call_function("pq_nearest_code", mIdx, subvec, cbLit(cb))

  /** All m codes for a full vector (L2 nearest per subspace). */
  def pq_encode(vec: Column, cb: Array[Array[Array[Float]]]): Column =
    call_function("pq_encode", vec, cbLit(cb))

  /** Per-probe ADC lookup table: lut[mi·ksub + c] = dot(probe subvec mi,
    * sub-centroid c).
    */
  def pq_lut(vec: Column, cb: Array[Array[Array[Float]]]): Column =
    call_function("pq_lut", vec, cbLit(cb))

  /** ADC cosine: dot from the LUT, reconstruction norm from the codebook
    * norms; -2.0 when either norm is zero.
    */
  def pq_adc_score(codes: Column, lut: Column, pn: Column,
      cb: Array[Array[Array[Float]]]): Column =
    call_function("pq_adc_score", codes, lut, pn, cbLit(cb))

  /** Squared reconstruction error of a vector under a codebook (summed
    * over subspaces) — the k-means training objective.
    */
  def pq_recon_error(vec: Column, cb: Array[Array[Array[Float]]]): Column =
    call_function("pq_recon_error", vec, cbLit(cb))

  /** Reconstructed vector from m codes: the concatenation of each
    * subspace's chosen sub-centroid (x̂ in ADC notation). For residual
    * coding the caller adds the coarse centroid back on top.
    */
  def pq_decode(codes: Column, cb: Array[Array[Array[Float]]]): Column =
    call_function("pq_decode", codes, cbLit(cb))

  /** Just the LUT-sum half of ADC: Σ_m lut[m·ksub + code_m] — dot(probe,
    * reconstruction). Norm handling is the caller's (residual coding keeps
    * reconstruction norms per encoded row, not per codebook cell).
    * m and ksub come from the runtime array lengths — no literal needed.
    */
  def pq_adc_dot(codes: Column, lut: Column): Column =
    call_function("pq_adc_dot", codes, lut)

  private def cbLit(cb: Array[Array[Array[Float]]]): Column =
    typedLit(cb.toSeq.map(_.toSeq.map(_.toSeq)))

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"VectorQuant: $what must be an integer literal, got $other")
  }

  /** array<struct<cid,int-like vec>> literal → (cids, centroid vectors). */
  private def centroidsLit(e: Expression): (Array[Int], Array[Array[Float]]) = e match {
    case Literal(ad: ArrayData, ArrayType(StructType(fields), _))
        if fields.length == 2 =>
      val n = ad.numElements()
      val cids = new Array[Int](n)
      val cents = new Array[Array[Float]](n)
      var i = 0
      while (i < n) {
        val row = ad.getStruct(i, 2)
        cids(i) = row.getInt(0)
        cents(i) = row.getArray(1).toFloatArray()
        i += 1
      }
      (cids, cents)
    case other => throw new IllegalArgumentException(
      s"VectorQuant: centroids must be an array<struct<int,array<float>>> literal, got $other")
  }

  /** array<array<array<float>>> literal → [m][code][subdim] codebook. */
  private def codebookLit(e: Expression): Array[Array[Array[Float]]] = e match {
    case Literal(ad: ArrayData, ArrayType(ArrayType(ArrayType(FloatType, _), _), _)) =>
      Array.tabulate(ad.numElements()) { mi =>
        val sub = ad.getArray(mi)
        Array.tabulate(sub.numElements())(c => sub.getArray(c).toFloatArray())
      }
    case other => throw new IllegalArgumentException(
      s"VectorQuant: codebook must be an array<array<array<float>>> literal, got $other")
  }

  /** The shared cosine kernel — arithmetic-identical to the former
    * Ann.cosineLocal UDF helper (min-length loop, same accumulation
    * order, -2.0 zero-norm sentinel).
    */
  private[functions] def cosineVs(a: ArrayData, aIsFloat: Boolean, b: Array[Float]): Double = {
    val n = math.min(a.numElements(), b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = if (aIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0 || nb == 0) -2.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Ids of the n nearest centroids by cosine; see [[VectorQuant]]. */
case class NearestCentroidsExpr(
    child: Expression, cids: Array[Int], cents: Array[Array[Float]], n: Int)
  extends Expression
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] with CodegenFallback {

  require(cents.nonEmpty, "nearest_centroids: empty centroid set")
  require(n >= 1, s"nearest_centroids: n must be >= 1, got $n")

  @transient private lazy val childIsFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroids requires array<float|double>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val m = cents.length
    val sims = new Array[Double](m)
    var i = 0
    while (i < m) {
      sims(i) = VectorQuant.cosineVs(a, childIsFloat, cents(i))
      i += 1
    }
    // top-n selection by (-sim, cid) — the sortBy order of the UDF form;
    // repeated scan beats a heap at IVF-sized nlist and tiny n
    val take = math.min(n, m)
    val out = new Array[Any](take)
    val used = new Array[Boolean](m)
    var j = 0
    while (j < take) {
      var best = -1
      var k = 0
      while (k < m) {
        if (!used(k) && (best == -1 ||
            sims(k) > sims(best) ||
            (sims(k) == sims(best) && cids(k) < cids(best)))) best = k
        k += 1
      }
      used(best) = true
      out(j) = cids(best)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroidsExpr =
    copy(child = c)
  override def prettyName: String = "nearest_centroids"
}

/** Shared L2 nearest-code kernel (strict <, first-wins ties — identical to
  * the former Pq.nearestCode).
  */
private[functions] object PqKernels {
  def nearestCode(a: ArrayData, aIsFloat: Boolean, off: Int, len: Int,
      cents: Array[Array[Float]]): Int = {
    // vectors shorter than m*subDim zero-pad the missing tail — the
    // Arrays.copyOfRange semantics of the UDFs these expressions replaced
    val avail = a.numElements()
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val n = math.min(len, cent.length)
      var s = 0.0; var i = 0
      while (i < n) {
        val x = if (off + i >= avail) 0.0
          else if (aIsFloat) a.getFloat(off + i).toDouble else a.getDouble(off + i)
        val d = x - cent(i).toDouble
        s += d * d; i += 1
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def vecTypeOk(e: Expression, name: String): TypeCheckResult = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$name requires array<float|double>, got ${t.simpleString}")
  }
}

/** L2-nearest code of one subspace; see [[VectorQuant]]. */
case class PqNearestCodeExpr(mIdx: Expression, subvec: Expression,
    cb: Array[Array[Array[Float]]])
  extends Expression
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] with CodegenFallback {

  override def left: Expression = mIdx
  override def right: Expression = subvec
  @transient private lazy val isFloat = PqKernels.isFloatArray(subvec)

  override def checkInputDataTypes(): TypeCheckResult =
    if (mIdx.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"pq_nearest_code: mIdx must be int, got ${mIdx.dataType.simpleString}")
    else PqKernels.vecTypeOk(subvec, "pq_nearest_code")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val mi = mIdx.eval(input)
    val v = subvec.eval(input)
    if (mi == null || v == null) return null
    val a = v.asInstanceOf[ArrayData]
    java.lang.Integer.valueOf(
      PqKernels.nearestCode(a, isFloat, 0, a.numElements(), cb(mi.asInstanceOf[Int])))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqNearestCodeExpr =
    copy(mIdx = l, subvec = r)
  override def prettyName: String = "pq_nearest_code"
}

/** All m codes of a full vector; see [[VectorQuant]]. */
case class PqEncodeExpr(child: Expression, cb: Array[Array[Array[Float]]])
  extends Expression
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] with CodegenFallback {

  require(cb.nonEmpty && cb.head.nonEmpty, "pq_encode: empty codebook")
  private val m = cb.length
  private val subDim = cb.head.head.length

  @transient private lazy val isFloat = PqKernels.isFloatArray(child)
  override def checkInputDataTypes(): TypeCheckResult =
    PqKernels.vecTypeOk(child, "pq_encode")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      out(mi) = PqKernels.nearestCode(a, isFloat, mi * subDim, subDim, cb(mi))
      mi += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): PqEncodeExpr =
    copy(child = c)
  override def prettyName: String = "pq_encode"
}

/** Squared reconstruction error under a codebook; see [[VectorQuant]].
  * Same kernel as encode (nearest code per subspace) but returning the
  * winning L2 distance sum instead of the codes.
  */
case class PqReconErrorExpr(child: Expression, cb: Array[Array[Array[Float]]])
  extends Expression
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] with CodegenFallback {

  require(cb.nonEmpty && cb.head.nonEmpty, "pq_recon_error: empty codebook")
  private val m = cb.length
  private val subDim = cb.head.head.length

  @transient private lazy val isFloat = PqKernels.isFloatArray(child)
  override def checkInputDataTypes(): TypeCheckResult =
    PqKernels.vecTypeOk(child, "pq_recon_error")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val avail = a.numElements() // short vectors zero-pad (copyOfRange semantics)
    var total = 0.0
    var mi = 0
    while (mi < m) {
      val cents = cb(mi)
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        val n = math.min(subDim, cent.length)
        var s = 0.0; var i = 0
        while (i < n) {
          val x = if (mi * subDim + i >= avail) 0.0
            else if (isFloat) a.getFloat(mi * subDim + i).toDouble
            else a.getDouble(mi * subDim + i)
          val d = x - cent(i).toDouble
          s += d * d; i += 1
        }
        if (s < bestD) bestD = s
        c += 1
      }
      total += bestD
      mi += 1
    }
    java.lang.Double.valueOf(total)
  }

  override protected def withNewChildInternal(c: Expression): PqReconErrorExpr =
    copy(child = c)
  override def prettyName: String = "pq_recon_error"
}

/** Per-probe ADC lookup table; see [[VectorQuant]]. */
case class PqLutExpr(child: Expression, cb: Array[Array[Array[Float]]])
  extends Expression
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] with CodegenFallback {

  require(cb.nonEmpty && cb.head.nonEmpty, "pq_lut: empty codebook")
  private val m = cb.length
  private val ksub = cb.head.length
  private val subDim = cb.head.head.length

  @transient private lazy val isFloat = PqKernels.isFloatArray(child)
  override def checkInputDataTypes(): TypeCheckResult =
    PqKernels.vecTypeOk(child, "pq_lut")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val avail = a.numElements() // short vectors zero-pad (copyOfRange semantics)
    val lut = new Array[Double](m * ksub)
    var mi = 0
    while (mi < m) {
      var c = 0
      while (c < ksub) {
        val cent = cb(mi)(c)
        var s = 0.0; var i = 0
        while (i < subDim) {
          val x = if (mi * subDim + i >= avail) 0.0
            else if (isFloat) a.getFloat(mi * subDim + i).toDouble
            else a.getDouble(mi * subDim + i)
          s += x * cent(i).toDouble
          i += 1
        }
        lut(mi * ksub + c) = s
        c += 1
      }
      mi += 1
    }
    ArrayData.toArrayData(lut)
  }

  override protected def withNewChildInternal(c: Expression): PqLutExpr =
    copy(child = c)
  override def prettyName: String = "pq_lut"
}

/** Reconstruction of a code row: concat of chosen sub-centroids; see
  * [[VectorQuant.pq_decode]].
  */
case class PqDecodeExpr(child: Expression, cb: Array[Array[Array[Float]]])
  extends Expression
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] with CodegenFallback {

  require(cb.nonEmpty && cb.head.nonEmpty, "pq_decode: empty codebook")
  private val m = cb.length
  private val subDim = cb.head.head.length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_decode requires array<int> codes, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    require(a.numElements() == m, s"pq_decode: expected $m codes, got ${a.numElements()}")
    val out = new Array[Float](m * subDim)
    var mi = 0
    while (mi < m) {
      val c = a.getInt(mi)
      require(c >= 0 && c < cb(mi).length,
        s"pq_decode: code $c out of range [0, ${cb(mi).length}) in subspace $mi — " +
          "codes were produced by a different codebook")
      val cent = cb(mi)(c)
      require(cent.length == subDim,
        s"pq_decode: ragged codebook — sub-centroid ($mi, $c) has ${cent.length} dims, expected $subDim")
      System.arraycopy(cent, 0, out, mi * subDim, subDim)
      mi += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): PqDecodeExpr =
    copy(child = c)
  override def prettyName: String = "pq_decode"
}

/** LUT-sum half of ADC (dot of probe with the reconstruction); m/ksub are
  * inferred from the runtime array lengths. See [[VectorQuant.pq_adc_dot]].
  */
case class PqAdcDotExpr(codes: Expression, lut: Expression)
  extends Expression
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] with CodegenFallback {

  override def left: Expression = codes
  override def right: Expression = lut

  override def checkInputDataTypes(): TypeCheckResult =
    if (!codes.dataType.isInstanceOf[ArrayType] ||
        codes.dataType.asInstanceOf[ArrayType].elementType != IntegerType)
      TypeCheckResult.TypeCheckFailure("pq_adc_dot: codes must be array<int>")
    else if (!lut.dataType.isInstanceOf[ArrayType] ||
        lut.dataType.asInstanceOf[ArrayType].elementType != DoubleType)
      TypeCheckResult.TypeCheckFailure("pq_adc_dot: lut must be array<double>")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val cv = codes.eval(input)
    val lv = lut.eval(input)
    if (cv == null || lv == null) return null
    val ca = cv.asInstanceOf[ArrayData]
    val la = lv.asInstanceOf[ArrayData]
    val m = ca.numElements()
    if (m == 0) return java.lang.Double.valueOf(0.0)
    require(la.numElements() % m == 0,
      s"pq_adc_dot: LUT length ${la.numElements()} not divisible by $m codes — " +
        "codes and LUT come from different codebooks")
    val ksub = la.numElements() / m
    var dot = 0.0; var mi = 0
    while (mi < m) {
      val c = ca.getInt(mi)
      require(c >= 0 && c < ksub,
        s"pq_adc_dot: code $c out of range [0, $ksub) in subspace $mi")
      dot += la.getDouble(mi * ksub + c)
      mi += 1
    }
    java.lang.Double.valueOf(dot)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcDotExpr =
    copy(codes = l, lut = r)
  override def prettyName: String = "pq_adc_dot"
}

/** ADC cosine score of one candidate; see [[VectorQuant]]. */
case class PqAdcScoreExpr(codes: Expression, lut: Expression, pn: Expression,
    cnorm2: Array[Array[Double]])
  extends Expression
  with org.apache.spark.sql.catalyst.trees.TernaryLike[Expression] with CodegenFallback {

  private val m = cnorm2.length
  private val ksub = if (cnorm2.isEmpty) 0 else cnorm2.head.length

  override def first: Expression = codes
  override def second: Expression = lut
  override def third: Expression = pn

  override def checkInputDataTypes(): TypeCheckResult =
    if (!codes.dataType.isInstanceOf[ArrayType] ||
        codes.dataType.asInstanceOf[ArrayType].elementType != IntegerType)
      TypeCheckResult.TypeCheckFailure("pq_adc_score: codes must be array<int>")
    else if (!lut.dataType.isInstanceOf[ArrayType] ||
        lut.dataType.asInstanceOf[ArrayType].elementType != DoubleType)
      TypeCheckResult.TypeCheckFailure("pq_adc_score: lut must be array<double>")
    else if (pn.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("pq_adc_score: pn must be double")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val cv = codes.eval(input)
    val lv = lut.eval(input)
    val pv = pn.eval(input)
    if (cv == null || lv == null || pv == null) return null
    val ca = cv.asInstanceOf[ArrayData]
    val la = lv.asInstanceOf[ArrayData]
    val p = pv.asInstanceOf[Double]
    var dot = 0.0; var xn2 = 0.0; var mi = 0
    while (mi < m) {
      val c = ca.getInt(mi)
      dot += la.getDouble(mi * ksub + c)
      xn2 += cnorm2(mi)(c)
      mi += 1
    }
    java.lang.Double.valueOf(
      if (xn2 == 0.0 || p == 0.0) -2.0 else dot / (p * math.sqrt(xn2)))
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqAdcScoreExpr =
    copy(codes = f, lut = s, pn = t)
  override def prettyName: String = "pq_adc_score"
}
