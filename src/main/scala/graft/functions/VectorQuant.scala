package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types._

/** Centroid-quantization primitives as Catalyst expressions — the IVF
  * coarse quantizer (nearest centroids by cosine) and the PQ codec
  * (per-subspace L2 nearest code, ADC lookup tables, ADC scoring). These
  * replace the interpreted per-row UDF closures on the index-BUILD paths
  * ([[graft.similarity.Ann.ivfIndex]], [[graft.similarity.Pq.encode]]):
  * O(nlist × dim) / O(ksub × dim) boxed work per corpus row was exactly
  * the cost the other hot loops already shed (lsh_signatures et al.).
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
      val n = intLit(es(2), "n")
      require(cents.nonEmpty, "nearest_centroids: empty centroid set")
      require(n >= 1, s"nearest_centroids: n must be >= 1, got $n")
      kernel("nearestCentroids", "nearest_centroids", ArrayType(IntegerType, containsNull = false),
        es.take(1), Seq(VectorOps.vector), Seq(cids, cents, n, VectorOps.isFloat(es.head)))
    }
    f("pq_nearest_code") { es =>
      require(es.length == 3, "usage: pq_nearest_code(mIdx, subvec, codebookLit)")
      kernel("pqNearestCode", "pq_nearest_code", IntegerType, es.take(2),
        Seq(Arg.Is(IntegerType), VectorOps.vector), Seq(codebookLit(es(2)), VectorOps.isFloat(es(1))))
    }
    f("pq_encode") { es =>
      require(es.length == 2, "usage: pq_encode(vec, codebookLit)")
      codebookKernel("pqEncode", "pq_encode", ArrayType(IntegerType, containsNull = false), es)
    }
    f("pq_lut") { es =>
      require(es.length == 2, "usage: pq_lut(vec, codebookLit)")
      codebookKernel("pqLut", "pq_lut", ArrayType(DoubleType, containsNull = false), es)
    }
    f("pq_decode") { es =>
      require(es.length == 2, "usage: pq_decode(codes, codebookLit)")
      val cb = codebook(es(1), "pq_decode")
      kernel("pqDecode", "pq_decode", ArrayType(FloatType, containsNull = false), es.take(1),
        Seq(codes), Seq(cb))
    }
    f("pq_adc_dot") { es =>
      require(es.length == 2, "usage: pq_adc_dot(codes, lut)")
      kernel("pqAdcDot", "pq_adc_dot", DoubleType, es, Seq(codes, lut), Nil)
    }
    f("pq_recon_error") { es =>
      require(es.length == 2, "usage: pq_recon_error(vec, codebookLit)")
      codebookKernel("pqReconError", "pq_recon_error", DoubleType, es)
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
      kernel("pqAdcScore", "pq_adc_score", DoubleType, es.take(3),
        Seq(codes, lut, Arg.Is(DoubleType)), Seq(cnorm2))
    }
  }

  private val codes = Arg.ArrayOf(Arg.Is(IntegerType))
  private val lut = Arg.ArrayOf(Arg.Is(DoubleType))

  private def kernel(method: String, name: String, out: DataType, es: Seq[Expression],
      accepts: Seq[Arg], params: Seq[Any]): Kernel =
    Kernel.of(this, method, name, out, es, accepts, params, returnsNull = true)

  private def codebook(e: Expression, name: String): Array[Array[Array[Float]]] = {
    val cb = codebookLit(e)
    require(cb.nonEmpty && cb.head.nonEmpty, s"$name: empty codebook")
    cb
  }

  /** `name(vec, codebookLit)`: a vector child, the codebook and the
    * vector's element kind as params. */
  private def codebookKernel(method: String, name: String, out: DataType,
      es: Seq[Expression]): Kernel =
    kernel(method, name, out, es.take(1), Seq(VectorOps.vector),
      Seq(codebook(es(1), name), VectorOps.isFloat(es.head)))

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
  private def cosineVs(a: ArrayData, aIsFloat: Boolean, b: Array[Float]): Double = {
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

  // ---- kernel methods -------------------------------------------------

  /** Shared L2 nearest-code kernel (strict <, first-wins ties — identical
    * to the former Pq.nearestCode). */
  private def nearestCode(a: ArrayData, aIsFloat: Boolean, off: Int, len: Int,
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

  /** Ids of the n nearest centroids by cosine, ordered by (-similarity,
    * cid); ties to the lowest cid. */
  def nearestCentroids(a: ArrayData, cids: Array[Int], cents: Array[Array[Float]], n: Int,
      isFloat: Boolean): ArrayData = {
    val m = cents.length
    val sims = new Array[Double](m)
    var i = 0
    while (i < m) {
      sims(i) = cosineVs(a, isFloat, cents(i))
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

  /** L2-nearest code of one subspace. */
  def pqNearestCode(mi: Int, a: ArrayData, cb: Array[Array[Array[Float]]], isFloat: Boolean): Int =
    nearestCode(a, isFloat, 0, a.numElements(), cb(mi))

  /** All m codes of a full vector. */
  def pqEncode(a: ArrayData, cb: Array[Array[Array[Float]]], isFloat: Boolean): ArrayData = {
    val m = cb.length
    val subDim = cb.head.head.length
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      out(mi) = nearestCode(a, isFloat, mi * subDim, subDim, cb(mi))
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** Squared reconstruction error under a codebook: the same kernel as
    * encode (nearest code per subspace) but returning the winning L2
    * distance sum instead of the codes. */
  def pqReconError(a: ArrayData, cb: Array[Array[Array[Float]]], isFloat: Boolean): Double = {
    val m = cb.length
    val subDim = cb.head.head.length
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
    total
  }

  /** Per-probe ADC lookup table. */
  def pqLut(a: ArrayData, cb: Array[Array[Array[Float]]], isFloat: Boolean): ArrayData = {
    val m = cb.length
    val ksub = cb.head.length
    val subDim = cb.head.head.length
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

  /** Reconstruction of a code row: concat of chosen sub-centroids. */
  def pqDecode(a: ArrayData, cb: Array[Array[Array[Float]]]): ArrayData = {
    val m = cb.length
    val subDim = cb.head.head.length
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

  /** LUT-sum half of ADC (dot of probe with the reconstruction); m/ksub
    * are inferred from the runtime array lengths. */
  def pqAdcDot(ca: ArrayData, la: ArrayData): Double = {
    val m = ca.numElements()
    if (m == 0) return 0.0
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
    dot
  }

  /** ADC cosine score of one candidate. */
  def pqAdcScore(ca: ArrayData, la: ArrayData, p: Double, cnorm2: Array[Array[Double]]): Double = {
    val m = cnorm2.length
    val ksub = if (cnorm2.isEmpty) 0 else cnorm2.head.length
    var dot = 0.0; var xn2 = 0.0; var mi = 0
    while (mi < m) {
      val c = ca.getInt(mi)
      dot += la.getDouble(mi * ksub + c)
      xn2 += cnorm2(mi)(c)
      mi += 1
    }
    if (xn2 == 0.0 || p == 0.0) -2.0 else dot / (p * math.sqrt(xn2))
  }
}
