package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Vector arithmetic as a Catalyst expression with a primitive while-loop
  * eval. The composable `zip_with` + `aggregate` formulation allocates a
  * lambda-variable box per element per row — fine at 500 rows, ruinous on a
  * 100 TB embedding sweep. This walks the two ArrayData buffers directly:
  * one object call per row, zero per-element allocation.
  *
  * Semantics (and summation order) are identical to the composed form:
  * products in index order, sequential double accumulation — so results
  * stay bit-equal to the DuckDB oracle's mirrored fold.
  */
object VectorOps {
  val functions = FunctionTable.define(this) { f =>
    f("cosine_sim")(cosine)
    f("mean_vector")(exprs => MeanVectorAggregate(exprs.head))
    f("l2_norm")(unary("l2Norm", "l2_norm", DoubleType))
    f("l2_normalize")(unary("l2Normalize", "l2_normalize", ArrayType(DoubleType, containsNull = false)))
    f("quantize_int8")(unary("quantizeInt8", "quantize_int8", ArrayType(IntegerType, containsNull = false)))
  }

  private[functions] val vector = Arg.ArrayOf(Arg.Is(FloatType, DoubleType))

  /** Whether a vector argument's elements are floats (else doubles). */
  private[functions] def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private[functions] def cosine(es: Seq[Expression]): Kernel =
    Kernel.of(this, "cosineSim", "cosine_sim", DoubleType, es, Seq(vector, vector),
      es.map(isFloat), returnsNull = true)

  private[functions] def unary(method: String, name: String, out: DataType)(es: Seq[Expression]): Kernel =
    Kernel.of(this, method, name, out, es, Seq(vector), es.take(1).map(isFloat), returnsNull = true)

  /** Cosine similarity of two float/double array columns, in double. */
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Element-wise mean of a float-array column (double accumulation) —
    * the centroid update of a distributed k-means step.
    */
  def mean_vector(c: Column): Column = call_function("mean_vector", c)

  /** Euclidean norm in double (index-order accumulation — oracle-mirrorable). */
  def l2_norm(c: Column): Column = call_function("l2_norm", c)

  /** Unit-normalized copy (double elements); null for a zero vector. */
  def l2_normalize(c: Column): Column = call_function("l2_normalize", c)

  /** Symmetric max-abs int8 quantization: code_i = floor(x_i·127/maxabs + 0.5)
    * — the storage-shrink step before ANN indexing (4× over float32).
    * Null for a zero vector.
    */
  def quantize_int8(c: Column): Column = call_function("quantize_int8", c)

  private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** sqrt of the index-order sum of squares — bit-identical to the
    * q40-style mirrored DuckDB fold. */
  def l2Norm(a: ArrayData, isFloat: Boolean): java.lang.Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { val x = elem(a, i, isFloat); s += x * x; i += 1 }
    java.lang.Double.valueOf(math.sqrt(s))
  }

  def l2Normalize(a: ArrayData, isFloat: Boolean): ArrayData = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { val x = elem(a, i, isFloat); s += x * x; i += 1 }
    if (s == 0.0) return null
    val norm = math.sqrt(s)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = elem(a, i, isFloat) / norm; i += 1 }
    ArrayData.toArrayData(out)
  }

  /** floor(x·127/maxabs + 0.5) per element (round-half-up, codes in
    * [-127, 127] by construction — x = ±maxabs lands exactly on ±127).
    */
  def quantizeInt8(a: ArrayData, isFloat: Boolean): ArrayData = {
    var mx = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { val x = math.abs(elem(a, i, isFloat)); if (x > mx) mx = x; i += 1 }
    if (mx == 0.0) return null
    val out = new Array[Int](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(elem(a, i, isFloat) * 127.0 / mx + 0.5).toInt
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  def cosineSim(a: ArrayData, b: ArrayData, leftIsFloat: Boolean,
      rightIsFloat: Boolean): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, leftIsFloat)
      val y = elem(b, i, rightIsFloat)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}

/** Element-wise mean of array<float> rows — a [[TypedImperativeAggregate]]
  * with map-side partial combine: each partition reduces to one
  * (sum-vector, count) pair before the shuffle, so the exchange moves
  * O(groups × dim) regardless of corpus size. The Lloyd-update primitive
  * for [[graft.similarity.Ann.refineCentroids]].
  */
case class MeanVectorAggregate(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[MeanVecBuf]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"mean_vector requires array<float>, got ${t.simpleString}")
  }

  override def createAggregationBuffer(): MeanVecBuf = MeanVecBuf(null, 0L)

  override def update(b: MeanVecBuf, row: org.apache.spark.sql.catalyst.InternalRow): MeanVecBuf = {
    val v = child.eval(row)
    if (v == null) return b
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val sums = if (b.sums == null) new Array[Double](n) else b.sums
    // jagged input would silently skew the mean — fail loudly instead
    require(n == sums.length,
      s"mean_vector: inconsistent vector dims in one group ($n vs ${sums.length})")
    var i = 0
    while (i < n) { sums(i) += a.getFloat(i).toDouble; i += 1 }
    MeanVecBuf(sums, b.count + 1)
  }

  override def merge(b: MeanVecBuf, o: MeanVecBuf): MeanVecBuf = {
    if (o.sums == null) return b
    if (b.sums == null) return o
    require(b.sums.length == o.sums.length,
      s"mean_vector: inconsistent vector dims across partials (${b.sums.length} vs ${o.sums.length})")
    var i = 0
    while (i < b.sums.length) { b.sums(i) += o.sums(i); i += 1 }
    MeanVecBuf(b.sums, b.count + o.count)
  }

  override def eval(b: MeanVecBuf): Any =
    if (b.sums == null || b.count == 0L) null
    else org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      b.sums.map(s => (s / b.count).toFloat))

  override def serialize(b: MeanVecBuf): Array[Byte] = {
    val n = if (b.sums == null) 0 else b.sums.length
    val buf = java.nio.ByteBuffer.allocate(12 + 8 * n)
    buf.putLong(b.count).putInt(n)
    var i = 0
    while (i < n) { buf.putDouble(b.sums(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): MeanVecBuf = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val count = buf.getLong; val n = buf.getInt
    if (n == 0) MeanVecBuf(null, count)
    else MeanVecBuf(Array.fill(n)(buf.getDouble), count)
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override def withNewMutableAggBufferOffset(o: Int): MeanVectorAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MeanVectorAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): MeanVectorAggregate =
    copy(child = c)
  override def prettyName: String = "mean_vector"
}

/** (element-wise double sums, row count) partial for [[MeanVectorAggregate]]. */
case class MeanVecBuf(sums: Array[Double], count: Long)
