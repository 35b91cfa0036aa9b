package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
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
    f("cosine_sim")(exprs => CosineSimilarity(exprs(0), exprs(1)))
    f("mean_vector")(exprs => MeanVectorAggregate(exprs.head))
    f("l2_norm")(exprs => L2Norm(exprs.head))
    f("l2_normalize")(exprs => L2Normalize(exprs.head))
    f("quantize_int8")(exprs => QuantizeInt8(exprs.head))
  }

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
}

/** Shared primitive-loop base for unary vector expressions. */
trait VectorUnary extends Expression
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] with CodegenFallback {

  def child: Expression

  @transient protected lazy val childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${t.simpleString}")
  }

  protected def elem(a: ArrayData, i: Int): Double =
    if (childIsFloat) a.getFloat(i).toDouble else a.getDouble(i)

  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else evalVector(v.asInstanceOf[ArrayData])
  }

  protected def evalVector(a: ArrayData): Any
}

/** sqrt of the index-order sum of squares — bit-identical to the q40-style
  * mirrored DuckDB fold.
  */
case class L2Norm(child: Expression) extends VectorUnary {
  override def dataType: DataType = DoubleType
  override protected def evalVector(a: ArrayData): Any = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { val x = elem(a, i); s += x * x; i += 1 }
    java.lang.Double.valueOf(math.sqrt(s))
  }
  override protected def withNewChildInternal(c: Expression): L2Norm = copy(child = c)
  override def prettyName: String = "l2_norm"
}

case class L2Normalize(child: Expression) extends VectorUnary {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def evalVector(a: ArrayData): Any = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { val x = elem(a, i); s += x * x; i += 1 }
    if (s == 0.0) return null
    val norm = math.sqrt(s)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = elem(a, i) / norm; i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): L2Normalize = copy(child = c)
  override def prettyName: String = "l2_normalize"
}

/** floor(x·127/maxabs + 0.5) per element (round-half-up, codes in
  * [-127, 127] by construction — x = ±maxabs lands exactly on ±127).
  */
case class QuantizeInt8(child: Expression) extends VectorUnary {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def evalVector(a: ArrayData): Any = {
    var mx = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { val x = math.abs(elem(a, i)); if (x > mx) mx = x; i += 1 }
    if (mx == 0.0) return null
    val out = new Array[Int](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(elem(a, i) * 127.0 / mx + 0.5).toInt
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): QuantizeInt8 = copy(child = c)
  override def prettyName: String = "quantize_int8"
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

case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires array<float|double> inputs, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }

  override def dataType: DataType = DoubleType

  @transient private lazy val leftIsFloat = elemType(left).contains(FloatType)
  @transient private lazy val rightIsFloat = elemType(right).contains(FloatType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}
