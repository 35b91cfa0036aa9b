package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Multi-table random-hyperplane LSH signatures as ONE primitive pass —
  * replaces the composed HOF form (per (table, bit): an interpreted
  * zip_with + aggregate over the vector, re-hashing every (plane, dim)
  * pair on EVERY row) with a per-dimension plane cache computed once per
  * executor and a tight dot-product loop per row.
  *
  * Bit-identical to the composed form: plane component (t·bits+b, d) is
  * the chained XxHash64 of the two ints at seed 42 (exactly
  * `xxhash64(plane, d)`) divided by Long.MaxValue, and the per-bit dot
  * accumulates in dimension order — same doubles, same signs, same
  * buckets, so persisted LSH indexes remain valid.
  */
object LshSignatures {

  val functions = FunctionTable.define(this) { f =>
    f("lsh_signatures") { es =>
      require(es.length == 3, "usage: lsh_signatures(vec, tables, bits)")
      val t = intLit(es(1), "tables")
      val b = intLit(es(2), "bits")
      LshSignaturesExpr(es.head, t, b)
    }
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"lsh_signatures: $what must be an integer literal, got $other")
  }

  def lsh_signatures(vec: Column, tables: Int, bits: Int): Column =
    call_function("lsh_signatures", vec, lit(tables), lit(bits))
}

case class LshSignaturesExpr(child: Expression, tables: Int, bits: Int)
  extends Expression with UnaryLike[Expression] with CodegenFallback {

  // bits = 0 is the EXHAUSTIVE degenerate table (no hyperplanes → every
  // vector in one bucket 0 per table): the LSH analog of IVF's
  // nprobe = nlist, used to put the whole signature/join/rerank machinery
  // under an exact-equality gate (candidate set = full corpus, so the
  // top-k provably equals brute force)
  require(tables >= 1 && bits >= 0 && bits <= 63, s"bad tables/bits: $tables/$bits")

  @transient private lazy val elemIsFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // plane components depend only on (plane, dim): cache per observed
  // dimensionality (vectors are fixed-dim in practice; the map tolerates
  // mixed corpora), computed once per executor instead of once per row
  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  private def planesFor(dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(dim, _ =>
      Array.tabulate(tables * bits) { plane =>
        Array.tabulate(dim) { d =>
          // exactly xxhash64(plane, d) on two ints: chained seed-42 hash
          val h1 = XxHash64Function.hash(plane, IntegerType, 42L)
          val h2 = XxHash64Function.hash(d, IntegerType, h1)
          h2.toDouble / Long.MaxValue.toDouble
        }
      })

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_signatures requires array<float|double>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tbl", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val dim = a.numElements()
    val planes = planesFor(dim)
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val plane = planes(t * bits + b)
        var dot = 0.0
        var d = 0
        while (d < dim) {
          val x = if (elemIsFloat) a.getFloat(d).toDouble else a.getDouble(d)
          dot += x * plane(d)
          d += 1
        }
        if (dot >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = InternalRow(t, bucket)
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): LshSignaturesExpr =
    copy(child = c)
  override def prettyName: String = "lsh_signatures"
}
