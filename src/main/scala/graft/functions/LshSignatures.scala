package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
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
      // bits = 0 is the EXHAUSTIVE degenerate table (no hyperplanes →
      // every vector in one bucket 0 per table): the LSH analog of IVF's
      // nprobe = nlist, used to put the whole signature/join/rerank
      // machinery under an exact-equality gate (candidate set = full
      // corpus, so the top-k provably equals brute force)
      require(t >= 1 && b >= 0 && b <= 63, s"bad tables/bits: $t/$b")
      Kernel.of(this, "signatures", "lsh_signatures", ArrayType(StructType(Seq(
        StructField("tbl", IntegerType, nullable = false),
        StructField("bucket", LongType, nullable = false))), containsNull = false),
        es.take(1), Seq(VectorOps.vector), Seq(t, b, VectorOps.isFloat(es.head)),
        returnsNull = true)
    }
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"lsh_signatures: $what must be an integer literal, got $other")
  }

  def lsh_signatures(vec: Column, tables: Int, bits: Int): Column =
    call_function("lsh_signatures", vec, lit(tables), lit(bits))

  // plane components depend only on (plane, dim): cache per (plane count,
  // observed dimensionality) — vectors are fixed-dim in practice; the map
  // tolerates mixed corpora — computed once per JVM instead of once per row
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def planesFor(planes: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((planes, dim), _ =>
      Array.tabulate(planes) { plane =>
        Array.tabulate(dim) { d =>
          // exactly xxhash64(plane, d) on two ints: chained seed-42 hash
          val h1 = XxHash64Function.hash(plane, IntegerType, 42L)
          val h2 = XxHash64Function.hash(d, IntegerType, h1)
          h2.toDouble / Long.MaxValue.toDouble
        }
      })

  def signatures(a: ArrayData, tables: Int, bits: Int, elemIsFloat: Boolean): ArrayData = {
    val dim = a.numElements()
    val planes = planesFor(tables * bits, dim)
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
}
