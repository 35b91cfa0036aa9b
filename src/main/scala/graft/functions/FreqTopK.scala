package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Approximate frequent items (heavy hitters) via the SpaceSaving sketch —
  * ClickHouse's `topK(k)(x)` (here spelled `topK(x, k)`, the same arity
  * adaptation as the `quantile` aliases).
  *
  * Why a sketch and not `GROUP BY x ORDER BY count DESC LIMIT k`: the exact
  * form shuffles one row PER DISTINCT VALUE — at 100 TB corpus analytics
  * (frequent domains, shingles, user agents) that cardinality is the cost.
  * The sketch caps every partial at `capacity` counters (8×k), so the
  * exchange moves O(groups × capacity) rows regardless of distinct count —
  * the same partial/merge shape as the bitmap and HLL states.
  *
  * Guarantees (standard SpaceSaving): any value with true count >
  * N/capacity is in the sketch; reported `est` overcounts by at most `err`
  * (the inherited eviction floor). With no eviction (distinct ≤ capacity)
  * counts are exact and err = 0. Eviction and output order are
  * deterministic: min count first, ties broken by key order.
  */
object FreqTopK {

  private[functions] def buildAgg(es: Seq[Expression], valuesOnly: Boolean): Expression = {
    require(es.nonEmpty && es.length <= 2, "usage: topK(x[, k])")
    val k = es match {
      case Seq(_) => 10 // CH's default k
      case Seq(_, Literal(v: Int, IntegerType)) => v
      case _ => throw new IllegalArgumentException("topK: k must be an integer literal")
    }
    Fold.agg(FreqTopKSketch(k, valuesOnly, weighted = false, es.head.dataType), es.take(1))
  }

  private[functions] def buildWeighted(es: Seq[Expression], valuesOnly: Boolean): Expression = {
    require(es.length == 2 || es.length == 3, "usage: topKWeighted(x, weight[, k])")
    val k = es match {
      case Seq(_, _) => 10
      case Seq(_, _, Literal(v: Int, IntegerType)) => v
      case _ => throw new IllegalArgumentException("topKWeighted: k must be an integer literal")
    }
    Fold.agg(FreqTopKSketch(k, valuesOnly, weighted = true, es.head.dataType), es.take(2))
  }

  val functions = FunctionTable.define(this) { f =>
    f("freq_topk")(es => buildAgg(es, valuesOnly = false))
    f("freq_topk_weighted")(es => buildWeighted(es, valuesOnly = false))
  }

  /** Frequent items with estimates: array<struct<value, est, err>>. */
  def freq_topk(x: Column, k: Int): Column =
    call_function("freq_topk", x, lit(k))

  /** Weight-summing variant (CH topKWeighted): heaviest keys by summed
    * BIGINT weight instead of row count — same sketch, increments of
    * `weight` per row.
    */
  def freq_topk_weighted(x: Column, weight: Column, k: Int): Column =
    call_function("freq_topk_weighted", x, weight, lit(k))
}

/** SpaceSaving counter set over Long or UTF8String keys. */
final class FreqSketch(val capacity: Int) {
  // key -> (estimated count, max overcount)
  private[functions] val counts = mutable.HashMap.empty[Any, (Long, Long)]

  private def cmpKey(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: UTF8String, y: UTF8String) => x.compareTo(y)
    case _ => throw new IllegalStateException(s"unexpected key types: $a / $b")
  }

  /** Deterministic eviction victim: lowest count, then lowest key. */
  private def minEntry(): (Any, (Long, Long)) =
    counts.reduceLeft { (a, b) =>
      val c = java.lang.Long.compare(a._2._1, b._2._1)
      if (c < 0 || (c == 0 && cmpKey(a._1, b._1) <= 0)) a else b
    }

  def add(key: Any, inc: Long = 1L, err: Long = 0L): Unit =
    counts.get(key) match {
      case Some((c, e)) => counts(key) = (c + inc, e + err)
      case None if counts.size < capacity => counts(key) = (inc, err)
      case None =>
        val (mk, (mc, _)) = minEntry()
        counts.remove(mk)
        // classic SpaceSaving inheritance: the newcomer takes over the
        // evicted floor; everything up to mc may be overcount
        counts(key) = (mc + inc, mc + err)
    }

  /** Mergeable-summary merge: sum matching counters, union the rest, trim
    * back to capacity keeping the highest counts (deterministic ties).
    */
  def mergeFrom(other: FreqSketch): Unit = {
    for ((k, (c, e)) <- other.counts) counts.get(k) match {
      case Some((c0, e0)) => counts(k) = (c0 + c, e0 + e)
      case None => counts(k) = (c, e)
    }
    if (counts.size > capacity) {
      val keep = counts.toSeq
        .sortWith { (a, b) =>
          val c = java.lang.Long.compare(b._2._1, a._2._1)
          if (c != 0) c < 0 else cmpKey(a._1, b._1) < 0
        }
        .take(capacity)
      counts.clear()
      counts ++= keep
    }
  }

  /** Top n by (count desc, key asc). */
  def top(n: Int): Seq[(Any, Long, Long)] =
    counts.toSeq
      .sortWith { (a, b) =>
        val c = java.lang.Long.compare(b._2._1, a._2._1)
        if (c != 0) c < 0 else cmpKey(a._1, b._1) < 0
      }
      .take(n)
      .map { case (k, (c, e)) => (k, c, e) }
}

/** The counters in map order: key (UTF-8 string or long) then estimate
  * and overcount. */
case class FreqSketchCodec(isStr: Boolean, capacity: Int) extends BufCodec[FreqSketch] {
  def write(buf: FreqSketch): Array[Byte] = {
    val items = buf.counts.toSeq
    val payload = items.map { case (key, (c, e)) =>
      val kb = if (isStr) key.asInstanceOf[UTF8String].getBytes else null
      (kb, key, c, e)
    }
    val size = 4 + payload.map { case (kb, _, _, _) =>
      16 + (if (isStr) 4 + kb.length else 8)
    }.sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(payload.size)
    payload.foreach { case (kb, key, c, e) =>
      if (isStr) { bb.putInt(kb.length); bb.put(kb) }
      else bb.putLong(key.asInstanceOf[Long])
      bb.putLong(c); bb.putLong(e)
    }
    bb.array()
  }

  def read(bytes: Array[Byte]): FreqSketch = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new FreqSketch(capacity)
    var j = 0
    while (j < n) {
      val key: Any =
        if (isStr) { val len = bb.getInt; val b = new Array[Byte](len); bb.get(b); UTF8String.fromBytes(b) }
        else bb.getLong
      val c = bb.getLong; val e = bb.getLong
      buf.counts(key) = (c, e)
      j += 1
    }
    buf
  }
}

/** The aggregate behind `freq_topk` / the CH `topK` alias. Keys are BIGINT
  * or STRING (cast smaller integrals up); nulls are skipped. `valuesOnly`
  * emits CH's array-of-values form; otherwise array<struct<value,est,err>>.
  * `weighted`: a second, BIGINT child is the per-row increment.
  */
case class FreqTopKSketch(k: Int, valuesOnly: Boolean, weighted: Boolean, keyType: DataType)
    extends FoldSpec[FreqSketch] {

  require(k > 0, s"topK: k must be positive, got $k")
  private val capacity = math.max(64, 8 * k)

  def name: String = if (weighted) "freq_topk_weighted" else "freq_topk"
  def accepts: Seq[Arg] = Seq(Arg.Is(LongType, StringType), Arg.Is(LongType))
  def dataType(in: Seq[Expression]): DataType =
    if (valuesOnly) ArrayType(in.head.dataType, containsNull = false)
    else ArrayType(StructType(Seq(
      StructField("value", in.head.dataType, nullable = false),
      StructField("est", LongType, nullable = false),
      StructField("err", LongType, nullable = false))), containsNull = false)
  @transient lazy val codec: BufCodec[FreqSketch] =
    FreqSketchCodec(keyType == StringType, capacity)

  def create(): FreqSketch = new FreqSketch(capacity)

  def update(buf: FreqSketch, in: Array[Expression], row: InternalRow): FreqSketch = {
    val v = in(0).eval(row)
    if (v != null) {
      val inc =
        if (!weighted) 1L
        else in(1).eval(row) match {
          case null => 0L
          case x: Long => x
        }
      // zero/negative weights contribute nothing (CH skips non-positive)
      if (inc > 0L) buf.add(v match {
        case s: UTF8String => s.clone() // row-backed bytes are reused by Spark
        case x => x
      }, inc)
    }
    buf
  }

  def merge(buf: FreqSketch, other: FreqSketch): FreqSketch = {
    buf.mergeFrom(other); buf
  }

  def eval(buf: FreqSketch): Any = {
    val tops = buf.top(k)
    if (valuesOnly) new GenericArrayData(tops.map(_._1).toArray[Any])
    else new GenericArrayData(tops.map { case (key, c, e) =>
      InternalRow(key, c, e)
    }.toArray[Any])
  }
}
