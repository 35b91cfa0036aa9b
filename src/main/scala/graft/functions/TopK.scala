package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Distributed bounded top-k: `topk_by_score(struct(score, id), k)` keeps the
  * k highest-scoring (score DOUBLE, id BIGINT) pairs per group, ties broken
  * by lowest id (fully deterministic, oracle-comparable).
  *
  * This is the scale-safe formulation of per-group top-k ranking: as a
  * [[Fold]] aggregate it runs as a partial aggregate — every input
  * partition reduces to ≤ k pairs per group BEFORE the shuffle, and the merge
  * combines k-bounded heaps. The `Window.partitionBy(group).orderBy(score)`
  * + `row_number` alternative funnels every scored candidate of a group
  * through one task; for brute-force ANN over a 100 TB corpus that single
  * task is the job. Here the shuffle moves O(groups × k) rows, period.
  */
object TopK {

  val functions = FunctionTable.define(this) { f =>
    f("topk_by_score") { exprs =>
      require(exprs.length == 2, "topk_by_score(struct(score, id), k)")
      val k = exprs(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"topk_by_score: k must be an integer literal, got $other")
      }
      Fold(TopKByScore(k), exprs.take(1))
    }
  }

  /** `scoreAndId` must be `struct(score: double, id: bigint)`. */
  def topk_by_score(scoreAndId: Column, k: Int): Column =
    call_function("topk_by_score", scoreAndId, lit(k))
}

/** Bounded heap buffer: holds at most k (score, id) pairs, evicting the
  * worst (lowest score; among equal scores, highest id).
  */
final class TopKHeap(val k: Int) {
  // "greater" = worse, so the mutable.PriorityQueue head is the eviction
  // candidate
  private[functions] val evictionOrder = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }
  private val heap = mutable.PriorityQueue.empty[(Double, Long)](evictionOrder)

  def add(score: Double, id: Long): Unit =
    if (heap.size < k) heap.enqueue((score, id))
    else if (evictionOrder.compare((score, id), heap.head) < 0) {
      heap.dequeue(); heap.enqueue((score, id))
    }

  def mergeFrom(other: TopKHeap): Unit =
    other.heap.foreach { case (s, i) => add(s, i) }

  /** Best-first: score desc, id asc. */
  def sortedBestFirst: Seq[(Double, Long)] = heap.toSeq.sorted(evictionOrder)

  def size: Int = heap.size
}

/** A heap as its pairs best-first; reading re-adds them to a fresh heap. */
case class TopKHeapCodec(k: Int) extends BufCodec[TopKHeap] {
  def write(buf: TopKHeap): Array[Byte] = {
    val items = buf.sortedBestFirst
    val bb = ByteBuffer.allocate(4 + items.size * 16)
    bb.putInt(items.size)
    items.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  def read(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKHeap(k)
    var j = 0
    while (j < n) { buf.add(bb.getDouble, bb.getLong); j += 1 }
    buf
  }
}

/** The aggregate behind `topk_by_score`. The child must be a struct whose
  * first field is DOUBLE (the score) and second BIGINT (the id). Null
  * structs / null fields are skipped.
  */
case class TopKByScore(k: Int) extends FoldSpec[TopKHeap] {
  require(k > 0, s"topk_by_score: k must be positive, got $k")

  def name: String = "topk_by_score"
  def accepts: Seq[Arg] = Seq(Arg.Struct)
  override def check(in: Seq[Expression]): Option[String] = in.head.dataType match {
    case StructType(Array(a, b)) if a.dataType == DoubleType && b.dataType == LongType => None
    case t => Some(s"topk_by_score requires struct<double, bigint>, got ${t.simpleString}")
  }
  def dataType(in: Seq[Expression]): DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  @transient lazy val codec: BufCodec[TopKHeap] = TopKHeapCodec(k)

  def create(): TopKHeap = new TopKHeap(k)

  def update(buf: TopKHeap, in: Array[Expression], row: InternalRow): TopKHeap = {
    val v = in(0).eval(row)
    if (v != null) {
      val r = v.asInstanceOf[InternalRow]
      if (!r.isNullAt(0) && !r.isNullAt(1)) buf.add(r.getDouble(0), r.getLong(1))
    }
    buf
  }

  def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    buf.mergeFrom(other); buf
  }

  def eval(buf: TopKHeap): Any =
    new GenericArrayData(buf.sortedBestFirst.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])
}
