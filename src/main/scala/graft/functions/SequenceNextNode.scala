package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse `sequenceNextNode(direction, base)(ts, event, base_cond,
  * cond1, ..., condN)` in the library's flat spelling:
  * `sequenceNextNode('forward', 'head', ts, event, base_cond, cond...)`.
  *
  * Returns the event value that follows the matched condition chain in
  * the given direction, or NULL. `base` anchors the chain at a
  * CHRONOLOGICAL position — 'head' = the earliest event, 'tail' = the
  * latest, 'first_match' / 'last_match' = the earliest/latest position
  * where cond1 holds — and the chain then walks in `direction` from that
  * anchor (cond1 at the anchor itself). `base_cond` must hold at the
  * anchor. Canonical pairings are ('forward','head'/'first_match') and
  * ('backward','tail'/'last_match'); the crossed combinations walk off
  * the end of the sequence and are NULL-heavy, exactly as in CH.
  *
  * State collects the group's (ts, value, condition-bitmap) rows —
  * group-sized like windowFunnel; eval sorts by (ts, value) so results
  * are partitioning-independent (CH leaves equal-ts order undefined).
  */
object SequenceNextNode {
  val functions = FunctionTable.define(this) { f =>
    f("sequenceNextNode") { es =>
      def lit(e: Expression, what: String): String = e match {
        case l if l.foldable => String.valueOf(l.eval()).toLowerCase
        case other => throw new IllegalArgumentException(
          s"sequenceNextNode: $what must be a string literal, got $other")
      }
      require(es.length >= 6,
        "sequenceNextNode(direction, base, ts, event, base_cond, cond1, ...)")
      Fold.agg(SequenceNextNode(lit(es(0), "direction"), lit(es(1), "base"), es.length - 5),
        es.drop(2))
    }
  }
}

final class SnnBuf {
  // (ts, value, bits) — bit 0 = base_cond, bit i = cond_i
  private[graft] val rows = mutable.ArrayBuffer.empty[(Double, String, Long)]
}

/** The rows in collection order: (ts, bits, UTF-8 value) each. */
object SnnBuf extends BufCodec[SnnBuf] {
  def write(buf: SnnBuf): Array[Byte] = {
    val enc = buf.rows.map { case (_, v, _) => v.getBytes(StandardCharsets.UTF_8) }
    val bb = ByteBuffer.allocate(4 + buf.rows.map(_ => 20).sum + enc.map(_.length).sum)
    bb.putInt(buf.rows.length)
    buf.rows.zip(enc).foreach { case ((t, _, bits), vb) =>
      bb.putDouble(t); bb.putLong(bits); bb.putInt(vb.length); bb.put(vb)
    }
    bb.array()
  }
  def read(bytes: Array[Byte]): SnnBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new SnnBuf
    val k = bb.getInt
    var i = 0
    while (i < k) {
      val t = bb.getDouble
      val bits = bb.getLong
      val vb = new Array[Byte](bb.getInt); bb.get(vb)
      buf.rows += ((t, new String(vb, StandardCharsets.UTF_8), bits))
      i += 1
    }
    buf
  }
}

/** `conds` is the number of chain conditions after the base condition. */
case class SequenceNextNode(direction: String, base: String, conds: Int)
    extends FoldSpec[SnnBuf] {

  require(direction == "forward" || direction == "backward",
    s"sequenceNextNode: direction must be forward|backward, got '$direction'")
  require(Set("head", "tail", "first_match", "last_match")(base),
    s"sequenceNextNode: base must be head|tail|first_match|last_match, got '$base'")
  require(conds >= 1 && conds <= 62, "sequenceNextNode: 1..62 conditions")

  def name: String = "sequenceNextNode"
  def accepts: Seq[Arg] = Seq(
    Arg.Is(LongType, IntegerType, DoubleType, TimestampType, TimestampNTZType),
    Arg.Is(StringType), Arg.Is(BooleanType))
  def dataType(in: Seq[Expression]): DataType = StringType
  override def nullable: Boolean = true
  def codec: BufCodec[SnnBuf] = SnnBuf
  def create(): SnnBuf = new SnnBuf

  // children: ts, event, base_cond, cond1..condN
  def update(buf: SnnBuf, in: Array[Expression], row: InternalRow): SnnBuf = {
    val t = in(0).eval(row) match {
      case null => return buf
      case l: Long => l.toDouble
      case i: Int => i.toDouble
      case d: Double => d
    }
    val v = in(1).eval(row) match {
      case null => return buf
      case u: UTF8String => u.toString
    }
    var bits = 0L
    if (in(2).eval(row) == true) bits |= 1L
    var i = 0
    while (i < conds) {
      if (in(3 + i).eval(row) == true) bits |= (1L << (i + 1))
      i += 1
    }
    buf.rows += ((t, v, bits))
    buf
  }
  def merge(buf: SnnBuf, o: SnnBuf): SnnBuf = {
    buf.rows ++= o.rows; buf
  }

  def eval(buf: SnnBuf): Any = {
    if (buf.rows.isEmpty) return null
    // CH model (AggregateFunctionSequenceNextNode): events sorted ascending
    // by timestamp; the BASE point is chronological — head = earliest event,
    // tail = latest, first_match/last_match = earliest/latest cond1 hit —
    // while the chain WALKS in `direction` from that anchor: cond1 holds AT
    // the anchor, cond2 one step in the direction, …; the result is the
    // event one more step beyond condN (doc example: ('backward','tail')
    // over Home,Gift,Basket with conds Basket,Gift returns Home).
    val seq = buf.rows.toArray.sortBy(r => (r._1, r._2))
    val n = conds
    val step = if (direction == "forward") 1 else -1
    def condAt(pos: Int, cond: Int): Boolean =
      (seq(pos)._3 & (1L << (cond + 1))) != 0
    def baseAt(pos: Int): Boolean = (seq(pos)._3 & 1L) != 0
    def chainFrom(p: Int): Option[String] = {
      var i = 0
      while (i < n) {
        val q = p + i * step
        if (q < 0 || q >= seq.length || !condAt(q, i)) return None
        i += 1
      }
      val r = p + n * step
      if (r >= 0 && r < seq.length) Some(seq(r)._2) else None
    }
    base match {
      case "head" =>
        if (baseAt(0)) chainFrom(0).map(UTF8String.fromString).orNull else null
      case "tail" =>
        val p = seq.length - 1
        if (baseAt(p)) chainFrom(p).map(UTF8String.fromString).orNull else null
      case "first_match" =>
        var p = 0
        while (p < seq.length) {
          if (condAt(p, 0) && baseAt(p)) {
            return chainFrom(p).map(UTF8String.fromString).orNull
          }
          p += 1
        }
        null
      case "last_match" =>
        var p = seq.length - 1
        while (p >= 0) {
          if (condAt(p, 0) && baseAt(p)) {
            return chainFrom(p).map(UTF8String.fromString).orNull
          }
          p -= 1
        }
        null
    }
  }
}
