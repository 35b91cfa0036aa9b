package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** ClickHouse's `windowFunnel(window)(ts, cond1..condN)` — the deepest
  * funnel level reachable through a strictly time-increasing event chain
  * e1 < e2 < … < eL (cond_i holds at e_i) with every step within `window`
  * of the chain's FIRST event. Spelled `windowFunnel(ts, window, c1..cN)`
  * (the usual parameterized-aggregate arity adaptation). `ts` may be a
  * timestamp (window in wall seconds) or a BIGINT taken as CH's DateTime
  * epoch seconds (window in the bigint's own units).
  *
  * Semantics are exact-existential: the result is L iff SOME qualifying
  * chain of length L exists (ties in timestamp never chain — CH's
  * `strict_increase` is this baseline already; its no-mode tie behavior
  * is insertion-order-dependent, which a distributed engine cannot
  * reproduce, so the deterministic refinement is the default). Verified
  * against brute-force subsequence enumeration in WindowFunnelSpec.
  *
  * CH's interrupting modes ride as string literals between the window
  * and the conditions — `windowFunnel(ts, w, 'strict_order', c1, …)`:
  * `strict_order` (any stored event between chain steps interrupts) and
  * `strict_dedup` (an event repeating an already-matched condition
  * interrupts) switch eval to CH's documented greedy forward scan.
  *
  * Shape: a [[Fold]] aggregate whose state is the group's
  * (ts, condition-bitmask) pairs — like `medianExact`, deliberately
  * value-complete per group (funnel groups are per-user/per-day slices,
  * bounded by a user's event count, not the corpus). The partial/merge
  * phases just concatenate; the DP runs once at eval:
  * sort, then for each level keep the MAX chain-start achievable by
  * strictly-earlier events — extension feasibility (`ts - start ≤ window`)
  * is monotone in start, so the running max is a lossless frontier and
  * the O(n·levels) scan is exact.
  */
object WindowFunnel {

  val functions = FunctionTable.define(this) { f =>
    f("windowFunnel") { es =>
      require(es.length >= 3,
        "usage: windowFunnel(ts, windowSeconds, ['mode', ...] cond1, ...)")
      val window = es(1) match {
        case Literal(v: Int, IntegerType) => v.toLong
        case Literal(v: Long, LongType) => v
        case other => throw new IllegalArgumentException(
          s"windowFunnel: windowSeconds must be an integer literal, got $other")
      }
      // CH's mode arguments ride between the window and the conditions
      // as string literals ('strict_order' / 'strict_dedup' /
      // 'strict_increase')
      val (modeLits, conds) = es.drop(2).span {
        case Literal(_, StringType) => true
        case _ => false
      }
      val modes = modeLits.map {
        case Literal(s, StringType) => String.valueOf(s)
      }.toSet
      val known = Set("strict_order", "strict_dedup", "strict_increase")
      val unknown = modes -- known
      require(unknown.isEmpty, s"windowFunnel: unknown modes $unknown")
      Fold.agg(WindowFunnel(window, conds.length, es.head.dataType == LongType,
        strictOrder = modes("strict_order"), strictDedup = modes("strict_dedup")),
        es.head +: conds)
    }
  }

  def window_funnel(ts: Column, windowSeconds: Long, conds: Column*): Column =
    call_function("windowFunnel", (ts +: lit(windowSeconds) +: conds): _*)

  def window_funnel_modes(ts: Column, windowSeconds: Long, modes: Seq[String],
      conds: Column*): Column =
    call_function("windowFunnel",
      (ts +: lit(windowSeconds) +: modes.map(lit(_))) ++ conds: _*)
}

/** Aggregation state: (event micros, condition bitmask) pairs. */
final class FunnelEvents {
  private[functions] val events = mutable.ArrayBuffer.empty[(Long, Int)]
  def add(ts: Long, mask: Int): Unit = if (mask != 0) events += ((ts, mask))
}

/** The events in collection order, (ts long, mask int) each; shared by
  * windowFunnel and sequenceMatch/sequenceCount. */
object FunnelEvents extends BufCodec[FunnelEvents] {
  def write(buf: FunnelEvents): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.events.length * 12)
    bb.putInt(buf.events.length)
    buf.events.foreach { case (ts, m) => bb.putLong(ts); bb.putInt(m) }
    bb.array()
  }

  def read(bytes: Array[Byte]): FunnelEvents = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new FunnelEvents
    var j = 0
    while (j < n) { buf.events += ((bb.getLong, bb.getInt)); j += 1 }
    buf
  }

  /** One row's (ts, condition mask) from children ts, cond1..condN. */
  private[functions] def update(buf: FunnelEvents, in: Array[Expression],
      row: InternalRow): FunnelEvents = {
    val tsVal = in(0).eval(row)
    if (tsVal != null) {
      var mask = 0
      var i = 1
      while (i < in.length) {
        val c = in(i).eval(row)
        if (c != null && c.asInstanceOf[Boolean]) mask |= (1 << (i - 1))
        i += 1
      }
      buf.add(tsVal.asInstanceOf[Long], mask)
    }
    buf
  }

  private[functions] def merge(buf: FunnelEvents, other: FunnelEvents): FunnelEvents = {
    buf.events ++= other.events; buf
  }

  /** ts: a timestamp (micros) or BIGINT epoch seconds; then boolean conditions. */
  private[functions] val accepts: Seq[Arg] =
    Seq(Arg.Is(TimestampType, TimestampNTZType, LongType), Arg.Is(BooleanType))
}

/** `conds`: the number of conditions; `longTs`: the ts child is BIGINT
  * epoch seconds. */
case class WindowFunnel(windowSeconds: Long, conds: Int, longTs: Boolean,
    strictOrder: Boolean, strictDedup: Boolean) extends FoldSpec[FunnelEvents] {

  require(conds >= 1 && conds <= 32, "windowFunnel: 1..32 conditions")

  // timestamp children eval to micros; BIGINT ts is CH's DateTime epoch
  // seconds, so the window stays in the column's own units
  private val windowScaled = if (longTs) windowSeconds else windowSeconds * 1000000L

  def name: String = "windowFunnel"
  def accepts: Seq[Arg] = FunnelEvents.accepts
  def dataType(in: Seq[Expression]): DataType = IntegerType
  def codec: BufCodec[FunnelEvents] = FunnelEvents

  def create(): FunnelEvents = new FunnelEvents
  def update(buf: FunnelEvents, in: Array[Expression], row: InternalRow): FunnelEvents =
    FunnelEvents.update(buf, in, row)
  def merge(buf: FunnelEvents, other: FunnelEvents): FunnelEvents =
    FunnelEvents.merge(buf, other)

  def eval(buf: FunnelEvents): Any = {
    if (strictOrder || strictDedup)
      return greedyEval(buf.events.sortBy(e => (e._1, e._2)).toSeq)
    val evs = buf.events.sortBy(_._1)
    val levels = conds
    val none = Long.MinValue
    // best(i) = max chain start among chains of length i+1 ending at a
    // STRICTLY earlier event than the current one
    val best = Array.fill(levels)(none)
    val pending = Array.fill(levels)(none)
    var g = 0
    while (g < evs.length) {
      val ts = evs(g)._1
      var h = g
      // process the tie-group [g, h) against the pre-group frontier only
      while (h < evs.length && evs(h)._1 == ts) {
        val mask = evs(h)._2
        if ((mask & 1) != 0 && ts > pending(0)) pending(0) = ts
        var i = 1
        while (i < levels) {
          if ((mask & (1 << i)) != 0 && best(i - 1) != none &&
              ts - best(i - 1) <= windowScaled && best(i - 1) > pending(i))
            pending(i) = best(i - 1)
          i += 1
        }
        h += 1
      }
      var i = 0
      while (i < levels) {
        if (pending(i) > best(i)) best(i) = pending(i)
        i += 1
      }
      g = h
    }
    var level = 0
    var i = 0
    while (i < levels) { if (best(i) != none) level = i + 1; i += 1 }
    level
  }

  /** CH's interrupting modes run its documented GREEDY forward scan (the
    * exact-existential DP above can't express "some other event broke the
    * chain" — interruption depends on what lies between chosen steps).
    * One pass over the (ts, mask)-sorted events, one live chain:
    *
    *  - an event carrying the next needed condition (strictly later than
    *    the last step, within window of the chain start) ADVANCES;
    *  - otherwise, under `strict_order` every stored event interrupts,
    *    and under `strict_dedup` an event repeating an already-matched
    *    condition interrupts — an interrupted position restarts at level
    *    1 if the event itself carries cond₁, else resets;
    *  - anything else is ignored (non-chain events are invisible without
    *    strict_order, as in CH).
    *
    * An event carrying BOTH the next condition and an interrupting bit
    * advances (advance wins — the tie CH leaves unspecified). The result
    * is the max level any chain reached. `strict_increase` is the
    * baseline contract here already (ties never chain), so it adds no
    * separate branch.
    */
  private def greedyEval(evs: Seq[(Long, Int)]): Int = {
    var maxLevel = 0
    var level = 0
    var matched = 0
    var start = 0L
    var lastStep = 0L
    evs.foreach { case (ts, mask) =>
      if (level > 0 && ts - start > windowScaled) { level = 0; matched = 0 }
      val needBit = 1 << level
      if (level < conds && (mask & needBit) != 0 &&
          (level == 0 || ts > lastStep)) {
        if (level == 0) start = ts
        matched |= needBit
        lastStep = ts
        level += 1
        if (level > maxLevel) maxLevel = level
      } else if (level > 0 &&
          (strictOrder || (strictDedup && (mask & matched) != 0))) {
        if ((mask & 1) != 0) {
          level = 1; matched = 1; start = ts; lastStep = ts
          if (maxLevel < 1) maxLevel = 1
        } else { level = 0; matched = 0 }
      }
    }
    maxLevel
  }
}
