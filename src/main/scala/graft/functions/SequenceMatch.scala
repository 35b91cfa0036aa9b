package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse's `sequenceMatch('pattern')(ts, cond1..condN)` /
  * `sequenceCount` — event-chain pattern matching over a group's
  * time-ordered event stream, the third member of the funnel family next
  * to [[WindowFunnel]] and `retention`. Spelled
  * `sequenceMatch('pattern', ts, cond1, ...)` (flat arity — Spark SQL has
  * no curried parameterized aggregates).
  *
  * Pattern language (the CH one, ref sequenceMatch docs):
  *   - `(?N)`            — one event satisfying condition N (1-based);
  *   - `.`               — exactly one arbitrary event;
  *   - `.*`              — zero or more arbitrary events;
  *   - `(?tOPsecs)`      — time guard between the two neighboring `(?N)`
  *                         matches, OP ∈ {<, <=, >, >=, ==, !=} (seconds).
  *
  * Matching follows CH: events satisfying NO condition are skipped before
  * matching, so `.`/`.*` and adjacency range over the condition-matching
  * substream — `(?1)(?2)` matches view→noise→click when the conditions are
  * (view, click). One residual divergence: equal timestamps are ordered by
  * condition bitmask (a deterministic total order) where CH leaves tie
  * order unspecified.
  *
  * Timestamp units: `ts` may be a timestamp (guards compare wall seconds)
  * or a BIGINT, which is taken as CH's DateTime convention — epoch
  * SECONDS — so `(?t<=3600)` bounds the gap to 3600 in the bigint's own
  * units.
  *
  * `sequenceMatch` returns whether a match exists; `sequenceCount` counts
  * leftmost non-overlapping matches (CH semantics: search resumes after
  * the end of the previous match).
  *
  * Shape: a [[Fold]] aggregate buffering (ts, bitmask) pairs —
  * value-complete per group like `medianExact`/`windowFunnel` (funnel
  * groups are per-user slices, bounded by a user's event count, not the
  * corpus). Matching runs once at eval as a memoized DFS over
  * (pattern position, stream position): O(tokens × events) states, exact
  * backtracking even with time guards.
  */
object SequenceMatch {

  val functions = FunctionTable.define(this) { f =>
    f("sequenceMatch")(es => build(es, count = false))
    f("sequenceCount")(es => build(es, count = true))
  }

  private def build(es: Seq[Expression], count: Boolean) = {
    require(es.length >= 3, "usage: sequenceMatch('pattern', ts, cond1, ...)")
    val pattern = es.head match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"sequenceMatch: pattern must be a string literal, got $other")
    }
    Fold.agg(SequencePattern(pattern, es.length - 2, es(1).dataType == LongType, count),
      es.drop(1))
  }

  def sequence_match(pattern: String, ts: Column, conds: Column*): Column =
    call_function("sequenceMatch", (lit(pattern) +: ts +: conds): _*)

  def sequence_count(pattern: String, ts: Column, conds: Column*): Column =
    call_function("sequenceCount", (lit(pattern) +: ts +: conds): _*)

  // ---- pattern parsing ----------------------------------------------------

  sealed trait Tok
  /** one event with condition n (1-based), optionally time-guarded vs the
    * previous Cond match: guard = (op, bound). `parse` leaves the bound in
    * pattern units (seconds); [[scaleGuards]] converts it to the ts
    * column's units before matching. */
  final case class Cond(n: Int, guard: Option[(String, Long)]) extends Tok
  case object AnyOne extends Tok
  case object AnyStar extends Tok

  private val condRe = """\(\?(\d+)\)""".r
  private val timeRe = """\(\?t(<=|>=|==|!=|<|>)(\d+)\)""".r

  /** Parse into tokens; time guards attach to the following Cond. */
  def parse(pattern: String): IndexedSeq[Tok] = {
    val out = mutable.ArrayBuffer.empty[Tok]
    var pendingGuard: Option[(String, Long)] = None
    var i = 0
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"sequenceMatch pattern '$pattern': $msg at $i")
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '.' =>
          if (pendingGuard.isDefined) fail("time guard must precede a (?N)")
          if (i + 1 < pattern.length && pattern.charAt(i + 1) == '*') {
            out += AnyStar; i += 2
          } else { out += AnyOne; i += 1 }
        case '(' =>
          val rest = pattern.substring(i)
          timeRe.findPrefixMatchOf(rest) match {
            case Some(m) =>
              // the guard measures against the PREVIOUS (?N) match, so one
              // must exist; wildcards in between are fine ('(?1).*(?t>3600)(?2)')
              if (!out.exists(_.isInstanceOf[Cond]))
                fail("time guard needs a preceding (?N)")
              if (pendingGuard.isDefined) fail("duplicate time guard")
              pendingGuard = Some((m.group(1), m.group(2).toLong))
              i += m.matched.length
            case None => condRe.findPrefixMatchOf(rest) match {
              case Some(m) =>
                val n = m.group(1).toInt
                if (n < 1 || n > 32) fail(s"condition index $n out of 1..32")
                out += Cond(n, pendingGuard)
                pendingGuard = None
                i += m.matched.length
              case None => fail("expected (?N) or (?tOPn)")
            }
          }
        case c => fail(s"unexpected character '$c'")
      }
    }
    if (pendingGuard.isDefined) fail("dangling time guard")
    if (!out.exists(_.isInstanceOf[Cond])) fail("no (?N) condition")
    out.toIndexedSeq
  }

  /** Guard bounds in the ts column's units: ×1e6 for timestamp columns
    * (internal micros), ×1 for BIGINT epoch-second columns. */
  def scaleGuards(toks: IndexedSeq[Tok], factor: Long): IndexedSeq[Tok] =
    toks.map {
      case Cond(n, Some((op, secs))) => Cond(n, Some((op, secs * factor)))
      case t => t
    }

  // ---- matching -----------------------------------------------------------

  /** Earliest end position (exclusive) of a match starting at stream
    * position `from`, or -1. Memoized DFS keyed on (token, pos, prevTs) —
    * prevTs (the previous Cond match's timestamp) must be in the key
    * because time guards make the remainder depend on it; without guards
    * the key degenerates to (token, pos) in effect. `evs` must be sorted.
    */
  private[functions] def earliestMatchEnd(
      evs: IndexedSeq[(Long, Int)], toks: IndexedSeq[Tok], from: Int): Int = {
    val memo = mutable.HashMap.empty[(Int, Int, Long), Int]
    // returns earliest end (exclusive) matching toks[ti..) from evs[pos..)
    // with prevTs = ts of the last matched Cond (MinValue if none yet)
    def go(ti: Int, pos: Int, prevTs: Long): Int = {
      if (ti == toks.length) return pos
      memo.get((ti, pos, prevTs)) match {
        case Some(v) => return v
        case None =>
      }
      val res = toks(ti) match {
        case AnyOne =>
          if (pos < evs.length) go(ti + 1, pos + 1, prevTs) else -1
        case AnyStar =>
          // try consuming 0..k events; earliest end = first success
          var p = pos
          var r = -1
          while (r == -1 && p <= evs.length) {
            r = go(ti + 1, p, prevTs)
            p += 1
          }
          r
        case Cond(n, guard) =>
          var p = pos
          var r = -1
          while (r == -1 && p < evs.length) {
            val (ts, mask) = evs(p)
            val condOk = (mask & (1 << (n - 1))) != 0
            val guardOk = guard.forall { case (op, mic) =>
              val d = ts - prevTs
              op match {
                case "<" => d < mic;  case "<=" => d <= mic
                case ">" => d > mic;  case ">=" => d >= mic
                case "==" => d == mic; case "!=" => d != mic
              }
            }
            if (condOk && guardOk) r = go(ti + 1, p + 1, ts)
            // without a leading wildcard the Cond must match AT `pos`
            p += 1
            if (r == -1 && !precededByStar(toks, ti)) p = evs.length // stop
          }
          r
      }
      memo((ti, pos, prevTs)) = res
      res
    }
    go(0, from, Long.MinValue)
  }

  private def precededByStar(toks: IndexedSeq[Tok], ti: Int): Boolean =
    ti > 0 && toks(ti - 1) == AnyStar

  /** True iff the pattern matches anywhere in the stream. */
  def matches(evs: IndexedSeq[(Long, Int)], toks: IndexedSeq[Tok]): Boolean =
    countMatches(evs, toks, firstOnly = true) > 0

  /** Leftmost non-overlapping match count (search resumes after each
    * match's end; a zero-width match — possible only for all-`.*` patterns,
    * which parse() rejects — cannot occur).
    */
  def countMatches(evs: IndexedSeq[(Long, Int)], toks: IndexedSeq[Tok],
      firstOnly: Boolean = false): Int = {
    // anchor scan: a match "starting at" position p means the first token
    // consumes at p (leading .* makes the start float, handled inside DFS
    // by Cond's preceding-star rule — so scan every start anchor)
    var from = 0
    var cnt = 0
    while (from <= evs.length - 1) {
      val end = earliestMatchEnd(evs, toks, from)
      if (end >= 0) {
        cnt += 1
        if (firstOnly) return cnt
        from = math.max(end, from + 1)
      } else {
        from += 1
      }
    }
    cnt
  }
}

/** Aggregate over (ts, condition-bitmask) events; see [[SequenceMatch]].
  * `conds`: the number of conditions; `longTs`: the ts child is BIGINT
  * epoch seconds. */
case class SequencePattern(pattern: String, conds: Int, longTs: Boolean, returnCount: Boolean)
    extends FoldSpec[FunnelEvents] {

  require(conds >= 1 && conds <= 32, "sequenceMatch: 1..32 conditions")
  // timestamp children eval to micros; BIGINT ts is CH epoch seconds, so
  // guard bounds stay in seconds (no scaling)
  @transient private lazy val toks = SequenceMatch.scaleGuards(
    SequenceMatch.parse(pattern), if (longTs) 1L else 1000000L)
  // referenced condition indexes must exist
  SequenceMatch.parse(pattern).foreach {
    case SequenceMatch.Cond(n, _) => require(n <= conds,
      s"sequenceMatch: pattern references (?$n) but only $conds conditions given")
    case _ =>
  }

  def name: String = if (returnCount) "sequenceCount" else "sequenceMatch"
  def accepts: Seq[Arg] = FunnelEvents.accepts
  def dataType(in: Seq[Expression]): DataType = if (returnCount) LongType else BooleanType
  def codec: BufCodec[FunnelEvents] = FunnelEvents

  def create(): FunnelEvents = new FunnelEvents
  // CH semantics: events matching NO condition are invisible to the
  // pattern — `.`/`.*`/adjacency range over the condition-matching
  // substream only (FunnelEvents.add drops mask == 0)
  def update(buf: FunnelEvents, in: Array[Expression], row: InternalRow): FunnelEvents =
    FunnelEvents.update(buf, in, row)
  def merge(buf: FunnelEvents, other: FunnelEvents): FunnelEvents =
    FunnelEvents.merge(buf, other)

  def eval(buf: FunnelEvents): Any = {
    val evs: IndexedSeq[(Long, Int)] = buf.events.sortBy(identity).toIndexedSeq
    if (returnCount) SequenceMatch.countMatches(evs, toks).toLong
    else SequenceMatch.matches(evs, toks)
  }
}
