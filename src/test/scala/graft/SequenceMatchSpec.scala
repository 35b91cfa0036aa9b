package graft

import graft.functions.SequenceMatch
import graft.functions.SequenceMatch.{AnyOne, AnyStar, Cond, Tok}

/** sequenceMatch / sequenceCount: the memoized matcher verified against a
  * brute-force regex-over-positions enumerator on seeded random streams,
  * plus pattern-language edges (adjacency, time guards, tie order) and the
  * SQL registration end-to-end.
  */
class SequenceMatchSpec extends SparkSpec {

  import spark.implicits._

  // ---- brute-force reference ----------------------------------------------

  /** All (start, end) spans where toks matches evs[start..end) — plain
    * recursive enumeration, no memo, no earliest-end pruning.
    */
  private def bruteSpans(evs: IndexedSeq[(Long, Int)], toks: IndexedSeq[Tok]): Seq[(Int, Int)] = {
    def ends(ti: Int, pos: Int, prevTs: Long): Seq[Int] =
      if (ti == toks.length) Seq(pos)
      else toks(ti) match {
        case AnyOne => if (pos < evs.length) ends(ti + 1, pos + 1, prevTs) else Nil
        case AnyStar => (pos to evs.length).flatMap(p => ends(ti + 1, p, prevTs))
        case Cond(n, guard) =>
          if (pos >= evs.length) Nil
          else {
            val (ts, mask) = evs(pos)
            val ok = (mask & (1 << (n - 1))) != 0 && guard.forall { case (op, mic) =>
              val d = ts - prevTs
              op match {
                case "<" => d < mic;  case "<=" => d <= mic
                case ">" => d > mic;  case ">=" => d >= mic
                case "==" => d == mic; case "!=" => d != mic
              }
            }
            if (ok) ends(ti + 1, pos + 1, ts) else Nil
          }
      }
    for (s <- 0 until evs.length; e <- ends(0, s, Long.MinValue).distinct) yield (s, e)
  }

  private def bruteMatches(evs: IndexedSeq[(Long, Int)], toks: IndexedSeq[Tok]): Boolean =
    bruteSpans(evs, toks).nonEmpty

  /** Leftmost non-overlapping count from the span set: repeatedly take the
    * span with the smallest start (earliest end as tie-break), resume after
    * its end.
    */
  private def bruteCount(evs: IndexedSeq[(Long, Int)], toks: IndexedSeq[Tok]): Int = {
    val spans = bruteSpans(evs, toks).sorted
    var from = 0
    var cnt = 0
    var remaining = spans
    while (remaining.nonEmpty) {
      remaining.find(_._1 >= from) match {
        case None => remaining = Nil
        case Some((s, _)) =>
          val e = remaining.filter(_._1 == s).map(_._2).min
          cnt += 1
          from = math.max(e, s + 1)
          remaining = remaining.filter(_._1 >= from)
      }
    }
    cnt
  }

  // ---- parser -------------------------------------------------------------

  test("pattern parser: tokens, guards, rejects") {
    assert(SequenceMatch.parse("(?1).*(?2)") ==
      IndexedSeq(Cond(1, None), AnyStar, Cond(2, None)))
    assert(SequenceMatch.parse("(?1).(?2)") ==
      IndexedSeq(Cond(1, None), AnyOne, Cond(2, None)))
    // parse keeps guard bounds in pattern units (seconds); the agg scales
    // them to the ts column's units via scaleGuards
    assert(SequenceMatch.parse("(?1)(?t>=30)(?2)") ==
      IndexedSeq(Cond(1, None), Cond(2, Some((">=", 30L)))))
    assert(SequenceMatch.scaleGuards(SequenceMatch.parse("(?1)(?t>=30)(?2)"), 1000000L) ==
      IndexedSeq(Cond(1, None), Cond(2, Some((">=", 30000000L)))))
    intercept[IllegalArgumentException](SequenceMatch.parse(".*"))
    intercept[IllegalArgumentException](SequenceMatch.parse("(?t>5)(?1)"))
    intercept[IllegalArgumentException](SequenceMatch.parse("(?1)(?t>5)"))
    intercept[IllegalArgumentException](SequenceMatch.parse("(?0)"))
    intercept[IllegalArgumentException](SequenceMatch.parse("(?1)x"))
  }

  // ---- matcher vs brute force --------------------------------------------

  private val patterns = Seq(
    "(?1).*(?2)", "(?1)(?2)", "(?1).(?2)", "(?1).*(?2).*(?3)",
    "(?2).*(?1)", "(?1)(?t<=5)(?2)", "(?1).*(?t>3)(?2)",
    "(?1)(?2)(?3)", ".*(?1).*", ".(?1)", "(?1).")

  test("seeded random streams: matches and counts equal brute force") {
    val rnd = new scala.util.Random(123)
    for (trial <- 1 to 200) {
      val n = 1 + rnd.nextInt(12)
      val evs = IndexedSeq.fill(n)(
        (rnd.nextInt(20).toLong * 1000000L, rnd.nextInt(8))) // mask over 3 conds
        .sorted
      for (p <- patterns) {
        // ts are micros in this harness — scale guards the way the agg does
        val toks = SequenceMatch.scaleGuards(SequenceMatch.parse(p), 1000000L)
        val em = SequenceMatch.matches(evs, toks)
        val bm = bruteMatches(evs, toks)
        assert(em == bm, s"trial $trial pattern $p evs $evs: match $em != $bm")
        val ec = SequenceMatch.countMatches(evs, toks)
        val bc = bruteCount(evs, toks)
        assert(ec == bc, s"trial $trial pattern $p evs $evs: count $ec != $bc")
      }
    }
  }

  // ---- SQL end-to-end -----------------------------------------------------

  test("SQL registration: funnel triple over grouped events") {
    graft.functions.ChCompat.register(spark)
    val rows = Seq(
      // u1: view -> click -> buy (with noise between)
      (1L, 1L, "view"), (1L, 2L, "noise"), (1L, 3L, "click"), (1L, 4L, "buy"),
      // u2: click before view, no buy
      (2L, 1L, "click"), (2L, 2L, "view"),
      // u3: two full chains -> count 2
      (3L, 1L, "view"), (3L, 2L, "click"), (3L, 3L, "buy"),
      (3L, 4L, "view"), (3L, 5L, "click"), (3L, 6L, "buy"))
      .map { case (u, t, e) => (u, new java.sql.Timestamp(t * 1000L), e) }
      .toDF("user_id", "ts", "etype")
    rows.createOrReplaceTempView("seq_events")
    val got = spark.sql(
      """SELECT user_id,
        |  sequenceMatch('(?1).*(?2).*(?3)', ts,
        |    etype = 'view', etype = 'click', etype = 'buy') AS m,
        |  sequenceCount('(?1).*(?2).*(?3)', ts,
        |    etype = 'view', etype = 'click', etype = 'buy') AS c
        |FROM seq_events GROUP BY user_id ORDER BY user_id""".stripMargin)
      .as[(Long, Boolean, Long)].collect().toSeq
    assert(got == Seq((1L, true, 1L), (2L, false, 0L), (3L, true, 2L)))
  }

  test("CH semantics: events matching no condition are invisible to adjacency") {
    graft.functions.ChCompat.register(spark)
    val rows = Seq(
      // u1: view -> noise -> click; CH '(?1)(?2)' matches (noise skipped)
      (1L, 1L, "view"), (1L, 2L, "noise"), (1L, 3L, "click"),
      // u2: view -> click -> view; '(?1)(?2)' adjacency over the matching
      // stream holds; '(?1).(?2)' needs a third matching event between
      (2L, 1L, "view"), (2L, 2L, "click"))
      .map { case (u, t, e) => (u, new java.sql.Timestamp(t * 1000L), e) }
      .toDF("user_id", "ts", "etype")
    rows.createOrReplaceTempView("seq_adj")
    val got = spark.sql(
      """SELECT user_id,
        |  sequenceMatch('(?1)(?2)', ts, etype = 'view', etype = 'click') AS adj,
        |  sequenceMatch('(?1).(?2)', ts, etype = 'view', etype = 'click') AS gap1
        |FROM seq_adj GROUP BY user_id ORDER BY user_id""".stripMargin)
      .as[(Long, Boolean, Boolean)].collect().toSeq
    // u1: matching stream is [view, click] -> adjacency true, no event for '.'
    assert(got == Seq((1L, true, false), (2L, true, false)))
  }

  test("bigint ts is epoch seconds: guards compare in seconds") {
    graft.functions.ChCompat.register(spark)
    val rows = Seq(
      (1L, 0L, "a"), (1L, 10L, "b"),    // gap 10 s
      (2L, 0L, "a"), (2L, 7200L, "b"))  // gap 2 h
      .toDF("user_id", "ts", "etype")   // ts stays BIGINT
    rows.createOrReplaceTempView("seq_bigint")
    val got = spark.sql(
      """SELECT user_id,
        |  sequenceMatch('(?1).*(?t<=3600)(?2)', ts, etype = 'a', etype = 'b') AS m
        |FROM seq_bigint GROUP BY user_id ORDER BY user_id""".stripMargin)
      .as[(Long, Boolean)].collect().toSeq
    assert(got == Seq((1L, true), (2L, false)),
      "epoch-second bigint ts must not be treated as micros")
  }

  test("time guard through SQL: gap bound decides the match") {
    graft.functions.ChCompat.register(spark)
    val rows = Seq(
      (1L, 0L, "a"), (1L, 10L, "b"),   // gap 10s
      (2L, 0L, "a"), (2L, 100L, "b"))  // gap 100s
      .map { case (u, t, e) => (u, new java.sql.Timestamp(t * 1000L), e) }
      .toDF("user_id", "ts", "etype")
    rows.createOrReplaceTempView("seq_guard")
    val got = spark.sql(
      """SELECT user_id,
        |  sequenceMatch('(?1).*(?t<=30)(?2)', ts, etype = 'a', etype = 'b') AS m
        |FROM seq_guard GROUP BY user_id ORDER BY user_id""".stripMargin)
      .as[(Long, Boolean)].collect().toSeq
    assert(got == Seq((1L, true), (2L, false)))
  }
}
