package graft

/** windowFunnel: exact-existential chain semantics verified against
  * brute-force subsequence enumeration on seeded random event sets.
  */
class WindowFunnelSpec extends SparkSpec {

  /** Max funnel depth by explicit subsequence search (strictly increasing
    * ts, every step within `window` of the chain start).
    */
  private def brute(evs: Seq[(Long, Int)], levels: Int, window: Long): Int = {
    def extend(level: Int, start: Long, lastTs: Long): Int = {
      if (level == levels) return level
      var best = level
      for ((ts, m) <- evs if ts > lastTs && (m & (1 << level)) != 0
           && (level == 0 || ts - start <= window)) {
        val s = if (level == 0) ts else start
        best = math.max(best, extend(level + 1, s, ts))
      }
      best
    }
    extend(0, 0L, Long.MinValue)
  }

  test("hand-crafted chains: depth, window cutoff, ties never chain") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    // bigint ts = CH DateTime epoch seconds; window 5 = 5 seconds
    val rows = Seq(
      // g1: clean 3-chain within window
      ("g1", 1L, "view"), ("g1", 2L, "click"), ("g1", 3L, "buy"),
      // g2: third step outside the 5s window of the chain start
      ("g2", 1L, "view"), ("g2", 2L, "click"), ("g2", 9L, "buy"),
      // g3: click arrives before any view — no chain past level 1
      ("g3", 1L, "click"), ("g3", 2L, "view"),
      // g4: view and click share a timestamp — ties must not chain
      ("g4", 1L, "view"), ("g4", 1L, "click"),
      // g5: a later view restarts the window and rescues the chain
      ("g5", 1L, "view"), ("g5", 6L, "view"),
      ("g5", 7L, "click"), ("g5", 10L, "buy"))
      .toDF("g", "ts", "et")
    rows.createOrReplaceTempView("graft_wf_toy")
    val got = spark.sql(
      """SELECT g, windowFunnel(ts, 5, et = 'view', et = 'click', et = 'buy') AS lvl
        |FROM graft_wf_toy GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("g1" -> 3, "g2" -> 2, "g3" -> 1, "g4" -> 1, "g5" -> 3))
  }

  test("strict_order: any stored event between steps interrupts (CH's A->B->D->C)") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    val rows = Seq(
      // CH doc example: A B D C — D interrupts the A->B->C search at level 2
      ("g1", 1L, "A"), ("g1", 2L, "B"), ("g1", 3L, "D"), ("g1", 4L, "C"),
      // no intervention — full chain
      ("g2", 1L, "A"), ("g2", 2L, "B"), ("g2", 3L, "C"),
      // interrupter carries cond1 — the chain RESTARTS there and completes
      ("g3", 1L, "A"), ("g3", 2L, "B"), ("g3", 3L, "A"),
      ("g3", 4L, "B"), ("g3", 5L, "C"),
      // untracked event types are not stored, so they cannot interrupt
      ("g4", 1L, "A"), ("g4", 2L, "Z"), ("g4", 3L, "B"), ("g4", 4L, "C"))
      .toDF("g", "ts", "et")
    rows.createOrReplaceTempView("graft_wf_so")
    val got = spark.sql(
      """SELECT g, windowFunnel(ts, 100, 'strict_order',
        |         et = 'A', et = 'B', et = 'C', et = 'D') AS lvl
        |FROM graft_wf_so GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // g1: A,B then D interrupts (D is cond4, stored) -> 2; g4: Z untracked -> 3
    assert(got == Map("g1" -> 2, "g2" -> 3, "g3" -> 3, "g4" -> 3), got.toString)
  }

  test("strict_dedup: repeating an already-matched condition interrupts") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    val rows = Seq(
      // A B A C: the second A repeats matched cond1 between B and C -> 2
      ("g1", 1L, "A"), ("g1", 2L, "B"), ("g1", 3L, "A"), ("g1", 4L, "C"),
      // A B C clean -> 3
      ("g2", 1L, "A"), ("g2", 2L, "B"), ("g2", 3L, "C"),
      // the repeat is cond1 itself -> restart at 1, then B C completes
      ("g3", 1L, "A"), ("g3", 2L, "A"), ("g3", 3L, "B"), ("g3", 4L, "C"),
      // an UNmatched condition between steps does not interrupt dedup
      ("g4", 1L, "A"), ("g4", 2L, "D"), ("g4", 3L, "B"), ("g4", 4L, "C"))
      .toDF("g", "ts", "et")
    rows.createOrReplaceTempView("graft_wf_sd")
    val got = spark.sql(
      """SELECT g, windowFunnel(ts, 100, 'strict_dedup',
        |         et = 'A', et = 'B', et = 'C', et = 'D') AS lvl
        |FROM graft_wf_sd GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("g1" -> 2, "g2" -> 3, "g3" -> 3, "g4" -> 3), got.toString)
  }

  test("strict_increase is the baseline contract: mode accepted, same result") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    Seq(("g", 1L, "A"), ("g", 1L, "B"), ("g", 2L, "B"))
      .toDF("g", "ts", "et").createOrReplaceTempView("graft_wf_si")
    val q = (mode: String) => spark.sql(
      s"""SELECT windowFunnel(ts, 5$mode, et = 'A', et = 'B') AS lvl
         |FROM graft_wf_si GROUP BY g""".stripMargin).head().getInt(0)
    assert(q("") == 2)
    assert(q(", 'strict_increase'") == 2)
  }

  test("matches brute force on 300 seeded random groups (incl. ties)") {
    import spark.implicits._
    graft.functions.ChCompat.register(spark)
    val rnd = new scala.util.Random(42)
    val cases = (0 until 300).map { gid =>
      val n = 1 + rnd.nextInt(8)
      gid -> Seq.fill(n)((rnd.nextInt(8).toLong, 1 + rnd.nextInt(7)))
    }
    val rows = cases.flatMap { case (gid, evs) =>
      evs.map { case (ts, m) =>
        (gid, ts, (m & 1) != 0, (m & 2) != 0, (m & 4) != 0)
      }
    }
    rows.toDF("g", "ts", "c0", "c1", "c2").repartition(8)
      .createOrReplaceTempView("graft_wf_rand")
    val got = spark.sql(
      """SELECT g, windowFunnel(ts, 5, c0, c1, c2) AS lvl
        |FROM graft_wf_rand GROUP BY g""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    for ((gid, evs) <- cases) {
      val expect = brute(evs, 3, 5L)
      assert(got(gid) == expect,
        s"group $gid: got ${got(gid)}, brute $expect, events $evs")
    }
  }
}
