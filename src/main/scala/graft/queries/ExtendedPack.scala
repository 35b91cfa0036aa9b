package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Relational-completeness queries beyond the reference's own surface —
  * window functions, rollup, semi/anti joins, set ops, string/null scalar
  * coverage. The reference needs none of these (SURVEY §2.5: re-aggregation
  * replaces CUBE; bitmap space replaces INTERSECT), but a library claiming
  * "switch from the reference and keep going" should have them, and each is
  * DuckDB-expressible so they join the oracle gate.
  */
object ExtendedPack {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Window functions: running decimal sum + dense rank per customer.
    "q50_window_running" -> { (s, dir) =>
      val o = Tables(s, dir).orders
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      o.filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          sum(dec("o_totalprice")).over(w).cast(DoubleType).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ROLLUP with grouping id (the CUBE-family the reference replaces with
    // state re-aggregation — provided for completeness).
    "q51_rollup" -> { (s, dir) =>
      Tables(s, dir).lineitem
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("cnt"), sum(dec("l_quantity")).cast(DoubleType).as("qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"), col("cnt"), col("qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // Left semi join (EXISTS).
    "q52_semi_join" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.join(t.orders.filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // Left anti join (NOT EXISTS): customers without any very large order.
    "q53_anti_join" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.join(t.orders.filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // INTERSECT in id space (the relational complement of the bitmap-AND
    // funnel — same answer as bitmap_and_cardinality per day).
    "q54_intersect" -> { (s, dir) =>
      val e = Tables(s, dir).events
      e.filter(col("event_type") === "view").select("user_id")
        .intersect(e.filter(col("event_type") === "click").select("user_id"))
        .orderBy("user_id")
    },

    // EXCEPT: (day, user) pairs that viewed but didn't purchase that day.
    "q55_except" -> { (s, dir) =>
      val e = Tables(s, dir).eventsWithDefaults
      e.filter(col("event_type") === "view").select("day", "user_id")
        .except(e.filter(col("event_type") === "purchase").select("day", "user_id"))
        .orderBy("day", "user_id")
    },

    // String scalar battery.
    "q56_string_funcs" -> { (s, dir) =>
      Tables(s, dir).part
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 5).as("prefix"),
          length(col("p_name")).as("name_len"),
          regexp_replace(col("p_name"), " ", "_").as("snake"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")
    },

    // CASE/IN bucketing.
    "q57_case_buckets" -> { (s, dir) =>
      Tables(s, dir).orders
        .withColumn("bucket",
          when(col("o_totalprice") < 100000, "small")
            .when(col("o_totalprice") < 300000, "medium")
            .otherwise("large"))
        .withColumn("pri",
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hot").otherwise("cold"))
        .groupBy("bucket", "pri")
        .agg(count(lit(1)).as("cnt"), moneySum("o_totalprice").as("revenue"))
        .orderBy("bucket", "pri")
    },

    // NULL-semantics battery over an outer join: count(col) vs count(*),
    // nullif/coalesce interplay.
    "q58_null_handling" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.events.join(t.customer, col("user_id") === col("c_custkey"), "left_outer")
        .withColumn("seg_nb", nullif(col("c_mktsegment"), lit("BUILDING")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("rows_total"),
          count(col("seg_nb")).as("seg_not_building"),
          count(when(col("c_mktsegment").isNull, 1)).as("unmatched"),
          count_distinct(coalesce(col("seg_nb"), lit("X"))).as("seg_variants"))
        .orderBy("event_type")
    },

    // Scalar subquery: orders above the global average price.
    "q59_scalar_subquery" -> { (s, dir) =>
      val o = Tables(s, dir).orders
      val avgRow = o.agg(
        (sum(dec("o_totalprice")).cast(DoubleType) / count(lit(1))).as("avg_price"))
      o.crossJoin(broadcast(avgRow))
        .filter(col("o_totalprice") > col("avg_price") * 1.5)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // deliberate hot-key salting (graft.engine.Skew): result must equal the
    // plain join the oracle computes — salting is a physical rewrite only
    "q60_salted_join" -> { (s, dir) =>
      val t = Tables(s, dir)
      graft.engine.Skew.saltedJoin(t.lineitem,
          t.supplier.withColumnRenamed("s_suppkey", "l_suppkey"), Seq("l_suppkey"), salt = 8)
        .groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("cnt"), moneySum(col("l_extendedprice")).as("revenue"))
        .orderBy("nation")
    },

    // ASOF join (CH `ASOF JOIN`, here graft.operators.AsOfJoin): each event
    // picks the user's most recent order-day at-or-before the event — the
    // window-formulation sort-merge, one shuffle per side, no interval
    // explosion. Right side pre-aggregated to unique (user, day) so the
    // best-match row is well-defined on both engines.
    "q63_asof_join" -> { (s, dir) =>
      val t = Tables(s, dir)
      val left = t.events.select(col("event_id"), col("user_id"), col("ts"))
      val right = t.orders
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("last_order_ts"))
        .agg(count(lit(1)).as("day_orders"),
          sum(dec("o_totalprice")).cast(DoubleType).as("day_total"))
      graft.operators.AsOfJoin.asof(left, right, Seq("user_id"), "ts", "last_order_ts")
        .select("event_id", "user_id", "last_order_ts", "day_orders", "day_total")
        .orderBy("event_id")
    },

    // CH ASOF JOIN *dialect* (engine.ChAsof): the literal `ASOF JOIN ...
    // ON k = k AND t > t2` syntax a ClickHouse user writes, translated
    // onto the same window-formulation operator as q63 — here the INNER +
    // STRICT variant (unmatched left rows dropped, equal timestamps do
    // not match), with alias-qualified select/WHERE resolving to each
    // side of the rewritten join.
    "q80_asof_sql" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.events.select(col("event_id"), col("user_id"), col("ts"))
        .createOrReplaceTempView("graft_asof_events")
      t.orders
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("od"))
        .agg(count(lit(1)).as("day_orders"),
          sum(dec("o_totalprice")).cast(DoubleType).as("day_total"))
        .createOrReplaceTempView("graft_asof_daily_orders")
      graft.engine.ChSql.run(s,
        """SELECT e.event_id, e.user_id, o.od AS last_order_day,
          |       o.day_orders, o.day_total
          |FROM graft_asof_events e ASOF JOIN graft_asof_daily_orders o
          |  ON e.user_id = o.user_id AND e.ts > o.od
          |WHERE e.event_id % 5 = 0
          |ORDER BY e.event_id""".stripMargin)
    },

    // CH ANY-strictness join through the SQL dialect: each order picks ONE
    // lineitem. ClickHouse's ANY keeps an arbitrary match; ours is the
    // deterministic refinement (smallest non-key tuple, see AnyJoin), so
    // the whole answer — not just its shape — sits under the hash gate
    // (DuckDB mirrors the pick with a ROW_NUMBER-1 join).
    "q88_any_join_sql" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .createOrReplaceTempView("graft_any_orders")
      t.lineitem.select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
        .createOrReplaceTempView("graft_any_lines")
      graft.engine.ChSql.run(s,
        """SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber,
          |       l.l_quantity, l.l_extendedprice
          |FROM graft_any_orders o ANY LEFT JOIN graft_any_lines l
          |  ON o.o_orderkey = l.l_orderkey
          |WHERE o.o_custkey % 3 = 0
          |ORDER BY o.o_orderkey""".stripMargin)
    },

    // RIGHT ANY JOIN through the dialect (q88's mirror image): every order
    // row survives, each picking the deterministic smallest lineitem — the
    // anyRight path + the RIGHT keyword parse, under the same hash gate.
    "q109_any_right_sql" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .createOrReplaceTempView("graft_anyr_orders")
      t.lineitem.select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
        .createOrReplaceTempView("graft_anyr_lines")
      // each side keeps its own columns: an order with no lines reads
      // NULL for l.l_orderkey, so the key is the order's own o.o_orderkey
      graft.engine.ChSql.run(s,
        """SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber,
          |       l.l_quantity, l.l_extendedprice
          |FROM graft_anyr_lines l ANY RIGHT JOIN graft_anyr_orders o
          |  ON l.l_orderkey = o.o_orderkey
          |WHERE o.o_custkey % 7 = 1
          |ORDER BY o_orderkey""".stripMargin)
    },

    // ASOF JOIN USING form (CH: last USING column is the time axis, `>=`
    // semantics) — same-named keys both sides, output keeps the left's
    // time column; exercises the dialect's USING parse + right-ts aliasing.
    "q110_asof_using_sql" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.events.select(col("event_id"), col("user_id"), col("ts"))
        .createOrReplaceTempView("graft_asofu_events")
      t.orders
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"))
        .agg(count(lit(1)).as("day_orders"),
          sum(dec("o_totalprice")).cast(DoubleType).as("day_total"))
        .createOrReplaceTempView("graft_asofu_daily")
      graft.engine.ChSql.run(s,
        """SELECT event_id, user_id, day_orders, day_total
          |FROM graft_asofu_events e ASOF LEFT JOIN graft_asofu_daily o
          |  USING (user_id, ts)
          |WHERE event_id % 7 = 0
          |ORDER BY event_id""".stripMargin)
    },

    // ASOF with tolerance (pandas merge_asof-style): matches farther than
    // 25 years behind the event are nulled out — the toleranceSeconds path
    // over real timestamp columns, mirrored in SQL by a post-join CASE on
    // the microsecond gap.
    "q111_asof_tolerance" -> { (s, dir) =>
      val t = Tables(s, dir)
      val left = t.events.filter(col("event_id") % 4 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = t.orders
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("od"))
        .agg(count(lit(1)).as("day_orders"),
          sum(dec("o_totalprice")).cast(DoubleType).as("day_total"))
      graft.operators.AsOfJoin.asof(left, right, Seq("user_id"), "ts", "od",
          toleranceSeconds = Some(788400000L)) // 25 × 365-day years
        .select(col("event_id"), col("user_id"), col("od"),
          col("day_orders"), col("day_total"))
        .orderBy("event_id")
    },

    // Strict-FORWARD ASOF through the dialect (`<` picks the earliest
    // right row strictly after the left time): each view event finds the
    // user's NEXT purchase — the time-to-conversion shape. q80 covers
    // strict-backward; this gates the forward scan direction.
    "q114_asof_forward_sql" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.events.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
        .createOrReplaceTempView("graft_fwd_views")
      t.events.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("pts"))
        .agg(max(col("event_id")).as("purchase_id"))
        .createOrReplaceTempView("graft_fwd_purchases")
      graft.engine.ChSql.run(s,
        """SELECT e.event_id, e.user_id, p.pts, p.purchase_id
          |FROM graft_fwd_views e ASOF LEFT JOIN graft_fwd_purchases p
          |  ON e.user_id = p.user_id AND e.ts < p.pts
          |WHERE e.event_id % 6 = 0
          |ORDER BY e.event_id""".stripMargin)
    },

    // Sessionization (graft.operators.Sessionize): 30-minute-gap sessions
    // per user over raw events, with per-session stats — one window pass,
    // one aggregation, both keyed by user.
    "q64_sessions" -> { (s, dir) =>
      graft.operators.Sessionize.sessionStats(
          Tables(s, dir).events, "user_id", "ts", gapSeconds = 1800L,
          extra = Seq(sum(dec(col("value"))).cast(DoubleType).as("session_value")))
        .withColumn("duration_sec",
          col("session_end").cast("timestamp").cast(LongType)
            - col("session_start").cast("timestamp").cast(LongType))
        .select(col("user_id"), col("session_seq").cast(LongType).as("session_seq"),
          col("session_start"), col("session_end"), col("n_events"),
          col("session_value"), col("duration_sec"))
        .orderBy("user_id", "session_seq")
    },

    // FULL OUTER join: two half-overlapping keyed sides, nulls surviving
    // on both — the one outer-join shape the declared set didn't cover.
    "q75_full_outer" -> { (s, dir) =>
      val t = Tables(s, dir)
      val o = t.orders.filter(col("o_custkey") <= 200)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec("o_totalprice")).cast(DoubleType).as("spend"))
      val c = t.customer.filter(col("c_custkey").between(100, 300))
        .select(col("c_custkey"), col("c_mktsegment"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_mktsegment"), col("n_orders"), col("spend"))
        .orderBy("custkey")
    },

    // CUBE: all four grouping combinations + grouping id (q51's ROLLUP
    // sibling — the reference replaces both with state re-aggregation).
    "q76_cube" -> { (s, dir) =>
      Tables(s, dir).orders
        .cube("o_orderstatus", "o_orderpriority")
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("cnt"),
          sum(dec("o_totalprice")).cast(DoubleType).as("revenue"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
          col("cnt"), col("revenue"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    // Window frames + rank family: bounded ROWS frame (moving sum), lag,
    // ntile, percent_rank — deterministic under the tie-free
    // (o_orderdate, o_orderkey) ordering.
    "q77_window_frames" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir).orders.filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec("o_totalprice")).over(w.rowsBetween(-2, 0))
            .cast(DoubleType).as("moving3"),
          lag(dec("o_totalprice"), 1).over(w).cast(DoubleType).as("prev_price"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Range join (graft.operators.RangeJoin): per purchase, the user's
    // view events inside the following hour — a binned EQUI-join +
    // residual filter, the scalable rewrite of a theta join that would
    // otherwise nested-loop.
    "q79_range_join" -> { (s, dir) =>
      val e = Tables(s, dir).events
      val points = e.filter(col("event_type") === "view")
        .select(col("user_id"),
          col("ts").cast("timestamp").cast(LongType).as("p"))
      val iv = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").cast("timestamp").cast(LongType).as("lo"))
        .withColumn("hi", col("lo") + lit(3600L))
      graft.operators.RangeJoin.pointInInterval(points, iv,
          Seq("user_id"), "p", "lo", "hi", binWidth = 3600L)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_views"))
        .orderBy("purchase_id")
    },

    // CH argMax/argMin ≙ Spark max_by/min_by (events have no (user, ts)
    // ties at the driver SFs, so the picked rows are well-defined).
    "q78_argmax" -> { (s, dir) =>
      Tables(s, dir).events
        .filter(col("user_id") <= 500)
        .groupBy("user_id")
        .agg(max_by(col("event_type"), col("ts")).as("last_event"),
          max(col("ts")).as("last_ts"),
          min_by(col("event_type"), col("ts")).as("first_event"),
          count(lit(1)).as("n"))
        .orderBy("user_id")
    },

    // Exact-moment statistics (Moments): corr / covarPop / varPop /
    // stddevPop per return flag from overflow-free raw moments (decimal
    // lanes inside Moments; quantity as-is, prices truncated to whole
    // dollars), combined in one fixed IEEE tree after the aggregate —
    // bit-identical under any partitioning, so the float statistics
    // themselves are hash-gated, not rounded. The raw sums re-cast to
    // BIGINT on output (values fit by construction): the oracle emits
    // BIGINT, and a decimal column would dodge local_verify's int/float
    // kind check via pandas' object dtype while risking the driver's
    // formatted-value hash.
    "q127_stats_moments" -> { (s, dir) =>
      import graft.functions.Moments
      val li = Tables(s, dir).lineitem
      Moments.aggregate(li, Seq("l_returnflag"),
          col("l_quantity"), floor(col("l_extendedprice")))
        .select(col("l_returnflag"), col("n"),
          col("sx").cast(LongType).as("sx"), col("sy").cast(LongType).as("sy"),
          Moments.varPop(col("sxx"), col("sx"), col("n")).as("qty_var"),
          Moments.stddevPop(col("syy"), col("sy"), col("n")).as("price_sd"),
          Moments.covarPop(col("sxy"), col("sx"), col("sy"), col("n")).as("qp_covar"),
          Moments.corr(col("sxy"), col("sx"), col("sy"),
            col("sxx"), col("syy"), col("n")).as("qp_corr"))
        .orderBy("l_returnflag")
    },

    // Z-order clustered layout under the hash gate: events re-written
    // Morton-clustered on (user_id, event_id) at construction, then the
    // DECLARED plan is a two-dimension box filter + aggregate over that
    // copy — values must equal DuckDB's direct filter over the raw file
    // (layout is a performance property, never a results property).
    // ZOrderSpec measures the actual file-level skipping from footers;
    // PlanSpec pins that both filters reach this scan as PushedFilters.
    "q172_zorder_scan" -> { (s, dir) =>
      val raw = Tables(s, dir).events
      val p = graft.engine.ChReplay.scratchWarehouse("graft-q172") + "/ev_z"
      graft.engine.ZOrder.writeZOrdered(
        raw, p, Seq("user_id", "event_id"), bits = 8, numFiles = 16)
      s.read.parquet(p)
        .filter(col("user_id").between(100, 400) &&
          col("event_id").between(1000, 5000))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(dec("value")).cast(DoubleType).as("val_sum"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .orderBy("event_type")
    },

    // The round-11 dialect tail under the hash gate: splitByRegexp /
    // regexpExtract / toBool / widthBucket / mapContainsKeyLike /
    // toMillisecond / hopStart-hopEnd / bitmapTransform /
    // proportionsZTest — each mirrored by an INDEPENDENT DuckDB spelling
    // (regexp_split_to_array, closed-form width buckets, CASE-mapped
    // distinct counts for the bitmap remap, the explicit two-proportion
    // formulas). p_value is omitted from the gate (DuckDB has no erfc);
    // ChCompatSpec pins it against python-math vectors instead.
    "q173_dialect_tail" -> { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("graft_dt_events")
      s.sql(
        """SELECT event_type,
          |  arrayStringConcat(splitByRegexp('[aeiou]+', event_type), '|') AS sp,
          |  regexpExtract(event_type, '^(..)', 1) AS rx,
          |  CAST(toBool(CASE WHEN length(event_type) % 2 = 0
          |                   THEN 'true' ELSE '0' END) AS INT) AS tb,
          |  widthBucket(CAST(length(event_type) AS DOUBLE), 3D, 9D, 4) AS wb,
          |  CAST(mapContainsKeyLike(map(event_type, 1), '%i%') AS INT) AS mk,
          |  min(toMillisecond(timestampadd(
          |    MILLISECOND, CAST(event_id % 1000 AS INT), ts))) AS ms_min,
          |  min(hopStart(ts, INTERVAL 10 MINUTE, INTERVAL 30 MINUTE)) AS hs_min,
          |  max(hopEnd(ts, INTERVAL 10 MINUTE, INTERVAL 30 MINUTE)) AS he_max,
          |  bitmapCardinality(bitmapTransform(groupBitmapState(user_id % 50),
          |    array(1, 2, 3), array(101, 102, 103))) AS bc,
          |  bitmapMin(bitmapTransform(groupBitmapState(user_id % 50),
          |    array(1, 2, 3), array(101, 102, 103))) AS bmin,
          |  bitmapMax(bitmapTransform(groupBitmapState(user_id % 50),
          |    array(1, 2, 3), array(101, 102, 103))) AS bmax,
          |  round(proportionsZTest(
          |    countIf(user_id % 7 = 0), countIf(user_id % 5 = 0),
          |    count(1), count(1), 0.95D, 'unpooled').z_statistic, 9) AS zs,
          |  round(proportionsZTest(
          |    countIf(user_id % 7 = 0), countIf(user_id % 5 = 0),
          |    count(1), count(1), 0.95D, 'unpooled').ci_lower, 9) AS ci_lo,
          |  round(proportionsZTest(
          |    countIf(user_id % 7 = 0), countIf(user_id % 5 = 0),
          |    count(1), count(1), 0.95D, 'unpooled').ci_upper, 9) AS ci_hi
          |FROM graft_dt_events
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    // CH `ORDER BY k LIMIT n WITH TIES` through the ChSql rewrite (rank-
    // with-ties wrap): the first n rows plus every row tied with the n-th.
    // The outer orderBy adds the total order the gate needs (tie-group
    // membership is the query's semantics; intra-tie order is not).
    // DuckDB has no WITH TIES — the oracle mirrors with its own
    // QUALIFY + rank(), an independent engine path.
    "q174_with_ties" -> { (s, dir) =>
      Tables(s, dir).lineitem.createOrReplaceTempView("graft_wt_lineitem")
      graft.engine.ChSql.run(s,
        """SELECT l_orderkey, l_linenumber, l_quantity
          |FROM graft_wt_lineitem
          |ORDER BY l_quantity DESC LIMIT 5 WITH TIES""".stripMargin)
        .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))
    }
  )

  val oracle: Map[String, String] = Map(
    // the moment combination mirrored operation-for-operation: every
    // div/mul/sub/sqrt below is the same single IEEE op Spark executes,
    // over identical BIGINT sums — the gate hashes full double bits.
    "q127_stats_moments" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
        |    CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)
        |           * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)
        |           * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n, sx, sy,
        |  CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS qty_var,
        |  sqrt(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS price_sd,
        |  CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS qp_covar,
        |  (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        |  / (sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
        |       - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |         * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |     * sqrt(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
        |       - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |         * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))) AS qp_corr
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q50_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | ROW_NUMBER() OVER w AS rn,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q51_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | GROUPING(l_returnflag, l_linestatus) AS gid,
        | COUNT(*) AS cnt,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q52_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q53_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "q54_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'click'
        |ORDER BY user_id""".stripMargin,

    "q55_except" ->
      """SELECT CAST(ts AS DATE) AS day, user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT CAST(ts AS DATE) AS day, user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY day, user_id""".stripMargin,

    "q56_string_funcs" ->
      """SELECT p_partkey, UPPER(p_name) AS uname, SUBSTRING(p_name, 1, 5) AS prefix,
        | LENGTH(p_name) AS name_len, REPLACE(p_name, ' ', '_') AS snake,
        | CONCAT_WS('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q57_case_buckets" ->
      s"""SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
         |            WHEN o_totalprice < 300000 THEN 'medium'
         |            ELSE 'large' END AS bucket,
         |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
         |       ELSE 'cold' END AS pri,
         |  COUNT(*) AS cnt, ${moneySumSql("o_totalprice")} AS revenue
         |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q58_null_handling" ->
      """SELECT event_type, COUNT(*) AS rows_total,
        | COUNT(NULLIF(c_mktsegment, 'BUILDING')) AS seg_not_building,
        | COUNT(CASE WHEN c_mktsegment IS NULL THEN 1 END) AS unmatched,
        | COUNT(DISTINCT COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'X')) AS seg_variants
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q59_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM orders) * 1.5
        |ORDER BY o_orderkey""".stripMargin,

    "q60_salted_join" ->
      """SELECT s.s_nationkey AS nation,
        | COUNT(*) AS cnt,
        | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN is the oracle for the operator.
    "q63_asof_join" ->
      """WITH ro AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS od,
        |    COUNT(*) AS day_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, ro.od AS last_order_ts,
        |  ro.day_orders, ro.day_total
        |FROM events e ASOF LEFT JOIN ro
        |  ON e.user_id = ro.user_id AND e.ts >= ro.od
        |ORDER BY e.event_id""".stripMargin,

    // DuckDB's ASOF (inner) JOIN with the strict comparator mirrors the
    // dialect form exactly.
    // The deterministic ANY pick: per l_orderkey, the row with the
    // smallest (l_linenumber, l_quantity, l_extendedprice) tuple — a
    // ROW_NUMBER-1 join in SQL.
    "q88_any_join_sql" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_quantity, l_extendedprice) AS rn
        |  FROM lineitem)
        |SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber,
        |  l.l_quantity, l.l_extendedprice
        |FROM orders o LEFT JOIN l
        |  ON o.o_orderkey = l.l_orderkey AND l.rn = 1
        |WHERE o.o_custkey % 3 = 0
        |ORDER BY o.o_orderkey""".stripMargin,

    "q80_asof_sql" ->
      """WITH ro AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS od,
        |    COUNT(*) AS day_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, ro.od AS last_order_day,
        |  ro.day_orders, ro.day_total
        |FROM events e ASOF JOIN ro
        |  ON e.user_id = ro.user_id AND e.ts > ro.od
        |WHERE e.event_id % 5 = 0
        |ORDER BY e.event_id""".stripMargin,

    // RIGHT ANY ≡ LEFT ANY with sides swapped: per-order smallest lineitem
    // tuple via ROW_NUMBER-1, every order surviving.
    "q109_any_right_sql" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_quantity, l_extendedprice) AS rn
        |  FROM lineitem)
        |SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber,
        |  l.l_quantity, l.l_extendedprice
        |FROM orders o LEFT JOIN l
        |  ON o.o_orderkey = l.l_orderkey AND l.rn = 1
        |WHERE o.o_custkey % 7 = 1
        |ORDER BY o.o_orderkey""".stripMargin,

    // The USING form is `>=` against the shared time column; DuckDB mirror
    // written in the ON form (the output columns are identical).
    "q110_asof_using_sql" ->
      """WITH ro AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS od,
        |    COUNT(*) AS day_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, ro.day_orders, ro.day_total
        |FROM events e ASOF LEFT JOIN ro
        |  ON e.user_id = ro.user_id AND e.ts >= ro.od
        |WHERE e.event_id % 7 = 0
        |ORDER BY e.event_id""".stripMargin,

    // DuckDB ASOF supports all four comparators; `<` mirrors the strict-
    // forward direction natively.
    "q114_asof_forward_sql" ->
      """WITH p AS (
        |  SELECT user_id, ts AS pts, MAX(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, p.pts, p.purchase_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'view') e
        |ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts < p.pts
        |WHERE e.event_id % 6 = 0
        |ORDER BY e.event_id""".stripMargin,

    // Tolerance: ASOF-match first, then null the payload where the gap
    // exceeds the bound — exact integer-microsecond mirror of Spark's
    // double-seconds comparison (boundary hits need ts micros == 0).
    "q111_asof_tolerance" ->
      """WITH ro AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS od,
        |    COUNT(*) AS day_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        |  FROM orders GROUP BY 1, 2),
        |j AS (
        |  SELECT e.event_id, e.user_id, e.ts, ro.od, ro.day_orders, ro.day_total
        |  FROM (SELECT * FROM events WHERE event_id % 4 = 0) e
        |  ASOF LEFT JOIN ro ON e.user_id = ro.user_id AND e.ts >= ro.od)
        |SELECT event_id, user_id,
        |  CASE WHEN ok THEN od END AS od,
        |  CASE WHEN ok THEN day_orders END AS day_orders,
        |  CASE WHEN ok THEN day_total END AS day_total
        |FROM (SELECT *,
        |        abs(epoch_us(ts) - epoch_us(od)) <= CAST(788400000 AS BIGINT) * 1000000 AS ok
        |      FROM j)
        |ORDER BY event_id""".stripMargin,

    // Gap-split sessions via lag + running sum. The micros comparison
    // mirrors Spark's double-cast gap test exactly (microsecond-resolution
    // diffs cannot flip a >1800s comparison at double precision), and
    // date_diff('second') counts the same second boundaries as Spark's
    // timestamp->long cast difference.
    "q64_sessions" ->
      """WITH f AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS is_start
        |  FROM events WHERE ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM f)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
        |  date_diff('second', MIN(ts), MAX(ts)) AS duration_sec
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q75_full_outer" ->
      """SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_mktsegment, n_orders, spend
        |FROM (SELECT c_custkey, c_mktsegment FROM customer
        |      WHERE c_custkey BETWEEN 100 AND 300) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders WHERE o_custkey <= 200 GROUP BY o_custkey) o
        |ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,

    "q76_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | GROUPING(o_orderstatus, o_orderpriority) AS gid,
        | COUNT(*) AS cnt,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q77_window_frames" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving3,
        | CAST(LAG(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_price,
        | NTILE(4) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS quartile,
        | PERCENT_RANK() OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS pr
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q78_argmax" ->
      """SELECT user_id, ARG_MAX(event_type, ts) AS last_event, MAX(ts) AS last_ts,
        | ARG_MIN(event_type, ts) AS first_event, COUNT(*) AS n
        |FROM events WHERE user_id <= 500
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the Spark side compares TRUNCATED-second longs, so the oracle
    // truncates the same way (epoch_us // 1_000_000) before comparing
    "q79_range_join" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS p
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) // 1000000 AS lo
        |  FROM events WHERE event_type = 'purchase')
        |SELECT purchase_id, COUNT(*) AS n_views
        |FROM p JOIN v USING (user_id)
        |WHERE v.p >= p.lo AND v.p < p.lo + 3600
        |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin,

    // direct filter over the raw file — the Spark side reads its z-ordered
    // rewrite, so the hash match proves clustering changed nothing
    "q172_zorder_scan" ->
      """SELECT event_type,
        | COUNT(*) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum,
        | MIN(event_id) AS min_id,
        | MAX(event_id) AS max_id
        |FROM events
        |WHERE user_id BETWEEN 100 AND 400 AND event_id BETWEEN 1000 AND 5000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // independent spellings throughout: regexp_split_to_array for
    // splitByRegexp, a closed-form width bucket, LIKE for the map-key
    // probe, date_part('milliseconds') % 1000 (DuckDB's field includes the
    // seconds, ours is the pure ms component), time_bucket for the hop
    // grid (same epoch-aligned 10-minute lattice), CASE-mapped DISTINCT
    // re-aggregation for the bitmap remap, and the explicit two-proportion
    // z formulas with the 0.975 normal quantile as a literal
    "q173_dialect_tail" ->
      """WITH g AS (
        |  SELECT event_type,
        |    MIN(CAST(date_part('milliseconds',
        |      CAST(ts AS TIMESTAMP) + (event_id % 1000) * INTERVAL 1 MILLISECOND)
        |      AS INT) % 1000) AS ms_min,
        |    MIN(time_bucket(INTERVAL 10 MINUTE, CAST(ts AS TIMESTAMP))) AS hs_min,
        |    MAX(time_bucket(INTERVAL 10 MINUTE, CAST(ts AS TIMESTAMP))
        |        + INTERVAL 30 MINUTE) AS he_max,
        |    CAST(COUNT(*) FILTER (WHERE user_id % 7 = 0) AS DOUBLE) AS sx,
        |    CAST(COUNT(*) FILTER (WHERE user_id % 5 = 0) AS DOUBLE) AS sy,
        |    CAST(COUNT(*) AS DOUBLE) AS n
        |  FROM events GROUP BY event_type),
        |b AS (
        |  SELECT event_type,
        |    CAST(COUNT(DISTINCT m) AS BIGINT) AS bc,
        |    CAST(MIN(m) AS BIGINT) AS bmin,
        |    CAST(MAX(m) AS BIGINT) AS bmax
        |  FROM (SELECT event_type,
        |          CASE WHEN user_id % 50 IN (1, 2, 3)
        |               THEN user_id % 50 + 100 ELSE user_id % 50 END AS m
        |        FROM events)
        |  GROUP BY event_type),
        |z AS (
        |  SELECT event_type, ms_min, hs_min, he_max,
        |    (sx / n - sy / n) AS d,
        |    sqrt((sx / n) * (1 - sx / n) / n + (sy / n) * (1 - sy / n) / n) AS se
        |  FROM g)
        |SELECT z.event_type,
        |  array_to_string(regexp_split_to_array(z.event_type, '[aeiou]+'), '|') AS sp,
        |  regexp_extract(z.event_type, '^(..)', 1) AS rx,
        |  CASE WHEN length(z.event_type) % 2 = 0 THEN 1 ELSE 0 END AS tb,
        |  CASE WHEN length(z.event_type) < 3 THEN 0
        |       WHEN length(z.event_type) >= 9 THEN 5
        |       ELSE CAST(FLOOR((length(z.event_type) - 3) / 1.5) AS BIGINT) + 1
        |  END AS wb,
        |  CASE WHEN z.event_type LIKE '%i%' THEN 1 ELSE 0 END AS mk,
        |  ms_min, hs_min, he_max, bc, bmin, bmax,
        |  round(d / se, 9) AS zs,
        |  round(d - 1.959963984540054 * se, 9) AS ci_lo,
        |  round(d + 1.959963984540054 * se, 9) AS ci_hi
        |FROM z JOIN b ON z.event_type = b.event_type
        |ORDER BY z.event_type""".stripMargin,

    // DuckDB's own QUALIFY + rank() — an independent spelling of the
    // rank-with-ties semantics the ChSql WITH TIES rewrite produces
    "q174_with_ties" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |  QUALIFY rank() OVER (ORDER BY l_quantity DESC) <= 5
        |) ORDER BY l_quantity DESC, l_orderkey, l_linenumber""".stripMargin
  )
}
