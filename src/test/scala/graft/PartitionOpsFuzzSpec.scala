package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.mv.{CountMetric, StateTable, SumMetric}

/** Model-based fuzz of the partition-lifecycle surface (OPTIMIZE
  * [PARTITION] FINAL, DETACH/ATTACH/DROP [DETACHED] PARTITION, TRUNCATE,
  * TTL-free appends, reopen): random op sequences run against a real
  * [[StateTable]] while a trivial in-memory model tracks what must be
  * visible — after every op the table's finalized sums must equal the
  * model exactly, refusals must fire exactly when the model says the op
  * is illegal, and a REOPEN (fresh instance over the same path, i.e. the
  * constructor's recovery pass) must never change either.
  *
  * The value pool deliberately includes hive-escaping values (space,
  * colon, percent) so every directory move runs through escVal, and the
  * same sequence is replayed deterministically from the seed on failure.
  */
class PartitionOpsFuzzSpec extends SparkSpec {

  // partition values: plain, numeric-looking, and hive-escaped shapes
  private val values = Seq("a", "2024-01-01", "v 1:2", "x%y", "id_7")

  test("random partition-lifecycle sequences match the in-memory model " +
      "at every step, across reopens") {
    import spark.implicits._
    for (seed <- 1 to 20) {
      val rnd = new Random(seed * 7919L + 13L)
      val dir = tmpDir(s"popsfz$seed") + "/t"
      def fresh() = new StateTable(spark, dir, keys = Seq("slot", "k"),
        partitionCol = "slot",
        metrics = Seq(SumMetric("v", col("v_src")), CountMetric("cnt")))
      var st = fresh()

      // model: per-partition (liveSum, liveCnt); detached copies carry the
      // same pair. appendBatch appends PARTS, so sums accumulate.
      val live = scala.collection.mutable.Map.empty[String, (Long, Long)]
      val det = scala.collection.mutable.Map.empty[String, (Long, Long)]

      def batch(slot: String, base: Long) =
        (1 to 3).map(i => (slot, i.toLong, base + i)).toDF("slot", "k", "v_src")

      var wrote = false
      def check(opName: String): Unit = {
        val got =
          if (live.isEmpty)
            try st.finalized().count() match {
              case 0L => Map.empty[String, (Long, Long)]
              case n => sys.error(s"expected empty, got $n rows")
            } catch {
              // only a table that NEVER saw an append may fail to read
              // (no schema, maybe no directory). Once anything was
              // written, the persisted schema marker must keep an emptied
              // table readable-as-empty — across reopens too.
              case _: org.apache.spark.sql.AnalysisException
                if !wrote => Map.empty[String, (Long, Long)]
              case _: java.io.FileNotFoundException
                if !wrote => Map.empty[String, (Long, Long)]
            }
          else
            st.finalized().groupBy("slot")
              .agg(sum(col("v")).as("s"), sum(col("cnt")).as("c"))
              .collect()
              .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
              .toMap
        assert(got == live.toMap,
          s"seed $seed after $opName: table=$got model=$live detached=$det")
      }

      for (step <- 0 until 14) {
        val v = values(rnd.nextInt(values.length))
        val op = rnd.nextInt(8)
        val opName = s"step$step op$op($v)"
        op match {
          case 0 => // append a batch into one partition
            val base = rnd.nextInt(100).toLong
            st.appendBatch(batch(v, base))
            val add = (3 * base + 6, 3L)
            val cur = live.getOrElse(v, (0L, 0L))
            live(v) = (cur._1 + add._1, cur._2 + add._2)
            wrote = true
          case 1 => // OPTIMIZE FINAL — never visible (needs live data: a
            // truncated-and-reopened table has no schema to merge)
            if (live.nonEmpty) st.compact()
          case 2 => // OPTIMIZE PARTITION v FINAL — never visible
            st.compactPartition(v)
          case 3 => // DETACH — merges into any detached copy (CH:
            // detached parts of a value accumulate)
            val r = st.detachPartition(v)
            assert(r == live.contains(v), s"$opName detach returned $r")
            live.remove(v).foreach { lv =>
              val dv = det.getOrElse(v, (0L, 0L))
              det(v) = (dv._1 + lv._1, dv._2 + lv._2)
            }
          case 4 => // ATTACH — joins the live set alongside existing rows
            val r = st.attachPartition(v)
            assert(r == det.contains(v), s"$opName attach returned $r")
            det.remove(v).foreach { dv =>
              val lv = live.getOrElse(v, (0L, 0L))
              live(v) = (lv._1 + dv._1, lv._2 + dv._2)
            }
          case 5 => // DROP PARTITION
            val r = st.dropPartition(v)
            assert(r == live.contains(v), s"$opName drop returned $r")
            live.remove(v): Unit
          case 6 => // DROP DETACHED / TRUNCATE (rarer)
            if (rnd.nextBoolean()) {
              val r = st.dropDetachedPartition(v)
              assert(r == det.contains(v), s"$opName dropDetached returned $r")
              det.remove(v): Unit
            } else if (wrote) { st.truncate(); live.clear() }
          case _ => // REOPEN: recovery must be a no-op on a healthy table
            st = fresh()
        }
        check(opName)
      }
      // end state: attach everything back and verify nothing was lost
      for (v <- det.keys.toSeq.sorted) {
        if (live.contains(v)) { st.dropPartition(v); live.remove(v): Unit }
        st.attachPartition(v)
        live(v) = det(v)
        det.remove(v): Unit
      }
      check("final-reattach")
    }
  }

  test("the same model through the STATEMENT layer: parsed DDL sequences " +
      "(incl. multi-subcommand ALTERs, which must run in statement order)") {
    import graft.engine.{ChDdl, ChReplay}
    // the literal types an INSERT converts to the declared UInt64 (BIGINT)
    val literal: Seq[Long => String] = Seq(n => s"$n", n => s"CAST($n AS BIGINT)",
      n => s"CAST($n AS DECIMAL(12, 2))", n => s"toUInt8($n)", n => s"toUInt32($n)")
    for (seed <- 1 to 10) {
      val rnd = new Random(seed * 104729L + 7L)
      val litRnd = new Random(seed)
      val replay = new ChReplay(spark, ChReplay.scratchWarehouse(s"graft-popsql$seed"))
      val tbl = s"dws.pops_$seed"
      replay.executeScript(
        s"""create table $tbl (
           | slot String,
           | k UInt64,
           | v SimpleAggregateFunction(sum, UInt64)
           |) engine=AggregatingMergeTree()
           |PARTITION BY slot ORDER BY (slot, k);""".stripMargin)
      def st = replay.stateTables(tbl)
      def run(sql: String): Unit = replay.execute(ChDdl.parseStatement(sql))

      val live = scala.collection.mutable.Map.empty[String, Long]
      val det = scala.collection.mutable.Map.empty[String, Long]
      def check(opName: String): Unit = {
        // the declared table reads (empty) before its first write too
        val got = st.finalized().groupBy("slot").agg(sum(col("v")).as("s"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == live.toMap,
          s"seed $seed after $opName: table=$got model=$live detached=$det")
        // the table read by name through the statement layer (its parts,
        // summed) agrees too
        val byName = replay.runQuery(s"SELECT slot, sum(v) FROM $tbl GROUP BY slot")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(byName == live.toMap,
          s"seed $seed after $opName: by name=$byName model=$live detached=$det")
        // the introspection surface must agree with the model too, after
        // statements and direct appends alike
        def names(view: String): Set[String] =
          replay.runQuery(s"SELECT DISTINCT partition FROM system.$view " +
              s"WHERE table = '${tbl.split('.').last}'")
            .collect().map(_.getString(0)).toSet
        assert(names("parts") == live.keySet,
          s"seed $seed after $opName: system.parts=${names("parts")} model=$live")
        assert(names("detached_parts") == det.keySet,
          s"seed $seed after $opName: system.detached_parts=" +
            s"${names("detached_parts")} model=$det")
      }

      // (partition value, file name, that file's sum) on one side — the
      // FS-level side channel the model uses to know exactly what a PART
      // statement must move (one part ≙ one data file)
      def partsOn(sub: String): Seq[(String, String, Long)] = {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(st.path), spark.sparkContext.hadoopConfiguration)
        val root = if (sub.isEmpty) new org.apache.hadoop.fs.Path(st.path)
                   else new org.apache.hadoop.fs.Path(st.path, sub)
        if (!fs.exists(root)) Nil
        else fs.listStatus(root).toSeq
          .filter(d => d.isDirectory && d.getPath.getName.contains("="))
          .sortBy(_.getPath.getName)
          .flatMap { d =>
            val value = org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils
              .unescapePathName(d.getPath.getName.split("=", 2)(1))
            graft.engine.Rebalance.dataFiles(fs, d.getPath)
              .sortBy(_.getPath.getName).map { f =>
                val s = spark.read.parquet(f.getPath.toString)
                  .agg(sum(col("v"))).head().getLong(0)
                (value, f.getPath.getName, s)
              }
          }
      }

      // one model transition for a single partition op — DETACH/ATTACH
      // merge (CH: detached parts accumulate; attached parts join the
      // live set), so no partition statement refuses any more
      def apply1(op: Int, v: String): String = op match {
        case 0 =>
          live.remove(v).foreach(s => det(v) = det.getOrElse(v, 0L) + s)
          s"DETACH PARTITION '$v'"
        case 1 =>
          det.remove(v).foreach(s => live(v) = live.getOrElse(v, 0L) + s)
          s"ATTACH PARTITION '$v'"
        case 2 => live.remove(v); s"DROP PARTITION '$v'"
        case _ => det.remove(v); s"DROP DETACHED PARTITION '$v'"
      }

      for (step <- 0 until 12) {
        val v = values(rnd.nextInt(values.length))
        val opName = s"step$step($v)"
        rnd.nextInt(7) match {
          case 0 | 1 => // ingest: an INSERT whose literals each take a
            // type drawn from `literal` (its own Random, so the op sequence
            // of every seed is the one `rnd` alone draws)
            val base = rnd.nextInt(50).toLong
            def lit(n: Long) = literal(litRnd.nextInt(literal.length))(n)
            run(s"INSERT INTO $tbl (slot, k, v) " + (1 to 2).map(i =>
              s"SELECT '$v' AS slot, ${lit(i.toLong)} AS k, ${lit(base + i)} AS v")
              .mkString(" UNION ALL "))
            live(v) = live.getOrElse(v, 0L) + 2 * base + 3
          case 2 =>
            if (live.contains(v)) run(s"OPTIMIZE TABLE $tbl PARTITION '$v' FINAL")
            else if (live.nonEmpty) run(s"OPTIMIZE TABLE $tbl FINAL")
          case 3 =>
            if (live.nonEmpty || det.nonEmpty || rnd.nextBoolean()) {
              run(s"TRUNCATE TABLE $tbl"); live.clear()
            }
          case 5 => // PART-granularity statements (round 13: one part =
            // one data file, unknown names ERROR — CH parity)
            val side = rnd.nextInt(3)
            val kw = Seq("DETACH PART", "ATTACH PART",
              "DROP DETACHED PART")(side)
            val pool = partsOn(if (side == 0) "" else ".detached")
            if (pool.isEmpty || rnd.nextInt(5) == 0)
              intercept[RuntimeException](
                run(s"ALTER TABLE $tbl $kw 'no-such-part'"))
            else {
              val (pv, name, s) = pool(rnd.nextInt(pool.length))
              run(s"ALTER TABLE $tbl $kw '$name'")
              side match {
                case 0 => // live -> detached
                  val rem = live(pv) - s
                  if (rem == 0L) live.remove(pv): Unit else live(pv) = rem
                  det(pv) = det.getOrElse(pv, 0L) + s
                case 1 => // detached -> live
                  val rem = det(pv) - s
                  if (rem == 0L) det.remove(pv): Unit else det(pv) = rem
                  live(pv) = live.getOrElse(pv, 0L) + s
                case _ => // detached copy deleted
                  val rem = det(pv) - s
                  if (rem == 0L) det.remove(pv): Unit else det(pv) = rem
              }
            }
          case 4 => // ONE multi-subcommand ALTER: two ops, STATEMENT order
            val v2 = values(rnd.nextInt(values.length))
            val s1 = apply1(rnd.nextInt(4), v)
            val s2 = apply1(rnd.nextInt(4), v2)
            run(s"ALTER TABLE $tbl $s1, $s2")
          case _ => // single partition op
            run(s"ALTER TABLE $tbl ${apply1(rnd.nextInt(4), v)}")
        }
        check(opName)
      }
    }
  }
}
