package graft.mv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.engine.ChSql

/** A materialized view: a per-batch transform feeding a [[StateTable]] —
  * ClickHouse's `CREATE MATERIALIZED VIEW ... TO dwm.x_local AS SELECT ...
  * FROM ods.y_local GROUP BY ...` insert trigger
  * (ref dwm.mainpage_stat_mv_dis.sql:28-57; trigger semantics doc:298-301).
  *
  * `transform` maps ONE raw insert batch to enriched rows (derived default
  * columns, dictionary/broadcast joins — ref :41-50); the state table then
  * partial-aggregates and appends. History is never touched; arbitrarily
  * late rows are accepted and merge-on-read reconciles them — deliberately
  * NOT a watermarked stateful streaming aggregation, which would drop late
  * data the reference accepts (SURVEY §2.8 ST2, §7.4 risk 4).
  *
  * Multiple MVs may target the same StateTable with disjoint metric columns
  * (the "union all max" wide-table pattern, ref :157-238) — absent metrics
  * in a batch merge as identity because Spark aggregates ignore NULLs.
  */
final class MaterializedView(
    val name: String,
    transform: DataFrame => DataFrame,
    val target: StateTable,
    preAggregated: Boolean = false,
    cascades: Seq[StateTable] = Nil) {

  /** This batch's state rows (the MV SELECT applied to the inserted block). */
  private def batchStates(batch: DataFrame): DataFrame =
    if (preAggregated) transform(batch) else target.toStates(transform(batch))

  /** Process one insert batch (the trigger firing). With `preAggregated`
    * the transform already emits state rows (e.g. a CH-dialect `-State`
    * SELECT, see [[MaterializedView.fromSql]]) and is appended as-is;
    * otherwise the state table runs its own partial aggregation. Each
    * `cascades` table then receives the SAME batch states re-aggregated at
    * its keys — the MV-on-MV chain (dwm → dws) firing per inserted block.
    */
  def processBatch(batch: DataFrame): Unit = {
    val states = batchStates(batch)
    target.append(states)
    cascades.foreach(c => target.cascadeBatch(c, states))
  }

  /** Process one insert batch exactly once, keyed by the stream's batchId —
    * a foreachBatch retry after a sink-side crash re-delivers the same id,
    * and the state table's ledger makes the replay a no-op (ClickHouse's
    * inserted-block dedup, here with durable markers). Every cascade table
    * dedups the id against ITS OWN ledger, so a crash between the dwm and
    * dws commits heals on replay — each table re-ingests only what it
    * missed. Returns false when the primary append was a deduplicated
    * replay.
    */
  def processBatchExactlyOnce(batch: DataFrame, batchId: Long): Boolean = {
    val states = batchStates(batch)
    // ledger namespace = MV name: several MVs may stream into the same
    // wide target, each with its own foreachBatch id sequence from 0
    val fresh = target.appendExactlyOnce(states, batchId, name)
    cascades.foreach(c => target.cascadeBatchExactlyOnce(c, states, batchId, name))
    fresh
  }

  /** Attach to a micro-batch stream: each micro-batch ≙ one insert batch
    * (the generators' ~2000-row/10s cadence, ref make_user_action_001.py:50-62).
    * The transform runs inside foreachBatch so dictionary broadcasts are
    * re-resolved per batch (dictionary LIFETIME refresh, SURVEY §2.8 ST4).
    * With a `checkpoint`, batches go through [[processBatchExactlyOnce]].
    */
  def attach(stream: DataFrame, trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      checkpoint: Option[String] = None): StreamingQuery = {
    // with a checkpoint, batch ids are stable across restarts — use the
    // exactly-once path so a crash-and-replay can't double-ingest; without
    // one, ids restart at 0 on every attach and must not be deduped on
    val exactlyOnce = checkpoint.isDefined
    var w: DataStreamWriter[Row] = stream.writeStream
      .queryName(name)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (exactlyOnce) { processBatchExactlyOnce(batch, id); () }
        else processBatch(batch)
      }
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    w.start()
  }
}

object MaterializedView {

  /** A materialized view defined by its ClickHouse-dialect SELECT — the
    * literal `CREATE MATERIALIZED VIEW ... TO target AS <mvSql>` form
    * (ref dwm.mainpage_stat_mv_dis.sql:40-57). Per insert batch the
    * trigger fires over THAT BATCH ONLY (doc:298-301), so the SELECT runs
    * through the dialect front door ([[graft.engine.ChSql.run]]) with
    * `sourceTable` (the `FROM` name in the SQL, e.g.
    * `ods.action_001_local`) bound to the batch's plan. The SELECT's
    * `-State` columns land in the target as-is; merge-on-read finishes the
    * job. Requires the SQL's output columns to match the target's keys +
    * metric names (same contract as the reference's MV column list).
    */
  /** `conform` post-processes each batch's SELECT output before it lands
    * in the target — e.g. [[graft.engine.ChReplay]] maps it onto the
    * target table's declared columns by name (CH insert semantics).
    */
  def fromSql(
      name: String,
      mvSql: String,
      sourceTable: String,
      target: StateTable,
      conform: DataFrame => DataFrame = identity): MaterializedView = {
    require(ChSql.reads(mvSql, sourceTable),
      s"MV SQL does not reference source table '$sourceTable'")
    new MaterializedView(name, { batch =>
      val s = batch.sparkSession
      graft.functions.ChCompat.register(s)
      conform(ChSql.run(s, mvSql,
        bound = n => Option.when(n.equalsIgnoreCase(sourceTable))(batch)))
    }, target, preAggregated = true)
  }
}
