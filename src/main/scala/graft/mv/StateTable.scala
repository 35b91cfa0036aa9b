package graft.mv

import java.time.LocalDate

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

import graft.Durable
import graft.functions.ChCompat

/** A persisted partial-aggregate state table — the Spark-native analog of a
  * ReplicatedAggregatingMergeTree store behind a materialized view
  * (ref scripts/sql/dwm.mainpage_stat_mv_dis.sql:2-25; SURVEY.md §1.1).
  *
  * Storage: day-partitioned Parquet (`<path>/<partitionCol>=YYYY-MM-DD/...`),
  * rows sorted within partitions by the grouping keys — the MergeTree
  * PARTITION BY + ORDER BY layout that makes partition pruning and row-group
  * min/max skipping effective (ref ods.action_001_dis.sql:18-22).
  *
  * Lifecycle mirrors the reference exactly:
  *  - [[append]]: each insert batch's partial aggregates land as new rows
  *    (MV insert trigger, doc:298-301) — history is never recomputed, late
  *    rows land in whatever day partition they carry (no watermark drop,
  *    SURVEY §2.8 ST2).
  *  - [[merged]]/[[finalized]]: merge-on-read collapses equal keys (the
  *    SELECT ... -Merge read path, ref dwm.mainpage_stat_mv_dis.sql:60-70);
  *    coarser `groupKeys` give the dws-style rollups (re-aggregation from
  *    finer states replaces CUBE, SURVEY §2.4).
  *  - [[compact]]: background-merge analog (OPTIMIZE FINAL, doc:953-995) —
  *    rewrites each partition with equal keys pre-merged, atomically,
  *    read-equivalent before and after.
  *  - [[expire]]: TTL retention (ref ods.action_001_dis.sql:21) — drops
  *    whole day partitions past the horizon.
  *
  * At cluster scale every operation here is partition-parallel: append is a
  * map-side partial aggregate of the batch (no shuffle of history), reads
  * prune to the queried days, and compaction shuffles only the keys within
  * each rewritten partition.
  *
  * Like an AggregatingMergeTree, the table has one declared schema, its
  * definition (the `_schema` file): a CREATE [[declare]]s it,
  * else the first append's columns are it. Every write converts to it and
  * every read uses it. Only a column addition changes it ([[declare]], or
  * an append bringing a key or metric of this instance that it lacks —
  * the `add column if not exists` flow, ref dwm.mainpage_stat_mv_dis.sql:
  * 78-96); older parts read the new column as NULL, a merge identity.
  */
final class StateTable(
    spark: SparkSession,
    val path: String,
    val keys: Seq[String],
    val partitionCol: String,
    val metrics: Seq[Metric]) {

  ChCompat.register(spark)
  recover()

  // None until something is declared or appended
  @volatile private var definition: Option[StructType] = open()

  private def stateCols = metrics.map(_.state)
  private def mergeCols = metrics.map(_.merge)

  /** Aggregate a raw batch to state rows (the MV SELECT over one insert). */
  def toStates(batch: DataFrame): DataFrame =
    batch.groupBy(keys.map(col): _*).agg(stateCols.head, stateCols.tail: _*)

  /** Append pre-aggregated state rows for one batch. */
  def append(states: DataFrame): Unit = Projection.suppress {
    // suppress: if this table is registered as a projection of `states`'
    // source, the ingest aggregate must NOT route onto the table itself —
    // the table is out of sync with the source for exactly this batch, so
    // a routed read would lose the batch (new partition) or double it
    conform(states)
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode("append").partitionBy(partitionCol).parquet(path)
  }

  /** Aggregate + append a raw batch (insert-trigger semantics). */
  def appendBatch(batch: DataFrame): Unit = append(toStates(batch))

  /** The ledger token of (namespace, batchId). `ns` keeps independent
    * writers apart: two MVs streaming into the SAME wide table each run
    * their own foreachBatch id sequence starting at 0, so an un-namespaced
    * ledger would drop the second writer's batch 0 as a "replay" of the
    * first's. No '-' allowed (the recovery parser splits on it).
    * MIGRATION NOTE: tables written before namespacing hold bare-id
    * markers; those dedup only writers using the same empty namespace —
    * a resumed stream whose MV now passes its name will re-ingest ids the
    * old ledger committed. Re-create the checkpoint (or the table) when
    * upgrading a live multi-writer pipeline.
    */
  private def batchTok(batchId: Long, ns: String): String = {
    val clean = ns.replaceAll("[^A-Za-z0-9_.]", "_")
    // Sanitizing can collapse distinct raw names ("mv-1" vs "mv_1") into one
    // token; a shared token would silently drop the second writer's batches
    // as replays. Disambiguate with a short hash of the RAW name whenever the
    // sanitizer changed anything (unchanged names keep their old tokens, so
    // existing ledgers stay valid).
    val tag =
      if (clean == ns) clean
      else f"$clean.h${scala.util.hashing.MurmurHash3.stringHash(ns) & 0xFFFFFFFFL}%08x"
    if (tag.isEmpty) s"$batchId" else s"$tag.$batchId"
  }

  /** Exactly-once append: the ClickHouse inserted-block dedup analog for
    * foreachBatch retries ([[Durable.appendOnce]]: staged, moved in under
    * `batch-<token>-` names, committed by the `_ledger/batch-<token>`
    * marker). Replays of a committed id return false and touch nothing; a
    * crash before the marker is healed on the next open, after which the
    * retry re-ingests cleanly. Requires a stable batchId across retries —
    * exactly what a checkpointed foreachBatch provides.
    */
  def appendExactlyOnce(states: DataFrame, batchId: Long, ns: String = ""): Boolean =
      Projection.suppress {
    Durable.appendOnce(fileSystem(), new Path(path), partitionCol,
      batchTok(batchId, ns), conform(states).sortWithinPartitions(keys.map(col): _*))
  }

  /** Aggregate + exactly-once append of a raw batch. */
  def appendBatchExactlyOnce(batch: DataFrame, batchId: Long, ns: String = ""): Boolean =
    appendExactlyOnce(toStates(batch), batchId, ns)

  /** Raw state rows as stored (pre-merge), under the definition: no footer
    * is read to plan it, a partition value keeps its declared type, and an
    * empty table reads empty. */
  def read(): DataFrame = spark.read.schema(schema).parquet(path)

  private def schema: StructType = defined.getOrElse(throw new java.io.FileNotFoundException(
    s"$schemaFile: the table has no definition yet (nothing declared or appended)"))

  private def defined: Option[StructType] = {
    if (definition.isEmpty) definition = open()
    definition
  }

  private def schemaFile = new Path(path, "_schema")

  /** The stored definition; for a directory of parts without one (an
    * older layout), their footers' union, inferred once and stored. */
  private def open(): Option[StructType] = {
    val fs = fileSystem()
    def hasParts = fs.exists(new Path(path)) && fs.listStatus(new Path(path)).exists(d =>
      d.getPath.getName.startsWith(s"$partitionCol=") &&
        graft.engine.Rebalance.dataFiles(fs, d.getPath).nonEmpty)
    Durable.readText(fs, schemaFile).map(DataType.fromJson).orElse(Option.when(hasParts) {
      val inferred = spark.read.option("mergeSchema", "true").parquet(path).schema
      Durable.writeText(fs, schemaFile, inferred.json)
      inferred
    }).map(nullable(_).asInstanceOf[StructType])
  }

  /** Add each column the stored definition lacks (CREATE TABLE, ALTER
    * TABLE ADD COLUMN); a defined column keeps its type. */
  def declare(columns: Seq[StructField]): StructType = {
    val base = open().getOrElse(new StructType())
    val added = columns.filterNot(f => base.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    val next = nullable(StructType(base ++ added)).asInstanceOf[StructType]
    if (added.nonEmpty) Durable.writeText(fileSystem(), schemaFile, next.json)
    definition = Some(next)
    next
  }

  /** `t` with every field, element and value nullable, as a read or a
    * merge makes them. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case o => o
  }

  /** `frame` as the definition's columns, the step every write takes:
    * each cast to its declared type under ANSI rules (a value that does not
    * fit fails the write before a part lands), a missing one NULL. A column
    * the definition lacks is declared if it is a key or metric here (or
    * the table's first write); any other fails. */
  private def conform(frame: DataFrame): DataFrame = {
    val known = defined
    val own = (keys ++ metrics.map(_.name) :+ partitionCol).map(_.toLowerCase).toSet
    val extra = frame.schema.filterNot(f =>
      known.exists(_.fieldNames.exists(_.equalsIgnoreCase(f.name))))
    val stray = if (known.isEmpty) Nil else extra.filterNot(f => own(f.name.toLowerCase))
    require(stray.isEmpty, s"$path: no column ${stray.map(_.name).mkString(", ")} " +
      s"in the table's definition ${known.get.simpleString}")
    val target = if (extra.isEmpty) known.get else declare(extra)
    val present = frame.columns.map(_.toLowerCase).toSet
    frame.select(target.map { f =>
      if (!present(f.name.toLowerCase)) lit(null).cast(f.dataType).as(f.name)
      else ColumnBridge.column(Cast(ColumnBridge.expression(col(f.name)), f.dataType,
        None, EvalMode.ANSI)).as(f.name)
    }: _*)
  }

  /** Merge-on-read at the given (possibly coarser) keys; metric columns
    * remain states (binary sketches / arrays / partial sums).
    */
  def merged(groupKeys: Seq[String] = keys): DataFrame =
    read().groupBy(groupKeys.map(col): _*).agg(mergeCols.head, mergeCols.tail: _*)

  /** Merge-on-read + finalize to scalar values (UV counts, medians, sums). */
  def finalized(groupKeys: Seq[String] = keys): DataFrame = {
    val m = merged(groupKeys)
    m.select(groupKeys.map(col) ++ metrics.map(x => x.finish(col(x.name)).as(x.name)): _*)
  }

  /** Background-merge analog: rewrite the table with equal keys pre-merged.
    * Write-to-temp + atomic rename per the doc's OPTIMIZE FINAL invariant —
    * readers see the old or the new table, never a mix.
    *
    * Single-writer discipline (like a MergeTree part set): concurrent
    * compact/append calls are not coordinated. Between the two renames the
    * live path briefly doesn't exist; a crash in that window strands the
    * table at `.compact.old` — the next open restores it.
    */
  def compact(): Unit = Projection.suppress {
    rewrite(".compact", "compact")(merged(keys).sortWithinPartitions(keys.map(col): _*))
  }

  /** The hidden artifacts that must SURVIVE every whole-table rewrite (the
    * rewrite's tmp never contains them): the exactly-once ledger (losing
    * it lets replayed batches re-ingest rows the rewrite already holds),
    * the detached partitions (losing them destroys quarantined data), and
    * the definition. A def: the constructor's [[recover]] runs before the
    * vals declared below it are initialized.
    */
  private def swapArtifacts = Seq("_ledger", ".detached", "_schema")

  private def staged(suffix: String) =
    (new Path(path + suffix + ".tmp"), new Path(path + suffix + ".old"))

  /** The whole-table staged swap of [[compact]] and the mutations: `rows`,
    * conformed, fill the `<path><suffix>.tmp` that replaces the table. */
  private def rewrite(suffix: String, op: String)(rows: DataFrame): Unit = {
    val (tmp, old) = staged(suffix)
    Durable.swap(fileSystem(), new Path(path), tmp, old, swapArtifacts, op)(
      conform(rows).write.mode("overwrite").partitionBy(partitionCol).parquet(tmp.toString))
  }

  /** MV-on-MV cascade — the reference's dwm → dws layering as a state-to-
    * state rollup: re-aggregate THIS table's stored states at the (coarser)
    * keys of `target` and append the result to it. No raw data is touched
    * and nothing is finalized — states merge directly into states (bitmaps
    * OR, HLL union, sums re-sum), so the cascade costs one scan of the
    * source states, which are already ≪ raw.
    *
    * `target.metrics` must be a subset of this table's metrics by name
    * (same state encodings — they merge with this table's merge
    * expressions); `target.keys` must be a subset of this table's keys.
    *
    * Each `rollupTo` call APPENDS (insert-trigger semantics, like a CH MV
    * firing on insert): roll a given slice up exactly once — the `where`
    * filter scopes the slice (e.g. one closed day). Re-running a slice
    * double-counts, exactly as re-inserting into a CH MV would; pair with
    * the target's exactly-once ledger when the cascade is driven from a
    * retried stream.
    */
  def rollupTo(target: StateTable, where: org.apache.spark.sql.Column = lit(true)): Unit =
    target.append(reaggregateFor(target, read().filter(where)))

  /** Per-batch cascade (the MV-on-MV insert trigger firing for ONE inserted
    * block): `states` — rows in THIS table's state encoding, e.g. the batch
    * just appended here — re-aggregated at `target`'s keys and appended.
    */
  def cascadeBatch(target: StateTable, states: DataFrame): Unit =
    target.append(reaggregateFor(target, states))

  /** Exactly-once per-batch cascade: the target's own ledger dedups the
    * batchId independently of this table's, so a crash between the two
    * commits heals on replay (each table re-ingests only what it missed).
    */
  def cascadeBatchExactlyOnce(target: StateTable, states: DataFrame, batchId: Long,
      ns: String = ""): Boolean =
    target.appendExactlyOnce(reaggregateFor(target, states), batchId, ns)

  private def reaggregateFor(target: StateTable, states: DataFrame): DataFrame = {
    val missing = target.metrics.map(_.name).filterNot(n => metrics.exists(_.name == n))
    require(missing.isEmpty, s"rollupTo: target metrics not in source: ${missing.mkString(",")}")
    val badKeys = target.keys.filterNot(keys.contains)
    require(badKeys.isEmpty, s"rollupTo: target keys not in source: ${badKeys.mkString(",")}")
    val cols = metrics.filter(m => target.metrics.exists(_.name == m.name)).map(_.merge)
    states.groupBy(target.keys.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  private def fileSystem(): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Open-time recovery: heal a crash inside any staged swap — [[compact]]
    * and the [[updateWhere]]/[[deleteWhere]] mutations (same swap,
    * different staging suffix), then [[compactPartition]] — and purge the
    * traces of uncommitted exactly-once batches. This makes the swaps
    * crash-recoverable at startup, not merely failure-atomic in-process.
    */
  private def recover(): Unit = {
    val fs = fileSystem()
    for (suffix <- Seq(".compact", ".mutate")) {
      val (tmp, old) = staged(suffix)
      Durable.recover(fs, new Path(path), tmp, old, swapArtifacts)
    }
    recoverPartitionCompacts(fs)
    Durable.recoverLedger(fs, new Path(path))
  }

  /** Recovery for [[compactPartition]]'s swap window. The staging dirs live
    * BESIDE the table (`<table>.pcompact.<value>.{tmp,old}`) — an `.old`
    * dir INSIDE the table would read as a bogus partition value during the
    * window — so recovery scans the parent for them and recovers each
    * partition they name.
    */
  private def recoverPartitionCompacts(fs: FileSystem): Unit = {
    val base = new Path(path).getName + ".pcompact."
    // globStatus on the table's OWN prefix, not a full parent listing — a
    // warehouse directory with thousands of sibling tables must not make
    // every open O(siblings). (Escaped partition values are %-encoded,
    // never glob metacharacters.) A TABLE PATH containing glob
    // metacharacters would misparse the pattern (or throw) — fall back to
    // the literal parent listing for those.
    val debris =
      if ("*?[]{}\\^".exists(path.contains(_))) {
        val parent = new Path(path).getParent
        if (parent == null || !fs.exists(parent)) return
        fs.listStatus(parent).filter(_.getPath.getName.startsWith(base))
      } else
        try fs.globStatus(new Path(path + ".pcompact.*"))
        catch { case _: java.io.FileNotFoundException => null }
    if (debris == null) return
    // <escaped-value> between the markers — already the exact dirname
    debris.map(_.getPath.getName)
      .filter(nm => nm.startsWith(base) && (nm.endsWith(".old") || nm.endsWith(".tmp")))
      .map(nm => nm.substring(base.length, nm.length - ".old".length))
      .distinct
      .foreach { ev =>
        val (tmp, old) = pcompactStaged(ev)
        Durable.recover(fs, new Path(path, s"$partitionCol=$ev"), tmp, old, Nil)
      }
  }

  private def pcompactStaged(ev: String) =
    (new Path(path + s".pcompact.$ev.tmp"), new Path(path + s".pcompact.$ev.old"))

  /** `OPTIMIZE TABLE ... PARTITION 'v' FINAL` — [[compact]] scoped to one
    * partition directory: only that partition's states are re-merged and
    * only its directory is rewritten (the partition-pruned scan and the
    * rewrite both touch ~1/|partitions| of the table — CH's own reason for
    * partition-scoped OPTIMIZE). Same staged-swap discipline as [[compact]];
    * the exactly-once ledger lives at the table root and is untouched.
    * No-op on a partition that doesn't exist (CH parity).
    */
  def compactPartition(value: String): Unit = Projection.suppress {
    val fs = fileSystem()
    // the directory name is the HIVE-ESCAPED value (see [[escVal]]); the
    // staging sibling names reuse the escaped form so recovery maps back
    // to the exact dirname
    val ev = escVal(value)
    val live = new Path(path, s"$partitionCol=$ev")
    if (!fs.exists(live)) return
    val (tmp, old) = pcompactStaged(ev)
    Durable.swap(fs, live, tmp, old, Nil, "compactPartition") {
      // filter on the partition key ABOVE the merge: partitionCol is a
      // grouping key, so Catalyst pushes it below the Aggregate into the
      // scan's PartitionFilters — one partition read, not a full-table merge
      conform(merged(keys)
        .filter(col(partitionCol) === lit(value).cast(schema(partitionCol).dataType)))
        .drop(partitionCol) // hive layout: the value lives in the dirname
        .sortWithinPartitions(keys.filterNot(_ == partitionCol).map(col): _*)
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** TTL: drop day partitions older than `days` before `today`
    * (ref `TTL day + toIntervalDay(N)`, ods.action_001_dis.sql:21).
    */
  def expire(days: Int, today: LocalDate = LocalDate.now()): Seq[String] =
    expire(days, 0, today.atStartOfDay)

  /** `ALTER TABLE ... DROP PARTITION 'v'` — drop one partition directory
    * outright (metadata-only, no rewrite; CH's partition drop). */
  def dropPartition(value: String): Boolean = {
    val fs = fileSystem()
    val p = new Path(path, s"$partitionCol=${escVal(value)}")
    val existed = fs.exists(p)
    if (existed) fs.delete(p, true): Unit
    existed
  }

  /** The hive-escaped directory form of a partition value — the SAME
    * encoding the partitionBy writer used (':' '/' '%' ... are %-encoded
    * in dirnames); matching on the raw value would silently miss any
    * value containing a special character.
    */
  private def escVal(value: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(value)

  /** Move every part file under `src` into `dir` (renames, so .crc
    * sidecars follow on a checksummed fs), refusing on a name collision
    * (Spark's UUID part names make one practically impossible — a real
    * one means two DIFFERENT parts claim one identity, which must not
    * silently overwrite), then remove the emptied `src`.
    */
  private def mergePartDirInto(fs: org.apache.hadoop.fs.FileSystem,
      src: Path, dir: Path, op: String): Unit = {
    fs.mkdirs(dir)
    for (f <- fs.listStatus(src)) {
      val t = new Path(dir, f.getPath.getName)
      if (fs.exists(t))
        sys.error(s"$op: ${dir.getName} already holds a part named " +
          s"${f.getPath.getName}")
      if (!fs.rename(f.getPath, t))
        sys.error(s"$op: failed to move ${f.getPath} -> $t")
    }
    fs.delete(src, true): Unit
  }

  /** `ALTER TABLE ... DETACH PARTITION 'v'` — move the partition directory
    * into the table's own hidden `.detached` area (the CH detached/ dir):
    * reads stop seeing it immediately (dot-prefixed paths are invisible to
    * Spark's file index), the bytes stay put for a later [[attachPartition]].
    * Returns whether the partition existed. Detached parts of a value
    * ACCUMULATE, as in CH — when a detached copy already exists (e.g. an
    * interrupted FETCH/ATTACH left part files there), the live parts merge
    * in file-by-file instead of wedging the statement.
    */
  def detachPartition(value: String): Boolean = {
    val fs = fileSystem()
    val ev = escVal(value)
    val live = new Path(path, s"$partitionCol=$ev")
    if (!fs.exists(live)) return false
    val dst = new Path(path, s".detached/$partitionCol=$ev")
    if (!fs.exists(dst)) {
      fs.mkdirs(dst.getParent)
      if (!fs.rename(live, dst))
        sys.error(s"detachPartition: failed to move $live -> $dst")
    } else mergePartDirInto(fs, live, dst, "detachPartition")
    true
  }

  /** `ALTER TABLE ... ATTACH PARTITION 'v'` — move the detached parts of
    * `v` back into the live set. Returns whether a detached copy existed.
    * As in CH, attached parts JOIN an already-live partition (rows add —
    * for an aggregating table the copies merge on read); the previous
    * refuse-when-live behavior wedged valid rebalance sequences once
    * PART-granularity states existed.
    */
  def attachPartition(value: String): Boolean = {
    val fs = fileSystem()
    val ev = escVal(value)
    val src = new Path(path, s".detached/$partitionCol=$ev")
    if (!fs.exists(src)) return false
    val live = new Path(path, s"$partitionCol=$ev")
    if (!fs.exists(live)) {
      if (!fs.rename(src, live))
        sys.error(s"attachPartition: failed to move $src -> $live")
    } else mergePartDirInto(fs, src, live, "attachPartition")
    true
  }

  /** `ALTER TABLE ... DROP DETACHED PARTITION 'v'` — delete a detached
    * copy outright. Returns whether one existed. */
  def dropDetachedPartition(value: String): Boolean = {
    val fs = fileSystem()
    val p = new Path(path, s".detached/$partitionCol=${escVal(value)}")
    val existed = fs.exists(p)
    if (existed) fs.delete(p, true): Unit
    existed
  }

  /** A part name must be a PLAIN FILE NAME — path separators or dot
    * traversals would make the exists-probes resolve OUTSIDE the claimed
    * side (e.g. `DROP DETACHED PART '../../day=x/f'` deleting LIVE data
    * while reporting a detached-side op). CH likewise rejects names
    * outside its part-name grammar.
    */
  private def requirePlainPartName(op: String, part: String): Unit =
    if (part.isEmpty || part.contains('/') || part.contains('\\') ||
        part.startsWith("."))
      sys.error(s"$op: malformed part name '$part' — a part is a plain " +
        "data-file name (no path separators, no leading dot)")

  /** The partition directory holding the data file named `part` on one
    * side of the table (`""` = live, `".detached"`) — one parquet data
    * file IS one part, the same definition system.parts publishes, so
    * the PART statements and the views can never disagree on what a
    * name means. Part file names are unique per table (Spark writes
    * `part-NNNNN-<uuid>` names), so the first hit is the only hit.
    */
  private def findPartDir(sub: String, part: String): Option[Path] = {
    val root = if (sub.isEmpty) new Path(path) else new Path(path, sub)
    findPartDirUnder(fileSystem(), root, part)
  }

  /** The ONE "which partition dir under `root` holds this part file"
    * definition — shared by this table's own sides and [[fetchPart]]'s
    * donor scan, so the two can never drift.
    */
  private def findPartDirUnder(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, part: String): Option[Path] = {
    if (!fs.exists(root)) return None
    fs.listStatus(root).iterator
      .filter(d => d.isDirectory && d.getPath.getName.contains("="))
      .map(_.getPath)
      .find(d => fs.exists(new Path(d, part)))
  }

  /** Remove a partition directory a part-level move just EMPTIED (no
    * data files left — .crc sidecars don't count). A leftover empty dir
    * would wrongly block later whole-partition DETACH/ATTACH ("already
    * exists") while being invisible to reads and the parts views — in
    * CH a partition with no parts simply does not exist.
    */
  private def pruneEmptyPartDir(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Unit =
    if (fs.exists(dir) && graft.engine.Rebalance.dataFiles(fs, dir).isEmpty)
      fs.delete(dir, true): Unit

  /** `ALTER TABLE ... DETACH PART 'name'` (ref data_rebalance.py:184) —
    * move ONE data file into the same partition's `.detached` mirror.
    * Unknown names error, as in CH (`No part <name>`): the rebalance
    * flow checks existence first (part_is_exists), so a miss here is an
    * operator mistake, never a tolerated no-op.
    */
  def detachPart(part: String): Unit = {
    requirePlainPartName("detachPart", part)
    val fs = fileSystem()
    val dir = findPartDir("", part).getOrElse(
      sys.error(s"detachPart: no live part '$part'"))
    val dst = new Path(path, s".detached/${dir.getName}/$part")
    if (fs.exists(dst))
      sys.error(s"detachPart: a detached copy of '$part' already exists — " +
        "ATTACH or DROP DETACHED it first")
    fs.mkdirs(dst.getParent)
    if (!fs.rename(new Path(dir, part), dst))
      sys.error(s"detachPart: failed to move $part -> $dst")
    pruneEmptyPartDir(fs, dir)
  }

  /** `ALTER TABLE ... ATTACH PART 'name'` (ref data_rebalance.py:181) —
    * mount a detached data file back into its live partition (creating
    * the partition directory if the part is the first occupant, the
    * FETCH-then-ATTACH rebalance flow's normal case).
    */
  def attachPart(part: String): Unit = {
    requirePlainPartName("attachPart", part)
    val fs = fileSystem()
    val dir = findPartDir(".detached", part).getOrElse(
      sys.error(s"attachPart: no detached part '$part'"))
    val live = new Path(path, dir.getName)
    val dst = new Path(live, part)
    if (fs.exists(dst))
      sys.error(s"attachPart: a live part named '$part' already exists")
    fs.mkdirs(live)
    if (!fs.rename(new Path(dir, part), dst))
      sys.error(s"attachPart: failed to move $part -> $dst")
    pruneEmptyPartDir(fs, dir)
  }

  /** `ALTER TABLE ... DROP DETACHED PART 'name'` (ref
    * data_rebalance.py:179) — delete one detached data file outright.
    */
  def dropDetachedPart(part: String): Unit = {
    requirePlainPartName("dropDetachedPart", part)
    val fs = fileSystem()
    val dir = findPartDir(".detached", part).getOrElse(
      sys.error(s"dropDetachedPart: no detached part '$part'"))
    // a failed delete must refuse loudly like every other part op — a
    // silent no-op would report the copy gone while it occupies disk
    if (!fs.delete(new Path(dir, part), false))
      sys.error(s"dropDetachedPart: failed to delete ${new Path(dir, part)}")
    pruneEmptyPartDir(fs, dir)
  }

  /** `ALTER TABLE ... FETCH PART 'name' FROM '<donor>'` (ref
    * data_rebalance.py:175) — COPY one live data file from a donor
    * table's storage into THIS table's `.detached` area, under the same
    * partition directory name; an ATTACH PART then mounts it, exactly
    * the tool's fetch-then-attach sequence. The donor keeps its copy
    * (CH fetches from a replica without removing it); the detach+drop
    * on the source is the tool's own follow-up statement pair.
    */
  def fetchPart(donorPath: String, part: String): Unit = {
    requirePlainPartName("fetchPart", part)
    val fs = fileSystem()
    val donorRoot = new Path(donorPath)
    if (!fs.exists(donorRoot))
      sys.error(s"fetchPart: donor path $donorPath does not exist")
    val srcDir = findPartDirUnder(fs, donorRoot, part)
      .getOrElse(sys.error(s"fetchPart: donor has no live part '$part'"))
    // structure check, as CH does at FETCH time: a donor partitioned by a
    // DIFFERENT column would plant a foreign <col>=<v> dir that corrupts
    // every later read of this table (conflicting partition columns) —
    // refuse now, not at the delayed read
    if (!srcDir.getName.startsWith(s"$partitionCol="))
      sys.error(s"fetchPart: donor partitions by " +
        s"'${srcDir.getName.takeWhile(_ != '=')}' but this table " +
        s"partitions by '$partitionCol' — structures must match")
    // and the part's COLUMNS must match this table's definition (name +
    // type), or the mismatch would surface far away as a cast failure on
    // a later ATTACH+read. The donor footer is a metadata read. Skipped
    // only when this table has no definition yet (nothing yet to corrupt).
    val donorSchema = spark.read
      .parquet(new Path(srcDir, part).toString).schema
    defined.map(_.filter(_.name != partitionCol)).foreach { mine =>
      val donorFields = donorSchema.map(f => (f.name, f.dataType)).toSet
      val myFields = mine.map(f => (f.name, f.dataType)).toSet
      if (donorFields != myFields)
        sys.error(s"fetchPart: donor part schema ${donorSchema.simpleString} " +
          s"does not match this table's ${mine.map(_.toString).mkString("[", ", ", "]")} " +
          "— structures must match")
    }
    val dst = new Path(path, s".detached/${srcDir.getName}/$part")
    if (fs.exists(dst))
      sys.error(s"fetchPart: a detached copy of '$part' already exists")
    fs.mkdirs(dst.getParent)
    if (!org.apache.hadoop.fs.FileUtil.copy(fs, new Path(srcDir, part),
        fs, dst, false /* keep source */, fs.getConf))
      sys.error(s"fetchPart: copy ${new Path(srcDir, part)} -> $dst failed")
  }

  /** `TRUNCATE TABLE` — drop every live partition AND the exactly-once
    * ledger (a truncated table starts fresh: replaying an old batch
    * re-ingests, which is what an empty table means; CH's TRUNCATE drops
    * data the same way). Detached partitions survive, as in CH.
    */
  def truncate(): Unit = {
    val fs = fileSystem()
    val root = new Path(path)
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith(s"$partitionCol=") || nm == "_ledger")
          fs.delete(st.getPath, true): Unit
      }
  }

  /** `ALTER TABLE ... UPDATE a = e WHERE cond` — the CH column mutation:
    * rewrite with each assignment applied on matching rows (others kept
    * verbatim), same atomic swap as [[deleteWhere]]. */
  def updateWhere(assignments: Seq[(String, org.apache.spark.sql.Column)],
      cond: org.apache.spark.sql.Column): Unit = Projection.suppress {
    rewrite(".mutate", "updateWhere")(assignments.foldLeft(read()) { case (df, (name, e)) =>
      df.withColumn(name, when(cond, e.cast(schema(name).dataType)).otherwise(col(name)))
    })
  }

  /** `ALTER TABLE ... DELETE WHERE cond` — the CH mutation: rewrite the
    * table keeping only rows NOT matching `cond`, with the same atomic
    * staged swap (and ledger preservation) as [[compact]]. Returns the
    * number of rows removed. Partition-parallel rewrite; states are kept
    * as stored (no merge), so part granularity is unchanged.
    */
  def deleteWhere(cond: org.apache.spark.sql.Column): Long = Projection.suppress {
    val before = read().count()
    // delete only rows where cond is TRUE — a NULL predicate keeps the
    // row (CH mutation semantics), so the negation must null-guard
    rewrite(".mutate", "deleteWhere")(read().filter(!coalesce(cond, lit(false))))
    before - read().count()
  }

  /** TTL at the reference's full granularity — `TTL day +
    * toIntervalDay(days) + toIntervalHour(hours)`
    * (ref ods.action_001_dis.sql:21): a day partition's rows all expire at
    * the same instant `day 00:00 + days + hours` (the TTL expression uses
    * the partition date), so the whole partition drops once `now` passes
    * it. Day-granularity callers get exactly the old behavior via the
    * overload above.
    */
  def expire(days: Int, hours: Int, now: java.time.LocalDateTime): Seq[String] = {
    val fs = FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    if (!fs.exists(root)) return Nil
    val dropped = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith(partitionCol + "=") &&
          (try LocalDate.parse(p.getName.drop(partitionCol.length + 1))
             .atStartOfDay.plusDays(days.toLong).plusHours(hours.toLong)
             .isBefore(now)
           catch { case _: Exception => false })
      }
    // a false return (no exception) would silently report the partition
    // dropped while its files keep serving rows — refuse loudly instead
    dropped.foreach { p =>
      if (!fs.delete(p, true) && fs.exists(p))
        sys.error(s"expire: failed to delete partition directory $p")
    }
    dropped.map(_.getName)
  }
}
