package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Dictionaries
import graft.mv.{BitmapUvMetric, EntropyMetric, HllUvMetric, MaterializedView, MaxMetric, MedianExactMetric, Metric, MinMetric, QuantileSketchMetric, StateTable, SumMetric}

/** Executes parsed ClickHouse DDL ([[ChDdl]]) against this engine's
  * objects — the translator that lets a user replay the reference's
  * scripts file-verbatim (ref scripts/sql, all files) instead of
  * hand-porting each CREATE into constructor calls:
  *
  *  - `CREATE TABLE ... AggregatingMergeTree` → a [[StateTable]] under
  *    `warehouseDir` (keys = ORDER BY, partition = PARTITION BY, one
  *    [[Metric]] per AggregateFunction/SimpleAggregateFunction column);
  *  - `CREATE TABLE ... ENGINE=Distributed(c,db,t,..)` → a name alias
  *    (every Spark table is already distributed — SURVEY §1.1);
  *  - plain MergeTree tables → descriptors only: their storage is
  *    whatever DataFrame the caller [[bind]]s (or a same-named catalog
  *    view, e.g. [[Catalog]]'s); TTL/layout metadata is kept for
  *    [[StateTable.expire]]-style maintenance;
  *  - `CREATE MATERIALIZED VIEW ... TO t AS SELECT` →
  *    [[MaterializedView.fromSql]] targeting t's StateTable, with the
  *    SELECT's output conformed to t's declared columns by NAME — CH
  *    insert semantics: surplus columns are discarded, missing simple
  *    aggregates take the type default (0), missing aggregate states stay
  *    empty. (This faithfully reproduces the reference's own
  *    show_cnt/shown_cnt column-name mismatch, whose golden output shows
  *    shown_cnt = 0 — doc:287-292.)
  *  - `CREATE DICTIONARY` → [[Dictionaries.register]] from the source
  *    table's bound DataFrame, with declared per-attribute defaults;
  *  - `ALTER TABLE ADD COLUMN / MODIFY ORDER BY` → descriptor update +
  *    StateTable rebuild at the same path (part schemas union on read, so
  *    widening is metadata-only — the reference's live-ALTER flow,
  *    ref dwm.mainpage_stat_mv_dis.sql:78-96);
  *  - `DROP TABLE <mv>` → detaches that MV (drop-recreate flow);
  *  - SELECT statements are collected in [[queries]] for the caller to
  *    run through [[runQuery]] (the dialect front door, [[ChSql.run]]).
  */
object ChReplay {
  // the interactive-statement scanners, compiled once (runQuery calls
  // interactive() for every statement — per-call Pattern.compile on the
  // hot SELECT path would be pure waste)
  private val ShowDbRe =
    "(?i)^SHOW\\s+DATABASES(?:\\s+LIKE\\s+'((?:[^'\\\\]|\\\\.|'')*)')?$".r
  private val ShowTblRe =
    "(?i)^SHOW\\s+TABLES(?:\\s+FROM\\s+(\\w+))?(?:\\s+LIKE\\s+'((?:[^'\\\\]|\\\\.|'')*)')?$".r
  private val DescRe =
    "(?i)^DESC(?:RIBE)?(?:\\s+(TABLE|DICTIONARY|VIEW))?\\s+([\\w.]+)$".r
  private val ExistsRe =
    "(?i)^EXISTS(?:\\s+(TABLE|DICTIONARY|VIEW))?\\s+([\\w.]+)$".r
  private val ShowCreateRe = "(?i)^SHOW\\s+CREATE\\s+TABLE\\s+([\\w.]+)$".r
  private val ShowCreateViewRe = "(?i)^SHOW\\s+CREATE\\s+VIEW\\s+([\\w.]+)$".r
  private val ShowCreateDictRe = "(?i)^SHOW\\s+CREATE\\s+DICTIONARY\\s+([\\w.]+)$".r
  private val ShowDictRe =
    "(?i)^SHOW\\s+DICTIONARIES(?:\\s+FROM\\s+(\\w+))?(?:\\s+LIKE\\s+'((?:[^'\\\\]|\\\\.|'')*)')?$".r
  private val ShowRe = "(?i)^SHOW\\b".r
  // matches the bare, backtick-quoted and double-quoted spellings alike
  // (the dialect converts "x" identifiers to backticks AFTER this gate
  // runs on the raw text)
  private val SystemPartsRe =
    "(?i)\\bsystem\\s*[`\"]?\\s*\\.\\s*[`\"]?\\s*(?:detached_)?parts\\b".r
  // the metadata views' twin of SystemPartsRe: a SELECT touching these
  // must see every CREATE/DROP that ran since the last publish — the
  // refresh is metadata-only (no filesystem cost), so runQuery just
  // republishes on sight instead of tracking a dirty flag
  // cluster('c', db, t) / clusterAllReplicas('c', db, t) — the FROM-side
  // table functions of the rebalance tool's statements. CH also accepts
  // quoted args ('db', 'tbl') and the 2-arg dotted form (db.tbl); each
  // arg is a bare or quoted [\w.]+ and the second is optional.
  private val ClusterFnRe =
    ("""(?i)\bcluster(?:AllReplicas)?\s*\(\s*'[^']*'\s*,\s*""" +
      """(?:'([^']*)'|([\w.]+))\s*(?:,\s*(?:'([^']*)'|(\w+))\s*)?\)""").r
  /** The `db.table` a cluster-fn match names. The match ran on MASKED
    * text (quoted contents blanked), so quoted args read their ORIGINAL
    * slice via [[ChSql.grp]]; bare args are identical either way.
    */
  private def clusterFnTarget(q: String,
      m: scala.util.matching.Regex.Match): String = {
    def orig(g: Int): Option[String] =
      Option(m.group(g)).map(_ => ChSql.grp(q, m, g))
    val first = orig(1).orElse(orig(2)).get
    val second = orig(3).orElse(orig(4))
    second.map(t => s"$first.$t").getOrElse(first)
  }
  private val SystemCatalogRe =
    ("(?i)\\bsystem\\s*[`\"]?\\s*\\.\\s*[`\"]?\\s*" +
      "(?:databases|tables|columns|dictionaries|clusters|macros|processes)\\b").r

  /** Last publisher of each session-global system.* snapshot, per
    * session and kind ∈ {"catalog", "parts"}. Weakly keyed by the
    * SESSION (the session object itself, strongly referenced elsewhere
    * while alive — a tuple key would be weakly-unreachable at once and
    * evaporate): a retired SparkSession must not be pinned by this map.
    */
  private val snapshotOwners =
    new java.util.WeakHashMap[SparkSession,
      mutable.Map[String, java.lang.ref.WeakReference[AnyRef]]]
  private[engine] def snapshotOwner(s: SparkSession, kind: String): Option[AnyRef] =
    snapshotOwners.synchronized {
      Option(snapshotOwners.get(s)).flatMap(_.get(kind)).flatMap(r => Option(r.get))
    }
  private[engine] def claimSnapshot(s: SparkSession, kind: String,
      owner: AnyRef): Unit =
    snapshotOwners.synchronized {
      // the owner rides a WeakReference: a strong value would chain to
      // the owner's own `spark` field and pin the weak KEY forever
      // (WeakHashMap's documented value→key pitfall)
      snapshotOwners.computeIfAbsent(s, _ => mutable.Map.empty)
        .update(kind, new java.lang.ref.WeakReference[AnyRef](owner))
    }

  /** Where the reference's .sql scripts live — overridable per deployment
    * via `-Dgraft.reference.scripts=...` or `GRAFT_REFERENCE_SCRIPTS`.
    */
  def scriptsDir: String =
    sys.props.get("graft.reference.scripts")
      .orElse(sys.env.get("GRAFT_REFERENCE_SCRIPTS"))
      .getOrElse("/root/reference/scripts/sql")

  /** A scratch warehouse directory removed at JVM exit. */
  def scratchWarehouse(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file._
      import java.util.Comparator
      try Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      catch { case _: Exception => () }
    }))
    dir.toString
  }
}

final class ChReplay(spark: SparkSession, warehouseDir: String) {
  import ChDdl._

  graft.functions.ChCompat.register(spark)

  val tables = mutable.LinkedHashMap.empty[String, CreateTable]
  val aliases = mutable.LinkedHashMap.empty[String, String]
  /** The Distributed tables' OWN descriptors — aliases resolve to their
    * target for execution, but DESCRIBE / SHOW CREATE TABLE / system.columns
    * must answer with the alias's own declared shape, as CH does.
    */
  val aliasDefs = mutable.LinkedHashMap.empty[String, CreateTable]
  val stateTables = mutable.LinkedHashMap.empty[String, StateTable]
  val mvs = mutable.LinkedHashMap.empty[String, MaterializedView]
  val dictionaries = mutable.ArrayBuffer.empty[String]
  private val dictDdls = mutable.LinkedHashMap.empty[String, CreateDictionary]
  private val mvDdls = mutable.LinkedHashMap.empty[String, CreateMaterializedView]
  val queries = mutable.ArrayBuffer.empty[String]
  private val mvSources = mutable.LinkedHashMap.empty[String, String]
  private val bindings = mutable.Map.empty[String, DataFrame]

  /** Bind a raw (MergeTree) table name to its storage DataFrame. */
  def bind(name: String, df: DataFrame): Unit = bindings(name) = df

  /** Follow Distributed aliases to the local table name. */
  def resolve(name: String): String = aliases.get(name) match {
    case Some(t) => resolve(t)
    case None => name
  }

  private def sourceDf(name: String): DataFrame = {
    val n = resolve(name)
    bindings.getOrElse(n, spark.table(n))
  }

  /** The declared column list of ANY named object — tables, Distributed
    * aliases (their OWN shape, as CH describes them), dictionaries,
    * materialized views; alias targets resolve last. The ONE lookup chain
    * shared by DESCRIBE, system.columns and the error reporting.
    */
  private def declaredCols(t: String): Option[Seq[Col]] =
    tables.get(t).orElse(aliasDefs.get(t)).map(_.cols)
      .orElse(dictDdls.get(t).map(_.cols))
      .orElse(mvDdls.get(t).map(_.cols))
      .orElse(tables.get(resolve(t)).map(_.cols))

  /** Every introspectable object name, for unknown-name error messages. */
  private def knownNames: String =
    (tables.keys ++ aliasDefs.keys ++ dictDdls.keys ++ mvDdls.keys)
      .toSeq.sorted.mkString(", ")

  /** `SELECT CAST(NULL AS t) AS c, ... WHERE false` — an empty result of
    * exactly `schema` (shared by the ENGINE=Null view and TRUNCATE's
    * catalog-view replacement); names are backtick-quoted so reserved
    * words and special characters survive.
    */
  private def emptySelectSql(schema: org.apache.spark.sql.types.StructType): String =
    "SELECT " + schema.map(f =>
      s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name.replace("`", "``")}`")
      .mkString(", ") + " WHERE false"

  /** The alias names that resolve (transitively) to `name` — the ONE
    * definition of which catalog objects publish() registers for a local
    * table and DROP must clean up after it.
    */
  private def aliasesTo(name: String): Seq[String] =
    aliases.collect { case (a, t) if resolve(t) == name => a }.toSeq

  /** Drop whichever catalog object type carries `name` (publish() creates
    * external TABLEs, the Null-engine path creates VIEWs) — one definition
    * shared by [[publish]] and the DROP handler.
    */
  private def dropCatalogObject(name: String): Unit =
    if (name.contains('.')) {
      val existing =
        try Option(spark.catalog.getTable(name))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      existing.foreach { t =>
        if (t.tableType == "VIEW") spark.sql(s"DROP VIEW IF EXISTS $name")
        else spark.sql(s"DROP TABLE IF EXISTS $name")
      }
    }

  def executeScript(script: String): Unit = ChDdl.parse(script).foreach(execute)

  def execute(stmt: Stmt): Unit = {
    // any statement that can change the catalog-object maps dirties the
    // metadata views (set BEFORE executing — a half-applied DDL must
    // not leave a stale snapshot either). ALTERs dirty only when they
    // carry schema subcommands: the rebalance loop's pure partition/PART
    // moves (and DELETE/UPDATE rewrites) change no catalog metadata, and
    // each would otherwise force a 7-view republish on the next poll.
    stmt match {
      case a: AlterTable =>
        if (a.addColumns.nonEmpty || a.modifyColumns.nonEmpty ||
            a.newOrderBy.nonEmpty) catalogViewsDirty = true
      case _: CreateTable | _: CreateMaterializedView | _: CreateDictionary |
          _: DropStmt => catalogViewsDirty = true
      case _ => ()
    }
    executeStmt(stmt)
  }

  private def executeStmt(stmt: Stmt): Unit = stmt match {
    case ct: CreateTable if ct.isDistributed =>
      ct.distributedTarget.foreach(t => aliases(ct.name) = t)
      aliasDefs(ct.name) = ct
    case ct: CreateTable =>
      tables(ct.name) = ct
      if (ct.isAggregating) rebuildStateTable(ct.name)
      // ENGINE=Null reads as forever-empty (CH returns 0 rows, not an
      // unknown-table error) — bind an empty frame of the declared schema
      // and publish the same emptiness as a catalog view for plain SQL
      else if (ct.engine.equalsIgnoreCase("Null")) {
        val schema =
          StructType(ct.cols.map(c => StructField(c.name, valueType(c.chType))))
        bindings(ct.name) = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        if (ct.name.contains('.')) {
          spark.sql(s"CREATE DATABASE IF NOT EXISTS ${ct.name.split('.')(0)}")
          spark.sql(s"CREATE OR REPLACE VIEW ${ct.name} AS ${emptySelectSql(schema)}")
        }
      }
    case mv: CreateMaterializedView => buildMv(mv)
    case d: CreateDictionary => buildDictionary(d)
    case a: AlterTable => applyAlter(a)
    case DropStmt(sql) =>
      """(?is)drop\s+(table|view|dictionary)\s+(?:if\s+exists\s+)?([\w.]+)""".r
        .findFirstMatchIn(sql).foreach { m =>
          val kind = m.group(1).toLowerCase
          val n = m.group(2)
          // KIND-AWARE, like CH: DROP TABLE of a dictionary (and DROP
          // DICTIONARY of anything else) errors instead of silently
          // destroying an object of a different kind. Unknown names stay
          // tolerated no-ops (the scripts replay drops of not-yet-created
          // objects).
          def dropMv(): Boolean = {
            val was = mvDdls.contains(n)
            mvs.remove(n); mvSources.remove(n); mvDdls.remove(n)
            was
          }
          kind match {
            case "dictionary" =>
              if (mvDdls.contains(n) || tables.contains(n) ||
                  aliases.contains(n) || aliasDefs.contains(n))
                sys.error(s"DROP DICTIONARY $n: not a dictionary")
              // clears every introspection surface AND the lifetime ticker
              // and dictGet registry (CH's EXISTS returns 0 after)
              if (dictDdls.remove(n).isDefined) {
                dictionaries -= n
                Dictionaries.drop(n)
              }
            case "view" =>
              // only materialized views are VIEWs to CH — DROP VIEW of a
              // table/alias/dictionary refuses ("is not a View")
              if (tables.contains(n) || aliases.contains(n) ||
                  aliasDefs.contains(n) || dictDdls.contains(n))
                sys.error(s"DROP VIEW $n: is not a View")
              dropMv(): Unit
            case _ => // table
              if (dictDdls.contains(n))
                sys.error(s"DROP TABLE $n: it is a DICTIONARY — " +
                  "use DROP DICTIONARY")
              // an MV whose captured StateTable targets n would keep
              // appending into the deleted path after the drop (CH fails
              // such inserts with table-does-not-exist; a silent write
              // into deleted storage is worse) — demand the MVs go first
              if (stateTables.contains(n)) {
                val dependents = mvDdls.collect {
                  case (mvName, mv) if resolve(mv.to) == n => mvName }
                if (dependents.nonEmpty)
                  sys.error(s"DROP TABLE $n: materialized view(s) " +
                    s"${dependents.mkString(", ")} target it — drop them first")
              }
              // CH allows DROP TABLE of an MV — the scripts' drop-recreate
              // flow (ref dwm script :87,:156,:195)
              if (!dropMv()) {
                // plain tables and Distributed aliases leave the catalog
                // too — EXISTS answering 1 for a dropped name would
                // contradict the catalog-consistency invariant. Dropping an
                // alias drops ONLY the alias (CH: the local table
                // survives); dropping a state table deletes its storage
                // (CH drops data) and deregisters the catalog objects of
                // aliases that resolved to it (their selects must error,
                // not read a stale registration over a deleted location).
                val wasAlias = aliases.remove(n).isDefined |
                  aliasDefs.remove(n).isDefined
                bindings.remove(n)
                if (tables.remove(n).isDefined) {
                  stateTables.remove(n).foreach { st =>
                    val fs = org.apache.hadoop.fs.FileSystem.get(
                      new java.net.URI(st.path),
                      spark.sparkContext.hadoopConfiguration)
                    fs.delete(new org.apache.hadoop.fs.Path(st.path), true): Unit
                    aliasesTo(n).foreach(dropCatalogObject)
                    // published parts snapshots would keep listing the
                    // dropped table's parts over deleted files — dirty
                    // them like every other part-moving statement
                    partsViewsDirty = true
                  }
                  dropCatalogObject(n)
                } else if (wasAlias) dropCatalogObject(n)
              }
          }
          ()
        }
    case TruncateTable(name, ifExists) =>
      val t = resolve(name)
      // runQuery reads a binding before the catalog, but plain spark.sql
      // reads only the catalog — so if a SAME-NAMED CATALOG object
      // carries the storage (the documented bind() alternative, possibly
      // BESIDE a binding), the truncate must empty the catalog object too
      // or every row stays visible there: a VIEW is replaced with an empty
      // same-schema view (the ENGINE=Null trick), a temp view
      // re-registered empty; an externally-registered TABLE refuses
      // loudly (deleting a user's files behind a registration is not this
      // engine's call). ENGINE=Null is already forever-empty.
      def truncateCatalogObject(): Unit =
        if (tables.get(t).exists(ct => !ct.engine.equalsIgnoreCase("Null")) &&
            spark.catalog.tableExists(t)) {
          // refuse BEFORE touching any state: a half-applied truncate
          // (empty binding installed, catalog refused) would shadow the
          // populated catalog table with emptiness for runQuery
          val tt = spark.catalog.getTable(t)
          if (tt.tableType != "VIEW" && tt.tableType != "TEMPORARY")
            sys.error(s"TRUNCATE TABLE $name: storage is an externally-" +
              s"registered ${tt.tableType} — truncate its files directly")
          val schema = spark.table(t).schema
          bindings(t) = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          if (tt.tableType == "VIEW")
            spark.sql(s"CREATE OR REPLACE VIEW $t AS ${emptySelectSql(schema)}")
          else bindings(t).createOrReplaceTempView(t)
        }
      stateTables.get(t) match {
        case Some(st) => try st.truncate() finally partsViewsDirty = true
        case None => bindings.get(t) match {
          case Some(df) =>
            truncateCatalogObject() // refusals fire before any mutation
            bindings(t) = df.limit(0)
          case None =>
            truncateCatalogObject()
            if (!ifExists && !tables.contains(t))
              sys.error(s"TRUNCATE TABLE $name: unknown table")
        }
      }
    case OptimizeTable(name, _, part) =>
      // the manual background-merge trigger (ref doc:954): fold the state
      // table's accumulated parts — a no-op for plain MergeTree bindings,
      // whose storage has no merge debt here; PARTITION 'v' scopes the
      // fold (and the rewrite) to that one partition directory
      stateTables.get(resolve(name)).foreach { st =>
        try part.fold(st.compact())(st.compactPartition)
        finally partsViewsDirty = true
      }
    case Query(sql) => queries += sql
    case ins: InsertSelect => executeInsert(ins)
    case _: Unparsed => ()
  }

  /** `INSERT INTO t (cols) SELECT ...` — the doc's hand-fed state writes
    * (doc:848-860: (id, m1) then (id, m2) into the union-max table). The
    * SELECT runs through [[runQuery]] (full dialect), binds to `cols`
    * positionally, and:
    *  - an aggregating target appends the rows AS STATES (the SELECT
    *    already produced `-State` columns), with unwritten columns
    *    conformed exactly like an MV insert — simple aggregates take the
    *    type default 0, aggregate states stay empty (stored NULL here;
    *    CH stores a zero-element state — same merge identity, documented
    *    divergence of [[buildMv]]'s conform);
    *  - a plain (MergeTree) target unions into its binding and fires the
    *    MVs watching it, CH insert-trigger semantics.
    */
  private def executeInsert(ins: InsertSelect): Unit = {
    val out = runQuery(ins.select)
    val target = resolve(ins.table)
    val named =
      if (ins.cols.isEmpty) out
      else {
        require(ins.cols.length == out.columns.length,
          s"INSERT INTO $target: ${ins.cols.length} columns declared, " +
            s"SELECT produces ${out.columns.length}")
        out.toDF(ins.cols: _*)
      }
    stateTables.get(target) match {
      case Some(st) =>
        val declared = tables(target).cols
        val present = named.columns.map(_.toLowerCase).toSet
        val conformed = named.select(declared.map { c =>
          if (present.contains(c.name.toLowerCase)) col(c.name)
          else if (c.isSimpleAggState) lit(0L).cast(stateType(c)).as(c.name)
          else lit(null).cast(stateType(c)).as(c.name)
        }: _*)
        // the append adds parts — a published snapshot must not keep
        // serving the pre-insert listing (CH's system.parts is always
        // current); dirty even on partial failure, like the ALTER paths
        try st.append(conformed) finally partsViewsDirty = true
      case None =>
        // ENGINE=Null discards the rows but still fires the MVs watching
        // the table — CH's feed-the-views-without-storing pattern; an
        // unbound name starts from what it reads (its catalog object)
        if (!tables.get(target).exists(_.engine.equalsIgnoreCase("Null")))
          bindings(target) = bindings.get(target)
            .orElse(Some(target).filter(spark.catalog.tableExists).map(spark.table)) match {
            case Some(prev) => prev.unionByName(named, allowMissingColumns = true)
            case None => named
          }
        insert(ins.table, named)
    }
  }

  /** Fire the insert trigger: run `batch` through every MV watching
    * `tableName` (CH semantics — MVs see only freshly inserted blocks).
    */
  def insert(tableName: String, batch: DataFrame): Unit = {
    val t = resolve(tableName)
    val watching = mvSources.collect { case (mv, src) if resolve(src) == t => mv }.toSeq
    // each processBatch appends parts to the MV's target state table —
    // same snapshot-staleness rule as a direct INSERT (dirty even when a
    // batch fails half-written)
    if (watching.nonEmpty)
      try watching.foreach(mv => mvs(mv).processBatch(batch))
      finally partsViewsDirty = true
  }

  /** The Structured-Streaming twin of [[insert]]: attach every MV watching
    * `tableName` to a micro-batch stream of that table (each micro-batch ≙
    * one inserted block). One StreamingQuery per MV; with `checkpointDir`
    * each gets its own checkpoint subdirectory and the exactly-once ledger
    * path, so a crash-and-replay of a committed batch id is a no-op.
    */
  def attachStreams(tableName: String, stream: DataFrame,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"),
      checkpointDir: Option[String] = None)
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val t = resolve(tableName)
    mvSources.collect { case (mvName, src) if resolve(src) == t => mvName }.toSeq
      .map(n => mvs(n).attach(stream, trigger,
        checkpointDir.map(d => s"$d/${n.replace('.', '_')}"),
        // each micro-batch appends parts to the MV's target — same
        // snapshot-staleness rule as insert()'s batch path
        onBatch = () => partsViewsDirty = true))
  }

  /** Enforce a table's DDL-declared TTL (`TTL day + toIntervalDay(d) +
    * toIntervalHour(h)`) against its StateTable storage — returns the
    * dropped partitions. The maintenance loop a CH server runs in the
    * background, surfaced as an explicit call.
    */
  def expire(tableName: String, now: java.time.LocalDateTime): Seq[String] = {
    val n = resolve(tableName)
    val ttl = tables.get(n).flatMap(_.ttl).getOrElse(
      sys.error(s"$n: no TTL declared in its DDL"))
    val st = stateTables.getOrElse(n,
      sys.error(s"$n: TTL enforcement needs StateTable storage"))
    // expiry moves parts like any ALTER — the snapshot must not keep
    // listing the dropped partitions (dirty even on partial failure)
    val dropped =
      try st.expire(ttl.days, ttl.hours, now)
      catch { case e: Throwable => partsViewsDirty = true; throw e }
    if (dropped.nonEmpty) partsViewsDirty = true
    dropped
  }

  /** Register every state table (and its Distributed aliases) as an
    * external parquet catalog table, so the scripts' SELECTs address
    * `dws.x_dis` names verbatim. Re-call after ingests to re-list files.
    */
  def publish(): Unit = {
    for ((name, st) <- stateTables) {
      val names = name +: aliasesTo(name)
      for (n <- names if n.contains('.')) {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS ${n.split('.')(0)}")
        // the name may exist as a VIEW (e.g. Catalog.registerParquet from a
        // previous consumer of the same name) — DROP TABLE refuses views,
        // so drop whichever object type is actually there
        dropCatalogObject(n)
        spark.sql(
          s"CREATE TABLE $n USING parquet OPTIONS (mergeSchema 'true') LOCATION '${st.path}'")
        // partitioned external tables track partitions in the catalog —
        // discover the day=... directories the StateTable wrote
        spark.sql(s"MSCK REPAIR TABLE $n")
      }
    }
    // once, after the loop: per-table republication was N× redundant, and
    // a DDL-only replay (tables but no StateTable storage yet) still needs
    // system.databases/.tables/.columns published
    publishSystemTables()
  }

  /** Rebuild CH's introspection tables (`system.databases` / `.tables` /
    * `.columns` / `.parts`) as catalog views over a snapshot of the
    * replay's state. CH keeps these live; here they refresh on every
    * [[publish]] (and on an explicit call) — the metadata volume is tiny,
    * so the views are literal VALUES rewritten in place.
    */
  def publishSystemTables(): Unit = {
    publishCatalogViews()
    publishPartsViews()
  }

  /** Spark string-literal escaping for the VALUES views: backslash FIRST
    * (Spark processes `\x` escapes in literals by default — an unescaped
    * backslash in a partition value would corrupt the value or, before a
    * closing quote, abort the whole CREATE VIEW), then quote doubling.
    */
  private def qlit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

  /** `emptySchema` keeps the zero-row view's column types identical to the
    * populated form (all-STRING nulls would flip e.g. sum(rows) from BIGINT
    * to DOUBLE the moment a table empties — schema must not depend on
    * emptiness).
    */
  private def mkSysView(name: String, cols: Seq[String], rows: Seq[Seq[String]],
      emptySchema: Option[StructType] = None): Unit = {
    val body =
      if (rows.isEmpty)
        emptySchema.map(emptySelectSql).getOrElse(
          cols.map(c => s"CAST(NULL AS STRING) AS $c").mkString("SELECT ", ", ", " WHERE false"))
      else rows.map(_.mkString("(", ", ", ")"))
        .mkString(s"SELECT * FROM VALUES ", ", ", s" AS t(${cols.mkString(", ")})")
    spark.sql(s"CREATE OR REPLACE VIEW system.$name AS $body")
  }

  // a table created without a database qualifier (the ENGINE=Null branch
  // admits these) lands in CH's `default` db; destructuring split('.')
  // into exactly two parts would MatchError on it and abort publish()
  private def dbTable(n: String): (String, String) = n.indexOf('.') match {
    case -1 => ("default", n)
    case i  => (n.substring(0, i), n.substring(i + 1))
  }

  /** The metadata-only views (databases/tables/columns) — cheap, no
    * filesystem access; what the interactive SHOW statements refresh.
    */
  def publishCatalogViews(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS system")
    // CH lists MVs (engine MaterializedView) and DDL dictionaries (engine
    // Dictionary) in system.tables too — EXISTS/DESCRIBE answering for a
    // name that SHOW TABLES omits would be an internally inconsistent
    // catalog
    // aliasDefs, not aliases: a Distributed CREATE whose target tuple
    // failed to parse registers a descriptor but no resolution entry —
    // EXISTS/DESCRIBE answer for it via declaredCols, so SHOW TABLES and
    // engine reporting must list it too (catalog consistency)
    val engineOf: String => String = n =>
      if (aliases.contains(n) || aliasDefs.contains(n)) "Distributed"
      else if (mvDdls.contains(n)) "MaterializedView"
      else if (dictDdls.contains(n)) "Dictionary"
      else if (tables.get(n).exists(_.isAggregating)) "AggregatingMergeTree"
      else if (tables.get(n).exists(_.engine.equalsIgnoreCase("Null"))) "Null"
      else if (tables.contains(n)) "MergeTree"
      else "View"
    val allNames =
      (tables.keys ++ aliases.keys ++ aliasDefs.keys ++ mvDdls.keys ++ dictDdls.keys)
        .toSeq.distinct.sorted
    mkSysView("databases", Seq("name"),
      (allNames.map(dbTable(_)._1).distinct.sorted :+ "system")
        .map(d => Seq(qlit(d))))
    mkSysView("tables", Seq("database", "name", "engine"),
      allNames.map { n =>
        val (db, t) = dbTable(n)
        Seq(qlit(db), qlit(t), qlit(engineOf(n)))
      })
    mkSysView("columns", Seq("database", "table", "name", "type"),
      allNames.flatMap { n =>
        val (db, t) = dbTable(n)
        declaredCols(n).toSeq.flatten.map(c =>
          Seq(qlit(db), qlit(t), qlit(c.name), qlit(c.chType)))
      })
    // the rebalance tool's topology surface (ref data_rebalance.py:117,
    // 186-199): a static 1-shard/1-replica cluster named `cluster`
    // (config/clickhouse/metrika.xml:4-17), the metrika macros kv
    // (metrika.xml:24-28), and a typed-EMPTY processes view (a
    // single-driver engine has no concurrent server queries to list —
    // the tool's `query LIKE '%FETCH PART%'` probe correctly reads
    // nothing running). host_name is THE capture hostName() serves
    // (one shared, DNS-failure-guarded identity) — in CH the is_local
    // replica's host_name and hostName() agree, and a statement
    // correlating them must not read two identities.
    val (lhName, lhAddr) = graft.functions.HostNameExpr.localHostIdentity
    mkSysView("clusters",
      Seq("cluster", "shard_num", "shard_weight", "replica_num",
        "host_name", "host_address", "port", "is_local"),
      Seq(Seq(qlit("cluster"), "CAST(1 AS INT)", "CAST(1 AS INT)",
        "CAST(1 AS INT)", qlit(lhName), qlit(lhAddr),
        "CAST(9000 AS INT)", "CAST(1 AS INT)")))
    mkSysView("macros", Seq("macro", "substitution"),
      Seq(Seq(qlit("layer"), qlit("cluster")),
        Seq(qlit("replica"), qlit("ck01")),
        Seq(qlit("shard"), qlit("shard1"))))
    mkSysView("processes",
      Seq("is_initial_query", "user", "query_id", "address", "elapsed",
        "query"),
      Nil,
      Some(StructType(Seq(
        StructField("is_initial_query", IntegerType),
        StructField("user", StringType),
        StructField("query_id", StringType),
        StructField("address", StringType),
        StructField("elapsed", DoubleType),
        StructField("query", StringType)))))
    mkSysView("dictionaries",
      Seq("database", "name", "source", "layout", "lifetime_min", "lifetime_max"),
      dictDdls.toSeq.sortBy(_._1).map { case (n, d) =>
        val (db, t) = dbTable(n)
        Seq(qlit(db), qlit(t), qlit(d.sourceName), qlit(d.layout),
          s"CAST(${d.lifetimeMin} AS INT)", s"CAST(${d.lifetimeMax} AS INT)")
      },
      Some(StructType(Seq(
        StructField("database", StringType), StructField("name", StringType),
        StructField("source", StringType), StructField("layout", StringType),
        StructField("lifetime_min", IntegerType),
        StructField("lifetime_max", IntegerType)))))
    catalogViewsDirty = false
    claimSnapshot("catalog")
  }

  /** One row per PART (= one parquet data file), as in CH: `partition` is
    * the UNESCAPED value (the dirname is hive-escaped — substring past the
    * FIRST '=' then unescape, so values containing ':' or '=' read back as
    * written), `name` the part's file name, `rows` its footer record count
    * (metadata only — no scan; the part definition and the footer read are
    * [[Rebalance.dataFiles]]/[[Rebalance.footerRows]], shared with the
    * rebalance tool so the two views can never disagree). The canonical
    * operational query shape — `SELECT partition, sum(rows),
    * sum(bytes_on_disk) FROM system.parts WHERE table = 't' GROUP BY
    * partition` (ref data_rebalance.py:116-205) — runs verbatim. Detached
    * copies mirror into system.detached_parts (CH keeps them out of
    * system.parts too). Split from [[publishCatalogViews]] because this
    * one costs a footer read per data file — the interactive SHOW
    * statements must not pay it just to list names.
    */
  def publishPartsViews(): Unit = {
    def enumerateParts(stPath: String, sub: String)
        : Seq[(String, String, Long, Long, Long)] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(stPath), conf)
      val root = if (sub.isEmpty) new org.apache.hadoop.fs.Path(stPath)
                 else new org.apache.hadoop.fs.Path(stPath, sub)
      partDirs(fs, root)
        .flatMap { d =>
          val dn = d.getPath.getName
          val value = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(dn.substring(dn.indexOf('=') + 1))
          Rebalance.dataFiles(fs, d.getPath).map { f =>
            (value, f.getPath.getName, Rebalance.footerRows(conf, f.getPath),
              f.getLen, f.getModificationTime)
          }
        }.sortBy(p => (p._1, p._2))
    }
    def partRows(sub: String): Seq[Seq[String]] =
      stateTables.toSeq.sortBy(_._1).flatMap { case (n, st) =>
        val (db, t) = dbTable(n)
        enumerateParts(st.path, sub).map { case (value, name, rows, bytes, mtime) =>
          // rows/bytes as explicit BIGINT — a bare small literal would type
          // INT and the column's type would depend on the data's magnitude
          Seq(qlit(db), qlit(t), qlit(value), qlit(name),
            s"CAST($rows AS BIGINT)", "1", s"CAST($bytes AS BIGINT)",
            qlit("default"),
            s"CAST(${qlit(java.time.Instant.ofEpochMilli(mtime).toString)} AS TIMESTAMP)")
        }
      }
    spark.sql("CREATE DATABASE IF NOT EXISTS system")
    val live = partRows("")
    val detached = partRows(".detached")
    mkSysView("parts", partCols, live, Some(partSchema))
    mkSysView("detached_parts", partCols, detached, Some(partSchema))
    liveSnapshotEmpty = live.isEmpty
    partsViewsDirty = false
    claimSnapshot("parts")
  }

  /** The parts views' one schema definition — the populated VALUES form
    * derives its column list from this, so the two can never drift.
    */
  private val partSchema = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("partition", StringType),
    StructField("name", StringType),
    StructField("rows", LongType),
    StructField("active", IntegerType),
    StructField("bytes_on_disk", LongType),
    // single-node storage has one disk; the rebalance tool's statements
    // filter `disk_name<>'hdfs'` (ref data_rebalance.py:140,150,173,198)
    StructField("disk_name", StringType),
    // the part file's mtime — check_attach_part_is_exists filters
    // `toDate(modification_time)=today()` (ref data_rebalance.py:201-206)
    StructField("modification_time", TimestampType)))
  private def partCols: Seq[String] = partSchema.fieldNames.toSeq

  /** Emptiness of the last snapshot's LIVE side — a snapshot pinned
    * before the first insert must republish once a live part exists, or
    * every later listing would read a plausible-looking empty view over
    * real data. While it waits, each listing pays [[anyPartAt]]'s
    * directory probes only (never footer reads); the probe stops the
    * moment a non-empty snapshot publishes. Detached parts need no probe:
    * they appear/vanish ONLY through this replay's own statements, which
    * set [[partsViewsDirty]] instead.
    */
  private var liveSnapshotEmpty = false

  /** True when the catalog-object maps (tables/aliases/mvDdls/dictDdls)
    * changed since the last [[publishCatalogViews]] — set by execute()'s
    * DDL branches, consumed by runQuery's metadata-view gate. Starts
    * true: a fresh instance sharing a session with an older one must
    * replace the other instance's snapshots on first read.
    */
  @volatile private var catalogViewsDirty = true

  /** Did THIS instance publish the session's current snapshot of `kind`
    * (`"catalog"` / `"parts"`)? The system.* views are session-global,
    * so when several ChReplay instances share one SparkSession (the test
    * harness does; a notebook could), instance-local dirty flags can't
    * see another instance's overwrite — the companion registry records
    * the last publisher per (session, kind), and a non-owner republishes
    * on its next read regardless of its own flag.
    */
  private def ownsSnapshot(kind: String): Boolean =
    ChReplay.snapshotOwner(spark, kind).exists(_ eq this)
  private def claimSnapshot(kind: String): Unit =
    ChReplay.claimSnapshot(spark, kind, this)

  /** Set by every statement that moves parts — ALTER partition ops and
    * DELETE/UPDATE rewrites (including PARTIAL application when an op
    * fails mid-statement), OPTIMIZE, TRUNCATE, DROP of a state table.
    * Consumed by the next listing AND by any [[runQuery]] whose SQL
    * references system.parts/detached_parts, so statement effects are
    * visible without explicit publish calls and steady-state listings
    * pay only two catalog existence checks. No-op partition statements
    * (dropping a missing partition) do NOT set it.
    */
  // volatile: streaming foreachBatch callbacks set it from their own
  // thread; the next runQuery on the caller's thread must see it.
  // Starts TRUE like catalogViewsDirty: a fresh instance sharing a
  // session with an older one must replace the other instance's
  // snapshot on its first parts read, not serve it as its own.
  @volatile private var partsViewsDirty = true

  /** The `col=value` partition directories under a parts root — the ONE
    * dir-level definition of where parts live, shared by the publication
    * enumeration and the emptiness probe so the two can never disagree.
    */
  private def partDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.contains("="))

  /** Does any state table have at least one part on this side (`""` =
    * live, `".detached"`)? Directory listings only — the cheap existence
    * probe behind the stale-empty-snapshot repair.
    */
  private def anyPartAt(sub: String): Boolean =
    stateTables.values.exists { st =>
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(st.path),
        spark.sparkContext.hadoopConfiguration)
      val root = if (sub.isEmpty) new org.apache.hadoop.fs.Path(st.path)
                 else new org.apache.hadoop.fs.Path(st.path, sub)
      partDirs(fs, root).exists(d => Rebalance.dataFiles(fs, d.getPath).nonEmpty)
    }

  /** Parts views exist-on-demand for interactive sessions that never
    * called [[publish]] — published once when missing (the per-file
    * footer cost amortizes: the views then exist, so later listings skip
    * this), and re-published when a side whose snapshot was EMPTY now has
    * a part (directory probe, no footer reads) — so a snapshot pinned
    * before the first insert, or before a DETACH populated the detached
    * side, repopulates on the next listing. Refresh beyond that stays on
    * the publish calls.
    */
  /** The metadata-view freshness gate — dirty flag, cross-instance
    * ownership, existence — in ONE place (the parts twin is
    * [[ensurePartsViews]]); every reader of the cheap views calls this.
    */
  private def ensureCatalogViews(): Unit =
    if (catalogViewsDirty || !ownsSnapshot("catalog") ||
        !spark.catalog.tableExists("system.tables"))
      publishCatalogViews()

  private def ensurePartsViews(): Unit =
    if (!spark.catalog.tableExists("system.parts") ||
        !spark.catalog.tableExists("system.detached_parts") ||
        partsViewsDirty || !ownsSnapshot("parts") ||
        (liveSnapshotEmpty && anyPartAt("")))
      publishPartsViews()

  /** CH's interactive introspection statements, answered like a server
    * would: `SHOW DATABASES`, `SHOW TABLES [FROM db] [LIKE '...']`,
    * `DESC[RIBE] [TABLE] t` (declared column order, CH's five-column
    * shape), `EXISTS [TABLE] t` (one `result` row, 0 for unknown names —
    * CH returns 0, not an error), and `SHOW CREATE TABLE t` (one
    * `statement` row of re-rendered canonical DDL — [[ChDdl.render]],
    * whose output reparses to the identical descriptor). Returns None for
    * anything else so [[runQuery]] falls through to the SELECT path —
    * including DESCRIBE / SHOW CREATE of names this replay does not own
    * but the Spark catalog does (system.*, externally bound tables):
    * those fall through to Spark's native statements. Two deliberate
    * deviations from a server: the unqualified `SHOW TABLES` lists every
    * database (this engine has no USE statement, so there is no "current"
    * database to scope to), and only the cheap metadata views refresh
    * here — parts views are created when missing (and re-created while a
    * zero-parts snapshot is the only one, so pre-insert pins repopulate)
    * but otherwise rebuild only on [[publish]] / [[publishSystemTables]]
    * (they cost a footer read per data file, which a name listing must
    * not pay).
    */
  def interactive(sql: String): Option[DataFrame] = {
    import spark.implicits._
    val s = sql.trim.stripSuffix(";").trim
    import ChReplay.{DescRe => desc, ExistsRe => existsRe,
      ShowCreateDictRe => showCreateDict, ShowCreateRe => showCreate,
      ShowDbRe => showDb, ShowDictRe => showDict, ShowTblRe => showTbl}
    def known(t: String): Boolean = declaredCols(t).isDefined
    def catalogHas(t: String): Boolean =
      try spark.catalog.tableExists(t) catch { case _: Exception => false }
    def descriptor(t: String): CreateTable =
      tables.getOrElse(t, aliasDefs.getOrElse(t, tables.getOrElse(resolve(t),
        sys.error(s"unknown table $t (known: $knownNames)"))))
    // CH string-literal unescaping for the captured LIKE pattern — the
    // shared ChSql.chUnescapeLiteral decoder. Per CH's lexer, an unknown
    // escape KEEPS its backslash (the LIKE-convenience rule), so
    // `'ia\_l%'` and `'ia\\_l%'` BOTH decode to the escaped-literal-
    // underscore pattern; only a bare `_` is the wildcard.
    def chUnescape(p: String): String = ChSql.chUnescapeLiteral(p)
    // The decoded CH pattern, translated for Spark's stricter LIKE: Spark
    // only allows the escape char before `_`, `%` or itself and ERRORS on
    // anything else, while CH's matcher (likePatternToRegexp, and the doc:
    // "the backslash loses its special meaning ... if it precedes a
    // character different than % _ or \") treats such a backslash as a
    // LITERAL backslash followed by the char. So a kept `\c` becomes
    // Spark's `\\c` — escaped literal backslash, then c — matching
    // exactly the names CH would match.
    def sparkLikePattern(p: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        if (c == '\\' && i + 1 < p.length) {
          val n = p.charAt(i + 1)
          if (n == '_' || n == '%' || n == '\\') { sb.append(c); sb.append(n) }
          else { sb.append('\\'); sb.append('\\'); sb.append(n) }
          i += 2
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    def likeLit(p: String): String = qlit(sparkLikePattern(chUnescape(p)))
    // one assembly for all three name listings (db filter + CH LIKE);
    // `parts` gates ensurePartsViews — a dictionary listing must never pay
    // the parts-view probes
    def listing(view: String, db: String, like: String,
        parts: Boolean = true): DataFrame = {
      // a steady-state SHOW must not pay 7 view replacements
      ensureCatalogViews()
      if (parts) ensurePartsViews()
      val conds = Option(db).map(d => s"database = ${qlit(d)}").toSeq ++
        Option(like).map(p => s"name LIKE ${likeLit(p)}").toSeq
      val wh = if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
      spark.sql(s"SELECT name FROM system.$view$wh ORDER BY name")
    }
    def describe(cols: Seq[Col]): DataFrame =
      cols.map(c => (c.name, c.chType,
          c.default.map(_ => "DEFAULT").getOrElse(""), c.default.getOrElse(""),
          c.comment.getOrElse("")))
        .toDF("name", "type", "default_type", "default_expression", "comment")
    s match {
      // the DATABASE and TABLE listings ensure parts views (they are the
      // table-shaped introspection surface — system.parts must be
      // queryable after them; steady-state cost is two catalog existence
      // checks, the live-side probe only while a pre-insert pin waits).
      // SHOW DICTIONARIES reads dictionary metadata only and skips it.
      case showDb(like) => Some(listing("databases", null, like))
      case showTbl(db, like) => Some(listing("tables", db, like))
      case showDict(db, like) => Some(listing("dictionaries", db, like, parts = false))
      case desc(kind, t) =>
        ensureSystemFor(t)
        Option(kind).map(_.toUpperCase) match {
          case Some("DICTIONARY") =>
            Some(describe(dictDdls.getOrElse(t, sys.error(
              s"unknown dictionary $t (known: ${
                dictDdls.keys.toSeq.sorted.mkString(", ")})")).cols))
          case Some("VIEW") =>
            Some(describe(mvDdls.getOrElse(t, sys.error(
              s"unknown view $t (known: ${
                mvDdls.keys.toSeq.sorted.mkString(", ")})")).cols))
          case _ =>
            if (!known(t) && catalogHas(t)) None // native DESCRIBE answers
            else Some(describe(declaredCols(t).getOrElse(
              sys.error(s"unknown table $t (known: $knownNames)"))))
        }
      case existsRe(kind, t) =>
        ensureSystemFor(t)
        // CH's kind-qualified EXISTS answers for that kind only
        val exists = Option(kind).map(_.toUpperCase) match {
          case Some("DICTIONARY") => dictDdls.contains(t)
          // Spark tableType is a STORAGE detail (Null tables and
          // registerParquet back CH tables with catalog views) — only a
          // materialized view is a VIEW to CH here, and EXISTS VIEW = 1
          // must imply SHOW CREATE VIEW succeeds
          case Some("VIEW") => mvDdls.contains(t)
          case _ => known(t) || catalogHas(t)
        }
        Some(Seq(if (exists) 1 else 0).toDF("result"))
      case showCreate(t) =>
        ensureSystemFor(t)
        if (mvDdls.contains(t))
          Some(Seq(ChDdl.render(mvDdls(t))).toDF("statement"))
        else if (dictDdls.contains(t)) // CH answers generically here too
          Some(Seq(ChDdl.render(dictDdls(t))).toDF("statement"))
        else if (!known(t) && catalogHas(t)) None // native SHOW CREATE answers
        else Some(Seq(ChDdl.render(descriptor(t))).toDF("statement"))
      case ChReplay.ShowCreateViewRe(t) =>
        // CH errors on SHOW CREATE VIEW of a non-view; only MVs qualify here
        Some(Seq(ChDdl.render(mvDdls.getOrElse(t, sys.error(
          s"$t is not a VIEW (known views: ${
            mvDdls.keys.toSeq.sorted.mkString(", ")})")))).toDF("statement"))
      case showCreateDict(t) =>
        Some(Seq(ChDdl.render(dictDdls.getOrElse(t, sys.error(
          s"unknown dictionary $t (known: ${
            dictDdls.keys.toSeq.sorted.mkString(", ")})")))).toDF("statement"))
      // any OTHER SHOW form must refuse, not fall through: Spark's native
      // SHOW statements have GLOB pattern semantics and different output
      // schemas — a silent handoff would return plausible-looking wrong
      // rows (the TABLES-only guard here originally left SHOW DATABASES
      // LIKE on exactly that path)
      case other if ChReplay.ShowRe.findFirstIn(other).isDefined =>
        sys.error("unsupported SHOW form (DATABASES [LIKE] / TABLES " +
          "[FROM <db>] [LIKE] / DICTIONARIES [FROM <db>] [LIKE] / " +
          s"CREATE TABLE|VIEW|DICTIONARY <t>): $s")
      case _ => None
    }
  }

  /** Make a `system.*` name introspectable before DESCRIBE/EXISTS/SHOW
    * CREATE consult the catalog — a fresh session that never published
    * would otherwise report system tables unknown (CH's always exist).
    */
  private def ensureSystemFor(t: String): Unit =
    if (t.toLowerCase.startsWith("system.")) {
      ensureCatalogViews()
      ensurePartsViews()
    }

  /** Run one statement of the scripts (or an interactive user's): CH's
    * introspection statements answer through [[interactive]]; otherwise
    * `cluster(...)` table functions read the local table, a SELECT over
    * the `system.*` views refreshes them first, the literal
    * `substitutions` apply (the scripts' capture-day literals mapped onto
    * the replay's ingested days), and the text runs through the dialect
    * front door ([[ChSql.run]]) with this replay's scope: every clause
    * reads a [[bind]]ing (under its own name or a Distributed alias of
    * it) before the catalog, `SAMPLE` reads each table's declared SAMPLE
    * BY key, and `FROM t FINAL` reads the backing [[StateTable.merged]].
    */
  def runQuery(sql: String, substitutions: Map[String, String] = Map.empty): DataFrame = {
    interactive(sql) match {
      case Some(df) => return df
      case None =>
    }
    // CH cluster table functions (ref data_rebalance.py:116-205): on the
    // 1-shard topology system.clusters publishes, cluster(c, db, t) and
    // clusterAllReplicas(c, db, t) ARE the local table. The `_shard_num`
    // VIRTUAL column materializes only when the query names it — CH
    // excludes virtuals from SELECT *, so an unconditional injection
    // would grow a phantom column there. (Known boundary: a query that
    // BOTH selects * AND names _shard_num elsewhere, e.g. in ORDER BY,
    // still gains the column — exact virtual-column scoping needs a real
    // metadata column, which a plain subquery cannot express; the tool's
    // statements never combine the two.) Matching runs on the string-
    // MASKED text (house rule for every regex rewrite: a literal
    // containing "cluster('x', a, b)" must not trigger). Rewritten FIRST
    // so the system-view freshness gates below see the dotted names.
    val needsShardNum = "(?i)\\b_shard_num\\b".r
      .findFirstIn(ChSql.maskStrings(sql)).isDefined
    val sql0 = ChSql.replaceOnMasked(sql, ChReplay.ClusterFnRe) { m =>
      val target = ChReplay.clusterFnTarget(sql, m)
      if (needsShardNum) s"(SELECT CAST(1 AS INT) AS _shard_num, * FROM $target)"
      else target
    }
    // a SELECT that reads the parts views must see the effects of every
    // prior part-moving statement, same as the listings do
    if (ChReplay.SystemPartsRe.findFirstIn(sql0).isDefined) ensurePartsViews()
    // and one reading the metadata views must see every CREATE/DROP —
    // republish only when a DDL statement ran since the last publish (or
    // this instance never published): the rebalance tool POLLS
    // system.processes in a loop, and steady-state polls must not pay 7
    // view replacements each (the parts views' dirty-flag discipline,
    // applied to the cheap views too)
    if (ChReplay.SystemCatalogRe.findFirstIn(sql0).isDefined)
      ensureCatalogViews()
    val q = substitutions.foldLeft(sql0) { case (t, (from, to)) => t.replace(from, to) }
    // like CH, FINAL on a name with no backing state table is refused
    // rather than silently un-merged
    ChSql.run(spark, q, ChSql.Scope(
      t => tables.get(resolve(t)).flatMap(_.sampleBy),
      name => stateTables.getOrElse(resolve(name), sys.error(
        s"$name FINAL: FINAL needs an AggregatingMergeTree-backed table " +
          s"(known: ${stateTables.keys.mkString(", ")})")).merged()),
      bindings.toMap ++ aliases.keys.flatMap(a => bindings.get(resolve(a)).map(a -> _)))
  }

  // ---- builders ------------------------------------------------------------

  private def rebuildStateTable(name: String): Unit = {
    val ct = tables(name)
    val keys = if (ct.orderBy.nonEmpty) ct.orderBy else ct.primaryKey
    require(keys.nonEmpty, s"$name: AggregatingMergeTree needs ORDER BY/PRIMARY KEY")
    val metrics = ct.cols.filter(c => c.isAggState || c.isSimpleAggState).map(metricFor(name, _))
    stateTables(name) = new StateTable(spark,
      s"$warehouseDir/${name.replace('.', '_')}",
      keys, ct.partitionBy.getOrElse(keys.head), metrics)
  }

  private def metricFor(table: String, c: Col): Metric = c.aggSpec match {
    case Some(("uniqCombined", _)) => HllUvMetric(c.name, col(c.name))
    case Some(("sum", _)) => SumMetric(c.name, col(c.name))
    case Some(("min", _)) => MinMetric(c.name, col(c.name))
    case Some(("max", _)) => MaxMetric(c.name, col(c.name))
    case Some(("groupBitmap", _)) => BitmapUvMetric(c.name, col(c.name))
    case Some(("medianExact", _)) => MedianExactMetric(c.name, col(c.name))
    case Some(("quantileTDigest", _)) => QuantileSketchMetric(c.name, col(c.name))
    case Some(("entropy", _)) => EntropyMetric(c.name, col(c.name))
    case other => sys.error(s"$table.${c.name}: unsupported aggregate type ${c.chType} ($other)")
  }

  /** Spark type of a column's stored STATE — used only to type the null/
    * default fill of columns a given MV does not produce.
    */
  private def stateType(c: Col): DataType = c.aggSpec match {
    case Some(("uniqCombined", _)) | Some(("groupBitmap", _)) |
         Some(("entropy", _)) => BinaryType
    case Some(("medianExact", t)) => ArrayType(valueType(t))
    case Some((_, t)) => valueType(t) // simple aggregates store plain values
    case None => valueType(c.chType)
  }

  private def valueType(chType: String): DataType = {
    val t = chType.toLowerCase
    if (t.startsWith("uint") || t.startsWith("int")) LongType
    else if (t.startsWith("float")) DoubleType
    else if (t == "date") DateType
    else if (t.startsWith("datetime")) TimestampNTZType
    else StringType
  }

  private def buildMv(mv: CreateMaterializedView): Unit = {
    val targetName = resolve(mv.to)
    val st = stateTables.getOrElse(targetName,
      sys.error(s"MV ${mv.name}: target $targetName is not an aggregating table"))
    // snapshot the target's declared columns NOW — CH conforms each insert
    // to the table as it existed when the MV ran, and later ALTERs rebuild
    // the MV anyway (the scripts' drop-recreate flow)
    val declared = tables(targetName).cols
    val conform = (df: DataFrame) => {
      val present = df.columns.toSet
      df.select(declared.map { c =>
        if (present.contains(c.name)) col(c.name)
        else if (c.isSimpleAggState)
          // missing simple-aggregate column: CH type default (0), which is
          // also the merge identity — reproduces the reference's
          // show_cnt/shown_cnt mismatch golden (shown_cnt = 0, doc:287-292)
          lit(0L).cast(stateType(c)).as(c.name)
        else lit(null).cast(stateType(c)).as(c.name)
      }: _*)
    }
    mvs(mv.name) = MaterializedView.fromSql(mv.name, mv.select, mv.sourceTable, st, conform)
    mvDdls(mv.name) = mv
    mvSources(mv.name) = mv.sourceTable
  }

  private def buildDictionary(d: CreateDictionary): Unit = {
    val src = sourceDf(d.sourceName)
    val defaults = d.cols.filterNot(c => d.primaryKeys.contains(c.name)).flatMap { c =>
      c.default.map(v => c.name -> defaultValue(v, c.chType))
    }.toMap
    val projected = src.select(d.cols.map(c => col(c.name)): _*)
    if (d.isComplexKey)
      Dictionaries.registerComplex(spark, d.name, projected, d.primaryKeys, defaults)
    else
      Dictionaries.register(spark, d.name, projected, d.primaryKeys.head, defaults)
    if (!dictionaries.contains(d.name)) dictionaries += d.name
    dictDdls(d.name) = d
  }

  /** Start the LIFETIME refresh cycle for every replayed dictionary that
    * declared one (`LIFETIME(MIN m MAX M)`, ref dim.dict_user_dim.sql:20):
    * each re-registers from its re-resolved source every MIN seconds —
    * ClickHouse picks uniformly in [MIN, MAX] to spread load across a
    * fleet of servers; a single driver refreshes deterministically at the
    * earliest legal moment. A refreshed snapshot is visible to every
    * dictGet analyzed afterwards — in particular to SQL-defined MVs, whose
    * per-batch spark.sql re-analyzes the SELECT, so a running pipeline
    * picks up the new dimension data without restart. Sources bound to a
    * catalog view re-resolve their file listing on each refresh; a
    * `bind()`-ed DataFrame snapshot re-executes its plan.
    *
    * `scale` multiplies the declared seconds (tests shrink the cadence).
    * Close the returned handle to stop the ticker; refresh failures are
    * swallowed and retried next tick (the CH behavior — a broken source
    * keeps serving the previous snapshot).
    */
  def startDictionaryTicker(scale: Double = 1.0): AutoCloseable = {
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-dict-lifetime"); t.setDaemon(true); t })
    for (d <- dictDdls.values if d.lifetimeMin > 0 || d.lifetimeMax > 0) {
      val seconds = if (d.lifetimeMin > 0) d.lifetimeMin else d.lifetimeMax
      val periodMs = math.max(50L, (seconds * scale * 1000).toLong)
      exec.scheduleAtFixedRate(
        () => try buildDictionary(d) catch { case _: Exception => () },
        periodMs, periodMs, java.util.concurrent.TimeUnit.MILLISECONDS): Unit
    }
    () => { exec.shutdownNow(): Unit }
  }

  private def defaultValue(raw: String, chType: String): Any = {
    val v = raw.trim
    if (v.startsWith("'")) v.stripPrefix("'").stripSuffix("'")
    else {
      val t = chType.toLowerCase
      if (t == "int16") v.toShort
      else if (t.startsWith("int") || t.startsWith("uint")) v.toLong
      else if (t.startsWith("float")) v.toDouble
      else v
    }
  }

  private def applyAlter(a: AlterTable): Unit = {
    val name = resolve(a.table)
    tables.get(name).foreach { ct =>
      var cols = ct.cols
      for (add <- a.addColumns if !cols.exists(_.name == add.name)) {
        val idx = add.after.flatMap(p => Some(cols.indexWhere(_.name == p)).filter(_ >= 0))
        cols = idx match {
          case Some(i) => (cols.take(i + 1) :+ add) ++ cols.drop(i + 1)
          case None => cols :+ add
        }
      }
      for (m <- a.modifyColumns) cols = cols.map(c => if (c.name == m.name) m else c)
      val updated = ct.copy(cols = cols, orderBy = a.newOrderBy.getOrElse(ct.orderBy))
      tables(name) = updated
      if (updated.isAggregating) rebuildStateTable(name)
    }
    // mutations run against the table's storage (CH executes them as
    // background part rewrites; here they apply synchronously)
    if (a.partitionOps.nonEmpty || a.deleteWhere.nonEmpty || a.updateSet.nonEmpty) {
      val st = stateTables.getOrElse(name,
        sys.error(s"$name: DROP/DETACH/ATTACH PARTITION / DELETE / UPDATE " +
          "needs table storage"))
      // in STATEMENT order (CH runs subcommands sequentially): `ATTACH
      // PARTITION 'a', DROP PARTITION 'a'` must attach then drop — grouped
      // execution would leave 'a' live
      var moved = false
      try a.partitionOps.foreach {
        case ChDdl.DropPartition(v) => moved |= st.dropPartition(v)
        case ChDdl.DetachPartition(v) => moved |= st.detachPartition(v)
        case ChDdl.AttachPartition(v) => moved |= st.attachPartition(v)
        case ChDdl.DropDetachedPartition(v) => moved |= st.dropDetachedPartition(v)
        // PART granularity (the rebalance tool's statements) — these
        // ERROR on unknown names (CH parity), so reaching past one means
        // a part moved
        case ChDdl.DetachPart(p) => st.detachPart(p); moved = true
        case ChDdl.AttachPart(p) => st.attachPart(p); moved = true
        case ChDdl.DropDetachedPart(p) => st.dropDetachedPart(p); moved = true
        case ChDdl.FetchPart(p, from) =>
          // CH's FROM is the donor's zookeeper path
          // `/clickhouse/tables/{layer}-{shard}/{db}.{table}` (ref
          // data_rebalance.py:175); the single-node analog resolves the
          // last segment as the donor TABLE and copies from its storage
          val donorName = from.substring(from.lastIndexOf('/') + 1)
          val donor = stateTables.getOrElse(resolve(donorName),
            sys.error(s"FETCH PART FROM '$from': the path's last segment " +
              s"('$donorName') names no table with storage — known: " +
              stateTables.keys.toSeq.sorted.mkString(", ")))
          st.fetchPart(donor.path, p); moved = true
      } catch {
        // an op that fails MID-statement leaves the earlier ops' effects
        // on disk — they must not stay invisible to the snapshot
        case e: Throwable => partsViewsDirty = true; throw e
      }
      if (moved) partsViewsDirty = true
      a.deleteWhere.foreach { cond =>
        try st.deleteWhere(org.apache.spark.sql.functions.expr(ChSql(cond))): Unit
        finally partsViewsDirty = true
      }
      if (a.updateSet.nonEmpty)
        try st.updateWhere(
          a.updateSet.map { case (c, e) =>
            c -> org.apache.spark.sql.functions.expr(ChSql(e)) },
          org.apache.spark.sql.functions.expr(ChSql(
            a.updateWhere.getOrElse("true"))))
        finally partsViewsDirty = true
    }
  }
}
