package graft.engine

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  *    [[Metric]] per AggregateFunction/SimpleAggregateFunction column,
  *    the declared columns as its definition), read by name as its parts
  *    when a statement reads it;
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
  *    StateTable rebuild at the same path, whose definition gains the added
  *    columns (older parts read them as NULL, so widening is metadata-only
  *    — the reference's live-ALTER flow, ref dwm.mainpage_stat_mv_dis.sql:78-96);
  *  - `DROP TABLE <mv>` → detaches that MV (drop-recreate flow);
  *  - SELECT statements are collected in [[queries]] for the caller to
  *    run through [[runQuery]] (the dialect front door, [[ChSql.run]]);
  *  - every name a statement reads ([[table]]: bindings, state tables and
  *    CH's `system.*` introspection tables, [[systemTable]]) is resolved
  *    when that statement reads it, so it is always current and never a
  *    session catalog object.
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
  // value types valueType reads through (lowercased, without blanks)
  private val WrappedType = "(?:nullable|lowcardinality)\\((.*)\\)".r
  private val DecimalOf = "decimal\\((\\d+),(\\d+)\\)".r
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

  /** The frame a statement reads under `name`, resolved when the
    * statement reads it ([[ChSql.run]] asks once per name, lowercased;
    * names match ignoring case, as in Spark's catalog): Distributed
    * aliases resolve first, then a [[bind]]ing answers, then a state
    * table's parts ([[StateTable.read]], CH's non-FINAL read, listed now),
    * then a `system.*` table ([[systemTable]], built now). None leaves the
    * name to the session catalog.
    */
  private def table(name: String): Option[DataFrame] = {
    val n = resolve((aliases.keys ++ bindings.keys ++ stateTables.keys)
      .find(_.equalsIgnoreCase(name)).getOrElse(name))
    bindings.get(n).orElse(stateTables.get(n).map(_.read())).orElse(
      Option.when(n.startsWith("system."))(n.substring(7)).flatMap(systemTable))
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
    * exactly `schema` (TRUNCATE's catalog-view replacement); names are
    * backtick-quoted so reserved words and special characters survive.
    */
  private def emptySelectSql(schema: org.apache.spark.sql.types.StructType): String =
    "SELECT " + schema.map(f =>
      s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name.replace("`", "``")}`")
      .mkString(", ") + " WHERE false"

  /** DROP TABLE of a plain table whose storage is a same-named catalog
    * object of the user's (the [[bind]] alternative, e.g. a [[Catalog]]
    * view): the object goes too, with the command for its type, so EXISTS,
    * which also asks the catalog, answers 0 after the drop. The replay
    * itself creates no catalog object.
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

  def execute(stmt: Stmt): Unit = stmt match {
    case ct: CreateTable if ct.isDistributed =>
      ct.distributedTarget.foreach(t => aliases(ct.name) = t)
      aliasDefs(ct.name) = ct
    case ct: CreateTable =>
      tables(ct.name) = ct
      if (ct.isAggregating) rebuildStateTable(ct.name)
      // ENGINE=Null reads as forever-empty (CH returns 0 rows, not an
      // unknown-table error) — bind an empty frame of the declared schema
      else if (ct.engine.equalsIgnoreCase("Null")) {
        val schema =
          StructType(ct.cols.map(c => StructField(c.name, valueType(c.chType))))
        bindings(ct.name) = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
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
                // a dropped name leaves every surface — EXISTS answering 1
                // for it would contradict the catalog-consistency
                // invariant. Dropping an alias drops ONLY the alias (CH:
                // the local table survives); dropping a state table
                // deletes its storage (CH drops data), so the aliases that
                // resolved to it read nothing and their selects error.
                aliases.remove(n); aliasDefs.remove(n)
                bindings.remove(n)
                if (tables.remove(n).isDefined)
                  stateTables.remove(n) match {
                    case Some(st) =>
                      val fs = org.apache.hadoop.fs.FileSystem.get(
                        new java.net.URI(st.path),
                        spark.sparkContext.hadoopConfiguration)
                      fs.delete(new org.apache.hadoop.fs.Path(st.path), true): Unit
                    case None => dropCatalogObject(n)
                  }
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
        case Some(st) => st.truncate()
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
      stateTables.get(resolve(name)).foreach(st =>
        part.fold(st.compact())(st.compactPartition))
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
    *    filled exactly like an MV insert ([[fill]]) and each value
    *    converted to the declared type by the append;
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
      case Some(st) => st.append(fill(named, tables(target).cols))
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
    mvSources.collect { case (mv, src) if resolve(src) == t => mv }
      .foreach(mv => mvs(mv).processBatch(batch))
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
        checkpointDir.map(d => s"$d/${n.replace('.', '_')}")))
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
    st.expire(ttl.days, ttl.hours, now)
  }

  // a table created without a database qualifier (the ENGINE=Null branch
  // admits these) lands in CH's `default` db
  private def dbTable(n: String): (String, String) = n.indexOf('.') match {
    case -1 => ("default", n)
    case i  => (n.substring(0, i), n.substring(i + 1))
  }

  /** CH's introspection tables, built from this replay's state when read,
    * so every statement, direct [[StateTable]] write and streamed batch
    * before the read shows, as CH's own are always current:
    *  - `databases`, `tables`, `columns`, `dictionaries` from the catalog
    *    maps (MVs and DDL dictionaries list in `tables` too, with engines
    *    MaterializedView and Dictionary);
    *  - `clusters`, `macros`, `processes`: the rebalance tool's topology
    *    surface (ref data_rebalance.py:117, 186-199) — a static
    *    1-shard/1-replica cluster named `cluster` (metrika.xml:4-17), the
    *    metrika macros (metrika.xml:24-28) and no running queries (a
    *    single-driver engine has none to list). host_name is the identity
    *    hostName() serves, as CH's is_local replica's is;
    *  - `parts` and `detached_parts`: one row per PART (= one parquet data
    *    file, [[Rebalance.dataFiles]]) with the UNESCAPED partition value,
    *    the file name and its footer record count ([[Rebalance.footerRows]],
    *    metadata only), so the rebalance tool's `SELECT partition,
    *    sum(rows), sum(bytes_on_disk) FROM system.parts WHERE table = 't'
    *    GROUP BY partition` runs verbatim.
    * Each is a local relation of an explicit schema, so an empty table
    * keeps its column types. None for any other name.
    */
  def systemTable(name: String): Option[DataFrame] = {
    def schema(cols: (String, DataType)*) =
      StructType(cols.map { case (n, t) => StructField(n, t) })
    def strings(names: String*) = schema(names.map(_ -> StringType): _*)
    def parts = schema("database" -> StringType, "table" -> StringType,
      "partition" -> StringType, "name" -> StringType, "rows" -> LongType,
      "active" -> IntegerType, "bytes_on_disk" -> LongType,
      // single-node storage has one disk; the rebalance tool's statements
      // filter `disk_name<>'hdfs'` (ref data_rebalance.py:140,150,173,198)
      "disk_name" -> StringType,
      // the part file's mtime — check_attach_part_is_exists filters
      // `toDate(modification_time)=today()` (ref data_rebalance.py:201-206)
      "modification_time" -> TimestampType)
    lazy val names =
      (tables.keys ++ aliases.keys ++ aliasDefs.keys ++ mvDdls.keys ++ dictDdls.keys)
        .toSeq.distinct.sorted
    // aliasDefs, not aliases: a Distributed CREATE whose target tuple
    // failed to parse registers a descriptor but no resolution entry, and
    // EXISTS/DESCRIBE answer for it through declaredCols
    def engine(n: String): String =
      if (aliases.contains(n) || aliasDefs.contains(n)) "Distributed"
      else if (mvDdls.contains(n)) "MaterializedView"
      else if (dictDdls.contains(n)) "Dictionary"
      else if (tables.get(n).exists(_.isAggregating)) "AggregatingMergeTree"
      else if (tables.get(n).exists(_.engine.equalsIgnoreCase("Null"))) "Null"
      else "MergeTree"
    val table: Option[(StructType, Seq[Row])] = name.toLowerCase match {
      case "databases" => Some((strings("name"),
        (names.map(dbTable(_)._1).distinct.sorted :+ "system").map(Row(_))))
      case "tables" => Some((strings("database", "name", "engine"),
        names.map { n => val (db, t) = dbTable(n); Row(db, t, engine(n)) }))
      case "columns" => Some((strings("database", "table", "name", "type"),
        names.flatMap { n =>
          val (db, t) = dbTable(n)
          declaredCols(n).toSeq.flatten.map(c => Row(db, t, c.name, c.chType))
        }))
      case "dictionaries" => Some((schema("database" -> StringType,
          "name" -> StringType, "source" -> StringType, "layout" -> StringType,
          "lifetime_min" -> IntegerType, "lifetime_max" -> IntegerType),
        dictDdls.toSeq.sortBy(_._1).map { case (n, d) =>
          val (db, t) = dbTable(n)
          Row(db, t, d.sourceName, d.layout, d.lifetimeMin, d.lifetimeMax)
        }))
      case "clusters" =>
        val (host, address) = graft.functions.HostNameExpr.localHostIdentity
        Some((schema("cluster" -> StringType, "shard_num" -> IntegerType,
            "shard_weight" -> IntegerType, "replica_num" -> IntegerType,
            "host_name" -> StringType, "host_address" -> StringType,
            "port" -> IntegerType, "is_local" -> IntegerType),
          Seq(Row("cluster", 1, 1, 1, host, address, 9000, 1))))
      case "macros" => Some((strings("macro", "substitution"),
        Seq(Row("layer", "cluster"), Row("replica", "ck01"), Row("shard", "shard1"))))
      case "processes" => Some((schema("is_initial_query" -> IntegerType,
        "user" -> StringType, "query_id" -> StringType, "address" -> StringType,
        "elapsed" -> DoubleType, "query" -> StringType), Nil))
      case "parts" => Some((parts, partRows("")))
      case "detached_parts" => Some((parts, partRows(".detached")))
      case _ => None
    }
    table.map { case (s, rows) => spark.createDataFrame(rows.asJava, s) }
  }

  /** The footer record counts of the part files each side (`""` = live,
    * `".detached"`) listed last, keyed by (path, length, mtime). A parquet
    * part never changes in place and a moved part changes its path, so an
    * entry cannot go stale; each read keeps only the files it listed, and
    * reads the footers of the others.
    */
  private val footerRows = mutable.Map.empty[String, Map[(String, Long, Long), Long]]

  /** The `system.parts` rows of every state table's parts on one side. */
  private def partRows(sub: String): Seq[Row] = footerRows.synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = stateTables.toSeq.sortBy(_._1).flatMap { case (n, st) =>
      val (db, t) = dbTable(n)
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(st.path), conf)
      val root = if (sub.isEmpty) new org.apache.hadoop.fs.Path(st.path)
                 else new org.apache.hadoop.fs.Path(st.path, sub)
      val dirs = if (!fs.exists(root)) Nil else fs.listStatus(root).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.contains("="))
      dirs.flatMap { d =>
        // the dirname is hive-escaped: the value is past the FIRST '=',
        // unescaped, so values containing ':' or '=' read back as written
        val dn = d.getPath.getName
        val value = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(dn.substring(dn.indexOf('=') + 1))
        Rebalance.dataFiles(fs, d.getPath).map(f => (db, t, value, f))
      }.sortBy { case (_, _, value, f) => (value, f.getPath.getName) }
    }
    val seen = footerRows.getOrElse(sub, Map.empty)
    val counted = files.map { case (_, _, _, f) =>
      val key = (f.getPath.toString, f.getLen, f.getModificationTime)
      key -> seen.getOrElse(key, Rebalance.footerRows(conf, f.getPath))
    }
    footerRows(sub) = counted.toMap
    files.zip(counted).map { case ((db, t, value, f), (_, rows)) =>
      Row(db, t, value, f.getPath.getName, rows, 1, f.getLen, "default",
        new java.sql.Timestamp(f.getModificationTime))
    }
  }

  /** CH's interactive introspection statements, answered like a server
    * would: `SHOW DATABASES`, `SHOW TABLES [FROM db] [LIKE '...']`,
    * `SHOW DICTIONARIES` (each read from its [[systemTable]]),
    * `DESC[RIBE] [TABLE] t` (declared column order, CH's five-column
    * shape; a `system.*` name describes its table's schema), `EXISTS
    * [TABLE] t` (one `result` row, 0 for unknown names — CH returns 0,
    * not an error), and `SHOW CREATE TABLE t` (one `statement` row of
    * re-rendered canonical DDL — [[ChDdl.render]], whose output reparses
    * to the identical descriptor). Returns None for anything else so
    * [[runQuery]] falls through to the SELECT path — including DESCRIBE /
    * SHOW CREATE of names this replay does not own but the Spark catalog
    * does (externally bound tables): those fall through to Spark's native
    * statements. One deliberate deviation from a server: the unqualified
    * `SHOW TABLES` lists every database (this engine has no USE
    * statement, so there is no "current" database to scope to).
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
    def system(t: String): Option[DataFrame] =
      if (t.toLowerCase.startsWith("system.")) systemTable(t.substring(7)) else None
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
    // one assembly for all three name listings (db filter + CH LIKE)
    def listing(table: String, db: String, like: String): DataFrame = {
      val conds = Option(db).map(col("database") === _).toSeq ++
        Option(like).map(p => col("name").like(sparkLikePattern(chUnescape(p)))).toSeq
      conds.foldLeft(systemTable(table).get)(_ where _).select("name").orderBy("name")
    }
    def describe(cols: Seq[Col]): DataFrame =
      cols.map(c => (c.name, c.chType,
          c.default.map(_ => "DEFAULT").getOrElse(""), c.default.getOrElse(""),
          c.comment.getOrElse("")))
        .toDF("name", "type", "default_type", "default_expression", "comment")
    s match {
      case showDb(like) => Some(listing("databases", null, like))
      case showTbl(db, like) => Some(listing("tables", db, like))
      case showDict(db, like) => Some(listing("dictionaries", db, like))
      case desc(kind, t) =>
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
            val cols = declaredCols(t)
              .orElse(system(t).map(_.schema.map(f => Col(f.name, f.dataType.sql))))
            if (cols.isEmpty && catalogHas(t)) None // native DESCRIBE answers
            else Some(describe(cols.getOrElse(
              sys.error(s"unknown table $t (known: $knownNames)"))))
        }
      case existsRe(kind, t) =>
        // CH's kind-qualified EXISTS answers for that kind only
        val exists = Option(kind).map(_.toUpperCase) match {
          case Some("DICTIONARY") => dictDdls.contains(t)
          // Spark tableType is a STORAGE detail (registerParquet backs
          // CH tables with catalog views) — only a materialized view is a
          // VIEW to CH here, and EXISTS VIEW = 1 must imply SHOW CREATE
          // VIEW succeeds
          case Some("VIEW") => mvDdls.contains(t)
          case _ => known(t) || system(t).isDefined || catalogHas(t)
        }
        Some(Seq(if (exists) 1 else 0).toDF("result"))
      case showCreate(t) =>
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

  /** Run one statement of the scripts (or an interactive user's): CH's
    * introspection statements answer through [[interactive]]; otherwise
    * `cluster(...)` table functions read the local table, the literal
    * `substitutions` apply (the scripts' capture-day literals mapped onto
    * the replay's ingested days), and the text runs through the dialect
    * front door ([[ChSql.run]]) with this replay's scope: every name the
    * statement reads is looked up through [[table]] before the catalog,
    * `SAMPLE` reads each table's declared SAMPLE BY key, and `FROM t
    * FINAL` reads the backing [[StateTable.merged]].
    */
  def runQuery(sql: String, substitutions: Map[String, String] = Map.empty): DataFrame = {
    interactive(sql) match {
      case Some(df) => return df
      case None =>
    }
    // CH cluster table functions (ref data_rebalance.py:116-205): on the
    // 1-shard topology system.clusters lists, cluster(c, db, t) and
    // clusterAllReplicas(c, db, t) ARE the local table. The `_shard_num`
    // VIRTUAL column materializes only when the query names it — CH
    // excludes virtuals from SELECT *, so an unconditional injection
    // would grow a phantom column there. (Known boundary: a query that
    // BOTH selects * AND names _shard_num elsewhere, e.g. in ORDER BY,
    // still gains the column — exact virtual-column scoping needs a real
    // metadata column, which a plain subquery cannot express; the tool's
    // statements never combine the two.) Matching runs on the string-
    // MASKED text (house rule for every regex rewrite: a literal
    // containing "cluster('x', a, b)" must not trigger).
    val needsShardNum = "(?i)\\b_shard_num\\b".r
      .findFirstIn(ChSql.maskStrings(sql)).isDefined
    val sql0 = ChSql.replaceOnMasked(sql, ChReplay.ClusterFnRe) { m =>
      val target = ChReplay.clusterFnTarget(sql, m)
      if (needsShardNum) s"(SELECT CAST(1 AS INT) AS _shard_num, * FROM $target)"
      else target
    }
    val q = substitutions.foldLeft(sql0) { case (t, (from, to)) => t.replace(from, to) }
    // like CH, FINAL on a name with no backing state table is refused
    // rather than silently un-merged
    ChSql.run(spark, q, ChSql.Scope(
      t => tables.get(resolve(t)).flatMap(_.sampleBy),
      name => stateTables.getOrElse(resolve(name), sys.error(
        s"$name FINAL: FINAL needs an AggregatingMergeTree-backed table " +
          s"(known: ${stateTables.keys.mkString(", ")})")).merged()),
      table)
  }

  // ---- builders ------------------------------------------------------------

  private def rebuildStateTable(name: String): Unit = {
    val ct = tables(name)
    val keys = if (ct.orderBy.nonEmpty) ct.orderBy else ct.primaryKey
    require(keys.nonEmpty, s"$name: AggregatingMergeTree needs ORDER BY/PRIMARY KEY")
    val metrics = ct.cols.filter(c => c.isAggState || c.isSimpleAggState).map(metricFor(name, _))
    val st = new StateTable(spark, s"$warehouseDir/${name.replace('.', '_')}",
      keys, ct.partitionBy.getOrElse(keys.head), metrics)
    // the declared columns as stored: a metric column at the type of its
    // metric's state over the declared value type (analyzed, not run),
    // any other column at its value type
    val values = StructType(ct.cols.map(c =>
      StructField(c.name, valueType(c.aggSpec.fold(c.chType)(_._2)))))
    val states = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], values)
      .select(metrics.map(_.state): _*).schema
    st.declare(values.map(f => states.find(_.name == f.name).getOrElse(f)))
    stateTables(name) = st
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

  /** `df` as the `declared` columns by name, CH insert semantics:
    * surplus columns are discarded, a missing simple aggregate takes the
    * type default 0 (also its merge identity — this reproduces the
    * reference's show_cnt/shown_cnt mismatch golden, shown_cnt = 0,
    * doc:287-292), any other missing column an empty state (NULL; CH
    * stores a zero-element state — the same merge identity). The append
    * converts each value to its declared type.
    */
  private def fill(df: DataFrame, declared: Seq[Col]): DataFrame = {
    val present = df.columns.map(_.toLowerCase).toSet
    df.select(declared.map { c =>
      if (present(c.name.toLowerCase)) col(c.name)
      else (if (c.isSimpleAggState) lit(0L) else lit(null)).as(c.name)
    }: _*)
  }

  /** The Spark type of a CH value type (Spark has no unsigned integers;
    * every width fits a long). */
  private def valueType(chType: String): DataType =
    chType.toLowerCase.replaceAll("\\s", "") match {
      case ChReplay.WrappedType(inner) => valueType(inner)
      case ChReplay.DecimalOf(p, sc) => DecimalType(p.toInt, sc.toInt)
      case t if t.startsWith("uint") || t.startsWith("int") => LongType
      case t if t.startsWith("float") => DoubleType
      case "date" => DateType
      case t if t.startsWith("datetime") => TimestampNTZType
      case _ => StringType
    }

  private def buildMv(mv: CreateMaterializedView): Unit = {
    val targetName = resolve(mv.to)
    val st = stateTables.getOrElse(targetName,
      sys.error(s"MV ${mv.name}: target $targetName is not an aggregating table"))
    // snapshot the target's declared columns NOW — CH conforms each insert
    // to the table as it existed when the MV ran, and later ALTERs rebuild
    // the MV anyway (the scripts' drop-recreate flow)
    val declared = tables(targetName).cols
    mvs(mv.name) = MaterializedView.fromSql(mv.name, mv.select, mv.sourceTable, st,
      fill(_, declared))
    mvDdls(mv.name) = mv
    mvSources(mv.name) = mv.sourceTable
  }

  private def buildDictionary(d: CreateDictionary): Unit = {
    val src = table(d.sourceName).getOrElse(spark.table(resolve(d.sourceName)))
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
      a.partitionOps.foreach {
        case ChDdl.DropPartition(v) => st.dropPartition(v)
        case ChDdl.DetachPartition(v) => st.detachPartition(v)
        case ChDdl.AttachPartition(v) => st.attachPartition(v)
        case ChDdl.DropDetachedPartition(v) => st.dropDetachedPartition(v)
        // PART granularity (the rebalance tool's statements) — these
        // ERROR on unknown names (CH parity)
        case ChDdl.DetachPart(p) => st.detachPart(p)
        case ChDdl.AttachPart(p) => st.attachPart(p)
        case ChDdl.DropDetachedPart(p) => st.dropDetachedPart(p)
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
          st.fetchPart(donor.path, p)
      }
      a.deleteWhere.foreach(cond =>
        st.deleteWhere(org.apache.spark.sql.functions.expr(ChSql(cond))): Unit)
      if (a.updateSet.nonEmpty)
        st.updateWhere(
          a.updateSet.map { case (c, e) =>
            c -> org.apache.spark.sql.functions.expr(ChSql(e)) },
          org.apache.spark.sql.functions.expr(ChSql(
            a.updateWhere.getOrElse("true"))))
    }
  }
}
