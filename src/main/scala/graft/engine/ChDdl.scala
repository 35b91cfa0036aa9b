package graft.engine

import scala.collection.mutable

/** Parser for the ClickHouse DDL dialect the reference's scripts are
  * written in (ref scripts/sql, all files): `CREATE TABLE ... ENGINE =
  * ...MergeTree` with PARTITION BY / PRIMARY KEY / ORDER BY / TTL /
  * SETTINGS, `CREATE TABLE ... AS x ENGINE = Distributed(...)`,
  * `CREATE MATERIALIZED VIEW ... TO target (cols) AS SELECT ...`,
  * `CREATE DICTIONARY ... SOURCE(CLICKHOUSE(...)) LIFETIME(...)
  * LAYOUT(...)`, and `ALTER TABLE ... ADD COLUMN / MODIFY ORDER BY`.
  *
  * This is a tolerant, statement-level parser — it recovers the structure
  * [[ChReplay]] needs to instantiate Warehouse/StateTable/
  * MaterializedView/Dictionaries objects, not a full grammar. The
  * reference scripts mix `;`-terminated and bare statements, so splitting
  * is keyword-anchored: a new statement starts at a top-level line opening
  * with CREATE/ALTER/DROP/SELECT/WITH/INSERT (unless the previous
  * statement is dangling on `AS`, which glues a materialized view to its
  * SELECT). `--` comments (never inside a literal) are stripped first;
  * `;` and the line-start keywords count only as code.
  */
object ChDdl {

  /** One column definition: CH type text is kept verbatim (e.g.
    * `AggregateFunction(uniqCombined,UInt32)`); `default`/`comment` are the
    * clause bodies; `after` is ALTER's position hint (ignored by Spark).
    */
  final case class Col(
      name: String,
      chType: String,
      default: Option[String] = None,
      comment: Option[String] = None,
      after: Option[String] = None) {
    def isAggState: Boolean = chType.toLowerCase.startsWith("aggregatefunction")
    def isSimpleAggState: Boolean = chType.toLowerCase.startsWith("simpleaggregatefunction")
    /** (function, value CH type) of an AggregateFunction/SimpleAggregateFunction. */
    def aggSpec: Option[(String, String)] = {
      val m = """(?i)(?:Simple)?AggregateFunction\s*\(\s*(\w+)\s*,\s*((?:[^()]|\([^()]*\))+?)\s*\)""".r
      m.findFirstMatchIn(chType).map(g => (g.group(1), g.group(2).trim))
    }
  }

  /** `TTL day + toIntervalDay(d) + toIntervalHour(h)`. */
  final case class Ttl(days: Int, hours: Int)

  sealed trait Stmt

  final case class CreateTable(
      name: String,
      cols: Seq[Col],
      engine: String,
      engineArgs: Seq[String],
      partitionBy: Option[String],
      primaryKey: Seq[String],
      orderBy: Seq[String],
      ttl: Option[Ttl],
      sampleBy: Option[String],
      asTable: Option[String]) extends Stmt {
    def isDistributed: Boolean = engine.equalsIgnoreCase("Distributed")
    /** `Distributed(cluster, db, table, key)` → `db.table`. */
    def distributedTarget: Option[String] =
      if (isDistributed && engineArgs.length >= 3) Some(s"${engineArgs(1)}.${engineArgs(2)}")
      else None
    def isAggregating: Boolean = engine.toLowerCase.contains("aggregatingmergetree")
    def isMergeTree: Boolean = engine.toLowerCase.contains("mergetree")
  }

  final case class CreateMaterializedView(
      name: String,
      to: String,
      cols: Seq[Col],
      select: String) extends Stmt {
    /** The FROM table the insert trigger watches. */
    def sourceTable: String =
      """(?is)\bfrom\s+([A-Za-z_][\w.]*)""".r.findFirstMatchIn(select)
        .map(_.group(1))
        .getOrElse(sys.error(s"MV $name: no FROM table in select"))
  }

  final case class CreateDictionary(
      name: String,
      cols: Seq[Col],
      primaryKeys: Seq[String],
      sourceDb: String,
      sourceTable: String,
      lifetimeMin: Int,
      lifetimeMax: Int,
      layout: String) extends Stmt {
    def sourceName: String = s"$sourceDb.$sourceTable"
    /** COMPLEX_KEY_* layouts (or a multi-column PRIMARY KEY) key the
      * dictionary by a typed tuple instead of a single UInt64.
      */
    def isComplexKey: Boolean =
      layout.toUpperCase.startsWith("COMPLEX_KEY") || primaryKeys.length > 1
  }

  /** One partition-directory operation of an ALTER, in STATEMENT order —
    * `ATTACH PARTITION 'a', DROP PARTITION 'a'` must attach then drop,
    * not run grouped by kind (CH executes subcommands sequentially).
    */
  sealed trait PartitionOp { def value: String }
  final case class DropPartition(value: String) extends PartitionOp
  final case class DetachPartition(value: String) extends PartitionOp
  final case class AttachPartition(value: String) extends PartitionOp
  final case class DropDetachedPartition(value: String) extends PartitionOp
  /** PART-granularity ops — the rebalance tool's vocabulary
    * (ref data_rebalance.py:175-184). One part ≙ one parquet data file,
    * the same definition system.parts publishes; `value` is the part
    * (file) name. [[FetchPart]] carries the donor locator — CH's
    * zookeeper path `/clickhouse/tables/{layer}-{shard}/{db}.{table}`
    * (data_rebalance.py:175), whose last segment names the donor table.
    */
  final case class DetachPart(value: String) extends PartitionOp
  final case class AttachPart(value: String) extends PartitionOp
  final case class DropDetachedPart(value: String) extends PartitionOp
  final case class FetchPart(value: String, fromPath: String) extends PartitionOp

  final case class AlterTable(
      table: String,
      addColumns: Seq[Col],
      modifyColumns: Seq[Col],
      newOrderBy: Option[Seq[String]],
      partitionOps: Seq[PartitionOp] = Nil,
      deleteWhere: Option[String] = None,
      updateSet: Seq[(String, String)] = Nil,
      updateWhere: Option[String] = None) extends Stmt {
    def dropPartitions: Seq[String] =
      partitionOps.collect { case DropPartition(v) => v }
    def detachPartitions: Seq[String] =
      partitionOps.collect { case DetachPartition(v) => v }
    def attachPartitions: Seq[String] =
      partitionOps.collect { case AttachPartition(v) => v }
    def dropDetachedPartitions: Seq[String] =
      partitionOps.collect { case DropDetachedPartition(v) => v }
  }

  /** `TRUNCATE TABLE [IF EXISTS] t` — drop the data, keep the definition. */
  final case class TruncateTable(table: String, ifExists: Boolean) extends Stmt

  final case class DropStmt(sql: String) extends Stmt
  final case class Query(sql: String) extends Stmt
  /** `OPTIMIZE TABLE t [PARTITION p] [FINAL]` — the manual background-merge
    * trigger (ref doc:954 `OPTIMIZE TABLE test.mv_union_max FINAL`).
    */
  final case class OptimizeTable(table: String, finalMerge: Boolean,
      partition: Option[String] = None) extends Stmt
  /** Anything the replayer has no object mapping for. */
  /** `INSERT INTO t [(c1, c2)] SELECT ...` — CH's column-subset insert
    * (doc:848-860: writing only (id, m1) into the union-max table). The
    * SELECT's output binds to `cols` POSITIONALLY, CH-style; an empty
    * `cols` means the table's full declared column list.
    */
  final case class InsertSelect(table: String, cols: Seq[String], select: String) extends Stmt

  final case class Unparsed(sql: String) extends Stmt

  // ---- statement splitting -------------------------------------------------

  /** `s` without its `--` comments ([[ChSql.lex]]'s spans, so a `--`
    * inside a literal stays), line ends normalized to `\n`. Block
    * comments stay: `/*+ … */` is a Spark hint.
    */
  private def stripComments(s: String): String = {
    val text = s.linesIterator.mkString("\n")
    val sb = new StringBuilder
    var last = 0
    for (c <- ChSql.lex(text) if text.startsWith("--", c.start)) {
      sb.append(text.substring(last, c.start))
      last = c.end
    }
    sb.append(text.substring(last)).toString
  }

  private val startKw = """(?i)^(create|alter|drop|select|with|insert)\b""".r

  /** Split a script into statement texts (see class doc for the rules). */
  def splitStatements(script: String): Seq[String] = {
    val text = stripComments(script)
    val masked = ChSql.maskStrings(text)
    val depth = ChSql.depths(masked)
    val out = mutable.ArrayBuffer.empty[String]
    var start = 0
    def cut(end: Int, next: Int): Unit = {
      val s = text.substring(start, end).trim
      if (s.nonEmpty) out += s
      start = next
    }
    var i = 0
    while (i < text.length) {
      if (i == 0 || text.charAt(i - 1) == '\n') {
        val lineEnd = text.indexOf('\n', i) match { case -1 => text.length; case e => e }
        val pending = text.substring(start, i).trim
        val dangling = """(?is).*\bas\s*$""".r.matches(pending)
        // `INSERT INTO t` on its own line continues with the SELECT (or
        // VALUES) on the next — a new statement must not start until the
        // body arrived, and must resume once it has (else a VALUES insert
        // would swallow everything after it)
        val openInsert = """(?is)^insert\s+into\b""".r.findFirstIn(pending).isDefined &&
          """(?is)\b(select|values)\b""".r.findFirstIn(pending).isEmpty
        // a line that starts inside a literal masks to blanks and a quote
        if (depth(i) == 0 && startKw.findFirstIn(masked.substring(i, lineEnd).trim).isDefined &&
            pending.nonEmpty && !dangling && !openInsert)
          cut(i, i)
      }
      if (masked.charAt(i) == ';' && depth(i) == 0) cut(i, i + 1)
      i += 1
    }
    cut(text.length, text.length)
    out.toSeq
  }

  // ---- statement parsing ---------------------------------------------------

  def parse(script: String): Seq[Stmt] = splitStatements(script).map(parseStatement)

  def parseStatement(sql: String): Stmt = {
    val s = sql.trim
    def heads(kw: String): Boolean =
      ("""(?is)^""" + kw.replace(" ", "\\s+") + """\b""").r.findFirstIn(s).isDefined
    if (heads("create materialized view")) parseMv(s)
    else if (heads("create dictionary")) parseDictionary(s)
    else if (heads("create table")) parseCreateTable(s)
    else if (heads("alter table")) parseAlter(s)
    else if (heads("optimize table")) parseOptimize(s)
    else if (heads("truncate table")) {
      val tm = """(?is)^truncate\s+table\s+(if\s+exists\s+)?([\w.]+)""".r
        .findFirstMatchIn(s).getOrElse(sys.error(s"bad truncate: ${s.take(80)}"))
      TruncateTable(tm.group(2), tm.group(1) != null)
    }
    else if (heads("drop")) DropStmt(s)
    else if (heads("select") || heads("with")) Query(s)
    else if (heads("insert into")) parseInsert(s)
    else Unparsed(s)
  }

  private def parseInsert(s: String): Stmt = {
    val m = ("""(?is)^insert\s+into\s+(?:table\s+)?([\w.]+)""" +
      """\s*(?:\(([^)]*)\))?\s*(?=(select|with)\b)""").r.findFirstMatchIn(s)
    m match {
      case Some(mm) =>
        val cols = Option(mm.group(2)).toSeq
          .flatMap(_.split(",")).map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty)
        InsertSelect(mm.group(1), cols, s.substring(mm.end).trim)
      case None => Unparsed(s) // INSERT ... VALUES and friends
    }
  }

  /** Content of the balanced paren group opening at `open` (index of '('),
    * and the index just past its ')'.
    */
  private[engine] def balanced(s: String, open: Int): (String, Int) = {
    require(s.charAt(open) == '(', s"expected ( at $open")
    val close = ChSql.matchingClose(ChSql.maskStrings(s), open)
    if (close < 0) sys.error(s"unbalanced parens from $open in: ${s.take(120)}...")
    (s.substring(open + 1, close), close + 1)
  }

  /** Split on top-level commas (outside brackets, literals and comments). */
  private def topLevelSplit(s: String): Seq[String] =
    ChSql.splitTop(s, ',').map(_.trim).filter(_.nonEmpty)

  /** `name Type [default expr] [comment 'c'] [after col]`. */
  def parseCol(text: String): Col = {
    val t = text.trim
    val nameEnd = t.indexWhere(c => c.isWhitespace)
    require(nameEnd > 0, s"bad column def: $t")
    // the doc's DDL quotes names with backticks (`id` UInt32); scripts don't
    val name = t.substring(0, nameEnd).stripPrefix("`").stripSuffix("`")
    val rest = t.substring(nameEnd).trim
    // the type runs to the first `default`/`comment`/`after` keyword
    // OUTSIDE a string literal — a COMMENT body saying 'drop after load'
    // must not grow a phantom AFTER clause (quoted spans are opaque to
    // the cut)
    val kws = topLevelKws(rest)
    val typeEnd = kws.headOption.map(_._1).getOrElse(rest.length)
    val chType = rest.substring(0, typeEnd).trim.replaceAll("\\s+", "")
    def clause(k: String): Option[String] =
      kws.find(_._2 == k).map { case (at, w) =>
        val end = kws.collectFirst { case (p, _) if p > at => p }
          .getOrElse(rest.length)
        rest.substring(at + w.length, end).trim
      }
    Col(name, chType,
      default = clause("default").filter(_.nonEmpty),
      // store the TRUE text: CH string-literal escapes ('' and \-escapes
      // per ChSql.chEscape, the one shared decode) are undone here and
      // re-applied by renderCols, so the descriptor carries "it's" — not
      // "it''s" — and render(parse(x)) still round-trips (defaults stay
      // raw EXPRESSION text, where quotes are part of the syntax, so
      // they render verbatim)
      comment = clause("comment")
        .map(x => unescapeStringLiteral(x.stripPrefix("'").stripSuffix("'"))),
      after = clause("after").filter(_.nonEmpty))
  }

  /** Absolute positions of `default`/`comment`/`after` keywords in CODE
    * ([[ChSql.maskStrings]]: never inside a literal, a quoted identifier —
    * a column literally named `after` may appear in a DEFAULT expression —
    * or a comment) at bracket depth 0 (a named-tuple field
    * `Tuple(after UInt32)` or a function-call operand
    * `coalesce(comment, '')` is not a clause), in
    * text order — the one scan parseCol's type cut and clause extraction
    * share. Remaining boundary: an UNPARENTHESIZED depth-0 expression
    * ending in one of the words (e.g. `DEFAULT x + comment`) still cuts —
    * that needs full expression parsing, and CH itself requires such a
    * column be backticked in practice.
    */
  private def topLevelKws(s: String): Seq[(Int, String)] = {
    val masked = ChSql.maskStrings(s)
    val depth = ChSql.depths(masked)
    for {
      i <- s.indices
      if depth(i) == 0 && (i == 0 || !ChSql.isIdentChar(masked.charAt(i - 1)))
      w <- Seq("default", "comment", "after")
      if masked.regionMatches(true, i, w, 0, w.length) &&
        (i + w.length >= s.length || !ChSql.isIdentChar(masked.charAt(i + w.length)))
    } yield (i, w)
  }

  /** Undo CH string-literal escaping — [[ChSql.chUnescapeLiteral]], the
    * one shared full-literal decoder (parseComplexEscapeSequence
    * semantics: `\n` is a NEWLINE, not the letter n; `''` → `'`).
    */
  private def unescapeStringLiteral(s: String): String =
    ChSql.chUnescapeLiteral(s)

  /** Clause keywords that terminate an unparenthesized key list. */
  private val clauseKw =
    """(?is)\b(partition\s+by|primary\s+key|order\s+by|sample\s+by|ttl|settings|engine)\b""".r

  private def keyList(s: String, kw: String): Seq[String] = {
    val m = ("""(?is)\b""" + kw + """\b""").r.findFirstMatchIn(s)
    m.toSeq.flatMap { mm =>
      val t = s.substring(mm.end).dropWhile(_.isWhitespace)
      if (t.startsWith("(")) topLevelSplit(balanced(t, 0)._1)
      else {
        // unparenthesized multi-key (`ORDER BY a, b, c`) is valid CH: the
        // clause body runs to the next clause keyword or statement end
        val stop = clauseKw.findFirstMatchIn(t).map(_.start).getOrElse(t.length)
        topLevelSplit(t.substring(0, stop))
      }
    }
  }

  private def parseCreateTable(s: String): CreateTable = {
    val head = """(?is)create\s+table\s+(?:if\s+not\s+exists\s+)?([\w.]+)(?:\s+on\s+cluster\s+\S+)?""".r
      .findFirstMatchIn(s).getOrElse(sys.error(s"bad create table: ${s.take(80)}"))
    val name = head.group(1)
    var rest = s.substring(head.end)
    // `as other.table` (Distributed shell) or an explicit column list
    val asTable = """(?is)^\s*as\s+([\w.]+)""".r.findFirstMatchIn(rest).map(_.group(1))
    val cols =
      if (asTable.isDefined) Nil
      else {
        val open = rest.indexOf('(')
        if (open < 0 || """(?is)^\s*engine""".r.findFirstIn(rest).isDefined) Nil
        else {
          val (body, end) = balanced(rest, open)
          rest = rest.substring(end)
          topLevelSplit(body).map(parseCol)
        }
      }
    val engM = """(?is)\bengine\s*=\s*(\w+)""".r.findFirstMatchIn(s)
      .getOrElse(sys.error(s"create table $name: no engine"))
    val engine = engM.group(1)
    val engineArgs = {
      val after = s.substring(engM.end)
      val t = after.dropWhile(_.isWhitespace)
      if (t.startsWith("(")) topLevelSplit(balanced(t, 0)._1) else Nil
    }
    val ttl = """(?is)\bttl\s+\w+\s*\+\s*toIntervalDay\((\d+)\)(?:\s*\+\s*toIntervalHour\((\d+)\))?""".r
      .findFirstMatchIn(s)
      .map(m => Ttl(m.group(1).toInt, Option(m.group(2)).map(_.toInt).getOrElse(0)))
    CreateTable(name, cols, engine, engineArgs,
      partitionBy = keyList(s, "partition\\s+by").headOption,
      primaryKey = keyList(s, "primary\\s+key"),
      orderBy = keyList(s, "order\\s+by"),
      ttl = ttl,
      sampleBy = keyList(s, "sample\\s+by").headOption,
      asTable = asTable)
  }

  /** Render a [[CreateTable]] back to canonical CH DDL — the SHOW CREATE
    * TABLE surface (CH itself prints a normalized form, not the user's
    * original text). Property: `parseStatement(render(ct)) == ct` for
    * every descriptor this parser produces — pinned across the whole
    * reference corpus by ChDdlReplaySpec. One lossy seam: the parser does
    * not record TTL's base column, so the renderer uses the partition
    * column when it is a plain name (the reference's only TTL shape, ref
    * ods.action_001_dis.sql) and the literal `day` otherwise.
    */
  def render(ct: CreateTable): String = {
    val sb = new StringBuilder(s"CREATE TABLE ${ct.name}")
    ct.asTable.foreach(t => sb.append(s" AS $t"))
    if (ct.cols.nonEmpty) { sb.append("\n"); sb.append(renderCols(ct.cols)) }
    sb.append(s"\nENGINE = ${ct.engine}")
    if (ct.engineArgs.nonEmpty || ct.isMergeTree)
      sb.append(s"(${ct.engineArgs.mkString(", ")})")
    ct.partitionBy.foreach(p => sb.append(s"\nPARTITION BY $p"))
    if (ct.primaryKey.nonEmpty)
      sb.append(s"\nPRIMARY KEY (${ct.primaryKey.mkString(", ")})")
    if (ct.orderBy.nonEmpty)
      sb.append(s"\nORDER BY (${ct.orderBy.mkString(", ")})")
    ct.ttl.foreach { t =>
      val base = ct.partitionBy.filter(_.matches("\\w+")).getOrElse("day")
      sb.append(s"\nTTL $base + toIntervalDay(${t.days})")
      if (t.hours != 0) sb.append(s" + toIntervalHour(${t.hours})")
    }
    ct.sampleBy.foreach(x => sb.append(s"\nSAMPLE BY $x"))
    sb.toString
  }

  private def renderCols(cols: Seq[Col]): String =
    cols.map { c =>
      val d = c.default.map(x => s" DEFAULT $x").getOrElse("")
      // the stored comment is true text — escape for the literal, so a
      // programmatically-built Col with a bare quote (or a newline, which
      // unescaped would break the statement) renders valid DDL that
      // unescapeStringLiteral inverts exactly
      val cm = c.comment
        .map(x => s" COMMENT '${escapeStringLiteral(x)}'")
        .getOrElse("")
      s"    ${c.name} ${c.chType}$d$cm"
    }.mkString("(\n", ",\n", "\n)")

  /** The render-side inverse of [[unescapeStringLiteral]]: backslash
    * FIRST (the other escapes' own backslashes must not re-double),
    * quote doubling, and the control chars [[ChSql.chEscape]] decodes
    * (a raw newline inside a rendered literal would break the DDL).
    */
  private def escapeStringLiteral(x: String): String =
    x.flatMap {
      case '\\' => "\\\\"
      case '\'' => "''"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case '\u0000' => "\\0"
      case c if c < ' ' => f"\\x${c.toInt}%02x"
      case c => c.toString
    }

  /** SHOW CREATE DICTIONARY — same render→reparse identity as tables. */
  def render(d: CreateDictionary): String =
    s"CREATE DICTIONARY ${d.name}\n${renderCols(d.cols)}\n" +
      s"PRIMARY KEY ${d.primaryKeys.mkString(", ")}\n" +
      s"SOURCE(CLICKHOUSE(DB '${d.sourceDb}' TABLE '${d.sourceTable}'))\n" +
      s"LIFETIME(MIN ${d.lifetimeMin} MAX ${d.lifetimeMax})\n" +
      s"LAYOUT(${d.layout}())"

  /** SHOW CREATE of a materialized view — render→reparse identity. */
  def render(mv: CreateMaterializedView): String =
    s"CREATE MATERIALIZED VIEW ${mv.name} TO ${mv.to}\n${renderCols(mv.cols)}\n" +
      s"AS ${mv.select}"

  private def parseMv(s: String): CreateMaterializedView = {
    val head = """(?is)create\s+materialized\s+view\s+([\w.]+)(?:\s+on\s+cluster\s+\S+)?\s+to\s+([\w.]+)""".r
      .findFirstMatchIn(s).getOrElse(sys.error(s"bad create mv: ${s.take(80)}"))
    val rest = s.substring(head.end)
    val open = rest.indexOf('(')
    require(open >= 0, s"mv ${head.group(1)}: no column list")
    val (body, end) = balanced(rest, open)
    val tail = rest.substring(end)
    val asM = """(?is)^\s*as\s+""".r.findFirstMatchIn(tail)
      .getOrElse(sys.error(s"mv ${head.group(1)}: no AS SELECT"))
    CreateMaterializedView(head.group(1), head.group(2),
      topLevelSplit(body).map(parseCol), tail.substring(asM.end).trim)
  }

  private def parseDictionary(s: String): CreateDictionary = {
    val head = """(?is)create\s+dictionary\s+([\w.]+)(?:\s+on\s+cluster\s+\S+)?""".r
      .findFirstMatchIn(s).getOrElse(sys.error(s"bad create dictionary: ${s.take(80)}"))
    val rest = s.substring(head.end)
    val open = rest.indexOf('(')
    require(open >= 0, s"dictionary ${head.group(1)}: no column list")
    val (body, _) = balanced(rest, open)
    val pk = """(?is)\bprimary\s+key\s+(\w+(?:\s*,\s*\w+)*)""".r.findFirstMatchIn(s)
      .map(_.group(1).split(",").map(_.trim).toSeq)
      .getOrElse(sys.error(s"dictionary ${head.group(1)}: no primary key"))
    val srcDb = """(?is)\bdb\s+'([^']*)'""".r.findFirstMatchIn(s).map(_.group(1))
      .getOrElse(sys.error(s"dictionary ${head.group(1)}: no source db"))
    val srcTable = """(?is)\btable\s+'([^']*)'""".r.findFirstMatchIn(s).map(_.group(1))
      .getOrElse(sys.error(s"dictionary ${head.group(1)}: no source table"))
    val life = """(?is)\blifetime\s*\(\s*min\s+(\d+)\s+max\s+(\d+)\s*\)""".r.findFirstMatchIn(s)
    val layout = """(?is)\blayout\s*\(\s*(\w+)""".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("HASHED")
    CreateDictionary(head.group(1), topLevelSplit(body).map(parseCol), pk,
      srcDb, srcTable,
      life.map(_.group(1).toInt).getOrElse(0), life.map(_.group(2).toInt).getOrElse(0),
      layout)
  }

  private def parseOptimize(s: String): OptimizeTable = {
    val m = """(?is)^optimize\s+table\s+([\w.]+)(?:\s+on\s+cluster\s+\S+)?(.*)$""".r
      .findFirstMatchIn(s).getOrElse(sys.error(s"bad optimize: ${s.take(80)}"))
    val tail = m.group(2)
    // `PARTITION 'v'` / `PARTITION v` / the parenthesized forms CH itself
    // renders — `PARTITION tuple('v')` / `PARTITION ('v')` — all scope the
    // merge to one partition. The parse is TOTAL from the keyword on: a
    // PARTITION clause whose value cannot be extracted refuses loudly
    // (never a silent fall-through to a full-table merge), multi-column
    // tuples refuse (state tables partition on one column), and
    // `PARTITION ID 'x'` refuses by name — CH partition IDs are an
    // engine-internal encoding (a hash for string keys) that this store
    // cannot resolve; pass the partition VALUE instead.
    val km = """(?is)\bpartition\b""".r.findFirstMatchIn(tail)
    val part = km.map { k =>
      val (v, quoted, end) = scanPartitionValue(tail, k.end, s)
      // a bare FINAL is the clause keyword, not a value — but a QUOTED
      // 'final' is a legitimate partition value
      if (!quoted && v.equalsIgnoreCase("final"))
        sys.error(s"bad PARTITION (needs a value): ${s.take(80)}")
      (v, k.start, end)
    }
    // FINAL detection on the tail WITHOUT the partition clause, so a value
    // like '2024-final' can never flip the flag
    val tailNoPart = part.map { case (_, a, b) =>
      tail.substring(0, a) + tail.substring(b) }.getOrElse(tail)
    OptimizeTable(m.group(1),
      """(?is)\bfinal\b""".r.findFirstIn(tailNoPart).isDefined, part.map(_._1))
  }

  /** TOTAL parse of a PARTITION value at `from` in `text`: quoted (' or "),
    * the parenthesized forms CH itself renders (`tuple('v')` / `('v')`),
    * or a bare token. Everything this store cannot honor refuses loudly —
    * `ID 'x'` (an engine-internal encoding, a hash for string keys),
    * `ALL`, empty and multi-column tuples, unterminated quotes — never a
    * silent fall-through. Returns (value, wasQuoted, indexAfter).
    */
  private def scanPartitionValue(text: String, from: Int,
      stmt: String): (String, Boolean, Int) = {
    def bad(why: String): Nothing = sys.error(s"bad PARTITION ($why): ${stmt.take(80)}")
    def isIdent(c: Char): Boolean = c == '_' || c.isLetterOrDigit
    var i = from
    def ws(): Unit = { while (i < text.length && text.charAt(i).isWhitespace) i += 1 }
    def nextNonWs(j: Int): Char = {
      var x = j; while (x < text.length && text.charAt(x).isWhitespace) x += 1
      if (x < text.length) text.charAt(x) else ' '
    }
    def word(w: String): Boolean =
      text.regionMatches(true, i, w, 0, w.length) &&
        (i + w.length >= text.length || !isIdent(text.charAt(i + w.length)))
    ws()
    // `ID 'x'` — CH always quotes the id, so the refusal only fires on the
    // real form (a bare value like id_202401 or id-2024 parses as a value)
    if (word("id") && (nextNonWs(i + 2) == '\'' || nextNonWs(i + 2) == '"'))
      bad("PARTITION ID is a CH-internal encoding — pass the partition VALUE")
    if (word("all"))
      bad("PARTITION ALL is unsupported — name the partition value")
    // optional tuple( / ( wrapper; `tuple` only counts when '(' follows
    // (a bare value like tuple5 is a value, not a wrapper)
    var wrapped = false
    if (word("tuple") && nextNonWs(i + 5) == '(') { i += 5; ws(); wrapped = true }
    if (i < text.length && text.charAt(i) == '(') {
      wrapped = true
      i += 1; ws()
    } else if (wrapped) bad("malformed tuple")
    val (v, quoted) =
      if (i < text.length && text.charAt(i) == '"')
        // CH double quotes are IDENTIFIERS, not string literals — and the
        // subcommand splitter is single-quote-aware only, so a silently
        // accepted double-quoted value could re-glue with altered bytes
        bad("double quotes are identifiers in CH — single-quote the value")
      else if (i < text.length && text.charAt(i) == '\'') {
        val close = text.indexOf('\'', i + 1)
        if (close < 0) bad("unterminated value quote")
        val out = text.substring(i + 1, close)
        // escape forms would make this naive close WRONG — refuse, never
        // compact/drop a misparsed partition ('it''s' doubled, 'it\'s'
        // backslashed)
        if (close + 1 < text.length && text.charAt(close + 1) == '\'')
          bad("doubled-quote escapes in partition values are unsupported")
        if (out.nonEmpty && out.last == '\\')
          bad("backslash escapes in partition values are unsupported")
        i = close + 1
        (out, true)
      } else {
        val start = i
        while (i < text.length && !text.charAt(i).isWhitespace &&
          text.charAt(i) != ')' && text.charAt(i) != ',') i += 1
        (text.substring(start, i), false)
      }
    ws()
    if (wrapped) {
      if (i < text.length && text.charAt(i) == ',')
        bad("multi-column tuples unsupported")
      if (i >= text.length || text.charAt(i) != ')')
        bad("malformed tuple")
      i += 1
    }
    if (v.isEmpty) bad("needs a value")
    (v, quoted, i)
  }

  /** [[scanPartitionValue]] for an ALTER subcommand fragment: the value
    * must consume the WHOLE fragment — trailing clauses (`FROM t`, CH's
    * cross-table partition copy) refuse loudly instead of being swallowed
    * into a garbage value that silently no-ops downstream.
    */
  private def wholePartitionValue(fragment: String, stmt: String): String = {
    val (v, _, end) = scanPartitionValue(fragment, 0, stmt)
    val rest = fragment.substring(end).trim
    if (rest.nonEmpty)
      sys.error(s"bad PARTITION (trailing '${rest.take(20)}' unsupported — " +
        s"ATTACH/REPLACE ... FROM and friends are not implemented): ${stmt.take(80)}")
    v
  }

  /** The quoted part name of a `<kw> PART '<name>'` subcommand — total:
    * a missing or unquoted name refuses with the whole statement.
    */
  private def quotedPartName(t: String, kwRe: String, stmt: String): String =
    ("""(?is)^""" + kwRe + """\s+'([^']*)'\s*$""").r.findFirstMatchIn(t)
      .map(_.group(1))
      .getOrElse(sys.error(
        s"bad PART name (expected a quoted '<name>'): ${stmt.take(80)}"))

  private def parseAlter(s: String): AlterTable = {
    val head = """(?is)alter\s+table\s+([\w.]+)(?:\s+on\s+cluster\s+\S+)?\s*""".r
      .findFirstMatchIn(s).getOrElse(sys.error(s"bad alter: ${s.take(80)}"))
    val adds = mutable.ArrayBuffer.empty[Col]
    val mods = mutable.ArrayBuffer.empty[Col]
    var orderBy: Option[Seq[String]] = None
    // ALTER subcommands separate on top-level commas, but an
    // unparenthesized MODIFY ORDER BY a, b, c does too — glue fragments
    // that don't open a new subcommand back onto the previous one
    val subKw = """(?is)^(add|modify|drop|rename|clear|comment|delete|update|detach|attach|replace|move|fetch|freeze)\b""".r
    val partOps = mutable.ArrayBuffer.empty[PartitionOp]
    var deleteWhere: Option[String] = None
    val updateSet = mutable.ArrayBuffer.empty[(String, String)]
    var updateWhere: Option[String] = None
    val subs = topLevelSplit(s.substring(head.end))
      .foldLeft(mutable.ArrayBuffer.empty[String]) { (acc, frag) =>
        if (acc.nonEmpty && subKw.findFirstIn(frag.trim).isEmpty)
          acc(acc.length - 1) = acc.last + ", " + frag
        else acc += frag
        acc
      }
    for (sub <- subs) {
      val t = sub.trim
      val lower = t.toLowerCase
      if (lower.startsWith("add column"))
        adds += parseCol(t.replaceAll("(?is)^add\\s+column\\s+(if\\s+not\\s+exists\\s+)?", ""))
      else if (lower.startsWith("modify order by"))
        orderBy = Some(keyList(t, "modify\\s+order\\s+by"))
      else if (lower.startsWith("modify column"))
        mods += parseCol(t.replaceAll("(?is)^modify\\s+column\\s+(if\\s+exists\\s+)?", ""))
      else if (lower.startsWith("drop detached partition"))
        partOps += DropDetachedPartition(wholePartitionValue(
          t.replaceAll("(?is)^drop\\s+detached\\s+partition\\s+", ""), s))
      else if (lower.startsWith("drop partition"))
        // the same TOTAL value parse as OPTIMIZE: quoted, bare, tuple('v')
        // — a form the scanner can't honor refuses loudly, never a
        // garbage value that silently no-ops downstream
        partOps += DropPartition(wholePartitionValue(
          t.replaceAll("(?is)^drop\\s+partition\\s+", ""), s))
      else if (lower.startsWith("detach partition"))
        partOps += DetachPartition(wholePartitionValue(
          t.replaceAll("(?is)^detach\\s+partition\\s+", ""), s))
      else if (lower.startsWith("attach partition"))
        partOps += AttachPartition(wholePartitionValue(
          t.replaceAll("(?is)^attach\\s+partition\\s+", ""), s))
      else if (lower.startsWith("replace partition") ||
          lower.startsWith("move partition") ||
          lower.startsWith("fetch partition"))
        // cross-table / cross-node partition movement: not implemented —
        // a silent skip would leave an operator believing data moved
        sys.error(s"ALTER ${t.take(40)}: REPLACE/MOVE/FETCH PARTITION are " +
          "not supported — use DETACH/ATTACH PARTITION on the one table, " +
          "or rewrite through a query")
      // PART-granularity ops (the rebalance tool's vocabulary, ref
      // data_rebalance.py:175-184): one part ≙ one parquet data file.
      // Part names are ALWAYS quoted (the tool interpolates them as
      // '{part_name}'); an unquoted form refuses below rather than
      // parsing garbage.
      else if (lower.startsWith("fetch part"))
        partOps += """(?is)^fetch\s+part\s+'([^']*)'\s+from\s+'([^']*)'\s*$""".r
          .findFirstMatchIn(t)
          .map(m => FetchPart(m.group(1), m.group(2)))
          .getOrElse(sys.error(s"bad FETCH PART (expected FETCH PART " +
            s"'<name>' FROM '<path>'): ${t.take(80)}"))
      else if (lower.startsWith("drop detached part"))
        partOps += DropDetachedPart(quotedPartName(t,
          "drop\\s+detached\\s+part", s))
      else if (lower.startsWith("detach part"))
        partOps += DetachPart(quotedPartName(t, "detach\\s+part", s))
      else if (lower.startsWith("attach part"))
        partOps += AttachPart(quotedPartName(t, "attach\\s+part", s))
      else if (lower.startsWith("drop part") || lower.startsWith("move part") ||
          lower.startsWith("freeze"))
        // remaining PART forms the reference never issues — refuse loudly
        // rather than silently skipping an operational statement. (The
        // PARTITION spellings are matched by the branches above.)
        sys.error(s"ALTER ${t.take(40)}: this PART-level operation is not " +
          "supported — use DETACH/ATTACH/DROP DETACHED/FETCH PART or the " +
          "PARTITION forms")
      else if (lower.startsWith("delete where"))
        deleteWhere = Some(t.replaceAll("(?is)^delete\\s+where\\s+", "").trim)
      else if (lower.startsWith("update ")) {
        // UPDATE a = e1, b = e2 WHERE cond (the glue above rejoined the
        // assignment list; WHERE terminates it)
        val body = t.replaceAll("(?is)^update\\s+", "")
        val whereIdx = """(?is)\bwhere\b""".r.findFirstMatchIn(body)
          .map(_.start).getOrElse(sys.error(s"ALTER UPDATE needs WHERE: ${t.take(80)}"))
        updateWhere = Some(body.substring(whereIdx + 5).trim)
        for (asg <- topLevelSplit(body.substring(0, whereIdx))) {
          val eq = asg.indexOf('=')
          require(eq > 0, s"bad UPDATE assignment: $asg")
          updateSet += ((asg.substring(0, eq).trim, asg.substring(eq + 1).trim))
        }
      }
      // other subcommands (drop column, rename, ...) don't appear in the
      // reference and stay unmapped
    }
    AlterTable(head.group(1), adds.toSeq, mods.toSeq, orderBy,
      partOps.toSeq, deleteWhere, updateSet.toSeq, updateWhere)
  }
}
