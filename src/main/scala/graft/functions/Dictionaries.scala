package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Session-wide dictionary registry backing the SQL-level
  * `dictGet('db.dict', 'attr', key)` (ref dim.dict_user_dim.sql:2-27,
  * usage :24-27 and dwm.mainpage_stat_mv_dis.sql:98): a named, broadcast
  * point-lookup table with per-attribute declared defaults — the Spark
  * analog of a HASHED-layout external dictionary.
  *
  * [[register]] snapshots a dim DataFrame into one broadcast map (every
  * executor holds one copy — the same per-node-RAM constraint the
  * reference's LAYOUT(HASHED()) imposes) and makes the name resolvable by
  * the `dictGet` SQL function (see [[ChCompat.register]]). Re-registering
  * a name swaps the snapshot — the LIFETIME refresh cycle (ref
  * dim.dict_user_dim.sql:20) is "re-register per batch".
  *
  * Missing key ⇒ the attribute's declared default, else the CH type
  * default ('' / 0) — never null, matching dictGet semantics.
  */
object Dictionaries {

  final case class Dict(
      bc: Broadcast[Map[Long, Map[String, Any]]],
      types: Map[String, DataType],
      defaults: Map[String, Any])

  private val registry = new ConcurrentHashMap[String, Dict]()

  /** Snapshot `dim` as dictionary `name`; `keyCol` is cast to long (the
    * dictionary PRIMARY KEY is UInt64). Attribute defaults follow the
    * dictionary DDL's `default` clauses; unlisted attrs get CH type
    * defaults.
    */
  def register(
      spark: SparkSession,
      name: String,
      dim: DataFrame,
      keyCol: String,
      defaults: Map[String, Any] = Map.empty): Unit = {
    val attrs = dim.schema.fields.filter(_.name != keyCol).toSeq
    val rows = dim
      .select(col(keyCol).cast("long") +: attrs.map(f => col(f.name)): _*)
      .na.drop(Seq(keyCol))
      .collect()
    val m = rows.map { r =>
      r.getLong(0) -> attrs.zipWithIndex.map { case (f, i) => f.name -> r.get(i + 1) }.toMap
    }.toMap
    registry.put(name,
      Dict(spark.sparkContext.broadcast(m), attrs.map(f => f.name -> f.dataType).toMap, defaults))
  }

  /** A COMPLEX_KEY_HASHED-layout dictionary: the key is a typed tuple of
    * `arity` columns instead of a single UInt64. Key components normalize
    * (integral → Long, string → String) so SQL-side expression values and
    * snapshot values meet in one representation.
    */
  final case class ComplexDict(
      bc: Broadcast[Map[Seq[Any], Map[String, Any]]],
      keyNames: Seq[String],
      types: Map[String, DataType],
      defaults: Map[String, Any])

  private val complexRegistry = new ConcurrentHashMap[String, ComplexDict]()

  private[functions] def normalizeKeyPart(v: Any): Any = v match {
    case n: java.lang.Byte => n.longValue()
    case n: java.lang.Short => n.longValue()
    case n: java.lang.Integer => n.longValue()
    case n: java.lang.Long => n
    case s: UTF8String => s.toString
    case other => other
  }

  /** Snapshot `dim` as a complex-key dictionary `name` keyed by the
    * `keyCols` tuple — the LAYOUT(COMPLEX_KEY_HASHED()) analog. Rows with
    * any null key component are dropped (unmatchable in CH too).
    */
  def registerComplex(
      spark: SparkSession,
      name: String,
      dim: DataFrame,
      keyCols: Seq[String],
      defaults: Map[String, Any] = Map.empty): Unit = {
    require(keyCols.nonEmpty, s"dictionary '$name': empty key column list")
    val attrs = dim.schema.fields.filterNot(f => keyCols.contains(f.name)).toSeq
    val rows = dim
      .select((keyCols.map(col) ++ attrs.map(f => col(f.name))): _*)
      .na.drop(keyCols)
      .collect()
    val k = keyCols.length
    val m: Map[Seq[Any], Map[String, Any]] = rows.map { r =>
      val key: Seq[Any] = (0 until k).map(i => normalizeKeyPart(r.get(i))).toList
      key -> attrs.zipWithIndex.map { case (f, i) => f.name -> r.get(k + i) }.toMap
    }.toMap
    complexRegistry.put(name,
      ComplexDict(spark.sparkContext.broadcast(m), keyCols,
        attrs.map(f => f.name -> f.dataType).toMap, defaults))
    ()
  }

  def drop(name: String): Unit = {
    registry.remove(name)
    complexRegistry.remove(name)
    ()
  }

  private[functions] def lookup(name: String): Dict = {
    val d = registry.get(name)
    require(d != null,
      if (complexRegistry.containsKey(name))
        s"dictGet: dictionary '$name' has a complex (tuple) key — pass every " +
          "key column: dictGet(dict, attr, tuple(k1, k2, ...))"
      else
        s"dictGet: dictionary '$name' is not registered (Dictionaries.register it first)")
    d
  }

  private[functions] def lookupComplex(name: String): ComplexDict = {
    val d = complexRegistry.get(name)
    require(d != null,
      if (registry.containsKey(name))
        s"dictGet: dictionary '$name' has a single UInt64 key — pass one key, " +
          "not a tuple"
      else
        s"dictGet: dictionary '$name' is not registered (Dictionaries.registerComplex it first)")
    d
  }

  /** CH type default: '' for strings, 0 for numerics. */
  private[functions] def typeDefault(t: DataType): Any = t match {
    case StringType => ""
    case LongType => 0L
    case IntegerType => 0
    case ShortType => 0.toShort
    case DoubleType => 0.0
    case FloatType => 0.0f
    case _ => null
  }
}

/** `dictGet(dict, attr, key)` as a Catalyst expression. The broadcast is
  * captured at ANALYSIS time (dictionary must be registered before the
  * query is parsed) and ships with the serialized plan — executors do a
  * per-row hash-map probe, no shuffle, no join.
  *
  * The registered builder wraps the key in `CAST(... AS BIGINT)`, so any
  * castable key type works and uncastable values behave as missing keys.
  * Attribute values convert through the standard Catalyst converter, so
  * date/decimal/etc. attributes surface correctly, not just strings.
  *
  * Stays `CodegenFallback` (not a [[Kernel]]): the expression holds the
  * dictionary snapshot taken at analysis.
  */
case class DictGetExpr(dictName: String, attr: String, child: Expression)
  extends UnaryExpression with CodegenFallback {

  private val dict = Dictionaries.lookup(dictName)
  require(dict.types.contains(attr),
    s"dictGet: dictionary '$dictName' has no attribute '$attr' " +
      s"(has: ${dict.types.keys.mkString(", ")})")

  override def dataType: DataType = dict.types(attr)

  // never-null when a default exists for the type; types with no CH-style
  // default (dates, decimals, ...) surface missing keys as NULL
  override def nullable: Boolean = defaultExternal == null

  @transient private lazy val defaultExternal: Any =
    dict.defaults.getOrElse(attr, Dictionaries.typeDefault(dataType))

  @transient private lazy val toInternal: Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dataType)

  override def nullSafeEval(key: Any): Any = {
    val k = key.asInstanceOf[Number].longValue()
    val v = dict.bc.value.get(k).flatMap(row => Option(row.getOrElse(attr, null)))
    toInternal(v.getOrElse(defaultExternal))
  }

  // a null (or uncastable) key behaves like a missing key
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val key = child.eval(input)
    if (key == null) toInternal(defaultExternal) else nullSafeEval(key)
  }

  override protected def withNewChildInternal(c: Expression): DictGetExpr = copy(child = c)
  override def prettyName: String = "dictGet"
}

/** `dictGet(dict, attr, tuple(k1, k2, ...))` for COMPLEX_KEY_HASHED-layout
  * dictionaries — the multi-column-key sibling of [[DictGetExpr]]: the
  * broadcast tuple-keyed map is captured at analysis time and probed
  * per row, no shuffle, no join. Key components normalize exactly as the
  * registered snapshot's did (integral → Long, string → String), and any
  * null component behaves as a missing key (the attribute default).
  * Stays `CodegenFallback` for the same reason as [[DictGetExpr]].
  */
case class DictGetComplexExpr(dictName: String, attr: String, keys: Seq[Expression])
  extends Expression with CodegenFallback {

  private val dict = Dictionaries.lookupComplex(dictName)
  require(dict.types.contains(attr),
    s"dictGet: dictionary '$dictName' has no attribute '$attr' " +
      s"(has: ${dict.types.keys.mkString(", ")})")
  require(keys.length == dict.keyNames.length,
    s"dictGet: dictionary '$dictName' key is (${dict.keyNames.mkString(", ")}) — " +
      s"got ${keys.length} key expression(s)")

  override def children: Seq[Expression] = keys
  override def dataType: DataType = dict.types(attr)
  override def nullable: Boolean = defaultExternal == null
  override def foldable: Boolean = false

  @transient private lazy val defaultExternal: Any =
    dict.defaults.getOrElse(attr, Dictionaries.typeDefault(dataType))

  @transient private lazy val toInternal: Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dataType)

  @transient private lazy val toExternal: Seq[Any => Any] =
    keys.map(k =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(k.dataType))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val parts = new Array[Any](keys.length)
    var i = 0
    while (i < keys.length) {
      val v = keys(i).eval(input)
      if (v == null) return toInternal(defaultExternal) // null component = missing key
      parts(i) = Dictionaries.normalizeKeyPart(toExternal(i)(v))
      i += 1
    }
    val hit = dict.bc.value.get(parts.toSeq).flatMap(row => Option(row.getOrElse(attr, null)))
    toInternal(hit.getOrElse(defaultExternal))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DictGetComplexExpr = copy(keys = newChildren)
  override def prettyName: String = "dictGet"
}
