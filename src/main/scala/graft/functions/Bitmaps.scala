package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, coalesce, lit, when}
import org.apache.spark.sql.types._
import org.roaringbitmap.RoaringBitmap

/** RoaringBitmap aggregate family — the Spark-native analog of ClickHouse's
  * `groupBitmap` / `groupBitmapMergeState` / `bitmap*` scalar algebra
  * (ref scripts/sql/dwm.mainpage_stat_mv_dis.sql:134-139, 184-185, 280-290;
  * funnel doc usage in docs/物化视图的实战经验分享.md:1207-1238).
  *
  * Implemented as [[Fold]] aggregates (not Scala `Aggregator`s) so the
  * bitmap buffer lives as a mutable JVM object during
  * partial aggregation and is serialized only at the shuffle boundary —
  * the same partial/final two-phase shape ClickHouse uses for `-State`/
  * `-Merge`, and the design that scales: the map-side combine collapses each
  * partition's uids into one bitmap before any data moves.
  *
  * Element domain is uint32 (the reference's `groupBitmap(UInt32)`); Long
  * inputs outside [0, 2^32) throw rather than silently corrupt.
  */
object Bitmaps {

  private[graft] def toBytes(bm: RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val buf = ByteBuffer.allocate(bm.serializedSizeInBytes())
    bm.serialize(buf)
    buf.array()
  }

  private[graft] def fromBytes(b: Array[Byte]): RoaringBitmap = {
    val bm = new RoaringBitmap()
    bm.deserialize(ByteBuffer.wrap(b))
    bm
  }

  private[graft] def toUint32(l: Long): Int = {
    require(l >= 0L && l <= 0xFFFFFFFFL, s"bitmap element out of uint32 range: $l")
    l.toInt
  }

  /** The bitwise fold of `groupBitmapAnd/Or/Xor`, chosen when the table
    * entry is built: `acc op= in`. */
  sealed abstract class FoldOp(val name: String) extends Serializable {
    def apply(acc: RoaringBitmap, in: RoaringBitmap): Unit
  }
  case object And extends FoldOp("and") {
    def apply(acc: RoaringBitmap, in: RoaringBitmap): Unit = acc.and(in)
  }
  case object Or extends FoldOp("or") {
    def apply(acc: RoaringBitmap, in: RoaringBitmap): Unit = acc.or(in)
  }
  case object Xor extends FoldOp("xor") {
    def apply(acc: RoaringBitmap, in: RoaringBitmap): Unit = acc.xor(in)
  }
  private[functions] val foldOps = Seq(And, Or, Xor)

  /** `bitmap_agg` / `bitmap_merge_agg` and the raw scalar algebra: the
    * SQL names the Column helpers below resolve through.
    */
  val functions = FunctionTable.define(this) { f =>
    f("bitmap_agg")(exprs => Fold(GroupBitmap(), exprs.take(1)))
    f("bitmap_merge_agg")(exprs => Fold(BitmapMerge(), exprs.take(1)))
    for (op <- foldOps)
      f(s"bitmap_${op.name}_fold_agg")(exprs => Fold(BitmapFold(op), exprs.take(1)))
    // raw (null-propagating) scalar algebra — the Column helpers below
    // wrap these with the CH null conventions
    f("bitmap_cardinality_raw")(cardinality)
    for ((name, op) <- Seq("bitmap_and_raw" -> "and", "bitmap_or_raw" -> "or",
        "bitmap_and_card_raw" -> "and_card", "bitmap_or_card_raw" -> "or_card"))
      f(name)(binary(op))
  }

  // ---- the scalar algebra as Kernels (shared with ChCompat's bitmap*) ----

  private val state = Arg.Is(BinaryType)

  private[functions] def cardinality(es: Seq[Expression]): Kernel =
    Kernel.of(this, "bitmapCardinality", "bitmapCardinality", LongType, es, Seq(state))

  /** op → (kernel method, result type) of the two-bitmap forms. */
  private val binaryOps: Map[String, (String, DataType)] = Map(
    "and" -> ("bitmapAnd", BinaryType), "or" -> ("bitmapOr", BinaryType),
    "xor" -> ("bitmapXor", BinaryType), "andnot" -> ("bitmapAndnot", BinaryType),
    "and_card" -> ("bitmapAndCardinality", LongType),
    "or_card" -> ("bitmapOrCardinality", LongType),
    "xor_card" -> ("bitmapXorCardinality", LongType),
    "andnot_card" -> ("bitmapAndnotCardinality", LongType),
    "has_all" -> ("bitmapHasAll", BooleanType), "has_any" -> ("bitmapHasAny", BooleanType))

  private[functions] def binary(op: String)(es: Seq[Expression]): Kernel = {
    val (method, out) = binaryOps(op)
    Kernel.of(this, method, s"bitmap_$op", out, es, Seq(state, state))
  }

  private[functions] def unary(method: String, name: String, out: DataType)(
      es: Seq[Expression]): Kernel =
    Kernel.of(this, method, name, out, es, Seq(state))

  private[functions] def contains(es: Seq[Expression]): Kernel =
    Kernel.of(this, "bitmapContains", "bitmapContains", BooleanType, es,
      Seq(state, Arg.Integral))

  // an empty `array()` literal has void elements
  private val idArray = Arg.ArrayOf(Arg.Is(LongType, IntegerType, ShortType, NullType))

  private[functions] def build(es: Seq[Expression]): Kernel =
    Kernel.of(this, "bitmapBuild", "bitmapBuild", BinaryType, es, Seq(idArray),
      es.take(1).map(Kernel.elementType))

  /** bitmapSubsetInRange / bitmapSubsetLimit / subBitmap by `op`. */
  private[functions] def subset(method: String, op: String)(es: Seq[Expression]): Kernel =
    Kernel.of(this, method, s"bitmapSubset_$op", BinaryType, es,
      Seq(state, Arg.Integral, Arg.Integral))

  private[functions] def transform(es: Seq[Expression]): Kernel =
    Kernel.of(this, "bitmapTransform", "bitmapTransform", BinaryType, es,
      Seq(state, idArray, idArray), es.slice(1, 3).map(Kernel.elementType))

  // ---- kernel methods over serialized states --------------------------

  def bitmapCardinality(b: Array[Byte]): Long = fromBytes(b).getLongCardinality

  def bitmapAnd(l: Array[Byte], r: Array[Byte]): Array[Byte] =
    toBytes(RoaringBitmap.and(fromBytes(l), fromBytes(r)))
  def bitmapOr(l: Array[Byte], r: Array[Byte]): Array[Byte] =
    toBytes(RoaringBitmap.or(fromBytes(l), fromBytes(r)))
  def bitmapXor(l: Array[Byte], r: Array[Byte]): Array[Byte] =
    toBytes(RoaringBitmap.xor(fromBytes(l), fromBytes(r)))
  def bitmapAndnot(l: Array[Byte], r: Array[Byte]): Array[Byte] =
    toBytes(RoaringBitmap.andNot(fromBytes(l), fromBytes(r)))
  def bitmapAndCardinality(l: Array[Byte], r: Array[Byte]): Long =
    RoaringBitmap.andCardinality(fromBytes(l), fromBytes(r)).toLong
  def bitmapOrCardinality(l: Array[Byte], r: Array[Byte]): Long =
    RoaringBitmap.orCardinality(fromBytes(l), fromBytes(r)).toLong
  def bitmapXorCardinality(l: Array[Byte], r: Array[Byte]): Long = {
    val a = fromBytes(l); val b = fromBytes(r)
    RoaringBitmap.orCardinality(a, b).toLong - RoaringBitmap.andCardinality(a, b).toLong
  }
  def bitmapAndnotCardinality(l: Array[Byte], r: Array[Byte]): Long = {
    val a = fromBytes(l); val b = fromBytes(r)
    a.getLongCardinality - RoaringBitmap.andCardinality(a, b).toLong
  }
  /** hasAll(a, b): does a contain EVERY element of b (empty b → true) */
  def bitmapHasAll(l: Array[Byte], r: Array[Byte]): Boolean = {
    val a = fromBytes(l); val b = fromBytes(r)
    RoaringBitmap.andCardinality(a, b).toLong == b.getLongCardinality
  }
  def bitmapHasAny(l: Array[Byte], r: Array[Byte]): Boolean =
    RoaringBitmap.intersects(fromBytes(l), fromBytes(r))

  /** bitmapContains(bitmap, x) — membership of one uint32. */
  def bitmapContains(b: Array[Byte], x: Long): Boolean =
    x >= 0L && x <= 0xFFFFFFFFL && fromBytes(b).contains(toUint32(x))

  /** bitmapToArray: ascending BIGINT array of the members. */
  def bitmapToArray(b: Array[Byte]): ArrayData = {
    val bm = fromBytes(b)
    val out = new Array[Any](bm.getCardinality)
    val it = bm.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().toLong & 0xFFFFFFFFL; i += 1 }
    new GenericArrayData(out)
  }
  /** bitmapMin / bitmapMax: smallest/largest member, 0 when empty (CH's convention) */
  def bitmapMin(b: Array[Byte]): Long = {
    val bm = fromBytes(b)
    if (bm.isEmpty) 0L else bm.first().toLong & 0xFFFFFFFFL
  }
  def bitmapMax(b: Array[Byte]): Long = {
    val bm = fromBytes(b)
    if (bm.isEmpty) 0L else bm.last().toLong & 0xFFFFFFFFL
  }

  /** bitmapBuild(array) — serialize an integral array into a bitmap state
    * (the literal-set entry point of the doc's funnel recipes).
    */
  def bitmapBuild(arr: ArrayData, et: DataType): Array[Byte] = {
    val bm = new RoaringBitmap()
    var i = 0
    while (i < arr.numElements()) {
      val x = et match {
        case LongType => arr.getLong(i)
        case IntegerType => arr.getInt(i).toLong
        case ShortType => arr.getShort(i).toLong
        case _ => throw new IllegalArgumentException(
          s"bitmapBuild: integral array required, got array<${et.simpleString}>")
      }
      bm.add(toUint32(x))
      i += 1
    }
    toBytes(bm)
  }

  /** bitmapSubsetInRange(bm, start, end) — members in [start, end). */
  def bitmapSubsetInRange(b: Array[Byte], a: Long, c: Long): Array[Byte] = {
    val out = new RoaringBitmap()
    val it = fromBytes(b).iterator()
    while (it.hasNext) {
      val x = it.next().toLong & 0xFFFFFFFFL
      if (x >= a && x < c) out.add(x.toInt)
    }
    toBytes(out)
  }
  /** bitmapSubsetLimit(bm, start, n) — the n smallest members ≥ start. */
  def bitmapSubsetLimit(b: Array[Byte], a: Long, c: Long): Array[Byte] = {
    val out = new RoaringBitmap()
    val it = fromBytes(b).iterator()
    var taken = 0L
    while (it.hasNext && taken < c) {
      val x = it.next().toLong & 0xFFFFFFFFL
      if (x >= a) { out.add(x.toInt); taken += 1 }
    }
    toBytes(out)
  }
  /** subBitmap(bm, offset, n) — n members starting at rank `offset`
    * (0-based) in ascending order. */
  def subBitmap(b: Array[Byte], a: Long, c: Long): Array[Byte] = {
    val out = new RoaringBitmap()
    val it = fromBytes(b).iterator()
    var rank = 0L
    var taken = 0L
    while (it.hasNext && taken < c) {
      val x = it.next()
      if (rank >= a) { out.add(x); taken += 1 }
      rank += 1
    }
    toBytes(out)
  }

  /** CH `bitmapTransform(bm, from_array, to_array)` — sequential value
    * remapping on the LIVE bitmap (CH's documented pair-by-pair semantics:
    * each `from[i]` still present at step i is removed and `to[i]` added,
    * so overlapping from/to chains compose left to right — the doc example
    * [5,999,2]→[2,888,20] over {1..10} yields 20, not a kept 2).
    */
  def bitmapTransform(b: Array[Byte], fromV: ArrayData, toV: ArrayData,
      fromEt: DataType, toEt: DataType): Array[Byte] = {
    def elems(arr: ArrayData, et: DataType): Array[Long] =
      Array.tabulate(arr.numElements()) { i =>
        // a NULL slot read via getLong/getInt would silently come back 0
        // and the remap would quietly touch value 0 — reject it
        if (arr.isNullAt(i)) throw new IllegalArgumentException(
          s"bitmapTransform: NULL element at position $i in from/to array")
        et match {
          case LongType => arr.getLong(i)
          case IntegerType => arr.getInt(i).toLong
          case ShortType => arr.getShort(i).toLong
          case _ => throw new IllegalArgumentException(
            s"bitmapTransform: integral arrays required, got array<${et.simpleString}>")
        }
      }
    val bm = fromBytes(b)
    val from = elems(fromV, fromEt)
    val to = elems(toV, toEt)
    require(from.length == to.length,
      s"bitmapTransform: from/to lengths differ (${from.length} vs ${to.length})")
    var i = 0
    while (i < from.length) {
      val f = toUint32(from(i))
      if (bm.contains(f)) {
        bm.remove(f)
        bm.add(toUint32(to(i)))
      }
      i += 1
    }
    toBytes(bm)
  }

  /** groupBitmap: aggregate integral ids into a serialized RoaringBitmap. */
  def bitmap_agg(c: Column): Column = call_function("bitmap_agg", c)

  /** groupBitmapMergeState: OR together serialized bitmaps (state merge). */
  def bitmap_merge_agg(c: Column): Column = call_function("bitmap_merge_agg", c)

  /** groupBitmapAndState/OrState/XorState: fold serialized bitmap states
    * with the given op (`"and" | "or" | "xor"`); empty group → empty bitmap. */
  def bitmap_fold_agg(c: Column, op: String): Column =
    call_function(s"bitmap_${op}_fold_agg", c)

  // ---- scalar bitmap algebra (post-aggregation, small row counts) ----
  // Native expressions (shared with the ChCompat SQL surface), wrapped in
  // CASE/COALESCE for the null conventions the former UDF forms had: a
  // NULL bitmap counts as empty for cardinalities and as identity for OR,
  // but AND of a NULL is NULL (unknown ∧ x is unknown). Requires
  // ChCompat.register on the session (query packs and StateTable do this).

  /** bitmapCardinality — NULL counts 0 */
  def bitmap_cardinality(c: Column): Column =
    coalesce(call_function("bitmap_cardinality_raw", c), lit(0L))
  /** bitmapAnd (binary, nest for k-way — doc:1238); NULL in, NULL out */
  def bitmap_and(a: Column, b: Column): Column =
    call_function("bitmap_and_raw", a, b)
  /** bitmapOr — NULL is identity */
  def bitmap_or(a: Column, b: Column): Column =
    when(a.isNull, b).when(b.isNull, a)
      .otherwise(call_function("bitmap_or_raw", a, b))
  /** bitmapAndCardinality — any NULL side gives 0 */
  def bitmap_and_cardinality(a: Column, b: Column): Column =
    coalesce(call_function("bitmap_and_card_raw", a, b), lit(0L))
  /** bitmapOrCardinality — a NULL side falls back to the other's count */
  def bitmap_or_cardinality(a: Column, b: Column): Column =
    when(a.isNull, bitmap_cardinality(b))
      .when(b.isNull, bitmap_cardinality(a))
      .otherwise(call_function("bitmap_or_card_raw", a, b))
}

/** A bitmap as its portable Roaring serialization ([[Bitmaps.toBytes]]). */
object RoaringBuf extends BufCodec[RoaringBitmap] {
  def write(b: RoaringBitmap): Array[Byte] = Bitmaps.toBytes(b)
  def read(bytes: Array[Byte]): RoaringBitmap = Bitmaps.fromBytes(bytes)
}

/** `bitmap_agg(uid)` — ClickHouse `groupBitmapState(uid)`. Null inputs are
  * skipped (matches CH aggregate null handling / the `-If` combinator when
  * fed `when(cond, uid)`).
  */
case class GroupBitmap() extends FoldSpec[RoaringBitmap] {
  def name: String = "bitmap_agg"
  def accepts: Seq[Arg] = Seq(Arg.Is(ByteType, ShortType, IntegerType, LongType))
  def dataType(in: Seq[Expression]): DataType = BinaryType
  def codec: BufCodec[RoaringBitmap] = RoaringBuf

  def create(): RoaringBitmap = new RoaringBitmap()
  def update(b: RoaringBitmap, in: Array[Expression], row: InternalRow): RoaringBitmap = {
    val v = in(0).eval(row)
    if (v != null) b.add(Bitmaps.toUint32(v.asInstanceOf[Number].longValue()))
    b
  }
  def merge(b: RoaringBitmap, o: RoaringBitmap): RoaringBitmap = { b.or(o); b }
  def eval(b: RoaringBitmap): Any = Bitmaps.toBytes(b)
}

/** `bitmap_merge_agg(bm_binary)` — ClickHouse `groupBitmapMergeState`: OR
  * together already-serialized bitmap states. Re-feeding raw ids here is a
  * type error at analysis time (BinaryType expected) — by construction the
  * misuse the reference doc warns about (doc:326-505) cannot compile.
  */
case class BitmapMerge() extends FoldSpec[RoaringBitmap] {
  def name: String = "bitmap_merge_agg"
  def accepts: Seq[Arg] = Seq(Arg.Is(BinaryType))
  def dataType(in: Seq[Expression]): DataType = BinaryType
  def codec: BufCodec[RoaringBitmap] = RoaringBuf

  def create(): RoaringBitmap = new RoaringBitmap()
  def update(b: RoaringBitmap, in: Array[Expression], row: InternalRow): RoaringBitmap = {
    val v = in(0).eval(row)
    if (v != null) b.or(Bitmaps.fromBytes(v.asInstanceOf[Array[Byte]]))
    b
  }
  def merge(b: RoaringBitmap, o: RoaringBitmap): RoaringBitmap = { b.or(o); b }
  def eval(b: RoaringBitmap): Any = Bitmaps.toBytes(b)
}

/** Fold buffer for [[BitmapFold]]: `bm == null` means "no input yet" —
  * required because AND has no representable identity element (the full
  * uint32 universe), so the first bitmap seeds the fold. */
final class BitmapFoldBuf {
  private[graft] var bm: RoaringBitmap = null
}

/** A flag byte, then (when seeded) the bitmap's Roaring bytes. */
object BitmapFoldBuf extends BufCodec[BitmapFoldBuf] {
  def write(b: BitmapFoldBuf): Array[Byte] =
    if (b.bm == null) Array[Byte](0)
    else {
      val body = Bitmaps.toBytes(b.bm)
      val out = new Array[Byte](1 + body.length)
      out(0) = 1
      System.arraycopy(body, 0, out, 1, body.length)
      out
    }
  def read(bytes: Array[Byte]): BitmapFoldBuf = {
    val b = new BitmapFoldBuf
    if (bytes.nonEmpty && bytes(0) == 1)
      b.bm = Bitmaps.fromBytes(java.util.Arrays.copyOfRange(bytes, 1, bytes.length))
    b
  }
}

/** ClickHouse's aggregate-form bitmap folds `groupBitmapAnd/Or/Xor` over
  * an already-aggregated bitmap-state column (CH: AggregateFunction
  * (groupBitmap, UInt32)-typed input; the plain spellings return the
  * folded cardinality, the `-State` forms the folded bitmap). All three
  * ops are associative AND commutative, so partial folds merge exactly
  * under any partition order — the same two-phase shape as
  * [[BitmapMerge]] (which is the OR fold's state form). Null inputs are
  * skipped; an empty group evaluates to the empty bitmap (cardinality 0),
  * matching CH.
  */
case class BitmapFold(op: Bitmaps.FoldOp) extends FoldSpec[BitmapFoldBuf] {
  def name: String = s"groupBitmap${op.name.capitalize}"
  def accepts: Seq[Arg] = Seq(Arg.Is(BinaryType))
  def dataType(in: Seq[Expression]): DataType = BinaryType
  def codec: BufCodec[BitmapFoldBuf] = BitmapFoldBuf
  def create(): BitmapFoldBuf = new BitmapFoldBuf

  private def combine(b: BitmapFoldBuf, in: RoaringBitmap): Unit =
    if (b.bm == null) b.bm = in
    else op(b.bm, in)

  def update(b: BitmapFoldBuf, in: Array[Expression], row: InternalRow): BitmapFoldBuf = {
    val v = in(0).eval(row)
    if (v != null) combine(b, Bitmaps.fromBytes(v.asInstanceOf[Array[Byte]]))
    b
  }
  def merge(b: BitmapFoldBuf, o: BitmapFoldBuf): BitmapFoldBuf = {
    if (o.bm != null) combine(b, o.bm)
    b
  }
  def eval(b: BitmapFoldBuf): Any =
    Bitmaps.toBytes(if (b.bm == null) new RoaringBitmap() else b.bm)
}
