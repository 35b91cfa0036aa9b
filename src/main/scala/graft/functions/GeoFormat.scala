package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse's geo scalars (`greatCircleDistance` / `geoDistance`,
  * `geohashEncode` / `geohashDecode`, `pointInPolygon`) and display
  * formatters (`formatReadableSize` / `formatReadableQuantity` /
  * `formatReadableTimeDelta`, `bar`).
  *
  * All per-row scalar expressions, no state. greatCircleDistance uses
  * the haversine form on CH's sphere radius (6 372 797.560856 m);
  * geoDistance rides the WGS-84 mean radius (6 371 008.8 m) — a
  * documented simplification of CH's per-latitude ellipsoid correction.
  */
object GeoFormat {

  val chRadius = 6372797.560856
  val wgsMeanRadius = 6371008.8

  val functions = FunctionTable.define(this) { f =>
    f("greatCircleDistance") { es => HaversineExpr(es, chRadius) }
    f("geoDistance") { es => HaversineExpr(es, wgsMeanRadius) }
    f("geohashEncode") { es =>
      GeohashEncodeExpr(es(0), es(1), if (es.length >= 3) es(2) else Literal(12))
    }
    f("geohashDecode") { es => GeohashDecodeExpr(es.head) }
    f("pointInPolygon") { es => PointInPolygonExpr(es(0), es(1)) }
    f("formatReadableSize") { es => FormatReadableExpr(es.head, "size") }
    f("formatReadableQuantity") { es => FormatReadableExpr(es.head, "quantity") }
    f("formatReadableTimeDelta") { es => FormatReadableExpr(es.head, "timedelta") }
    f("bar") { es => BarExpr(es) }
  }

  private[functions] def numOf(e: Expression, row: InternalRow): Option[Double] =
    e.eval(row) match {
      case null => None
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case l: Long => Some(l.toDouble)
      case i: Int => Some(i.toDouble)
      case s: Short => Some(s.toDouble)
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case other => throw new IllegalArgumentException(s"numeric expected, got $other")
    }

  private val base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  private[functions] def geohash(lon: Double, lat: Double, precision: Int): String = {
    val p = math.max(1, math.min(12, precision))
    var lonLo = -180d; var lonHi = 180d
    var latLo = -90d; var latHi = 90d
    val sb = new StringBuilder
    var evenBit = true
    var idx = 0
    var bit = 0
    while (sb.length < p) {
      if (evenBit) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { idx = idx * 2 + 1; lonLo = mid }
        else { idx = idx * 2; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { idx = idx * 2 + 1; latLo = mid }
        else { idx = idx * 2; latHi = mid }
      }
      evenBit = !evenBit
      bit += 1
      if (bit == 5) { sb += base32.charAt(idx); bit = 0; idx = 0 }
    }
    sb.toString
  }

  private[functions] def geohashCenter(h: String): (Double, Double) = {
    var lonLo = -180d; var lonHi = 180d
    var latLo = -90d; var latHi = 90d
    var evenBit = true
    h.foreach { c =>
      val idx = base32.indexOf(c.toLower)
      require(idx >= 0, s"geohashDecode: invalid character '$c'")
      var mask = 16
      while (mask > 0) {
        val set = (idx & mask) != 0
        if (evenBit) {
          val mid = (lonLo + lonHi) / 2
          if (set) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (set) latLo = mid else latHi = mid
        }
        evenBit = !evenBit
        mask >>= 1
      }
    }
    ((lonLo + lonHi) / 2, (latLo + latHi) / 2)
  }
}

/** haversine great-circle distance in meters; args (lon1, lat1, lon2, lat2)
  * in degrees — CH's argument order. */
case class HaversineExpr(children: Seq[Expression], radius: Double)
  extends Expression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val vs = children.map(GeoFormat.numOf(_, input))
    if (vs.exists(_.isEmpty)) return null
    val Seq(lon1, lat1, lon2, lat2) = vs.map(v => math.toRadians(v.get))
    val dLat = lat2 - lat1
    val dLon = lon2 - lon1
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(lat1) * math.cos(lat2) * math.pow(math.sin(dLon / 2), 2)
    2 * radius * math.asin(math.min(1d, math.sqrt(a)))
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): HaversineExpr =
    copy(children = cs)
  override def prettyName: String =
    if (radius == GeoFormat.chRadius) "greatCircleDistance" else "geoDistance"
}

case class GeohashEncodeExpr(lon: Expression, lat: Expression, precision: Expression)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(lon, lat, precision)
  override def dataType: DataType = StringType
  override def nullable: Boolean = lon.nullable || lat.nullable

  override def eval(input: InternalRow): Any = {
    val lo = GeoFormat.numOf(lon, input)
    val la = GeoFormat.numOf(lat, input)
    val p = GeoFormat.numOf(precision, input)
    if (lo.isEmpty || la.isEmpty) return null
    UTF8String.fromString(
      GeoFormat.geohash(lo.get, la.get, p.map(_.toInt).getOrElse(12)))
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): GeohashEncodeExpr =
    copy(lon = cs(0), lat = cs(1), precision = cs(2))
  override def prettyName: String = "geohashEncode"
}

/** decodes to the cell-center (longitude, latitude) tuple, CH's shape. */
case class GeohashDecodeExpr(child: Expression)
  extends Expression with UnaryLike[Expression] with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("longitude", DoubleType, nullable = false),
    StructField("latitude", DoubleType, nullable = false)))
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val (lon, lat) = GeoFormat.geohashCenter(v.asInstanceOf[UTF8String].toString)
    InternalRow(lon, lat)
  }

  override protected def withNewChildInternal(c: Expression): GeohashDecodeExpr =
    copy(child = c)
  override def prettyName: String = "geohashDecode"
}

/** even-odd ray casting; point is a (x, y) struct, polygon an array of
  * (x, y) structs (closing edge implied). */
case class PointInPolygonExpr(left: Expression, right: Expression)
  extends Expression with BinaryLike[Expression] with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable || right.nullable

  private def xy(row: InternalRow): (Double, Double) = {
    def get(i: Int): Double = left.dataType.asInstanceOf[StructType](i).dataType match {
      case DoubleType => row.getDouble(i)
      case FloatType => row.getFloat(i).toDouble
      case LongType => row.getLong(i).toDouble
      case IntegerType => row.getInt(i).toDouble
      case t => throw new IllegalArgumentException(s"pointInPolygon: numeric tuple, got $t")
    }
    (get(0), get(1))
  }

  override def eval(input: InternalRow): Any = {
    val p = left.eval(input)
    val poly = right.eval(input)
    if (p == null || poly == null) return null
    val pr = p.asInstanceOf[InternalRow]
    val (px, py) = xy(pr)
    val arr = poly.asInstanceOf[ArrayData]
    val vt = right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val n = arr.numElements()
    def vertex(i: Int): (Double, Double) = {
      val r = arr.getStruct(i, 2)
      def get(j: Int): Double = vt(j).dataType match {
        case DoubleType => r.getDouble(j)
        case FloatType => r.getFloat(j).toDouble
        case LongType => r.getLong(j).toDouble
        case IntegerType => r.getInt(j).toDouble
        case t => throw new IllegalArgumentException(s"pointInPolygon: numeric tuple, got $t")
      }
      (get(0), get(1))
    }
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val (xi, yi) = vertex(i)
      val (xj, yj) = vertex(j)
      if ((yi > py) != (yj > py) &&
          px < (xj - xi) * (py - yi) / (yj - yi) + xi)
        inside = !inside
      j = i
      i += 1
    }
    inside
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PointInPolygonExpr =
    copy(left = l, right = r)
  override def prettyName: String = "pointInPolygon"
}

/** CH display formatters: binary-size units, short-scale quantities, and
  * a day/hour/minute/second time delta (CH's month/year approximations
  * deliberately omitted — deltas render exactly). */
case class FormatReadableExpr(child: Expression, kind: String)
  extends Expression with UnaryLike[Expression] with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  private def fmt2(v: Double): String = f"$v%.2f"

  override def eval(input: InternalRow): Any = {
    val v = GeoFormat.numOf(child, input)
    if (v.isEmpty) return null
    val x = v.get
    val s = kind match {
      case "size" =>
        val units = Seq("B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB")
        var u = 0
        var m = math.abs(x)
        while (m >= 1024 && u < units.length - 1) { m /= 1024; u += 1 }
        (if (x < 0) "-" else "") + fmt2(m) + " " + units(u)
      case "quantity" =>
        val units = Seq("" -> 1d, " thousand" -> 1e3, " million" -> 1e6,
          " billion" -> 1e9, " trillion" -> 1e12, " quadrillion" -> 1e15)
        val m = math.abs(x)
        val (suffix, div) = units.reverse.find { case (_, d) => m >= d }
          .getOrElse(units.head)
        (if (x < 0) "-" else "") + fmt2(m / div) + suffix
      case "timedelta" =>
        var rem = math.abs(x).toLong
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        def take(n: Long, name: String): Unit = {
          val q = rem / n
          if (q > 0 || (n == 1 && parts.isEmpty)) {
            parts += s"$q $name" + (if (q == 1) "" else "s")
            rem %= n
          }
        }
        take(86400, "day"); take(3600, "hour"); take(60, "minute"); take(1, "second")
        (if (x < 0) "-" else "") + parts.mkString(", ")
      case other => throw new IllegalStateException(s"unknown formatter $other")
    }
    UTF8String.fromString(s)
  }

  override protected def withNewChildInternal(c: Expression): FormatReadableExpr =
    copy(child = c)
  override def prettyName: String = kind match {
    case "size" => "formatReadableSize"
    case "quantity" => "formatReadableQuantity"
    case _ => "formatReadableTimeDelta"
  }
}

/** CH `bar(x, min, max[, width])`: unicode bar chart with eighth-block
  * resolution (width defaults to 80). */
case class BarExpr(children: Seq[Expression])
  extends Expression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = children.exists(_.nullable)

  private val eighths = Array('▏', '▎', '▍', '▌',
    '▋', '▊', '▉', '█')

  override def eval(input: InternalRow): Any = {
    val vs = children.map(GeoFormat.numOf(_, input))
    if (vs.take(3).exists(_.isEmpty)) return null
    val x = vs(0).get
    val lo = vs(1).get
    val hi = vs(2).get
    val width = if (children.length >= 4) vs(3).get else 80d
    val w = if (hi <= lo) 0d
      else math.max(0d, math.min(width, (x - lo) / (hi - lo) * width))
    val full = w.toInt
    val frac = math.round((w - full) * 8).toInt
    val sb = new StringBuilder("█".repeat(full))
    if (frac >= 8) sb += '█'
    else if (frac > 0) sb += eighths(frac - 1)
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): BarExpr =
    copy(children = cs)
  override def prettyName: String = "bar"
}
