package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
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

  import Arg.Num

  val functions = FunctionTable.define(this) { f =>
    // haversine distance in meters; args (lon1, lat1, lon2, lat2) in
    // degrees — CH's argument order
    for ((name, radius) <- Seq("greatCircleDistance" -> chRadius, "geoDistance" -> wgsMeanRadius))
      f(name) { es =>
        Kernel.of(this, "haversine", name, DoubleType, es, Seq(Num, Num, Num, Num), Seq(radius))
      }
    // a missing or NULL precision means 12
    f("geohashEncode") { es =>
      Kernel.of(this, "geohashEncode", "geohashEncode", StringType,
        if (es.length >= 3) es else es :+ Literal(12), Seq(Num, Num, Arg.OrElse(Num, 12d)))
    }
    // decodes to the cell-center (longitude, latitude) tuple, CH's shape
    f("geohashDecode") { es =>
      Kernel.of(this, "geohashDecode", "geohashDecode", StructType(Seq(
        StructField("longitude", DoubleType, nullable = false),
        StructField("latitude", DoubleType, nullable = false))), es, Seq(Arg.Str))
    }
    // point is a (x, y) struct, polygon an array of (x, y) structs
    f("pointInPolygon") { es =>
      Kernel.of(this, "pointInPolygon", "pointInPolygon", BooleanType, es,
        Seq(Arg.Struct, Arg.ArrayOf(Arg.Struct)), es.map(_.dataType))
    }
    for (name <- Seq("formatReadableSize", "formatReadableQuantity", "formatReadableTimeDelta"))
      f(name) { es => Kernel.of(this, name, name, StringType, es, Seq(Num)) }
    // bar(x, min, max[, width]): a missing or NULL width means 80
    f("bar") { es =>
      Kernel.of(this, "bar", "bar", StringType, es,
        Seq(Num, Num, Num, Arg.OrElse(Num, 80d)).take(math.max(es.length, 3)),
        if (es.length == 3) Seq(80d) else Nil)
    }
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

  // ---- kernel methods -------------------------------------------------

  /** haversine great-circle distance in meters on a sphere of `radius`. */
  def haversine(lon1d: Double, lat1d: Double, lon2d: Double, lat2d: Double,
      radius: Double): Double = {
    val Seq(lon1, lat1, lon2, lat2) = Seq(lon1d, lat1d, lon2d, lat2d).map(math.toRadians)
    val dLat = lat2 - lat1
    val dLon = lon2 - lon1
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(lat1) * math.cos(lat2) * math.pow(math.sin(dLon / 2), 2)
    2 * radius * math.asin(math.min(1d, math.sqrt(a)))
  }

  def geohashEncode(lon: Double, lat: Double, precision: Double): UTF8String =
    UTF8String.fromString(geohash(lon, lat, precision.toInt))

  def geohashDecode(h: UTF8String): InternalRow = {
    val (lon, lat) = geohashCenter(h.toString)
    InternalRow(lon, lat)
  }

  /** even-odd ray casting; closing edge implied. */
  def pointInPolygon(pr: InternalRow, arr: ArrayData, pointType: DataType,
      polyType: DataType): Boolean = {
    def num(row: InternalRow, t: StructType, i: Int): Double = t(i).dataType match {
      case DoubleType => row.getDouble(i)
      case FloatType => row.getFloat(i).toDouble
      case LongType => row.getLong(i).toDouble
      case IntegerType => row.getInt(i).toDouble
      case t => throw new IllegalArgumentException(s"pointInPolygon: numeric tuple, got $t")
    }
    val pt = pointType.asInstanceOf[StructType]
    val px = num(pr, pt, 0)
    val py = num(pr, pt, 1)
    val vt = polyType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val n = arr.numElements()
    def vertex(i: Int): (Double, Double) = {
      val r = arr.getStruct(i, 2)
      (num(r, vt, 0), num(r, vt, 1))
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

  // CH display formatters: binary-size units, short-scale quantities, and
  // a day/hour/minute/second time delta (CH's month/year approximations
  // deliberately omitted — deltas render exactly)
  private def fmt2(v: Double): String = f"$v%.2f"

  def formatReadableSize(x: Double): UTF8String = {
    val units = Seq("B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB")
    var u = 0
    var m = math.abs(x)
    while (m >= 1024 && u < units.length - 1) { m /= 1024; u += 1 }
    UTF8String.fromString((if (x < 0) "-" else "") + fmt2(m) + " " + units(u))
  }

  def formatReadableQuantity(x: Double): UTF8String = {
    val units = Seq("" -> 1d, " thousand" -> 1e3, " million" -> 1e6,
      " billion" -> 1e9, " trillion" -> 1e12, " quadrillion" -> 1e15)
    val m = math.abs(x)
    val (suffix, div) = units.reverse.find { case (_, d) => m >= d }
      .getOrElse(units.head)
    UTF8String.fromString((if (x < 0) "-" else "") + fmt2(m / div) + suffix)
  }

  def formatReadableTimeDelta(x: Double): UTF8String = {
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
    UTF8String.fromString((if (x < 0) "-" else "") + parts.mkString(", "))
  }

  private val eighths = Array('▏', '▎', '▍', '▌',
    '▋', '▊', '▉', '█')

  /** CH `bar(x, min, max, width)`: unicode bar chart with eighth-block
    * resolution. */
  def bar(x: Double, lo: Double, hi: Double, width: Double): UTF8String = {
    val w = if (hi <= lo) 0d
      else math.max(0d, math.min(width, (x - lo) / (hi - lo) * width))
    val full = w.toInt
    val frac = math.round((w - full) * 8).toInt
    val sb = new StringBuilder("█".repeat(full))
    if (frac >= 8) sb += '█'
    else if (frac > 0) sb += eighths(frac - 1)
    UTF8String.fromString(sb.toString)
  }
}
