package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse's hash-function family, bit-exact where the algorithm is
  * publicly specified and verifiable:
  *
  *  - `sipHash64(x)`  — SipHash-2-4 with CH's fixed key (the bytes
  *    `00 01 .. 0f` read little-endian: k0=0x0706050403020100,
  *    k1=0x0f0e0d0c0b0a0908), i.e. exactly the reference-vector key of
  *    the SipHash paper, so the published test vectors pin it.
  *  - `chXxHash64(x)` — standard XXH64 with seed 0 (CH's seed), delegated
  *    to Spark's spec-verified XXH64 kernel. CH spells this `xxHash64`,
  *    but that name case-insensitively collides with Spark's built-in
  *    seed-42 `xxhash64` — and in Spark 4 even `functions.xxhash64`
  *    resolves by name through the session registry, so registering the
  *    CH spelling would silently change every seeded hash in the library
  *    and in user SQL. The CH spelling therefore lives in the DIALECT
  *    layer: `ChSql` rewrites exact-case `xxHash64(` → `chXxHash64(`, and
  *    the built-in keeps its name and meaning everywhere else.
  *  - `xxHash32(x)`   — standard XXH32 with seed 0; returned as the CH
  *    UInt32 value domain (a non-negative BIGINT), matching `toUInt32`.
  *  - `halfMD5(x)`    — first 8 bytes of MD5 read big-endian (CH docs);
  *    two's-complement BIGINT carries the same 64 bits as CH's UInt64
  *    (same convention as `toUInt64`).
  *  - `intHash64(x)`  — CH's 64-bit integer mix (Common/HashTable/Hash.h:
  *    the xor-shift/multiply avalanche, identical to MurmurHash3's
  *    fmix64).
  *  - `javaHash(s)`   — Java `String.hashCode` over UTF-16 code units.
  *
  * These are the sharding/sampling primitives of the dialect (`SAMPLE BY
  * sipHash64(user_id)`, Distributed sharding keys, probabilistic row
  * tagging). String/binary inputs hash their bytes; integer inputs hash
  * their 8-byte little-endian encoding, matching CH for Int64/UInt64
  * columns (CH hashes narrower integers at their narrower width — cast
  * to the intended width first if that distinction matters).
  *
  * Deliberately NOT registered: `cityHash64` / `farmFingerprint64` — CH
  * pins CityHash v1.0.2, whose outputs differ from every currently
  * published CityHash/FarmHash vector set; shipping a lookalike that
  * silently disagrees with CH on long strings would be worse than
  * absence. `intHash32`'s rotate-vs-shift spelling is likewise
  * unverifiable here without a CH binary. CH's `MD5`/`SHA*` (raw-digest
  * FixedString forms) are likewise skipped: the registry is
  * case-insensitive, so a CH-shaped `MD5` would SHADOW Spark's built-in
  * hex-string `md5()` session-wide (which ChSample's gated rewrite and
  * user SQL rely on) — `unhex(md5(x))` already composes the raw form.
  *
  * Scale shape: each is a [[Kernel]] — a static call into [[HashAlgos]]
  * inside whole-stage codegen — so they ride the scan like any built-in
  * and never break a WholeStageCodegen span.
  */
object Hashes {

  /** SQL name → (kernel method on [[HashAlgos]], result type). */
  private val algos: Map[String, (String, DataType)] = Map(
    "sipHash64" -> ("sipHash64", LongType),
    "chXxHash64" -> ("xxHash64", LongType),
    "xxHash32" -> ("xxHash32", LongType),
    "halfMD5" -> ("halfMd5", LongType),
    "intHash64" -> ("intHash64", LongType),
    "javaHash" -> ("javaHash", IntegerType))

  val functions = FunctionTable.define(this) { f =>
    algos.keys.foreach { name =>
      f(name) { es =>
        require(es.length == 1, s"usage: $name(x)")
        kernel(name, Seq(coerce(es.head, name)))
      }
    }
  }

  /** One static call into [[HashAlgos]], overload-resolved by the
    * child's JVM type (byte[] / long / UTF8String). */
  private[functions] def kernel(name: String, es: Seq[Expression]): Kernel = {
    val (method, out) = algos(name)
    Kernel.of(HashAlgos, method, method, out, es,
      Seq(Arg.AnyOf(Arg.Is(BinaryType, LongType), Arg.Str)))
  }

  /** Bytes for strings/binary, 8-byte-LE long for integers; javaHash and
    * intHash64 keep their natural input type.
    */
  private def coerce(e: Expression, name: String): Expression = name match {
    case "javaHash" => Cast(e, StringType)
    case "intHash64" => Cast(e, LongType)
    case _ => e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => Cast(e, LongType)
      case BinaryType => e
      case _ => Cast(e, BinaryType)
    }
  }

  def sip_hash64(c: Column): Column = call_function("sipHash64", c)
  def ch_xx_hash64(c: Column): Column = call_function("chXxHash64", c)
  def half_md5(c: Column): Column = call_function("halfMD5", c)
  def int_hash64(c: Column): Column = call_function("intHash64", c)
}

/** The actual kernels. Static-forwarder-callable from generated Java.
  *
  * sipHash64 is a from-spec SipHash-2-4 (Aumasson & Bernstein) with CH's
  * key; xxHash32 is a from-spec XXH32; both are pinned to the published
  * reference vectors in HashesSpec. xxHash64 reuses Spark's XXH64 kernel
  * (already spec-verified upstream) at seed 0.
  */
object HashAlgos {

  // ---- SipHash-2-4, CH key ------------------------------------------
  private final val K0 = 0x0706050403020100L
  private final val K1 = 0x0f0e0d0c0b0a0908L

  def sipHash64(data: Array[Byte]): Long = {
    var v0 = K0 ^ 0x736f6d6570736575L
    var v1 = K1 ^ 0x646f72616e646f6dL
    var v2 = K0 ^ 0x6c7967656e657261L
    var v3 = K1 ^ 0x7465646279746573L

    val n = data.length
    val end = n - (n % 8)
    var off = 0
    while (off < end) {
      val m = Platform.getLong(data, Platform.BYTE_ARRAY_OFFSET + off)
      v3 ^= m
      // two SipRounds, inlined
      var i = 0
      while (i < 2) {
        v0 += v1; v1 = java.lang.Long.rotateLeft(v1, 13); v1 ^= v0
        v0 = java.lang.Long.rotateLeft(v0, 32)
        v2 += v3; v3 = java.lang.Long.rotateLeft(v3, 16); v3 ^= v2
        v0 += v3; v3 = java.lang.Long.rotateLeft(v3, 21); v3 ^= v0
        v2 += v1; v1 = java.lang.Long.rotateLeft(v1, 17); v1 ^= v2
        v2 = java.lang.Long.rotateLeft(v2, 32)
        i += 1
      }
      v0 ^= m
      off += 8
    }
    var last = n.toLong << 56
    var i = 0
    while (off + i < n) {
      last |= (data(off + i) & 0xffL) << (8 * i)
      i += 1
    }
    v3 ^= last
    i = 0
    while (i < 2) {
      v0 += v1; v1 = java.lang.Long.rotateLeft(v1, 13); v1 ^= v0
      v0 = java.lang.Long.rotateLeft(v0, 32)
      v2 += v3; v3 = java.lang.Long.rotateLeft(v3, 16); v3 ^= v2
      v0 += v3; v3 = java.lang.Long.rotateLeft(v3, 21); v3 ^= v0
      v2 += v1; v1 = java.lang.Long.rotateLeft(v1, 17); v1 ^= v2
      v2 = java.lang.Long.rotateLeft(v2, 32)
      i += 1
    }
    v0 ^= last
    v2 ^= 0xff
    i = 0
    while (i < 4) {
      v0 += v1; v1 = java.lang.Long.rotateLeft(v1, 13); v1 ^= v0
      v0 = java.lang.Long.rotateLeft(v0, 32)
      v2 += v3; v3 = java.lang.Long.rotateLeft(v3, 16); v3 ^= v2
      v0 += v3; v3 = java.lang.Long.rotateLeft(v3, 21); v3 ^= v0
      v2 += v1; v1 = java.lang.Long.rotateLeft(v1, 17); v1 ^= v2
      v2 = java.lang.Long.rotateLeft(v2, 32)
      i += 1
    }
    v0 ^ v1 ^ v2 ^ v3
  }

  def sipHash64(x: Long): Long = sipHash64(leBytes(x))

  // ---- XXH64 (Spark kernel, seed 0) ---------------------------------
  def xxHash64(data: Array[Byte]): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(data, Platform.BYTE_ARRAY_OFFSET, data.length, 0L)

  def xxHash64(x: Long): Long = xxHash64(leBytes(x))

  // ---- XXH32 from spec, seed 0; result in the UInt32 domain ----------
  private final val XP1 = 0x9e3779b1
  private final val XP2 = 0x85ebca77
  private final val XP3 = 0xc2b2ae3d
  private final val XP4 = 0x27d4eb2f
  private final val XP5 = 0x165667b1

  def xxHash32(data: Array[Byte]): Long = {
    val n = data.length
    var idx = 0
    var acc =
      if (n >= 16) {
        var s1 = XP1 + XP2
        var s2 = XP2
        var s3 = 0
        var s4 = -XP1
        while (idx <= n - 16) {
          s1 = java.lang.Integer.rotateLeft(
            s1 + Platform.getInt(data, Platform.BYTE_ARRAY_OFFSET + idx) * XP2, 13) * XP1
          s2 = java.lang.Integer.rotateLeft(
            s2 + Platform.getInt(data, Platform.BYTE_ARRAY_OFFSET + idx + 4) * XP2, 13) * XP1
          s3 = java.lang.Integer.rotateLeft(
            s3 + Platform.getInt(data, Platform.BYTE_ARRAY_OFFSET + idx + 8) * XP2, 13) * XP1
          s4 = java.lang.Integer.rotateLeft(
            s4 + Platform.getInt(data, Platform.BYTE_ARRAY_OFFSET + idx + 12) * XP2, 13) * XP1
          idx += 16
        }
        java.lang.Integer.rotateLeft(s1, 1) + java.lang.Integer.rotateLeft(s2, 7) +
          java.lang.Integer.rotateLeft(s3, 12) + java.lang.Integer.rotateLeft(s4, 18)
      } else XP5
    acc += n
    while (idx <= n - 4) {
      acc = java.lang.Integer.rotateLeft(
        acc + Platform.getInt(data, Platform.BYTE_ARRAY_OFFSET + idx) * XP3, 17) * XP4
      idx += 4
    }
    while (idx < n) {
      acc = java.lang.Integer.rotateLeft(acc + (data(idx) & 0xff) * XP5, 11) * XP1
      idx += 1
    }
    acc ^= acc >>> 15
    acc *= XP2
    acc ^= acc >>> 13
    acc *= XP3
    acc ^= acc >>> 16
    acc & 0xffffffffL
  }

  def xxHash32(x: Long): Long = xxHash32(leBytes(x))

  // ---- halfMD5: first 8 digest bytes, big-endian ---------------------
  def halfMd5(data: Array[Byte]): Long = {
    val d = digest("MD5", data)
    var r = 0L
    var i = 0
    while (i < 8) { r = (r << 8) | (d(i) & 0xffL); i += 1 }
    r
  }

  def halfMd5(x: Long): Long = halfMd5(leBytes(x))

  // ---- intHash64: CH's integer avalanche (== fmix64) -----------------
  def intHash64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  def javaHash(s: UTF8String): Int = s.toString.hashCode

  private val digests = ThreadLocal.withInitial[java.util.HashMap[String, MessageDigest]](
    () => new java.util.HashMap[String, MessageDigest]())

  def digest(jcaName: String, data: Array[Byte]): Array[Byte] = {
    val m = digests.get()
    var d = m.get(jcaName)
    if (d == null) { d = MessageDigest.getInstance(jcaName); m.put(jcaName, d) }
    d.reset()
    d.digest(data)
  }

  private def leBytes(x: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    Platform.putLong(b, Platform.BYTE_ARRAY_OFFSET, x)
    b
  }
}
