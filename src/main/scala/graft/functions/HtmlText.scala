package graft.functions

import java.nio.charset.{CharsetDecoder, CodingErrorAction, StandardCharsets}
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject, LengthOfJsonArray, Literal, RegExpReplace}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** CH's HTML/text-hygiene functions — also the raw-web half of an LLM
  * data pipeline (HTML → text before language-ID / quality / dedup):
  *
  *  - `extractTextFromHTML` — CH's contract: script/style bodies,
  *    comments and CDATA are removed (CDATA content is kept verbatim),
  *    tags drop, consecutive whitespace collapses to one space, ends
  *    trimmed; entities are NOT decoded (CH doesn't either).
  *  - `extractAllGroupsHorizontal` / `Vertical` — regex group capture
  *    as array-of-arrays, grouped per group / per match.
  *  - `normalizeUTF8NFC/NFD/NFKC/NFKD`, `isValidUTF8`, `toValidUTF8` —
  *    Unicode normalization and UTF-8 repair (U+FFFD on bad bytes).
  *  - `normalizeQuery` / `normalizedQueryHash` — literal-masking query
  *    fingerprints (placeholders for numbers/strings, sipHash64 of the
  *    normalized text).
  *
  * All per-row scalar expressions; the HTML scan is a single pass.
  */
object HtmlText {

  val functions = FunctionTable.define(this) { f =>
    f("extractTextFromHTML") { es => unary("extractTextFromHtml", "extractTextFromHTML", StringType, es) }
    // regex group capture: horizontal = array per GROUP (all its matches),
    // vertical = array per MATCH (its groups); the pattern is a literal
    for ((sqlName, horizontal) <- Seq("extractAllGroupsHorizontal" -> true,
        "extractAllGroupsVertical" -> false, "extractAllGroups" -> false))
      f(sqlName) { es =>
        val name = if (horizontal) "extractAllGroupsHorizontal" else "extractAllGroupsVertical"
        require(es.length == 2 && es(1).foldable, s"$name: the pattern must be a string literal")
        Kernel.of(this, if (horizontal) "extractGroupsHorizontal" else "extractGroupsVertical",
          name, ArrayType(ArrayType(StringType, containsNull = false), containsNull = false),
          es, Seq(Arg.Str, Arg.Str))
      }
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD"))
      f(s"normalizeUTF8$form") { es => unary(s"normalize$form", s"normalizeUTF8$form", StringType, es) }
    f("isValidUTF8") { es => unary("isValidUtf8", "isValidUTF8", BooleanType, es) }
    f("toValidUTF8") { es => unary("toValidUtf8", "toValidUTF8", StringType, es) }
    f("normalizeQuery") { es => normalizeQueryExpr(es.head) }
    f("normalizedQueryHash") { es =>
      Hashes.kernel("sipHash64", Seq(org.apache.spark.sql.catalyst.expressions.Cast(
        normalizeQueryExpr(es.head), BinaryType)))
    }
    // top-level elements of a JSON array as raw JSON strings
    f("JSONExtractArrayRaw") { es =>
      Kernel.of(this, "jsonArrayRaw", "JSONExtractArrayRaw",
        ArrayType(StringType, containsNull = false), Seq(
          if (es.length >= 2) GetJsonObject(es(0),
            org.apache.spark.sql.catalyst.expressions.Concat(
              Seq(Literal("$."), es(1))))
          else es(0)), Seq(Arg.Str), returnsNull = true)
    }
    f("JSONArrayLength") { es =>
      LengthOfJsonArray(
        if (es.length >= 2) GetJsonObject(es(0),
          org.apache.spark.sql.catalyst.expressions.Concat(
            Seq(Literal("$."), es(1))))
        else es(0))
    }
  }

  private def unary(method: String, name: String, out: DataType, es: Seq[Expression]): Kernel =
    Kernel.of(this, method, name, out, es, Seq(Arg.Str))

  /** strings/numbers → `?`; CH also collapses `IN (...)` lists — the
    * placeholder form is what matters for fingerprint grouping. */
  private def normalizeQueryExpr(e: Expression): Expression = {
    val noStrings = RegExpReplace(e, Literal("'(?:[^'\\\\]|\\\\.)*'"), Literal("?"))
    RegExpReplace(noStrings, Literal("\\b\\d+(?:\\.\\d+)?\\b"), Literal("?"))
  }

  /** case-insensitive indexOf without lowercasing the document (a full
    * toLowerCase per tag would be O(n²) on real pages, and can even shift
    * indices — some code points change length under lowercasing). */
  private def indexOfIgnoreCase(html: String, needle: String, from: Int): Int = {
    var i = from
    val last = html.length - needle.length
    while (i <= last) {
      if (html.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  private[functions] def stripHtml(html: String): String = {
    val sb = new StringBuilder(html.length)
    var i = 0
    val n = html.length
    def lookingAt(s: String): Boolean = html.regionMatches(true, i, s, 0, s.length)
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (lookingAt("<!--")) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (lookingAt("<![CDATA[")) {
          val e = html.indexOf("]]>", i + 9)
          val stop = if (e < 0) n else e
          sb.append(html.substring(i + 9, stop)) // CDATA content verbatim
          i = if (e < 0) n else e + 3
        } else if (lookingAt("<script") || lookingAt("<style")) {
          val closing = if (lookingAt("<script")) "</script" else "</style"
          val e = indexOfIgnoreCase(html, closing, i + 1)
          sb.append(' ') // the removed block is a whitespace boundary
          if (e < 0) i = n
          else {
            val gt = html.indexOf('>', e)
            i = if (gt < 0) n else gt + 1
          }
        } else {
          val e = html.indexOf('>', i + 1)
          if (e < 0) i = n
          else {
            sb.append(' ') // a tag is a whitespace boundary
            i = e + 1
          }
        }
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString.replaceAll("\\s+", " ").trim
  }

  // ---- kernel methods -------------------------------------------------

  def extractTextFromHtml(v: UTF8String): UTF8String =
    UTF8String.fromString(stripHtml(v.toString))

  // compiled once per distinct pattern text per JVM, not per row (the
  // key is copied: a row's UTF8String may point into a reused buffer)
  private val patterns = new java.util.concurrent.ConcurrentHashMap[UTF8String, Pattern]()

  private def compiled(p: UTF8String): Pattern = {
    val hit = patterns.get(p)
    if (hit != null) hit
    else {
      val c = Pattern.compile(p.toString)
      patterns.put(p.clone(), c)
      c
    }
  }

  private def matchRows(v: UTF8String, p: Pattern): Seq[Seq[String]] = {
    val m = p.matcher(v.toString)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    while (m.find()) {
      rows += (1 to m.groupCount()).map(i => Option(m.group(i)).getOrElse(""))
    }
    rows.toSeq
  }

  private def nested(out: Seq[Seq[String]]): ArrayData =
    new GenericArrayData(out.map(r =>
      new GenericArrayData(r.map(UTF8String.fromString).toArray[Any])).toArray[Any])

  def extractGroupsHorizontal(v: UTF8String, pattern: UTF8String): ArrayData = {
    val p = compiled(pattern)
    val rows = matchRows(v, p)
    val g = p.matcher("").groupCount()
    nested(
      if (rows.isEmpty) Seq.fill(g)(Seq.empty)
      else rows.head.indices.map(i => rows.map(_(i))))
  }

  def extractGroupsVertical(v: UTF8String, pattern: UTF8String): ArrayData =
    nested(matchRows(v, compiled(pattern)))

  // Unicode normalization forms + UTF-8 validity/repair
  private def decoder(action: CodingErrorAction): CharsetDecoder =
    StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(action).onUnmappableCharacter(action)

  def isValidUtf8(u: UTF8String): Boolean =
    try {
      decoder(CodingErrorAction.REPORT)
        .decode(java.nio.ByteBuffer.wrap(u.getBytes)): Unit
      true
    } catch { case _: java.nio.charset.CharacterCodingException => false }

  def toValidUtf8(u: UTF8String): UTF8String =
    UTF8String.fromString(decoder(CodingErrorAction.REPLACE)
      .replaceWith("�")
      .decode(java.nio.ByteBuffer.wrap(u.getBytes)).toString)

  private def normalize(u: UTF8String, form: java.text.Normalizer.Form): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(u.toString, form))
  def normalizeNFC(u: UTF8String): UTF8String = normalize(u, java.text.Normalizer.Form.NFC)
  def normalizeNFD(u: UTF8String): UTF8String = normalize(u, java.text.Normalizer.Form.NFD)
  def normalizeNFKC(u: UTF8String): UTF8String = normalize(u, java.text.Normalizer.Form.NFKC)
  def normalizeNFKD(u: UTF8String): UTF8String = normalize(u, java.text.Normalizer.Form.NFKD)

  /** Top-level elements of a JSON array as raw JSON strings; NULL when
    * the text is not an array. */
  def jsonArrayRaw(v: UTF8String): ArrayData = {
    val s = v.toString.trim
    if (!s.startsWith("[") || !s.endsWith("]")) return null
    val body = s.substring(1, s.length - 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var inStr = false
    var esc = false
    var start = 0
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (esc) esc = false
      else if (inStr) {
        if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '[' | '{' => depth += 1
        case ']' | '}' => depth -= 1
        case ',' if depth == 0 =>
          out += body.substring(start, i).trim
          start = i + 1
        case _ => ()
      }
      i += 1
    }
    if (body.trim.nonEmpty) out += body.substring(start).trim
    new GenericArrayData(out.map(UTF8String.fromString).toArray[Any])
  }
}
