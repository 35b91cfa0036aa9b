package graft.functions

import java.nio.charset.{CharsetDecoder, CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject, LengthOfJsonArray, Literal, RegExpReplace}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
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
    f("extractTextFromHTML") { es => HtmlTextExpr(es.head) }
    f("extractAllGroupsHorizontal") { es =>
      ExtractGroupsExpr(es(0), es(1), horizontal = true)
    }
    f("extractAllGroupsVertical") { es =>
      ExtractGroupsExpr(es(0), es(1), horizontal = false)
    }
    f("extractAllGroups") { es => ExtractGroupsExpr(es(0), es(1), horizontal = false) }
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD"))
      f(s"normalizeUTF8$form") { es => Utf8Expr(es.head, form) }
    f("isValidUTF8") { es => Utf8Expr(es.head, "valid") }
    f("toValidUTF8") { es => Utf8Expr(es.head, "repair") }
    f("normalizeQuery") { es => normalizeQueryExpr(es.head) }
    f("normalizedQueryHash") { es =>
      ChHashExpr(org.apache.spark.sql.catalyst.expressions.Cast(
        normalizeQueryExpr(es.head), BinaryType), ChHashAlgo.Sip64)
    }
    f("JSONExtractArrayRaw") { es =>
      JsonArrayRawExpr(
        if (es.length >= 2) GetJsonObject(es(0),
          org.apache.spark.sql.catalyst.expressions.Concat(
            Seq(Literal("$."), es(1))))
        else es(0))
    }
    f("JSONArrayLength") { es =>
      LengthOfJsonArray(
        if (es.length >= 2) GetJsonObject(es(0),
          org.apache.spark.sql.catalyst.expressions.Concat(
            Seq(Literal("$."), es(1))))
        else es(0))
    }
  }

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
}

case class HtmlTextExpr(child: Expression)
  extends Expression with UnaryLike[Expression] with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else UTF8String.fromString(
      HtmlText.stripHtml(v.asInstanceOf[UTF8String].toString))
  }

  override protected def withNewChildInternal(c: Expression): HtmlTextExpr =
    copy(child = c)
  override def prettyName: String = "extractTextFromHTML"
}

/** regex group capture: horizontal = array per GROUP (all its matches),
  * vertical = array per MATCH (its groups). */
case class ExtractGroupsExpr(left: Expression, right: Expression, horizontal: Boolean)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType =
    ArrayType(ArrayType(StringType, containsNull = false), containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable

  @transient private lazy val pattern = right match {
    case lit if lit.foldable =>
      java.util.regex.Pattern.compile(String.valueOf(lit.eval()))
    case _ => throw new IllegalArgumentException(
      s"$prettyName: the pattern must be a string literal")
  }

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) return null
    val m = pattern.matcher(v.asInstanceOf[UTF8String].toString)
    val g = pattern.matcher("").groupCount()
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    while (m.find()) {
      rows += (1 to m.groupCount()).map(i => Option(m.group(i)).getOrElse(""))
    }
    val out: Seq[Seq[String]] =
      if (horizontal) {
        if (rows.isEmpty) Seq.fill(g)(Seq.empty)
        else rows.head.indices.map(i => rows.map(_(i)).toSeq)
      } else rows.toSeq
    new GenericArrayData(out.map(r =>
      new GenericArrayData(r.map(UTF8String.fromString).toArray[Any])).toArray[Any])
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): ExtractGroupsExpr =
    copy(left = cs(0), right = cs(1))
  override def prettyName: String =
    if (horizontal) "extractAllGroupsHorizontal" else "extractAllGroupsVertical"
}

/** Unicode normalization forms + UTF-8 validity/repair. */
case class Utf8Expr(child: Expression, mode: String)
  extends Expression with UnaryLike[Expression] with CodegenFallback {

  override def dataType: DataType = if (mode == "valid") BooleanType else StringType
  override def nullable: Boolean = child.nullable

  private def decoder(action: CodingErrorAction): CharsetDecoder =
    StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(action).onUnmappableCharacter(action)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val u = v.asInstanceOf[UTF8String]
    mode match {
      case "valid" =>
        try {
          decoder(CodingErrorAction.REPORT)
            .decode(java.nio.ByteBuffer.wrap(u.getBytes)): Unit
          true
        } catch { case _: java.nio.charset.CharacterCodingException => false }
      case "repair" =>
        val repaired = decoder(CodingErrorAction.REPLACE)
          .replaceWith("�")
          .decode(java.nio.ByteBuffer.wrap(u.getBytes)).toString
        UTF8String.fromString(repaired)
      case form =>
        UTF8String.fromString(java.text.Normalizer.normalize(
          u.toString, java.text.Normalizer.Form.valueOf(form)))
    }
  }

  override protected def withNewChildInternal(c: Expression): Utf8Expr =
    copy(child = c)
  override def prettyName: String = mode match {
    case "valid" => "isValidUTF8"
    case "repair" => "toValidUTF8"
    case form => s"normalizeUTF8$form"
  }
}

/** top-level elements of a JSON array as raw JSON strings. */
case class JsonArrayRawExpr(child: Expression)
  extends Expression with UnaryLike[Expression] with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val s = v.asInstanceOf[UTF8String].toString.trim
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

  override protected def withNewChildInternal(c: Expression): JsonArrayRawExpr =
    copy(child = c)
  override def prettyName: String = "JSONExtractArrayRaw"
}
