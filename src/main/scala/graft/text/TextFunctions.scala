package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Arg, Kernel}

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. Everything
  * here is composed from built-in Catalyst expressions (split / higher-order
  * functions / xxhash64) so it stays inside whole-stage codegen — no Scala
  * UDF in the per-row hot path, which is what makes a 100 TB document sweep
  * CPU-bound instead of serialization-bound.
  */
object TextFunctions {

  /** SQL names of the text primitives, among them
    * `token_set_count(arr, array('a',...), lowercase)`: the stopword-hit
    * counter behind [[qualityFeatures]] and [[langId]]. Each is a
    * [[Kernel]] over one of the kernel methods at the end of this object.
    */
  val functions = graft.functions.FunctionTable.define(this) { f =>
    f("token_set_count") { es =>
      require(es.length == 3, "usage: token_set_count(arr, array('w',...), lowercase)")
      val words = es(1) match {
        case CreateArray(items, _) => items.map {
          case Literal(s: UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            s"token_set_count: word list must be string literals, got $other")
        }
        case other => throw new IllegalArgumentException(
          s"token_set_count: second arg must be an array literal, got $other")
      }
      val lc = es(2) match {
        case Literal(b: Boolean, BooleanType) => b
        case other => throw new IllegalArgumentException(
          s"token_set_count: lowercase flag must be a boolean literal, got $other")
      }
      val set = new java.util.HashSet[UTF8String](words.length * 2)
      words.foreach(w => set.add(UTF8String.fromString(if (lc) w.toLowerCase else w)))
      Kernel.of(this, "tokenSetHits", "token_set_count", IntegerType, es.take(1),
        Seq(Arg.ArrayOf(Arg.Str)), Seq(set, lc), returnsNull = true)
    }
    f("char_set_count") { es =>
      require(es.length == 2, "usage: char_set_count(text, array('字',...))")
      val chars = es(1) match {
        case CreateArray(items, _) => items.map {
          case Literal(s: UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            s"char_set_count: char list must be string literals, got $other")
        }
        case other => throw new IllegalArgumentException(
          s"char_set_count: second arg must be an array literal, got $other")
      }
      require(chars.nonEmpty && chars.forall(_.length == 1),
        s"char_set_count: need single BMP characters, got $chars")
      // ASCII sets (the punct/digit counters — the hot quality projection)
      // count on the raw UTF-8 bytes: an ASCII char is a single byte, and
      // multi-byte sequences use only bytes >= 0x80, so a byte compare
      // below 128 is exact — no per-row String allocation. Non-ASCII sets
      // (the zh marker chars) keep the decoded-char path.
      if (chars.forall(_.charAt(0) < 128)) {
        val ascii = new java.util.BitSet(128)
        chars.foreach(c => ascii.set(c.charAt(0)))
        Kernel.of(this, "charSetHitsAscii", "char_set_count", IntegerType, es.take(1),
          Seq(Arg.Str), Seq(ascii), returnsNull = true)
      } else {
        val set = new java.util.HashSet[Character](chars.length * 2)
        chars.foreach(c => set.add(c.charAt(0)))
        Kernel.of(this, "charSetHits", "char_set_count", IntegerType, es.take(1),
          Seq(Arg.Str), Seq(set), returnsNull = true)
      }
    }
    f("shingles_n") { es =>
      val n = es(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"shingles_n: n must be an integer literal, got $other")
      }
      require(n >= 1, s"shingles_n: n must be positive, got $n")
      Kernel.of(this, "shinglesN", "shingles_n", ArrayType(StringType, containsNull = false),
        es.take(1), Seq(Arg.ArrayOf(Arg.Str)), Seq(n), returnsNull = true)
    }
    f("compression_ratio") { es =>
      Kernel.of(this, "deflateRatio", "compression_ratio", DoubleType, es, Seq(Arg.Str))
    }
    // the declared element type is the input's StringType, collation
    // included, and the ICU case-mapping flag is read here, at planning
    for (lowercase <- Seq(false, true)) {
      val name = if (lowercase) "ws_tokens_lower" else "ws_tokens"
      f(name) { es =>
        val st = es.headOption.map(_.dataType) match {
          case Some(s: StringType) => s
          case _ => StringType
        }
        val out = ArrayType(st, containsNull = false)
        if (!lowercase) Kernel.of(this, "wsTokens", name, out, es, Seq(Arg.Str))
        else Kernel.of(this, "wsTokensLower", name, out, es, Seq(Arg.Str),
          Seq(st.collationId, org.apache.spark.sql.internal.SQLConf.get.getConf(
            org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)))
      }
    }
    f("ws_token_count") { es =>
      Kernel.of(this, "wsTokenCount", "ws_token_count", IntegerType, es, Seq(Arg.Str))
    }
  }

  /** Deflate-based compression ratio (compressed/raw bytes) — the classic
    * boilerplate/repetition quality signal (CCNet-family pipelines drop
    * pages that compress too well). Empty text → 1.0. */
  def compressionRatio(text: Column): Column =
    call_function("compression_ratio", text)

  private[text] def tokenSetCount(arr: Column, words: Seq[String], lowercase: Boolean): Column =
    call_function("token_set_count", arr, array(words.map(lit): _*), lit(lowercase))

  private[text] def charSetCount(text: Column, chars: Seq[String]): Column =
    call_function("char_set_count", text, array(chars.map(lit): _*))

  /** Whitespace tokens, empties dropped — byte-identical to
    * `filter(split(text, "\\s+"), t => t =!= "")` (the declared-oracle
    * semantics: maximal runs of non-`[ \t\n\x0B\f\r]` bytes), via the
    * one-pass kernel [[wsTokens]] (SQL `ws_tokens`; requires
    * `ChCompat.register` or [[graft.GraftExtensions]] on the session).
    * The HOF form ran interpreted — a regex split (String/array churn)
    * plus a per-element lambda dispatch per row — and was the dominant
    * allocation source of every text query's hot projection
    * (q31/q32/q34/q37/q39); the primitive does one byte scan and wraps
    * token slices of a single buffer.
    */
  def tokens(text: Column): Column = call_function("ws_tokens", text)

  /** Lowercased whitespace tokens — byte-identical to
    * `transform(tokens(text), t => lower(t))` (per-token
    * UTF8String.toLowerCase, exactly what the interpreted transform+Lower
    * chain computed), in the same single pass. The langid pipelines'
    * `ltoks` column.
    */
  def lowerTokens(text: Column): Column = call_function("ws_tokens_lower", text)

  /** BPE-ish subword-ish tokens: letter runs, digit runs, single punctuation
    * marks — the usual pre-tokenizer regex shape.
    */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Token count without materializing the array — one byte scan, zero
    * allocation (equals `size(tokens(text))` by construction). Cheap
    * enough to run BELOW a spread exchange as a pre-filter, so rows that
    * fail a length gate never shuffle (guide §2.3).
    */
  def tokenCount(text: Column): Column = call_function("ws_token_count", text)

  /** n-token shingles joined by single spaces (for MinHash / Jaccard),
    * via the one-pass kernel [[shinglesN]] (the HOF transform-of-slice form
    * evaluated interpreted with a per-shingle array allocation). Returns
    * an empty array for documents shorter than n tokens (mirroring the
    * DuckDB oracles' empty generate_series). Requires
    * `ChCompat.register` (or [[graft.GraftExtensions]]) on the session.
    */
  def shingles(toks: Column, n: Int): Column =
    call_function("shingles_n", toks, lit(n))

  /** 64-bit doc fingerprint from a materialized token-array column: min over
    * shingle hashes (a 1-perm MinHash — stable under small edits, unlike a
    * whole-text hash).
    */
  def fingerprint64FromTokens(toks: Column, shingleSize: Int = 3): Column =
    array_min(transform(shingles(toks, shingleSize), sh => xxhash64(sh)))

  /** Convenience one-shot form — fine for ad-hoc use; pipelines should
    * materialize tokens first (see [[shingles]]).
    */
  def fingerprint64(text: Column, shingleSize: Int = 3): Column =
    fingerprint64FromTokens(tokens(text), shingleSize)

  /** Dedup-grade canonical text form: lowercase, punctuation/symbols to
    * spaces (Unicode letter/digit classes, so accents and non-Latin
    * scripts survive), whitespace collapsed, trimmed. Case and spacing
    * differences are not content differences in a training corpus — hash
    * THIS form for exact dedup, shingle it for near-dup. Pure Catalyst
    * (lower + regexp_replace), codegen'd, no UDF.
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{Nd}\\s]+", " "), "\\s+", " "))

  /** PII-style redaction for pre-training scrubbing: emails, URLs, then
    * long digit runs (7+, phone/account-shaped) replaced with typed
    * sentinels. Email before URL (addresses embed dots, not schemes),
    * URL before digits (URLs may embed long numbers). Pure Catalyst.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "https?://[^\\s]+", "<URL>"),
      "[0-9]{7,}", "<NUM>")

  // ---- quality scoring ----------------------------------------------------

  /** Java regex `\p{Punct}` (POSIX punct, ASCII-only without
    * UNICODE_CHARACTER_CLASS): `!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~` — spelled
    * out so [[qualityFeaturesFromTokens]]' char_set_count counts exactly what
    * the regex class matched.
    */
  private val PunctChars: Seq[String] =
    """!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~""".map(_.toString)

  private val defaultStopwords = Seq(
    "the", "a", "an", "of", "to", "in", "and", "or", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that")

  /** Per-document quality features as a struct column. All counts are exact
    * integers; ratios are single double divisions (deterministic).
    */
  def qualityFeatures(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    qualityFeaturesFromTokens(tokens(text), text, stopwords)

  /** As [[qualityFeatures]], from a MATERIALIZED token-array column —
    * prefer this in pipelines that project several features: the lambda
    * subtrees are interpreted (no CSE), so an inline `tokens(text)` would
    * re-split once per projected expression (see [[shingles]]' note).
    *
    * Null-text note (r14 ADVICE): punct_cnt/digit_cnt come from
    * `char_set_count`, which returns NULL on null text, while the r13
    * `size(regexp_extract_all(...))` form returned -1 under legacy
    * sizeOfNull — a difference only visible on rows with NULL text, which
    * the declared corpus (and every gated query) does not contain; the
    * downstream quality gates drop null-text rows under either convention.
    */
  def qualityFeaturesFromTokens(
      toks: Column, text: Column,
      stopwords: Seq[String] = defaultStopwords): Column = {
    val nTok = size(toks)
    val nChar = length(text)
    // hash-set expression, not a filter lambda: higher-order functions
    // evaluate interpreted with a per-element linear array_contains scan;
    // token_set_count is one primitive loop + O(1) set probes per token
    val stopCnt = tokenSetCount(toks, stopwords, lowercase = true)
    // one-pass char-set counters, not size(regexp_extract_all(...)): the
    // regex form materializes an array of one-char strings per row just to
    // count it, in the hottest projection of the text family (q32/q39/
    // q62/q104). [\p{Punct}] is Java's FIXED ASCII punct class and [0-9]
    // ten digits — both exactly a char_set_count over single BMP chars, so
    // counts (and the hash gate) are unchanged.
    val punctCnt = charSetCount(text, PunctChars)
    val digitCnt = charSetCount(text, "0123456789".map(_.toString))
    val uniqTok = size(array_distinct(toks))
    struct(
      nChar.as("n_chars"),
      nTok.as("n_tokens"),
      uniqTok.as("n_uniq_tokens"),
      stopCnt.as("stopword_cnt"),
      punctCnt.as("punct_cnt"),
      digitCnt.as("digit_cnt"),
      (stopCnt.cast(DoubleType) / nTok).as("stopword_ratio"),
      (uniqTok.cast(DoubleType) / nTok).as("uniq_ratio"),
      (nChar.cast(DoubleType) / nTok).as("avg_token_len"))
  }

  /** Composite quality score in [0,1] — the usual heuristic gate for
    * pretraining corpora: enough tokens, sane word length, some stopwords,
    * not too repetitive. Weights are arbitrary but fixed; deterministic.
    */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(tokens(text), text)

  /** As [[qualityScore]], from a materialized token-array column. */
  def qualityScoreFromTokens(toks: Column, text: Column): Column = {
    val f = qualityFeaturesFromTokens(toks, text)
    val lenOk = when(f("n_tokens").between(5, 10000), 1.0).otherwise(0.0)
    val stopOk = when(f("stopword_ratio") > 0.01, 1.0).otherwise(0.0)
    val repeatOk = when(f("uniq_ratio") > 0.2, 1.0).otherwise(0.0)
    val wordOk = when(f("avg_token_len").between(2.0, 12.0), 1.0).otherwise(0.0)
    (lenOk * 0.4 + stopOk * 0.2 + repeatOk * 0.2 + wordOk * 0.2)
  }

  // ---- language ID --------------------------------------------------------

  /** Tiny per-language stopword lists for the n-gram/stopword-vote heuristic.
    * Real pipelines use fastText-style models; the *Spark shape* (score per
    * language from token hits, argmax) is what matters here.
    */
  private val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "en", "un", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "un", "une", "dans", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "这", "他"))

  /** Stopword-vote language ID: counts hits per language, returns the argmax
    * (ties broken by list order, 'und' = undetermined when no hits). CJK text
    * rarely whitespace-tokenizes, so zh also scores on character hits.
    */
  def langId(text: Column): Column =
    langIdFromTokens(lowerTokens(text), text)

  /** As [[langId]], from a *materialized* lowercased token-array column —
    * prefer this in pipelines: the four non-CJK language scores each run a
    * filter lambda over the token array, and higher-order functions are
    * interpreted, so an inline `transform(tokens(text), lower)` argument
    * would re-split and re-lower the text once per language list (the same
    * re-evaluation trap as minhashSignature's shingles).
    */
  def langIdFromTokens(ltoks: Column, text: Column): Column =
    langIdFromBest(langBestFromTokens(ltoks, text))

  /** The argmax struct `(hits, lang)` behind [[langIdFromTokens]] — the
    * expensive half (4 token-set passes + 1 char-set pass + the struct
    * greatest). Pipelines that can should MATERIALIZE this as its own
    * projected column and derive the verdict with [[langIdFromBest]]:
    * the verdict references the struct twice (condition + branch), and
    * conditional-branch subtrees are not common-subexpression-eliminated,
    * so an inline composition evaluates this whole tree up to twice per
    * row (CollapseProject keeps a multi-referenced non-cheap projection
    * un-inlined — the same trap and the same remedy as `toks`/`ltoks`).
    */
  def langBestFromTokens(ltoks: Column, text: Column): Column = {
    val scores = langStopwords.map { case (lang, words) =>
      val hits =
        if (lang == "zh")
          // ONE pass over the string counting CJK marker chars — the
          // replace-shrinkage chain this replaces re-scanned (and
          // re-allocated) the text once per marker char; occurrence
          // totals are identical because the markers are distinct
          // single BMP characters
          charSetCount(text, words)
        else tokenSetCount(ltoks, words, lowercase = false)
      struct(hits.as("hits"), lit(lang).as("lang"))
    }
    greatest(scores: _*) // struct compare: hits first, then lang
  }

  /** Verdict over a (preferably materialized) [[langBestFromTokens]]
    * column: the argmax language, 'und' when nothing hit.
    */
  def langIdFromBest(best: Column): Column =
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))

  // ---- kernels: the per-row loops the table's Kernel entries call -------

  /** Count of array elements present in a fixed word set — the hot inner
    * loop of stopword-based quality scoring and language ID: one
    * `java.util.HashSet` probe per token instead of an interpreted lambda
    * + linear `array_contains` scan. Exactly mirrors
    * `size(filter(arr, t => array_contains(words, [lower](t))))` on
    * non-null input (null elements skipped), so the DuckDB oracles for
    * q32/q37/q39 hold unchanged. `set` holds the (lowercased) words.
    */
  def tokenSetHits(a: ArrayData, set: java.util.HashSet[UTF8String], lowercase: Boolean): Int = {
    var cnt = 0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (!a.isNullAt(i)) {
        val t = a.getUTF8String(i)
        if (set.contains(if (lowercase) t.toLowerCase else t)) cnt += 1
      }
      i += 1
    }
    cnt
  }

  /** Total occurrences of a fixed set of single ASCII characters in a
    * string, in ONE pass over its UTF-8 bytes — the punct/digit counters.
    * Replaces `size(regexp_extract_all(...))`; see [[charSetHits]].
    */
  def charSetHitsAscii(u: UTF8String, ascii: java.util.BitSet): Int = {
    var cnt = 0
    val n = u.numBytes()
    var i = 0
    while (i < n) {
      val b = u.getByte(i)
      if (b >= 0 && ascii.get(b)) cnt += 1
      i += 1
    }
    cnt
  }

  /** Total occurrences of a fixed set of single BMP characters in a
    * string, in ONE pass — the zh marker-char counter of [[langId]].
    * Replaces the replace-shrinkage chain (`length(text) -
    * length(replace(text, c, ''))` summed per marker), which re-scanned
    * and re-allocated the whole text once per marker char; totals are
    * identical because the markers are distinct single characters, so
    * q37's oracle holds unchanged.
    */
  def charSetHits(u: UTF8String, set: java.util.HashSet[Character]): Int = {
    var cnt = 0
    val s = u.toString
    var i = 0
    while (i < s.length) {
      if (set.contains(s.charAt(i))) cnt += 1
      i += 1
    }
    cnt
  }

  private val space = UTF8String.fromString(" ")
  private val emptyArray = new GenericArrayData(Array.empty[Any])

  /** All n-token shingles of a string array, space-joined, in one pass —
    * byte-identical to `transform(sequence(0, len-n), i => concat_ws(" ",
    * slice(toks, i+1, n)))` for len ≥ n (UTF8String.concatWs skips nulls
    * exactly like concat_ws), and an empty array for shorter inputs where
    * the HOF form's descending `sequence` was never well-defined.
    */
  def shinglesN(a: ArrayData, n: Int): ArrayData = {
    val len = a.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) {
        window(j) = if (a.isNullAt(i + j)) null else a.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** One-pass whitespace tokenizer — the primitive form of
    * `filter(split(text, "\\s+"), t => t =!= "")`.
    *
    * Byte-identical by construction: Java's `\s` is exactly
    * `[ \t\n\x0B\f\r]` — six ASCII bytes, and UTF-8 continuation/lead
    * bytes are ≥ 0x80, so maximal runs of non-whitespace BYTES are maximal
    * runs of non-whitespace CHARACTERS; `split(_, -1)` can only produce
    * empty strings at the boundaries, which the `=!= ""` filter drops, so
    * the non-empty results are exactly those runs.
    *
    * Why it exists: the HOF chain evaluates interpreted — a regex split
    * (Pattern machinery, a String[] and per-element UTF8String round
    * trips) plus one lambda dispatch per element — and was the dominant
    * per-row allocation source of the text family (q31/q32/q34/q37/q39's
    * shared front). This is one scan over the string's bytes and one
    * UTF8String wrapper per token over a single shared buffer.
    */
  def wsTokens(s: UTF8String): ArrayData = tokenize(s, lowercase = false, 0, useICU = false)

  /** [[wsTokens]] with each token lowercased — the primitive form of
    * `transform(filter(split(text, "\\s+"), t => t =!= ""), lower)`.
    * Lowercasing goes PER TOKEN through the SAME entry point as the `Lower`
    * expression (CollationSupport.Lower.exec with the input type's
    * collation and the session's ICU flag, both fixed at planning) — NOT
    * UTF8String.toLowerCase, whose per-codepoint mapping misses
    * context-sensitive cases (Greek final sigma: Σ word-finally must lower
    * to ς, not σ; caught by TextSpec's fuzz equivalence test).
    */
  def wsTokensLower(s: UTF8String, collationId: Int, useICU: Boolean): ArrayData =
    tokenize(s, lowercase = true, collationId, useICU)

  private def tokenize(s: UTF8String, lowercase: Boolean, collationId: Int,
      useICU: Boolean): ArrayData = {
    val bytes = s.getBytes // zero-copy when the string owns its buffer
    val n = bytes.length
    // pass 1: count tokens (exact-size output array, no buffer growth)
    var cnt = 0
    var i = 0
    var inTok = false
    while (i < n) {
      val ws = isWs(bytes(i))
      if (!ws && !inTok) cnt += 1
      inTok = !ws
      i += 1
    }
    if (cnt == 0) return emptyArray
    // pass 2: fill
    val out = new Array[Any](cnt)
    var k = 0
    i = 0
    while (i < n) {
      if (!isWs(bytes(i))) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        val t = UTF8String.fromBytes(bytes, start, i - start)
        out(k) =
          if (lowercase)
            org.apache.spark.sql.catalyst.util.CollationSupport.Lower
              .exec(t, collationId, useICU)
          else t
        k += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  /** Whitespace-token count without materializing the array — one byte
    * scan, zero allocation; equals `size(`[[wsTokens]]`)`. Cheap enough
    * to gate rows below a spread exchange.
    */
  def wsTokenCount(s: UTF8String): Int = {
    val bytes = s.getBytes
    var cnt = 0
    var i = 0
    var inTok = false
    while (i < bytes.length) {
      val ws = isWs(bytes(i))
      if (!ws && !inTok) cnt += 1
      inTok = !ws
      i += 1
    }
    cnt
  }

  // one native Deflater per thread (reset between rows) — a fresh
  // init/end per row is measurable JNI churn on a corpus sweep
  private val deflaters: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() => new java.util.zip.Deflater(6))

  /** compressed-bytes / raw-bytes under java.util.zip Deflater level 6 —
    * deterministic for a given input (the JDK's zlib), per-row scalar.
    * Highly repetitive text compresses far below typical prose (~0.4),
    * which makes low ratios a strong boilerplate signal. Empty text → 1.0.
    */
  def deflateRatio(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.isEmpty) return 1.0
    val d = deflaters.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    val buf = new Array[Byte](math.min(raw.length + 64, 1 << 16))
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total.toDouble / raw.length
  }
}
