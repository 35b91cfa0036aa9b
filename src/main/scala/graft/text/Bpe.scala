package graft.text

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair encoding (Sennrich et al. 2016) — the real tokenizer behind
  * the corpus token counting that budget selection (q104) and packing
  * approximate with whitespace tokens.
  *
  * Training follows the trainers' actual structure (subword-nmt,
  * SentencePiece BPE): the corpus collapses to a WORD-FREQUENCY table
  * first, and the merge loop runs over that dictionary, not the corpus.
  * In Spark terms: one explode→groupBy exchange produces (word, count),
  * the top-`vocabCap` rows by (count, word) come to the driver (bounded
  * by construction, like the PQ codebook collect), and the greedy merge
  * loop is driver-side arithmetic over ≤ vocabCap entries — the corpus
  * is scanned exactly once no matter how many merges are learned.
  * Determinism: ties in pair frequency break lexicographically, and the
  * vocab cut breaks (count DESC, word) — identical merges on every run.
  *
  * Encoding is a scalar kernel over the learned merge ranks
  * (shipped as a plan literal): each word splits to
  * characters with a `</w>` end-of-word marker, then applicable merges
  * apply lowest-rank-first — the standard greedy BPE apply. A per-
  * partition word→pieces memo exploits the Zipf head (the same word
  * re-encodes from cache). Unseen characters stay as single-char
  * symbols — no out-of-vocabulary failure mode.
  */
object Bpe {

  /** One learned merge: `left + right → left+right`, applied in `rank`
    * order (0 = most frequent pair at train time).
    */
  final case class Merge(rank: Int, left: String, right: String)

  /** End-of-word marker symbol (Sennrich's `</w>`). */
  val EndOfWord = "</w>"

  private def toSymbols(word: String): Vector[String] = {
    if (word.isEmpty) Vector.empty
    else {
      // split by CODE POINT, not UTF-16 unit: a supplementary-plane char
      // must be ONE symbol, not two lone surrogates — both for textual
      // sanity and because the q177 DuckDB oracle splits by code point
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        b += word.substring(i, i + Character.charCount(cp))
        i += Character.charCount(cp)
      }
      val cs = b.result()
      cs.init :+ (cs.last + EndOfWord)
    }
  }

  /** Learn `numMerges` merges from the corpus' word-frequency table.
    * `vocabCap` bounds the driver-side dictionary (top words by
    * (count DESC, word ASC) — the Zipf head carries almost all pair
    * mass, which is why subword trainers cap their dicts the same way).
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      vocabCap: Int = 50000): Seq[Merge] = {
    require(numMerges >= 0 && vocabCap > 0)
    val words = docs
      .select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("w"))
      .limit(vocabCap)
      .collect()
      .map(r => (toSymbols(r.getString(0)), r.getLong(1)))

    val vocab = mutable.ArrayBuffer.from(words)
    val merges = mutable.ArrayBuffer.empty[Merge]
    var i = 0
    while (i < numMerges) {
      // weighted pair counts over the dictionary
      val pairs = mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          pairs.update(k, pairs.getOrElse(k, 0L) + cnt)
          j += 1
        }
      }
      if (pairs.isEmpty) return merges.toSeq
      // max by count, ties lexicographic by CODE POINT (== UTF-8 byte
      // order, the collation Spark's UTF8String sorts and DuckDB's
      // ORDER BY use — java.lang.String's UTF-16-unit order disagrees
      // for supplementary-plane vs U+E000..U+FFFF symbols, and the q177
      // oracle replays this very tie-break) — deterministic
      val (best, bestCnt) = pairs.min(new Ordering[((String, String), Long)] {
        def compare(p: ((String, String), Long),
            q: ((String, String), Long)): Int = {
          val byCnt = java.lang.Long.compare(q._2, p._2) // count DESC
          if (byCnt != 0) byCnt
          else {
            val byLeft = codePointCompare(p._1._1, q._1._1)
            if (byLeft != 0) byLeft else codePointCompare(p._1._2, q._1._2)
          }
        }
      })
      if (bestCnt <= 0) return merges.toSeq
      merges += Merge(i, best._1, best._2)
      val fused = best._1 + best._2
      // apply the merge through the dictionary
      var v = 0
      while (v < vocab.length) {
        val (syms, cnt) = vocab(v)
        if (syms.length >= 2) {
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
              out += fused; j += 2
            } else { out += syms(j); j += 1 }
          }
          vocab(v) = (out.result(), cnt)
        }
        v += 1
      }
      i += 1
    }
    merges.toSeq
  }

  /** `bpeEncode(text, mergesArrayLiteral)` — the merges argument must be
    * a foldable array<string> of "left right" pairs in rank order (what
    * [[encode]] passes).
    */
  val functions = graft.functions.FunctionTable.define(this) { f =>
    f("bpeEncode") { es =>
      require(es.length == 2, "usage: bpeEncode(text, merges)")
      require(es(1).foldable, "bpeEncode merges must be a literal array")
      val ranks = new java.util.HashMap[String, Integer]()
      es(1).eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          (0 until a.numElements()).foreach(i => ranks.put(a.getUTF8String(i).toString, i))
        case _ => ()
      }
      graft.functions.Kernel.of(this, "bpeEncode", "bpeEncode",
        ArrayType(StringType, containsNull = false), es.take(1),
        Seq(graft.functions.Arg.Str), Seq(BpeRanks(ranks)))
    }
  }

  /** Encode `text` (whitespace-split) into BPE pieces under `merges`.
    * Returns `array<string>` of pieces, `</w>`-marked at word ends.
    * Requires `ChCompat.register` (or [[graft.GraftExtensions]]) on the
    * session.
    */
  def encode(text: Column, merges: Seq[Merge]): Column =
    call_function("bpeEncode", text,
      lit(merges.map(m => s"${m.left} ${m.right}").toArray))

  /** `size(encode(...))` without materializing the pieces — the real
    * token counter for budget selection.
    */
  def tokenCount(text: Column, merges: Seq[Merge]): Column =
    size(encode(text, merges))

  /** Compare by Unicode CODE POINT (equivalently UTF-8 byte order for
    * valid strings) — the collation Spark and DuckDB sort strings with.
    */
  private[text] def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Scalar BPE encode: text → array of pieces under the merge ranks
    * (built once at planning; rank = position in the merge list).
    * Words repeat along the Zipf head, so a word→pieces memo per ranks
    * instance (one per task) makes the cost per DISTINCT word.
    */
  def bpeEncode(v: UTF8String, model: BpeRanks): ArrayData = {
    val words = v.toString.split("\\s+")
    val out = mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        var pieces = model.memo.get(w)
        if (pieces == null) {
          pieces = Bpe.applyMerges(w, model.ranks)
          if (model.memo.size < MemoCap) model.memo.put(w, pieces)
        }
        pieces.foreach(p => out += UTF8String.fromString(p))
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  // bounds the memo so an adversarial all-distinct corpus can't grow it
  // without limit (Zipf natural text stays far under)
  private final val MemoCap = 1 << 16

  /** Greedy BPE apply for one word's symbol sequence under a rank map. */
  private[text] def applyMerges(word: String,
      ranks: java.util.HashMap[String, Integer]): Vector[String] = {
    var syms = toSymbols(word)
    var done = syms.length < 2
    while (!done) {
      // find the lowest-rank adjacent pair present
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + " " + syms(j + 1))
        if (r != null && r < bestRank) { bestRank = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) done = true
      else {
        // fuse EVERY occurrence of that pair left-to-right (the standard
        // apply; a single merged rank can appear several times in a word)
        val a = syms(bestAt); val b = syms(bestAt + 1); val fused = a + b
        val out = Vector.newBuilder[String]
        var k = 0
        while (k < syms.length) {
          if (k < syms.length - 1 && syms(k) == a && syms(k + 1) == b) {
            out += fused; k += 2
          } else { out += syms(k); k += 1 }
        }
        syms = out.result()
        done = syms.length < 2
      }
    }
    syms
  }
}

/** Learned merge ranks ("left right" → rank), compared by content. The
  * memo is per deserialized instance, so each task fills its own.
  */
final case class BpeRanks(ranks: java.util.HashMap[String, Integer]) {
  @transient lazy val memo = new java.util.HashMap[String, Vector[String]](1 << 12)
}
