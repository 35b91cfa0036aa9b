package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Levenshtein}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse's string-distance function family: `editDistance` /
  * `levenshteinDistance`, `damerauLevenshteinDistance` (true DL, adjacent
  * transpositions over the full alphabet), `jaroSimilarity`,
  * `jaroWinklerSimilarity` (scaling 0.1, prefix ≤ 4), `byteHammingDistance`
  * (mismatches over the common prefix + the length difference),
  * `stringJaccardIndex` (character-set Jaccard), and the 4-gram measures
  * `ngramDistance` / `ngramSearch`.
  *
  * All per-row scalar expressions (fuzzy-dedup / record-linkage
  * primitives); editDistance rides Spark's codegen'd Levenshtein, the
  * rest are kernels over char arrays — O(|a|·|b|) worst case,
  * no state, fully distributed.
  */
object StringDistance {

  /** metric (SQL name = kernel method) → result type */
  private val metrics: Map[String, DataType] = Map(
    "damerauLevenshteinDistance" -> IntegerType,
    "jaroSimilarity" -> DoubleType, "jaroWinklerSimilarity" -> DoubleType,
    "byteHammingDistance" -> IntegerType, "stringJaccardIndex" -> DoubleType,
    "ngramDistance" -> DoubleType, "ngramSearch" -> DoubleType)

  val functions = FunctionTable.define(this) { f =>
    f("editDistance") { es => Levenshtein(es(0), es(1)) }
    f("levenshteinDistance") { es => Levenshtein(es(0), es(1)) }
    metrics.keys.foreach(name => f(name)(metric(name)))
  }

  private[functions] def metric(name: String)(es: Seq[Expression]): Kernel =
    Kernel.of(this, name, name, metrics(name), es, Seq(Arg.Str, Arg.Str))

  def edit_distance(a: Column, b: Column): Column = call_function("editDistance", a, b)
  def jaro_winkler(a: Column, b: Column): Column =
    call_function("jaroWinklerSimilarity", a, b)

  private[functions] def damerau(a: Array[Char], b: Array[Char]): Int = {
    // true Damerau-Levenshtein (Lowrance–Wagner): d[i][j] with the
    // last-seen-row/col bookkeeping for transpositions at any distance
    val inf = a.length + b.length
    val d = Array.ofDim[Int](a.length + 2, b.length + 2)
    d(0)(0) = inf
    for (i <- 0 to a.length) { d(i + 1)(0) = inf; d(i + 1)(1) = i }
    for (j <- 0 to b.length) { d(0)(j + 1) = inf; d(1)(j + 1) = j }
    val lastRow = scala.collection.mutable.HashMap.empty[Char, Int]
    for (i <- 1 to a.length) {
      var lastCol = 0
      for (j <- 1 to b.length) {
        val i1 = lastRow.getOrElse(b(j - 1), 0)
        val j1 = lastCol
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        if (cost == 0) lastCol = j
        d(i + 1)(j + 1) = Seq(
          d(i)(j) + cost,          // substitute
          d(i + 1)(j) + 1,         // insert
          d(i)(j + 1) + 1,         // delete
          d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1) // transpose
        ).min
      }
      lastRow(a(i - 1)) = i
    }
    d(a.length + 1)(b.length + 1)
  }

  private[functions] def jaro(a: Array[Char], b: Array[Char]): Double = {
    if (a.isEmpty && b.isEmpty) return 1d
    if (a.isEmpty || b.isEmpty) return 0d
    val window = math.max(math.max(a.length, b.length) / 2 - 1, 0)
    val aM = new Array[Boolean](a.length)
    val bM = new Array[Boolean](b.length)
    var matches = 0
    var i = 0
    while (i < a.length) {
      val lo = math.max(0, i - window)
      val hi = math.min(b.length - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bM(j) && a(i) == b(j)) {
          aM(i) = true; bM(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0d
    var t = 0
    var k = 0
    i = 0
    while (i < a.length) {
      if (aM(i)) {
        while (!bM(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / a.length + m / b.length + (m - t / 2.0) / m) / 3.0
  }

  private[functions] def jaroWinkler(a: Array[Char], b: Array[Char]): Double = {
    val j = jaro(a, b)
    var prefix = 0
    while (prefix < math.min(math.min(a.length, b.length), 4) &&
      a(prefix) == b(prefix)) prefix += 1
    j + prefix * 0.1 * (1 - j)
  }

  private[functions] def grams(s: String, n: Int): Map[String, Int] = {
    if (s.length < n) Map.empty
    else (0 to s.length - n).map(i => s.substring(i, i + n))
      .groupBy(identity).map { case (g, occ) => g -> occ.size }
  }

  // ---- kernel methods, one per metric ---------------------------------

  def damerauLevenshteinDistance(l: UTF8String, r: UTF8String): Int =
    damerau(l.toString.toCharArray, r.toString.toCharArray)

  def jaroSimilarity(l: UTF8String, r: UTF8String): Double =
    jaro(l.toString.toCharArray, r.toString.toCharArray)

  def jaroWinklerSimilarity(l: UTF8String, r: UTF8String): Double =
    jaroWinkler(l.toString.toCharArray, r.toString.toCharArray)

  /** mismatches over the common prefix + the length difference */
  def byteHammingDistance(l: UTF8String, r: UTF8String): Int = {
    val a = l.toString
    val b = r.toString
    val n = math.min(a.length, b.length)
    var d = math.abs(a.length - b.length)
    var i = 0
    while (i < n) { if (a.charAt(i) != b.charAt(i)) d += 1; i += 1 }
    d
  }

  def stringJaccardIndex(l: UTF8String, r: UTF8String): Double = {
    val sa = l.toString.toSet
    val sb = r.toString.toSet
    if (sa.isEmpty && sb.isEmpty) 1d
    else (sa & sb).size.toDouble / (sa | sb).size
  }

  /** CH's 4-gram multiset distance: |A∆B| / (|A| + |B|), 0 = equal */
  def ngramDistance(l: UTF8String, r: UTF8String): Double = {
    val ga = grams(l.toString, 4)
    val gb = grams(r.toString, 4)
    val totA = ga.values.sum
    val totB = gb.values.sum
    if (totA + totB == 0) 0d
    else {
      val shared = ga.keysIterator
        .map(g => 2 * math.min(ga(g), gb.getOrElse(g, 0))).sum
      (totA + totB - shared).toDouble / (totA + totB)
    }
  }

  /** asymmetric: what fraction of the needle's 4-grams the haystack
    * carries (1 = fully contained, 0 = none) */
  def ngramSearch(l: UTF8String, r: UTF8String): Double = {
    val hay = grams(l.toString, 4)
    val needle = grams(r.toString, 4)
    val tot = needle.values.sum
    if (tot == 0) 1d
    else needle.keysIterator
      .map(g => math.min(needle(g), hay.getOrElse(g, 0))).sum.toDouble / tot
  }
}
