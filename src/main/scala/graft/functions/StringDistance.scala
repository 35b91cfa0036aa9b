package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Levenshtein}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.BinaryLike
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
  * rest are eval expressions over char arrays — O(|a|·|b|) worst case,
  * no state, fully distributed.
  */
object StringDistance {

  val functions = FunctionTable.define(this) { f =>
    f("editDistance") { es => Levenshtein(es(0), es(1)) }
    f("levenshteinDistance") { es => Levenshtein(es(0), es(1)) }
    f("damerauLevenshteinDistance") { es => StringDistExpr(es(0), es(1), "damerau") }
    f("jaroSimilarity") { es => StringDistExpr(es(0), es(1), "jaro") }
    f("jaroWinklerSimilarity") { es => StringDistExpr(es(0), es(1), "jaroWinkler") }
    f("byteHammingDistance") { es => StringDistExpr(es(0), es(1), "hamming") }
    f("stringJaccardIndex") { es => StringDistExpr(es(0), es(1), "jaccard") }
    f("ngramDistance") { es => StringDistExpr(es(0), es(1), "ngramDistance") }
    f("ngramSearch") { es => StringDistExpr(es(0), es(1), "ngramSearch") }
  }

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
}

/** Binary string-distance dispatcher (one eval expression per metric). */
case class StringDistExpr(left: Expression, right: Expression, metric: String)
  extends Expression with BinaryLike[Expression] with CodegenFallback {

  override def dataType: DataType = metric match {
    case "damerau" | "hamming" => IntegerType
    case _ => DoubleType
  }
  override def nullable: Boolean = left.nullable || right.nullable

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null || r == null) return null
    val a = l.asInstanceOf[UTF8String].toString
    val b = r.asInstanceOf[UTF8String].toString
    metric match {
      case "damerau" => StringDistance.damerau(a.toCharArray, b.toCharArray)
      case "jaro" => StringDistance.jaro(a.toCharArray, b.toCharArray)
      case "jaroWinkler" => StringDistance.jaroWinkler(a.toCharArray, b.toCharArray)
      case "hamming" =>
        // mismatches over the common prefix + the length difference
        val n = math.min(a.length, b.length)
        var d = math.abs(a.length - b.length)
        var i = 0
        while (i < n) { if (a.charAt(i) != b.charAt(i)) d += 1; i += 1 }
        d
      case "jaccard" =>
        val sa = a.toSet
        val sb = b.toSet
        if (sa.isEmpty && sb.isEmpty) 1d
        else (sa & sb).size.toDouble / (sa | sb).size
      case "ngramDistance" =>
        // CH's 4-gram multiset distance: |A∆B| / (|A| + |B|), 0 = equal
        val ga = StringDistance.grams(a, 4)
        val gb = StringDistance.grams(b, 4)
        val totA = ga.values.sum
        val totB = gb.values.sum
        if (totA + totB == 0) 0d
        else {
          val shared = ga.keysIterator
            .map(g => 2 * math.min(ga(g), gb.getOrElse(g, 0))).sum
          (totA + totB - shared).toDouble / (totA + totB)
        }
      case "ngramSearch" =>
        // asymmetric: what fraction of the needle's 4-grams the haystack
        // carries (1 = fully contained, 0 = none)
        val hay = StringDistance.grams(a, 4)
        val needle = StringDistance.grams(b, 4)
        val tot = needle.values.sum
        if (tot == 0) 1d
        else needle.keysIterator
          .map(g => math.min(needle(g), hay.getOrElse(g, 0))).sum.toDouble / tot
      case other => throw new IllegalStateException(s"unknown metric $other")
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): StringDistExpr =
    copy(left = l, right = r)
  override def prettyName: String = metric match {
    case "damerau" => "damerauLevenshteinDistance"
    case "jaro" => "jaroSimilarity"
    case "jaroWinkler" => "jaroWinklerSimilarity"
    case "hamming" => "byteHammingDistance"
    case "jaccard" => "stringJaccardIndex"
    case m => m
  }
}
