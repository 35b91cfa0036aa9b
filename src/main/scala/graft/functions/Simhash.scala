package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** 64-bit SimHash over a token array as ONE primitive pass — replaces the
  * composed higher-order form (64 bit-lambdas × an aggregate over token
  * hashes each, all interpreted: O(64·n) lambda dispatches per row) with a
  * single loop that hashes each token once and bumps 64 counters.
  *
  * Bit-identical to the composed form by construction: token hashes are
  * [[XxHash64Function]] with Spark's default seed 42 (what `xxhash64(t)`
  * computes), and bit b is set iff 2·(count of tokens with bit b) ≥ n —
  * the same majority vote, so existing persisted signatures and the
  * DedupSpec seeded properties hold unchanged.
  */
object Simhash {

  val functions = FunctionTable.define(this) { f =>
    f("simhash64") { es =>
      require(es.length == 1, "usage: simhash64(tokens)")
      Kernel.of(this, "simhash", "simhash64", LongType, es,
        Seq(Arg.ArrayOf(Arg.Str)), returnsNull = true)
    }
  }

  def simhash64(toks: Column): Column = call_function("simhash64", toks)

  def simhash(a: ArrayData): Long = {
    val n = a.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      // matches xxhash64(t): seed 42, UTF8 bytes; a null token leaves the
      // seed untouched (xxhash64(NULL) = 42), so the composed form counted
      // the seed's bits for null slots — hash identically for bit-identity
      val h =
        if (a.isNullAt(i)) 42L
        else XxHash64Function.hash(a.getUTF8String(i), StringType, 42L)
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    // majority vote over ALL n slots (incl. null-token seed hashes), the
    // same denominator the composed form's size(hs) used
    var out = 0L
    var b = 0
    while (b < 64) {
      if (2L * counts(b) >= n) out |= (1L << b)
      b += 1
    }
    out
  }
}
