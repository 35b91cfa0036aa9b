package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The library's whole SQL surface as one table, built once per JVM: every
  * scalar and aggregate name as a `(FunctionIdentifier, ExpressionInfo,
  * builder)` entry — the shape `SparkSessionExtensions.injectFunction`
  * takes — plus the table functions `numbers` and `merge` beside them.
  * Each module contributes its entries as a value (`Bitmaps.functions`,
  * …); nothing here holds a session.
  *
  * Consumed in exactly two places: [[graft.GraftExtensions]] injects the
  * entries into sessions built with the extension, and
  * [[ChCompat.register]] binds them into plain sessions. Spark's registry
  * only rebinds (and WARNs) when a name's `(info, builder)` pair is a
  * different object, so binding these same instances again changes
  * nothing.
  */
object FunctionTable {
  type Entry[B] = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => B)

  def entry[B](owner: AnyRef, name: String, builder: Seq[Expression] => B): Entry[B] =
    (FunctionIdentifier(name),
      new ExpressionInfo(owner.getClass.getName.stripSuffix("$"), null, name, null,
        "", "", "", "", "", "", "built-in"),
      builder)

  /** Collects one module's entries, written `f("name") { es => ... }`. */
  final class Definitions private[FunctionTable] (owner: AnyRef) {
    private[FunctionTable] val entries = ArrayBuffer.empty[Entry[Expression]]
    def apply(name: String)(builder: Seq[Expression] => Expression): Unit =
      entries += entry(owner, name, builder)
  }

  def define(owner: AnyRef)(body: Definitions => Unit): Seq[Entry[Expression]] = {
    val d = new Definitions(owner)
    body(d)
    d.entries.toList
  }

  lazy val functions: Seq[Entry[Expression]] = Seq(
    Bitmaps.functions, MinHash.functions, VectorOps.functions,
    LshSignatures.functions, VectorQuant.functions, FreqTopK.functions,
    WindowFunnel.functions, SequenceMatch.functions, UniqUpTo.functions,
    MapAggregates.functions, Simhash.functions, Hashes.functions,
    graft.text.TextFunctions.functions, graft.text.Bpe.functions,
    ForEach.functions, StatAggregates.functions, StringDistance.functions,
    GeoFormat.functions, Moving.functions, SketchAggs.functions,
    SequenceNextNode.functions, StatMatrix.functions, HtmlText.functions,
    QuantileSketch.functions, TopK.functions, ComputeOnce.functions,
    graft.multimodal.Multimodal.functions,
    ChCompatDates.functions, ChCompatStrings.functions,
    ChCompatArrays.functions, ChCompatAggs.functions, ChCompat.functions
  ).flatten

  lazy val tableFunctions: Seq[Entry[LogicalPlan]] = ChCompat.tableFunctions
}
