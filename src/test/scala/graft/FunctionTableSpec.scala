package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.{ChCompat, FunctionTable}

/** The registration contract of the one SQL function table: names that
  * cannot shadow each other, repeat registration that rebinds nothing, and
  * a registration that is undone being redone by the next call.
  */
class FunctionTableSpec extends SparkSpec {

  private def duplicates(names: Seq[String]): Map[String, Int] =
    names.groupBy(_.toLowerCase).collect { case (n, xs) if xs.size > 1 => n -> xs.size }

  test("table names are unique case-insensitively (Spark lower-cases them)") {
    assert(FunctionTable.functions.size > 500)
    assert(duplicates(FunctionTable.functions.map(_._1.funcName)).isEmpty)
    assert(FunctionTable.tableFunctions.map(_._1.funcName) == Seq("numbers", "merge"))
  }

  test("a second ChCompat.register leaves the same builder instances bound") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    ChCompat.register(s)
    val sample = Seq("median", "position", "uniqCombinedState", "groupBitmapMerge",
      "dictGet", "bitmap_agg", "token_set_count", "video_samples")
    val table = FunctionTable.functions.map(e => e._1.funcName -> e._3).toMap
    def bound = sample.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)).get)
    val first = bound
    first.zip(sample).foreach { case (b, n) => assert(b eq table(n), n) }
    ChCompat.register(s)
    bound.zip(first).zip(sample).foreach { case ((b, b0), n) => assert(b eq b0, n) }
  }

  // the table's last entry is the one register checks for "already bound"
  test("after dropFunction of a table name, the next register restores it") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    ChCompat.register(s)
    val (id, _, builder) = FunctionTable.functions.last
    assert(reg.dropFunction(id))
    assert(reg.lookupFunctionBuilder(id).isEmpty)
    ChCompat.register(s)
    assert(reg.lookupFunctionBuilder(id).exists(_ eq builder))
    assert(s.catalog.functionExists(id.funcName))
  }
}
