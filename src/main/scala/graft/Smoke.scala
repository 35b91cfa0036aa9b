package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Local scratch main: mimics the driver's smoke check (entry rows>0) and
  * probes the bitmap aggregate guardrails.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // driver smoke: flagship entry on sf0.001, rows > 0
    val e = SparkEntry.entry(spark)
    e.show(8, truncate = false)
    println("entry rows=" + e.count())

    // probe 1: bitmap_merge_agg fed raw ids (the doc's -Merge misuse) must
    // fail at analysis time, not corrupt silently
    import graft.functions.Bitmaps
    graft.functions.ChCompat.register(spark)
    val ev = Tables(spark, "/root/testdata/sf0.001").events
    try {
      ev.agg(Bitmaps.bitmap_merge_agg(col("user_id"))).collect()
      println("PROBE1: NO ERROR (BAD)")
    } catch {
      case ex: Exception => println("PROBE1 analysis error as expected: " +
        ex.getMessage.linesIterator.next())
    }

    // probe 2: out-of-uint32-range id must throw, not truncate
    try {
      ev.agg(Bitmaps.bitmap_agg(lit(-5L))).collect()
      println("PROBE2: NO ERROR (BAD)")
    } catch {
      case ex: Exception => println("PROBE2 runtime error as expected: " +
        Option(ex.getCause).getOrElse(ex).getMessage.linesIterator.next())
    }
    spark.stop()
  }
}
