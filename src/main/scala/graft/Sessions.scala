package graft

import org.apache.spark.sql.SparkSession

/** The one place the library's mains build a `SparkSession`.
  *
  * Both profiles run `local[cpus]` with shuffle partitions = cpus, UTC,
  * AQE on, the UI off and WARN logging, and bind the SQL function table
  * once. `cpus` is `SPARK_GRAFT_CPUS`, else the profile's default. They
  * differ only in that default and in the object-aggregate fallback
  * threshold.
  */
object Sessions {

  /** `Bench`, `BenchScale` and `Dev`: local[32] unless overridden, and
    * bitmap/HLL/top-k states — compact objects — keep their partial
    * aggregation hash-based instead of the 128-group sort fallback.
    */
  def bench(): SparkSession = build(defaultCpus = 32, hashStateAggs = true)

  /** `Verify`: local[4] unless overridden, and the default fallback
    * threshold, so the gate exercises the default-config sort-based path
    * of the state aggregates too.
    */
  def gate(): SparkSession = build(defaultCpus = 4, hashStateAggs = false)

  private def build(defaultCpus: Int, hashStateAggs: Boolean): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (hashStateAggs)
      builder.config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.ChCompat.register(spark)
    spark
  }
}
