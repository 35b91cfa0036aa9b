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
  def bench(): SparkSession = build(benchConf(sys.env.get("SPARK_GRAFT_CPUS")))

  /** `Verify`: local[4] unless overridden, and the default fallback
    * threshold, so the gate exercises the default-config sort-based path
    * of the state aggregates too.
    */
  def gate(): SparkSession = build(gateConf(sys.env.get("SPARK_GRAFT_CPUS")))

  /** The confs [[bench]] builds its session with, for `cpus` (else 32). */
  private[graft] def benchConf(cpus: Option[String]): Map[String, String] =
    common(cpus.getOrElse("32")) +
      ("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000")

  /** The confs [[gate]] builds its session with, for `cpus` (else 4). */
  private[graft] def gateConf(cpus: Option[String]): Map[String, String] =
    common(cpus.getOrElse("4"))

  private def common(cpus: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  private def build(conf: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.ChCompat.register(spark)
    spark
  }
}
