package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two session profiles, pinned as the conf maps `Sessions` builds
  * with (building a second session here would rewrite the shared test
  * session's confs through `getOrCreate`). */
class SessionsSpec extends AnyFunSuite {

  private val threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  test("bench and gate profiles pin their confs") {
    val common = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false")
    assert(Sessions.benchConf(None) == common ++ Map(
      "spark.master" -> "local[32]", "spark.sql.shuffle.partitions" -> "32",
      threshold -> "1000000"))
    assert(Sessions.gateConf(None) == common ++ Map(
      "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4"))
  }

  test("the profiles differ only in the fallback threshold and the default cpus") {
    val cpus = Some("8")
    assert(Sessions.benchConf(cpus) - threshold == Sessions.gateConf(cpus))
    assert(Sessions.gateConf(cpus)("spark.master") == "local[8]")
    assert(Sessions.gateConf(cpus)("spark.sql.shuffle.partitions") == "8")
  }
}
