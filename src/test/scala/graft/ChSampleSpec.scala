package graft

import graft.engine.ChSql

/** SAMPLE clause: fixed-subset algebra (nesting supersets, disjoint
  * offsets, full coverage), DDL SAMPLE BY parse, replay routing, and the
  * error contract.
  */
class ChSampleSpec extends SparkSpec {

  import spark.implicits._

  private lazy val t = {
    val df = (0 until 2000).map(i => (i.toLong, i % 7)).toDF("id", "grp")
    df.createOrReplaceTempView("chs_t")
    df
  }

  private lazy val keyed = ChSql.Scope(sampleKey = _ => Some("id"))

  private def ids(q: String): Set[Long] =
    ChSql.run(spark, q, keyed).collect().map(_.getLong(0)).toSet

  test("sample is a fixed subset: deterministic, nested, offset-disjoint, covering") {
    t
    val s25 = ids("SELECT id FROM chs_t SAMPLE 0.25")
    val s50 = ids("SELECT id FROM chs_t SAMPLE 0.5")
    assert(s25 == ids("SELECT id FROM chs_t SAMPLE 0.25"), "re-run must not reshuffle")
    assert(s25.subsetOf(s50), "SAMPLE 0.5 must contain SAMPLE 0.25")
    // fraction lands near the target (md5 is uniform; 2000 keys)
    assert(math.abs(s25.size / 2000.0 - 0.25) < 0.05, s"got ${s25.size}")

    // four quarter-offsets partition the table
    val quarters = Seq(0.0, 0.25, 0.5, 0.75)
      .map(o => ids(s"SELECT id FROM chs_t SAMPLE 0.25 OFFSET $o"))
    assert(quarters.map(_.size).sum == 2000)
    assert(quarters.combinations(2).forall { case Seq(a, b) => (a & b).isEmpty })
    assert(quarters.reduce(_ ++ _).size == 2000)

    // fraction as a ratio, and a query body that keeps WHERE/GROUP intact
    val r = ChSql.run(spark,
      "SELECT grp, count(*) AS n FROM chs_t SAMPLE 1/2 WHERE grp < 3 GROUP BY grp ORDER BY grp",
      keyed).collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    assert(r.map(_.getLong(1)).sum > 300)
  }

  test("alias survives; qualified references still resolve") {
    t
    val out = ChSql.run(spark,
      "SELECT d.grp, count(*) AS n FROM chs_t d SAMPLE 0.5 GROUP BY d.grp ORDER BY d.grp",
      keyed)
    assert(out.count() == 7)
  }

  test("DDL parses SAMPLE BY; replay routes SAMPLE through the registered key") {
    val rep = new graft.engine.ChReplay(spark, tmpDir("chsample-replay"))
    rep.executeScript(
      """CREATE TABLE graft_chs.events_local (
        |  id UInt64,
        |  grp UInt8
        |) ENGINE = MergeTree
        |PARTITION BY grp
        |ORDER BY (grp, id)
        |SAMPLE BY id;""".stripMargin)
    val ct = rep.tables("graft_chs.events_local")
    assert(ct.sampleBy.contains("id"))
    assert(ct.orderBy == Seq("grp", "id"), "SAMPLE BY must not bleed into ORDER BY")

    // external table on a temp path — a managed one would leave its
    // location under ./spark-warehouse and poison the next JVM's metastore
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_chs")
    spark.sql("DROP TABLE IF EXISTS graft_chs.events_local")
    t.write.mode("overwrite").option("path", tmpDir("chsample-tbl") + "/t")
      .saveAsTable("graft_chs.events_local")
    val full = rep.runQuery("SELECT count(*) AS n FROM graft_chs.events_local")
      .head().getLong(0)
    val half = rep.runQuery("SELECT count(*) AS n FROM graft_chs.events_local SAMPLE 0.5")
      .head().getLong(0)
    assert(full == 2000L)
    assert(math.abs(half / 2000.0 - 0.5) < 0.05, s"got $half")
  }

  test("SAMPLE composes with the ANY join translator through runQuery") {
    val rep = new graft.engine.ChReplay(spark, tmpDir("chsample-compose"))
    rep.executeScript(
      """CREATE TABLE graft_chc.facts (
        |  id UInt64, grp UInt8
        |) ENGINE = MergeTree ORDER BY id SAMPLE BY id;""".stripMargin)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_chc")
    spark.sql("DROP TABLE IF EXISTS graft_chc.facts")
    t.write.mode("overwrite").option("path", tmpDir("chsample-compose-tbl") + "/t")
      .saveAsTable("graft_chc.facts")
    Seq((0, "zero"), (1, "one"), (2, "two"), (3, "three"), (4, "four"),
        (5, "five"), (6, "six"))
      .toDF("grp", "label").createOrReplaceTempView("chs_dim")
    // SAMPLE rewrites to a subquery under the same alias; the ANY join
    // after it is marked on its own keyword and right relation
    val out = rep.runQuery(
      """SELECT d.label, count(*) AS n
        |FROM graft_chc.facts f SAMPLE 0.5 ANY LEFT JOIN chs_dim d ON f.grp = d.grp
        |GROUP BY d.label ORDER BY d.label""".stripMargin).collect()
    assert(out.length == 7, s"expected all 7 labels, got ${out.length}")
    val n = out.map(_.getLong(1)).sum
    assert(math.abs(n / 2000.0 - 0.5) < 0.05, s"sampled rowcount off: $n")
  }

  test("error contract: no SAMPLE BY key, row-count form, out-of-range fractions") {
    t
    val e1 = intercept[RuntimeException] {
      ChSql.run(spark, "SELECT id FROM chs_t SAMPLE 0.5")
    }
    assert(e1.getMessage.contains("no SAMPLE BY"))
    val e2 = intercept[IllegalArgumentException] {
      ChSql.run(spark, "SELECT id FROM chs_t SAMPLE 10000", keyed)
    }
    assert(e2.getMessage.contains("row-count"))
    val e3 = intercept[IllegalArgumentException] {
      ChSql.run(spark, "SELECT id FROM chs_t SAMPLE 0.5 OFFSET 1.5", keyed)
    }
    assert(e3.getMessage.contains("OFFSET"))
    // fraction + offset past the end would silently shrink the slice
    val e4 = intercept[IllegalArgumentException] {
      ChSql.run(spark, "SELECT id FROM chs_t SAMPLE 0.5 OFFSET 0.75", keyed)
    }
    assert(e4.getMessage.contains("past the end"))
    // exactly reaching the end is legal (the [off, 1) tail slice)
    assert(ids("SELECT id FROM chs_t SAMPLE 0.25 OFFSET 0.75").nonEmpty)
  }
}
