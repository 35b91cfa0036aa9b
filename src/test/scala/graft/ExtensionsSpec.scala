package graft

import org.apache.spark.sql.{Row, SparkSession}

import graft.functions.FunctionTable

/** spark.sql.extensions packaging: a session built with GraftExtensions
  * resolves graft + ClickHouse-dialect functions with no explicit register
  * call.
  */
class ExtensionsSpec extends SparkSpec {

  test("fresh session with GraftExtensions resolves graft SQL functions") {
    val base = spark // ensure shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        """SELECT bitmapCardinality(bitmap_agg(id)) AS uv,
          |       uniqExact(id % 3) AS u3,
          |       toUInt32(medianExact(CAST(id AS DOUBLE))) AS med
          |FROM range(10)""".stripMargin).collect()(0)
      assert(r.getLong(0) == 10L)
      assert(r.getLong(1) == 3L)
      assert(r.getLong(2) == 4L) // median of 0..9 = 4.5, toUInt32 truncates
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("fresh GraftExtensions session: every table name, numbers() and " +
      "system.one resolve with no register call") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // system.one must come from the injected rule, not from a catalog view
    // another suite's plain session created in the shared catalog
    val hadView = base.catalog.databaseExists("system") &&
      base.catalog.tableExists("system.one")
    if (hadView) base.sql("DROP VIEW system.one")
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .appName("graft-ext-table-test")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val missing = FunctionTable.functions.map(_._1.funcName)
        .filterNot(s2.catalog.functionExists)
      assert(missing.isEmpty, s"not resolvable on an extensions session: $missing")
      assert(s2.sql("SELECT count(*) FROM numbers(3)").head().getLong(0) == 3L)
      assert(s2.sql("SELECT dummy FROM system.one").collect().toSeq == Seq(Row(0)))
    } finally {
      if (hadView) base.sql("CREATE OR REPLACE VIEW system.one AS SELECT 0 AS dummy")
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("Projection.attach on an extensions session adds no second rewrite " +
      "rule (the injected copy already runs in the main optimizer)") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .appName("graft-ext-attach-test")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      // attach BEFORE the session's first query: attach itself must force
      // the optimizer's rule builders (where the injected one sets the
      // marker), or a fresh extensions session would get the duplicate
      // rule after all
      graft.mv.Projection.attach(s2)
      assert(s2.conf.getOption(GraftExtensions.MarkerConf).contains("true"))
      assert(!s2.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.mv.ProjectionRewrite]),
        "extensions session must not carry a second ProjectionRewrite copy")
      assert(s2.experimental.extraOptimizations.nonEmpty,
        "attach must still install the per-session projection store")
      // a plain session DOES get the rewrite rule, exactly once
      graft.mv.Projection.attach(base)
      graft.mv.Projection.attach(base)
      assert(base.experimental.extraOptimizations
        .count(_.isInstanceOf[graft.mv.ProjectionRewrite]) == 1)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
