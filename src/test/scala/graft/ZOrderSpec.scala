package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.ZOrder

/** [[graft.engine.ZOrder]] — Morton-curve clustering. The load-bearing
  * claim is measured, not asserted by vibes: per-FILE min-max boxes from
  * the real parquet footers must prune on BOTH clustered dimensions, where
  * the single-column sort layout prunes on one and scans everything for
  * the other.
  */
class ZOrderSpec extends SparkSpec {

  // two independent pseudo-random uniform dims + payload, deterministic
  private lazy val data: DataFrame =
    spark.range(60000).select(
      (col("id") * 2654435761L % 100003 % 1000).as("a"),
      (col("id") * 40503 % 99991 % 1000).as("b"),
      col("id").as("payload"))

  /** (min, max) of `column` per parquet file under `dir`. */
  private def fileBoxes(dir: String, column: String): Seq[(Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
        try {
          val boxes = reader.getFooter.getBlocks.asScala.map { b =>
            val s = b.getColumns.asScala
              .find(_.getPath.toDotString == column).get.getStatistics
            (s.genericGetMin.asInstanceOf[Number].longValue,
              s.genericGetMax.asInstanceOf[Number].longValue)
          }
          (boxes.map(_._1).min, boxes.map(_._2).max)
        } finally reader.close()
      }
  }

  /** Fraction of files whose [min,max] box contains a probe value,
    * averaged over ten deterministic probes.
    */
  private def hitFraction(dir: String, column: String): Double = {
    val boxes = fileBoxes(dir, column)
    val probes = (1 to 10).map(i => i * 97L % 1000)
    probes.map(p => boxes.count { case (lo, hi) => lo <= p && p <= hi }
      .toDouble / boxes.size).sum / probes.size
  }

  test("z-order prunes on BOTH dimensions; single-column sort prunes on one") {
    val base = tmpDir("zorder")
    val pA = base + "/sortedA"
    val pZ = base + "/zorder"
    data.repartitionByRange(32, col("a")).sortWithinPartitions("a")
      .write.parquet(pA)
    ZOrder.writeZOrdered(data, pZ, Seq("a", "b"), bits = 8, numFiles = 32)

    val sortedA_a = hitFraction(pA, "a"); val sortedA_b = hitFraction(pA, "b")
    val z_a = hitFraction(pZ, "a"); val z_b = hitFraction(pZ, "b")
    info(f"sortedA: a=$sortedA_a%.3f b=$sortedA_b%.3f   zorder: a=$z_a%.3f b=$z_b%.3f")
    // the single sort: near-perfect on a, useless on b
    assert(sortedA_a <= 0.2, s"sorted-by-a layout should prune a: $sortedA_a")
    assert(sortedA_b >= 0.9, s"sorted-by-a layout cannot prune b: $sortedA_b")
    // z-order: better than half the files skipped on EACH dimension
    assert(z_a <= 0.5, s"z-order should prune a: $z_a")
    assert(z_b <= 0.5, s"z-order should prune b: $z_b")
    // and it must not have quietly dropped data
    assert(spark.read.parquet(pZ).count() == 60000L)
  }

  test("reading the z-ordered copy is value-identical to the source, nulls included") {
    val base = tmpDir("zorder-vals")
    val withNulls = data.withColumn("a",
      when(col("payload") % 101 === 0, lit(null)).otherwise(col("a")))
    ZOrder.writeZOrdered(withNulls, base + "/z", Seq("a", "b"), bits = 6, numFiles = 8)
    val back = spark.read.parquet(base + "/z")
    assert(back.count() == 60000L)
    def pays(df: DataFrame) = df
      .filter(col("a").between(100, 300) && col("b").between(400, 700))
      .select("payload").collect().map(_.getLong(0)).sorted.toSeq
    assert(pays(back) == pays(withNulls), "filtered read differs from source")
    // nulls land in bucket 0 and survive the roundtrip
    assert(back.filter(col("a").isNull).count() ==
      withNulls.filter(col("a").isNull).count())
  }

  test("optimize: in-place OPTIMIZE-ZORDER swap preserves values and the " +
      "partition layout, improves skipping, and its crash window recovers") {
    val base = tmpDir("zorder-opt")
    val p = base + "/t"
    // a day-partitioned table written in arrival order (no clustering)
    val withDay = data.withColumn("day", (col("payload") % 3).cast("string"))
    withDay.write.partitionBy("day").parquet(p)
    val before = spark.read.parquet(p)
      .select("a", "b", "payload", "day").collect().map(_.toString).sorted.toSeq
    val scatterBefore = hitFraction(p + "/day=0", "a")

    ZOrder.optimize(spark, p, Seq("a", "b"), bits = 7,
      partitionCols = Seq("day"), numFiles = 24)

    val after = spark.read.parquet(p)
    assert(after.select("a", "b", "payload", "day").collect()
      .map(_.toString).sorted.toSeq == before, "optimize changed the data")
    // day dirs preserved
    assert(new java.io.File(p).listFiles().count(_.getName.startsWith("day=")) == 3)
    // clustering took: per-file boxes inside a partition now prune
    val scatterAfter = hitFraction(p + "/day=0", "a")
    info(f"day=0 a-dimension hit fraction: before=$scatterBefore%.3f after=$scatterAfter%.3f")
    assert(scatterAfter < scatterBefore,
      s"optimize did not improve a-pruning: $scatterBefore -> $scatterAfter")
    // no stage/old leftovers
    assert(!new java.io.File(p + ".zorder.old").exists())
    assert(!new java.io.File(p + ".zorder.tmp").exists())

    // crash window: table staged at .old, path missing — recover restores
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(p),
      new org.apache.hadoop.fs.Path(p + ".zorder.old")))
    ZOrder.recover(spark, p)
    assert(spark.read.parquet(p).count() == 60000L)
    assert(!new java.io.File(p + ".zorder.old").exists())
    // idempotent on a healthy table
    ZOrder.recover(spark, p)
    assert(spark.read.parquet(p).count() == 60000L)
  }

  test("string dimensions hash-bucket: deterministic z-values, full roundtrip") {
    import spark.implicits._
    val df = (0 until 5000)
      .map(i => (Seq("ios", "android", "web", "tv")(i % 4), i % 97, i.toLong))
      .toDF("platform", "x", "payload")
    val z1 = df.select(ZOrder.zvalue(df, Seq("platform", "x"), bits = 7).as("z"))
      .collect().map(_.getLong(0))
    val z2 = df.select(ZOrder.zvalue(df, Seq("platform", "x"), bits = 7).as("z"))
      .collect().map(_.getLong(0))
    assert(z1.sameElements(z2), "z-values must be deterministic")
    val p = tmpDir("zorder-str") + "/z"
    ZOrder.writeZOrdered(df, p, Seq("platform", "x"), bits = 7, numFiles = 8)
    assert(spark.read.parquet(p).count() == 5000L)
    // hash-bucketing confines each platform to a slice of the files: no
    // platform should appear in every file (4 values, 128 hash buckets)
    val perFile = new java.io.File(p).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath)
        .select("platform").distinct().count())
    assert(perFile.exists(_ < 4), s"every file carries all platforms: $perFile")
  }

  test("optimize: multi-level partitioning must be covered in full, in order " +
      "— a partial partitionCols refuses instead of flattening a level") {
    val base = tmpDir("zorder-multi")
    val p = base + "/t"
    val df = data.limit(6000)
      .withColumn("day", (col("payload") % 2).cast("string"))
      .withColumn("hour", (col("payload") % 3).cast("string"))
    df.write.partitionBy("day", "hour").parquet(p)
    val before = spark.read.parquet(p)
      .select("a", "b", "payload", "day", "hour")
      .collect().map(_.toString).sorted.toSeq

    // covering only the outer level would silently rewrite hour=Y out of
    // the directory layout (and retype it to string) — must refuse
    val e1 = intercept[IllegalArgumentException] {
      ZOrder.optimize(spark, p, Seq("a", "b"), partitionCols = Seq("day"))
    }
    assert(e1.getMessage.contains("hour"), e1.getMessage)
    // no partitionCols at all on a partitioned table: also refused
    intercept[IllegalArgumentException] {
      ZOrder.optimize(spark, p, Seq("a", "b"))
    }
    // wrong order: refused (the directory nesting is day/hour)
    intercept[IllegalArgumentException] {
      ZOrder.optimize(spark, p, Seq("a", "b"),
        partitionCols = Seq("hour", "day"))
    }
    // refusals left the table untouched
    assert(spark.read.parquet(p).count() == 6000L)
    assert(new java.io.File(p).listFiles().count(_.getName.startsWith("day=")) == 2)

    // the full, ordered cover preserves both levels and all values
    ZOrder.optimize(spark, p, Seq("a", "b"), bits = 6,
      partitionCols = Seq("day", "hour"), numFiles = 12)
    val after = spark.read.parquet(p)
      .select("a", "b", "payload", "day", "hour")
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "optimize changed the data")
    val dayDirs = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("day="))
    assert(dayDirs.length == 2)
    dayDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.startsWith("hour=")) == 3,
        s"hour level lost under ${d.getName}")
    }
  }
}
