package graft

import org.apache.spark.sql.functions._

import graft.similarity.{Ann, IvfIndex}

/** Persisted incremental IVF: appends against frozen centroids must be
  * indistinguishable from a rebuild with those centroids, and search must
  * see appended vectors.
  */
class IvfIndexSpec extends SparkSpec {

  private lazy val emb = Tables(spark, "/root/testdata/sf0.001").embeddings

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/ix"

  test("build + append == full assignment with the same frozen centroids") {
    val ix = new IvfIndex(spark, tmp())
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    ix.build(half1, nlist = 8)
    ix.append(half2)
    val cents = ix.centroids
    val direct = Ann.ivfIndex(emb, "vec_id", "embedding", cents)
      .select("neighbor_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val stored = ix.index.select("neighbor_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored == direct, "incremental lists must equal the one-shot assignment")
    assert(stored.size == emb.count())
  }

  test("search sees appended vectors; results match the unpersisted path") {
    val ix = new IvfIndex(spark, tmp())
    ix.build(emb.filter(col("vec_id") < 400), nlist = 8)
    ix.append(emb.filter(col("vec_id") >= 400))
    val probes = emb.filter(col("vec_id").isin(0, 1, 2))
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val got = run(ix.topK(probes, k = 5, nprobe = 4))
    val direct = run(Ann.ivfTopK(
      Ann.ivfIndex(emb, "vec_id", "embedding", ix.centroids), ix.centroids,
      probes, "vec_id", "embedding", 5, nprobe = 4))
    assert(got == direct, "persisted incremental search == direct search")
    // appended region is reachable: drop the top-k filter and confirm some
    // appended id appears among scored neighbors for at least one probe
    assert(got.nonEmpty)
  }

  test("exactly-once append: replays are no-ops, crash orphans purge on reopen") {
    val path = tmp()
    val ix = new IvfIndex(spark, path)
    ix.build(emb.filter(col("vec_id") < 200).select("vec_id", "embedding"), nlist = 4)
    val batch = emb.filter(col("vec_id").between(200, 299)).select("vec_id", "embedding")
    assert(ix.appendExactlyOnce(batch, 1L), "first delivery must ingest")
    val n = ix.index.count()
    assert(n == 300)
    assert(!ix.appendExactlyOnce(batch, 1L), "replayed id must dedup")
    assert(ix.index.count() == n, "replay must not append")
    assert(ix.appendExactlyOnce(
      emb.filter(col("vec_id").between(300, 349)).select("vec_id", "embedding"), 2L))
    assert(ix.index.count() == n + 50)
    // simulate a crash mid-append: batch-tagged orphan without its marker
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data")).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("=")).head.getPath
    val orphanSrc = fs.listStatus(part).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val orphan = new org.apache.hadoop.fs.Path(part, s"batch-9-${orphanSrc.getName}")
    org.apache.hadoop.fs.FileUtil.copy(fs, orphanSrc, fs, orphan, false,
      spark.sparkContext.hadoopConfiguration)
    assert(new IvfIndex(spark, path).index.count() == n + 50,
      "reopen must purge the uncommitted batch's orphans")
  }

  test("streaming ingest: foreachBatch micro-batches append exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val ix = new IvfIndex(spark, tmp())
    ix.build(emb.filter(col("vec_id") < 100).select("vec_id", "embedding"), nlist = 4)
    val rows = emb.filter(col("vec_id").between(100, 199))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        ix.appendExactlyOnce(batch, id): Unit
      }
      .start()
    try {
      input.addData(rows.take(50).toSeq)
      q.processAllAvailable()
      input.addData(rows.drop(50).toSeq)
      q.processAllAvailable()
      assert(ix.index.count() == 200, "both micro-batches must land")
      // a redelivery of a committed id (restart-without-progress) dedups
      assert(!ix.appendExactlyOnce(
        rows.take(50).toSeq.toDF("vec_id", "embedding"), 0L))
      assert(ix.index.count() == 200)
    } finally q.stop()
  }

  test("drift metric flags distribution shift; rebuild-and-swap restores fit") {
    val base = emb.select("vec_id", "embedding")
    val ix = new IvfIndex(spark, tmp())
    ix.build(base, nlist = 8)
    // same distribution: the metric stays near the training baseline
    val same = base.filter(col("vec_id") < 100)
    val driftSame = ix.drift(same)
    assert(math.abs(driftSame) < 0.05, s"same-distribution drift $driftSame")
    // negated vectors: maximally shifted relative to the trained centroids
    val shifted = base.filter(col("vec_id") < 100)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val driftShift = ix.drift(shifted)
    assert(driftShift > driftSame + 0.05,
      s"shifted batch must read as drifted: $driftShift vs $driftSame")

    // the prescribed answer: offline rebuild on the drifted union + swap
    val combined = base.unionByName(shifted)
    ix.rebuildAndSwap(combined, nlist = 8)
    assert(ix.index.count() == combined.count(), "swap lost rows")
    // new centroids fit the shifted data better, and the stored assignment
    // equals a direct assignment under them (read-equivalence after swap)
    assert(ix.drift(shifted) < driftShift, "rebuild did not reduce drift")
    val direct = Ann.ivfIndex(combined, "vec_id", "embedding", ix.centroids)
      .select("neighbor_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val stored = ix.index.select("neighbor_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored == direct, "post-swap lists must equal direct assignment")
    // search still answers, and recall vs brute force holds up
    val probes = emb.filter(col("vec_id").isin(0, 1, 2))
    val got = ix.topK(probes, k = 5, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = Ann.bruteForceTopK(combined, probes, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(got.intersect(exact).size >= (exact.size * 0.5).toInt,
      s"post-swap recall too low: ${got.intersect(exact).size}/${exact.size}")
    // rebuild from the index's OWN stored vectors also round-trips
    ix.rebuildFromStoredAndSwap(nlist = 8)
    assert(ix.index.count() == combined.count())
  }

  test("rebuild-and-swap keeps the exactly-once ledger: a replayed id stays a no-op") {
    val ix = new IvfIndex(spark, tmp())
    ix.build(emb.filter(col("vec_id") < 200).select("vec_id", "embedding"), nlist = 4)
    val b = emb.filter(col("vec_id").between(200, 299)).select("vec_id", "embedding")
    assert(ix.appendExactlyOnce(b, 1L), "first delivery must ingest")
    ix.rebuildFromStoredAndSwap(nlist = 4)
    val n = ix.index.count()
    assert(n == 300)
    assert(!ix.appendExactlyOnce(b, 1L), "a replay after the rebuild must dedup")
    assert(ix.index.count() == n, "a replay after the rebuild must not append")
  }

  test("open drops a stale '-rebuild' and '-old' beside a live index, keeping its ledger") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val path = tmp()
    val ix = new IvfIndex(spark, path)
    ix.build(emb.filter(col("vec_id") < 200).select("vec_id", "embedding"), nlist = 4)
    val b = emb.filter(col("vec_id").between(200, 299)).select("vec_id", "embedding")
    assert(ix.appendExactlyOnce(b, 1L))
    val n = ix.index.count()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    // a crash after the rebuilt tree swapped in but before its ledger moved
    // back: the superseded tree (ledger inside) is still at '-old' and the
    // live tree has none; a later rebuild died half-built at '-rebuild'
    assert(FileUtil.copy(fs, new Path(path), fs, new Path(path + "-old"), false, conf))
    assert(fs.delete(new Path(path, "data/_ledger"), true))
    assert(FileUtil.copy(fs, new Path(path, "centroids"), fs,
      new Path(path + "-rebuild/centroids"), false, conf))

    val reopened = new IvfIndex(spark, path)
    assert(!fs.exists(new Path(path + "-rebuild")), "open must drop the half-built tree")
    assert(!fs.exists(new Path(path + "-old")), "open must drop the superseded tree")
    assert(fs.exists(new Path(path, "data/_ledger/batch-1")), "the live tree must hold the ledger")
    assert(!reopened.appendExactlyOnce(b, 1L), "a replay must stay a no-op")
    assert(reopened.index.count() == n)
  }

  test("crash mid-swap: the '-old' tree is restored on the next open") {
    import org.apache.hadoop.fs.Path
    val path = tmp()
    val ix = new IvfIndex(spark, path)
    val base = emb.filter(col("vec_id") < 300).select("vec_id", "embedding")
    ix.build(base, nlist = 4)
    val before = ix.index.count()
    // simulate Durable.swap dying between rename(live, old) and rename(fresh, live):
    // the live tree is gone, only the '-old' tree exists
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new Path(path), new Path(path + "-old")))
    // a fresh open restores the pre-swap tree and serves reads
    val reopened = new IvfIndex(spark, path)
    assert(reopened.index.count() == before, "recovered index must serve pre-swap content")
    assert(!fs.exists(new Path(path + "-old")), "recovery must consume the -old tree")
    assert(reopened.centroids.length == 4)
  }
}
