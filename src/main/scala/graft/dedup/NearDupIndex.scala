package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Incremental MinHash/LSH near-duplicate index — the banding pipeline as a
  * persisted, append-only structure, so a streaming/batched ingest dedups
  * each batch against everything seen so far WITHOUT re-signaturing the
  * corpus (the reference's incremental-MV idea applied to dedup; cf.
  * graft.mv.StateTable for the aggregation twin).
  *
  * Layout (v2, slim): ONE bucketed external table under `path/data`,
  * registered in the session catalog (name derived from the path, so
  * reopening binds to the same table), rows `(band INT, bucket LONG, id
  * LONG, sig ARRAY<LONG>)`, CLUSTERED BY (bucket) — and every history
  * join keys on `bucket` ALONE, so HashPartitioning(bucket) satisfies
  * them all without subset-co-partitioning games. Bucket values are
  * band-seeded xxhash64 (`lsh_buckets` hashes (band, band rows)), so
  * band can be dropped from the LSH join keys: cross-band equal buckets
  * need an xxhash64 collision, and any such pair still faces est_jaccard
  * verification downstream. Row kinds:
  *  - band 0..bands-1, sig NULL — one row per (doc × band), the LSH
  *    probe surface. The signature is NOT stored here: duplicating a
  *    numHashes-long array across `bands` rows multiplied both the
  *    stored bytes and every probe's scan IO by ~bands (the same
  *    wide-band anti-pattern Dedup.minhashNearDups fixed in round 10);
  *  - band -1, bucket = id — one membership row per indexed doc,
  *    carrying THE stored copy of the doc's signature (null for docs too
  *    short to signature), the replay/dup check's target and the
  *    verification sig source (bucket = id, so candidate verification
  *    joins stream it bucket-aligned like every other history join).
  *    Folding membership into the same bucket layout means every
  *    history-side join is on the bucket column, and each append is a
  *    single write. SORTED BY (band, bucket) clusters the membership
  *    rows into dedicated row groups, so band = -1 scans prune via
  *    parquet stats — and the sig COLUMN bytes sit only in those row
  *    groups.
  *
  * All hashes are seeded xxhash64 (deterministic across runs/executors),
  * so signatures computed in different batches are directly comparable;
  * banding parameters and the bucket count are fixed at construction and
  * must not change over the index's life (enforced by a `_meta.json`
  * stamp written on first use).
  *
  * Bucket count: an index that has a stamp keeps the stamped
  * `dataBuckets`; a new one gets one bucket per task slot,
  * `min(32, defaultParallelism)` — 4 in a `local[4]` session, 32 on the
  * 32-slot `bench` profile. Each history scan runs one task per bucket
  * and each append writes one file per bucket, so buckets beyond the
  * slots only add task waves and small files. Bucket values are column
  * hashes, never the file's bucket id, so the survivors of an ingest do
  * not depend on the count.
  *
  * Scale shape: `append` is one shuffle (signature aggregate keyed by doc
  * id) + one append-only bucketed write in at most `defaultParallelism`
  * tasks (the largest divisor of the bucket count that fits), still one file
  * per bucket; every history-side relation in `probe`/`dedupAndAppend`
  * is on the STREAMED side of its static join — the sig-free band join
  * AND the membership-sig verification join both key on the table's
  * bucket column. Under AQE a join may broadcast
  * either side: while the index is under the broadcast threshold (a few
  * MB, as in `perfbench`), all three history joins build on the HISTORY
  * side (BuildLeft), so each batch collects three history scans to the
  * driver; a larger index can only broadcast the batch and streams
  * history exchange-free. A backfill-sized batch degrades to sort-merge
  * joins whose history sides are still exchange-free (bucketing
  * satisfies the joins' distribution; the in-bucket sorts are
  * spillable). Per-batch exchange volume is
  * O(batch + candidate pairs), never O(|history|) — the round-4
  * formulation distinct-ed EVERY indexed id through an exchange per
  * batch. Probe scan IO is slim too: band-row scans read no signature
  * bytes (sig lives once per doc, in the membership row groups), so a
  * probe reads ~numHashes×8 sig bytes per indexed doc instead of
  * bands× that. No operation rewrites history; compaction is a plain
  * rewrite of the bucketed table if small appended files accumulate.
  */
final class NearDupIndex(
    spark: SparkSession,
    path: String,
    numHashes: Int = 64,
    bands: Int = 16,
    shingleSize: Int = 3) {

  private val rowsPerBand = numHashes / bands
  require(bands * rowsPerBand == numHashes, "bands must divide numHashes")

  private val metaPath = new org.apache.hadoop.fs.Path(path, "_meta.json")
  private def fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dataPath = new org.apache.hadoop.fs.Path(path, "data")

  // catalog name bound to this path — md5 keeps it stable across sessions
  // and instances so a reopen appends to the same table
  private[graft] val dataTable = "graft_ndi_data_" +
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  private def readStamp(): Option[String] = graft.Durable.readText(fs, metaPath)

  // the stamped bucket count, else one bucket per task slot up to 32
  private val buckets: Int = readStamp()
    .flatMap(""""dataBuckets":(\d+)""".r.findFirstMatchIn(_)).map(_.group(1).toInt)
    .getOrElse(math.min(32, spark.sparkContext.defaultParallelism))

  // "layout":2 = slim band rows (sig stored once, on the membership
  // row) — a v1 index (sig duplicated per band row) fails fast on the
  // stamp rather than silently probing against null history signatures
  private def expectMeta: String =
    s"""{"numHashes":$numHashes,"bands":$bands,""" +
      s""""shingleSize":$shingleSize,"dataBuckets":$buckets,"layout":2}"""

  /** Fails fast when an existing stamp disagrees (different banding or a
    * v1 layout). Read paths call this too — [[probe]] on a v1 index would
    * otherwise find no membership sigs and silently admit every dup.
    */
  private def checkMeta(): Unit =
    readStamp().foreach { got =>
      require(got == expectMeta,
        s"NearDupIndex at $path was built with $got; this instance has $expectMeta")
    }

  private def checkOrStampMeta(): Unit = {
    checkMeta()
    if (!fs.exists(metaPath)) graft.Durable.writeText(fs, metaPath, expectMeta)
  }

  private def ensureTable(): Unit =
    if (!spark.catalog.tableExists(dataTable))
      spark.sql(
        s"""CREATE TABLE $dataTable (band INT, bucket BIGINT, id BIGINT, sig ARRAY<BIGINT>)
           |USING PARQUET
           |CLUSTERED BY (bucket) SORTED BY (band, bucket) INTO $buckets BUCKETS
           |LOCATION '$dataPath'""".stripMargin)

  /** The persisted table, file listing snapshotted at call time: an append
    * may have come through another session (foreachBatch hands out a
    * cloned one) whose relation-cache refresh didn't touch this session's
    * cache, so re-list on every read.
    */
  private def rawData: DataFrame = {
    ensureTable()
    spark.catalog.refreshTable(dataTable)
    spark.table(dataTable)
  }

  // Write tasks per append: the largest divisor of the bucket count that fits
  // the cores. One task per bucket spent most of each append scheduling
  // one tiny file per task; fewer, fuller tasks write the same files.
  private def writeTasks: Int =
    (math.min(spark.sparkContext.defaultParallelism, buckets) to 1 by -1)
      .find(buckets % _ == 0).get

  // repartition on the bucket hash before writing: a bucketed write emits
  // one file per (task × bucket), so an unaligned batch sprays
  // partitions × buckets tiny files. Repartition and bucketing share
  // Murmur3 HashPartitioning, and k = writeTasks divides buckets, so
  // pmod(h, buckets) mod k = pmod(h, k): every bucket id lands in
  // exactly one task and each append is still one file per bucket
  private def writeData(rows: DataFrame): Unit =
    rows.select("band", "bucket", "id", "sig")
      .repartition(writeTasks, col("bucket"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "bucket").sortBy("band", "bucket")
      .option("path", dataPath.toString)
      .saveAsTable(dataTable)

  /** Banded rows for a batch: (band, bucket, id, sig). */
  private[graft] def banded(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.minhashSignatures(docs, textCol, idCol, numHashes, shingleSize)
      .withColumn("bk", explode(Dedup.lshBuckets(col("sig"), bands, rowsPerBand)))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("id"), col("sig"))

  /** Band rows with the signature column nulled — the slim stored form
    * (the in-memory banded batch keeps its sigs for self-joins and
    * verification; only storage sheds them).
    */
  private def stripSig(bandRows: DataFrame): DataFrame =
    bandRows.select(col("band"), col("bucket"), col("id"),
      lit(null).cast("array<bigint>").as("sig"))

  /** Membership rows for (id, sig) pairs: band -1, bucket = id, carrying
    * the stored signature (null for sigless docs).
    */
  private def membershipRows(idSigs: DataFrame): DataFrame =
    idSigs.select(lit(-1).as("band"), col("id").as("bucket"),
      col("id"), col("sig"))

  /** Append a batch of documents to the index (signatures computed for the
    * batch only). Append-only — no read or rewrite of existing parts. A
    * membership row records every batch doc, including docs too short to
    * yield a signature (they are "seen" for replay purposes even though no
    * probe can find them).
    */
  def append(docs: DataFrame, textCol: String, idCol: String): Unit = {
    checkOrStampMeta()
    // persist the COMPACT (id, sig) form only — it feeds the band-row
    // branch AND the membership branch, so the signature pipeline runs
    // once, while the bands× exploded rows stream straight into the write
    // (caching the exploded form held batch × bands wide rows in memory —
    // an OOM at backfill sizes; the band explode is a cheap re-derivation,
    // same reasoning as Dedup.minhashNearDups' persist note)
    val sigs = Dedup.minhashSignatures(docs, textCol, idCol, numHashes, shingleSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val bandRows = sigs
        .withColumn("bk", explode(Dedup.lshBuckets(col("sig"), bands, rowsPerBand)))
        .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"),
          col("id"), lit(null).cast("array<bigint>").as("sig"))
      val idSigs = docs.select(col(idCol).as("id")).dropDuplicates("id")
        .join(sigs, Seq("id"), "left")
      writeData(bandRows.unionByName(membershipRows(idSigs)))
    } finally { sigs.unpersist(); () }
  }

  /** The persisted banded rows (empty DataFrame if nothing appended yet);
    * membership rows are filtered out. Slim layout: `sig` is NULL here —
    * signatures live on the membership rows (`band` = -1). Snapshots the
    * file listing at call time.
    */
  def index: DataFrame = rawData.where(col("band") >= 0)

  /** Ids of every doc ever appended (via the membership rows). */
  def indexedIds: DataFrame =
    rawData.where(col("band") === -1).select(col("bucket").as("id")).distinct()

  /** Of `batchIds` (a single `id` column), the ones already indexed — the
    * replay/membership check. Joins on the table's bucket columns
    * (band = -1, bucket = id), so the history side streams without an
    * exchange; output is at most one row per matching (membership row ×
    * batch id).
    */
  private[graft] def replayMembers(batchIds: DataFrame): DataFrame = {
    val member = rawData.where(col("band") === -1).select(col("bucket"))
    val keyed = batchIds.select(col("id").as("bucket"), col("id"))
    member.join(keyed, Seq("bucket")).select("id")
  }

  /** Near-dup candidates of `docs` against everything indexed so far:
    * (id, dup_of, est_jaccard) where `dup_of` is an already-indexed doc
    * sharing an LSH bucket, est_jaccard >= threshold, id != dup_of.
    * Probe the batch BEFORE appending it to get strictly new-vs-old pairs;
    * probe after appending to also catch in-batch duplicates.
    */
  def probe(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5): DataFrame = {
    checkMeta() // read path: reject a stale-layout index, stamp nothing
    val b = banded(docs, textCol, idCol).persist(StorageLevel.MEMORY_AND_DISK)
    // ONE rawData resolution (catalog refresh + file listing): both row
    // kinds read the same history snapshot
    val raw = rawData
    // history on the LEFT = the streamed side, joined on `bucket` ALONE —
    // the table's single bucketing column, so only the batch side ever
    // exchanges. Bucket values are band-seeded xxhash64 (`lsh_buckets`),
    // so dropping band from the key admits only 2^-64 cross-band
    // collisions, and those still face the est_jaccard verification.
    // The history band rows are SLIM (no sig): candidates carry the
    // BATCH sig through pair dedup, then fetch the history signature from
    // the membership rows — bucket = dup_of, so that join streams the
    // history side bucket-aligned too, and the band join's scan reads no
    // sig bytes at all.
    val ix = raw.where(col("band") >= 0).select(col("bucket"), col("id").as("dup_of"))
    val cand = ix.join(b.select(col("bucket"), col("id"), col("sig")), Seq("bucket"))
      .filter(col("id") =!= col("dup_of"))
      .dropDuplicates("id", "dup_of")
      .select(col("dup_of").as("bucket"), col("id"), col("sig"))
    val memberSigs = raw.where(col("band") === -1 && col("sig").isNotNull)
      .select(col("bucket"), col("sig").as("sig_ix"))
    memberSigs.join(cand, Seq("bucket"))
      .withColumn("est_jaccard", Dedup.estJaccard(col("sig"), col("sig_ix"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id"), col("bucket").as("dup_of"), col("est_jaccard"))
      // a doc id append()-ed twice has two membership rows — usually with
      // the same sig (pure replay), but append() is replay-unaware, so a
      // re-append with DIFFERENT text stores a second, different sig. The
      // pair contract stays one row per (id, dup_of), DETERMINISTICALLY:
      // max similarity across the stored sigs (an arbitrary-row dedup
      // would make the reported score depend on plan order)
      .groupBy("id", "dup_of")
      .agg(max("est_jaccard").as("est_jaccard"))
  }

  /** The history probe over a batch's banded rows: ids that are either
    * near-dups of an indexed doc OR already indexed themselves (replay).
    * Exposed for plan assertions — these are the exact joins
    * `dedupAndAppend` runs against history.
    */
  private[graft] def historyDupIds(bandedBatch: DataFrame, threshold: Double): DataFrame = {
    val probeB = bandedBatch.select(col("bucket"), col("id"), col("sig"))
      .unionByName(bandedBatch.select(col("id")).dropDuplicates("id")
        .select(col("id").as("bucket"), col("id"),
          lit(null).cast("array<bigint>").as("sig")))
    // one logical bucket join answers BOTH row kinds: membership hits
    // (h_band = -1 × sig-null probe row) are replay dups outright; band
    // hits are CANDIDATES that still need the history signature —
    // pair-deduped (band-duplicate rows would multiply the verification
    // join ~bands×), then verified against the membership rows' stored
    // sigs via bucket = dup_of (streamed, bucket-aligned). Filter pushdown
    // splits `joined` into one copy per branch, so the executed plan scans
    // the table three times: band = -1 reading bucket (replay), band >= 0
    // reading bucket, id (candidates) and band = -1 reading bucket, sig
    // (verification) — each a sig-free or membership-only read
    // (`NearDupIndexSpec` "history probe" pins the count).
    // ONE rawData resolution: all three scans read the same snapshot
    val raw = rawData
    val hist = raw.select(col("band").as("h_band"), col("bucket"),
      col("id").as("dup_of"))
    val joined = hist.join(probeB, Seq("bucket"))
    val replay = joined
      .where(col("h_band") === -1 && col("sig").isNull)
      .select("id")
    val cand = joined
      .where(col("h_band") >= 0 && col("sig").isNotNull && col("id") =!= col("dup_of"))
      .select(col("dup_of").as("bucket"), col("id"), col("sig"))
      .dropDuplicates("bucket", "id")
    val memberSigs = raw.where(col("band") === -1 && col("sig").isNotNull)
      .select(col("bucket"), col("sig").as("sig_ix"))
    val nearDup = memberSigs.join(cand, Seq("bucket"))
      .where(Dedup.estJaccard(col("sig"), col("sig_ix"), numHashes) >= threshold)
      .select("id")
    replay.unionByName(nearDup)
  }

  /** Ingest convenience: returns the batch rows that survive dedup against
    * the index (id not already indexed — replay-idempotent; no near-dup
    * already indexed; in-batch groups keep the lowest id), then appends
    * ONLY the survivors — the canonical "dedup-as-you-ingest" loop of a
    * training-data pipeline. The batch is signatured exactly ONCE; the
    * history probe, the in-batch pass, and the appended rows all derive
    * from the same persisted banded form (the signature pipeline is the
    * dominant batch-side cost — never pay it twice). Every history
    * relation stays on the streamed/bucketed side of its join, so the
    * per-batch exchange volume is O(batch) no matter how old the index is.
    */
  def dedupAndAppend(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5): DataFrame = {
    checkOrStampMeta()
    val b = banded(docs, textCol, idCol).persist(StorageLevel.MEMORY_AND_DISK)
    // the history probe: membership rows and banded rows live in the
    // same bucketed table, so the near-dup check (history band rows vs the
    // batch's banded rows) and the replay/membership check (history band=-1
    // rows, bucket = id, vs the batch's ids keyed the same way) are written
    // as one bucket join; the executed plan still scans the table once per
    // check plus once for the verification sigs (see historyDupIds). The
    // probe side tags its two row kinds by sig nullness (member probes
    // carry no signature); the history side by its band column. Mixed-kind
    // bucket collisions (an xxhash64 bucket numerically equal to a doc id)
    // fall out in the WHERE.
    // `rawData` snapshots its file listing HERE (resolution time), so the
    // probe keeps answering against pre-append history even though the
    // append runs first.
    val dupOld = historyDupIds(b, threshold)
    // materialize the history survivors ONCE before the self-join: both
    // self-join sides (and the final anti-join) would otherwise re-run the
    // whole probe cascade — history scan included — per consumer.
    // localCheckpoint (not persist): a cached plan here can be aliased by
    // CacheManager's canonical-plan matching across successive ingest calls
    // over the same index path, silently serving a previous batch's
    // survivors; the checkpoint cuts lineage below the plan level and
    // cannot alias. This is the call's single checkpoint — everything
    // downstream is batch-sized arithmetic over these partitions.
    val freshB = b.join(dupOld, Seq("id"), "left_anti")
      .select(col("band"), col("bucket"), col("id"), col("sig"))
      .localCheckpoint(true)
    b.unpersist()
    // in-batch near-dups among the history survivors: bucket self-join of
    // the same banded rows, keep the lowest id per pair
    val xa = freshB.select(col("bucket"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val xb = freshB.select(col("bucket"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    val dupNew = xa.join(xb, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(Dedup.estJaccard(col("sig_a"), col("sig_b"), numHashes) >= threshold)
      .select(col("id_b").as("id")).distinct()
    // LAZY localCheckpoint: the write below is the action that materializes
    // it, so the survivor set (self-join + anti-join over freshB) is
    // computed exactly ONCE — the returned survivor frame then reads these
    // blocks instead of re-deriving the batch-sized self-join per consumer
    // (r14's probe bounded that duplicate at ≤0.3 s of the 1.6 s timed
    // rep; lazy = no job-for-a-job trade). Guide §2.4 remove-shuffles-
    // outright: the second derivation's exchanges are gone, not moved.
    val keptB = freshB.join(dupNew, Seq("id"), "left_anti")
      .select(col("band"), col("bucket"), col("id"), col("sig"))
      .localCheckpoint(eager = false)
    // Every signatured id has exactly ONE band-0 row (minhashSignatures
    // groups by id; lshBuckets emits bands 0 until bands for any sig), so
    // band 0 is the per-id view of keptB — no distinct, no shuffle
    val keptIds = keptB.where(col("band") === 0)
    // Stored form: slim band rows + membership rows carrying the one
    // stored signature copy
    writeData(stripSig(keptB)
      .unionByName(membershipRows(keptIds)))
    // keptB is materialized (by the write; release checks): freshB's
    // blocks are now dead — everything downstream reads keptB's checkpoint
    Blocks.release(freshB, keptB)
    docs.join(keptIds.select(col("id").as("__kept_id")),
      docs(idCol) === col("__kept_id"), "left_semi")
  }
}
