package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** The crash-safe write protocols of every persisted table — the MergeTree
  * part semantics the library rests on, written once:
  *  - [[swap]]/[[recover]]: a rewrite staged beside the live tree and
  *    swapped in (`OPTIMIZE … FINAL`, doc:953-995; mutations; z-order
  *    rewrites; vector-index rebuilds) — readers see the old tree or the
  *    new one, never a mix;
  *  - [[appendOnce]]/[[recoverLedger]]: inserted-block dedup for retried
  *    inserts, keyed by a token that is stable across retries (a
  *    checkpointed foreachBatch id);
  *  - [[readText]]/[[writeText]]: the small sidecar files (schema marker,
  *    drift baseline, layout stamp).
  *
  * Single-writer discipline per table, like a MergeTree part set:
  * concurrent writers are not coordinated. A crash at any step leaves a
  * state the next open's [[recover]]/[[recoverLedger]] heals.
  */
object Durable {

  /** Rewrite the tree at `live`: `write` fills `tmp`, `live` moves to
    * `old`, `tmp` moves to `live`, then each `keep` artifact (a path
    * relative to the tree root that the rewrite does not produce — an
    * exactly-once ledger, detached parts, a schema marker) moves from
    * `old` back into `live`, and `old` is dropped only once every one of
    * them moved. Starts from a recovered state, so a stale `old` left by
    * an earlier crash gives up its artifacts before it is replaced. A
    * failed swap rolls back and says whether the rollback held; a live
    * tree missing at the start (a first build) is simply moved in.
    */
  def swap(fs: FileSystem, live: Path, tmp: Path, old: Path, keep: Seq[String],
      op: String)(write: => Unit): Unit = {
    recover(fs, live, tmp, old, keep)
    write
    val staged = fs.exists(live)
    if (staged && !fs.rename(live, old)) sys.error(s"$op: failed to stage $live -> $old")
    if (!fs.rename(tmp, live)) {
      // a rollback that itself fails must be LOUD: the tree is then absent
      // at its path and only recoverable from `old` (recover does that)
      val restored = !staged || fs.rename(old, live)
      sys.error(s"$op: failed to swap $tmp -> $live" +
        (if (restored) " (rolled back)"
         else s"; ROLLBACK ALSO FAILED — preserved at $old, restored on next open"))
    }
    rescue(fs, old, live, keep).foreach(a =>
      sys.error(s"$op: failed to move the swap artifact $a from $old back " +
        s"into $live; superseded copy preserved at $old (recovered on next open)"))
    fs.delete(old, true): Unit
  }

  /** Open-time recovery for [[swap]]: a missing `live` is restored from
    * `old` (the crash fell between the two renames); a stale `old` beside
    * a live tree gives its `keep` artifacts back, then is dropped; a stale
    * `tmp` (a half-written rewrite) is dropped. A FAILED rescue keeps
    * `old`, where the artifact still lives.
    */
  def recover(fs: FileSystem, live: Path, tmp: Path, old: Path, keep: Seq[String]): Unit = {
    if (!fs.exists(live)) {
      if (fs.exists(old) && !fs.rename(old, live))
        sys.error(s"recover: failed to restore $old -> $live")
    } else if (fs.exists(old)) {
      rescue(fs, old, live, keep).foreach(a =>
        sys.error(s"recover: failed to rescue the swap artifact $a from $old"))
      fs.delete(old, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true): Unit
  }

  /** Move each `keep` artifact present in `from` into `to`, skipping ones
    * `to` already has (an earlier, interrupted rescue may have moved
    * some). Returns the first artifact whose move FAILED.
    */
  private def rescue(fs: FileSystem, from: Path, to: Path, keep: Seq[String]): Option[String] =
    keep.find { a =>
      val src = new Path(from, a)
      val dst = new Path(to, a)
      fs.exists(src) && !fs.exists(dst) && !fs.rename(src, dst)
    }

  /** Exactly-once append of `rows`, partitioned by `partitionCol`, into
    * the table at `root`: the rows are written to `_staging/<token>`,
    * their files MOVED in under `batch-<token>-` names (renames, no data
    * copy), and only then is the `_ledger/batch-<token>` marker created —
    * the commit point. A replay of a committed token returns false and
    * touches nothing; a crash before the marker leaves batch-tagged
    * orphans that [[recoverLedger]] removes on the next open. Underscore
    * paths are invisible to Spark's file listing, so staging and ledger
    * never pollute reads. `token` must not contain '-' (recovery reads it
    * back from file names up to the first '-').
    */
  def appendOnce(fs: FileSystem, root: Path, partitionCol: String, token: String,
      rows: DataFrame): Boolean = {
    val marker = ledgerMarker(root, token)
    if (fs.exists(marker)) return false
    purge(fs, root, token) // a previous attempt of this token may have died mid-move
    val staging = new Path(root, s"_staging/$token")
    rows.write.mode("overwrite").partitionBy(partitionCol).parquet(staging.toString)
    for (part <- partitionDirs(fs, staging)) {
      val target = new Path(root, part.getPath.getName)
      fs.mkdirs(target)
      for (f <- fs.listStatus(part.getPath)
           if !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) {
        if (!fs.rename(f.getPath, new Path(target, s"batch-$token-${f.getPath.getName}")))
          sys.error(s"exactly-once append: failed to move ${f.getPath} into $target")
      }
    }
    fs.delete(staging, true)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    true
  }

  /** Open-time recovery for [[appendOnce]]: every token seen in staging or
    * in batch-tagged data files whose ledger marker is missing was in
    * flight at crash time — its traces are removed, so the retry
    * re-ingests from scratch.
    */
  def recoverLedger(fs: FileSystem, root: Path): Unit = {
    if (!fs.exists(root)) return
    val staged = {
      val st = new Path(root, "_staging")
      if (fs.exists(st)) fs.listStatus(st).toSeq.map(_.getPath.getName) else Nil
    }
    val moved = for {
      part <- partitionDirs(fs, root)
      f <- fs.listStatus(part.getPath).toSeq if f.getPath.getName.startsWith("batch-")
    } yield f.getPath.getName.drop("batch-".length).takeWhile(_ != '-')
    for (tok <- (staged ++ moved).distinct if !fs.exists(ledgerMarker(root, tok)))
      purge(fs, root, tok)
  }

  private def ledgerMarker(root: Path, token: String) = new Path(root, s"_ledger/batch-$token")

  private def partitionDirs(fs: FileSystem, root: Path): Seq[FileStatus] =
    fs.listStatus(root).toSeq.filter(d => d.isDirectory && d.getPath.getName.contains("="))

  /** Remove every trace of an uncommitted token: its staging dir and any
    * batch-tagged files already moved into partition dirs.
    */
  private def purge(fs: FileSystem, root: Path, token: String): Unit = {
    fs.delete(new Path(root, s"_staging/$token"), true)
    if (fs.exists(root))
      for (part <- partitionDirs(fs, root); f <- fs.listStatus(part.getPath)
           if f.getPath.getName.startsWith(s"batch-$token-"))
        fs.delete(f.getPath, false)
  }

  /** The text of the sidecar at `p`, if there is one (one `exists`, one
    * `open`).
    */
  def readText(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  /** Publish `text` at `p` whole: written to `<p>.tmp`, then renamed onto
    * `p`, so a reader never sees a torn sidecar. A store whose rename
    * does not replace an existing file gets the old one deleted first.
    */
  def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, p) && !(fs.delete(p, false) && fs.rename(tmp, p)))
      sys.error(s"failed to publish $p")
  }
}
