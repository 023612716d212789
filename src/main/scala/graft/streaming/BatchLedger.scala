package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Committed-batch ledger for `batch_id=`-partitioned streaming sinks —
  * the ONE place the foreachBatch exactly-once protocol lives
  * ([[Streams.processNearDedupBatch]], [[Streams.processClusterBatch]],
  * [[Streams.processScdBatch]] all speak it).
  *
  * The problem with "partition dir has a data file ⇒ committed":
  * Hadoop job commit is not atomic. A crash mid job-commit (or, with the
  * v2 committer, after any single task commit) leaves a PARTIAL set of
  * data files in place — a presence probe would then promote the partial
  * write to truth and a replayed batch would skip recomputation,
  * permanently basing downstream state on a corrupted table.
  *
  * The fix is atomic publication: [[publish]] writes the batch's rows to
  * a hidden staging directory (`.staging_batch_id=<id>` — invisible to
  * parquet partition discovery), so the non-atomic multi-file job commit
  * happens entirely off to the side; the `batch_id=<id>` partition then
  * appears via ONE filesystem rename, which is atomic on POSIX and HDFS.
  * Either the partition exists complete, or it does not exist — data
  * files under `batch_id=` can no longer be partial. Replays of a
  * crashed attempt find either the published partition (skip) or staging
  * debris (silently overwritten by the re-publish).
  *
  * The data-file check in [[isCommitted]]/[[committedIds]] stays as
  * defense in depth: partitions created by hand (or by a pre-ledger
  * append) with no data files are debris, reported uncommitted, and
  * repaired by the next [[publish]].
  *
  * Scale: one rename per micro-batch, no table rewrite; ledger state IS
  * the directory listing (no side file to corrupt), bounded by batch
  * count — compact old partitions per retention policy when batch count
  * grows unbounded.
  */
object BatchLedger {

  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A file Spark reads as data: not hidden, not a `_` marker. */
  private[graft] def isDataFile(f: org.apache.hadoop.fs.FileStatus): Boolean =
    f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")

  private[graft] def hasDataFile(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists(isDataFile)

  /** True iff `batch_id=<batchId>` under `dir` is a published partition
    * (exists and holds at least one data file).
    */
  def isCommitted(spark: SparkSession, dir: String, batchId: Long): Boolean = {
    val (fs, _) = fsFor(spark, dir)
    hasDataFile(fs, new Path(dir, s"batch_id=$batchId"))
  }

  /** All published batch ids under `dir` (data-bearing `batch_id=`
    * partitions only — debris dirs are not commits).
    */
  def committedIds(spark: SparkSession, dir: String): Set[Long] = {
    val (fs, p) = fsFor(spark, dir)
    if (!fs.exists(p)) return Set.empty
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .filter(s => hasDataFile(fs, s.getPath))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong).toSet
  }

  /** True iff the sink has at least one published batch — "does the
    * store exist yet" for readers that fold over all partitions.
    */
  def hasCommits(spark: SparkSession, dir: String): Boolean =
    committedIds(spark, dir).nonEmpty

  /** Atomically publish `df` as partition `batch_id=<batchId>` of `dir`.
    * Returns false (writing nothing) if the partition is already
    * committed — the replay no-op; true once the rename lands. `df` must
    * NOT carry a `batch_id` column: the partition value lives in the
    * directory name (exactly like `partitionBy`) and comes back through
    * partition discovery on root reads.
    *
    * Crash anatomy: before the rename only hidden staging exists
    * (uncommitted, overwritten on replay); the rename is atomic; after
    * it the partition is complete. Pre-ledger append debris at the
    * destination (dir without data files) is deleted and re-published.
    */
  def publish(df: DataFrame, dir: String, batchId: Long): Boolean = {
    require(!df.columns.contains("batch_id"),
      "publish: drop the batch_id column — the partition directory name carries it")
    val spark = df.sparkSession
    val (fs, root) = fsFor(spark, dir)
    val dest = new Path(root, s"batch_id=$batchId")
    if (hasDataFile(fs, dest)) return false
    val staging = new Path(root, s".staging_batch_id=$batchId")
    df.write.mode("overwrite").parquet(staging.toString)
    // a dest dir without data files can only be debris (atomic renames
    // never leave one): clear it so the rename moves staging INTO place
    // rather than under it
    if (fs.exists(dest)) fs.delete(dest, true)
    if (!fs.rename(staging, dest))
      throw new java.io.IOException(
        s"BatchLedger: rename $staging -> $dest failed; " +
          "concurrent writer on a single-writer sink?")
    // rename "success" can still corrupt silently: if a concurrent
    // writer recreated dest between the delete and the rename, POSIX/
    // local-FS rename moves staging INSIDE the existing dest (returning
    // true) and the partition holds no top-level data file. Convert
    // that contract violation into the same loud error as a failed
    // rename — one extra listing per micro-batch.
    if (!hasDataFile(fs, dest))
      throw new java.io.IOException(
        s"BatchLedger: $dest holds no data file after publish — a " +
          "concurrent writer raced the rename on a single-writer sink")
    true
  }
}
