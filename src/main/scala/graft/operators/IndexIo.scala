package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import graft.Tables

/** Filesystem plumbing shared by the persisted index classes
  * (RangeIvfIndex, PqIndex, GraphIndex). Everything goes through the
  * Hadoop FileSystem API resolved from the path itself, so the same
  * code is correct on local disk, HDFS, and S3A — a java.nio check
  * would silently report "no tombstones" on any non-local store and
  * resurrect deleted vectors (the round-9 advice finding).
  */
private[operators] object IndexIo {

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  def exists(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(s, p).exists(p)
  }

  /** `df` minus any ids tombstoned under `root/tombstones` (broadcast
    * anti-join on the uniform cand_id key; absent dir = identity). */
  def minusTombstones(s: SparkSession, root: String, df: DataFrame): DataFrame =
    if (!exists(s, s"$root/tombstones")) df
    else df.join(broadcast(Tables.readParquet(s, s"$root/tombstones")),
      Seq("cand_id"), "left_anti")

  /** Swap a fully-written staged directory into the live slot without
    * a window where the bytes are gone: rename live → live_old, rename
    * staged → live, delete live_old. At no instant are the rows
    * deleted before a complete replacement exists on disk — a crash
    * between the two renames leaves the live NAME briefly unbound,
    * but both the old and the staged directory are intact and a
    * single rename recovers either state (unlike delete-then-rename,
    * where a crash after the delete has destroyed the only copy).
    * Any stale live_old from such a crash is cleared first. */
  def swapIn(s: SparkSession, livePath: String, stagedPath: String): Unit = {
    val live = new Path(livePath)
    val staged = new Path(stagedPath)
    val old = new Path(livePath + "_old")
    val f = fs(s, live)
    if (f.exists(old)) f.delete(old, true)
    if (f.exists(live)) f.rename(live, old)
    f.rename(staged, live)
    f.delete(old, true)
    ()
  }

  def delete(s: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fs(s, p).delete(p, true)
    ()
  }

  /** Dynamic partition overwrite, staged through a sibling directory:
    * `df` (whose plan typically READS `liveDir`) is fully written to
    * `stageDir` first, then the overwrite job re-reads the staged
    * bytes — so no job ever reads a directory it is rewriting (a
    * persist() would not guarantee that: an evicted block recomputes
    * from the half-rewritten source). Only the partitions present in
    * `df` are replaced; everything else is untouched. */
  def stagedDynamicOverwrite(s: SparkSession, df: DataFrame,
                             partCol: String, liveDir: String,
                             stageDir: String): Unit = {
    df.write.mode("overwrite").partitionBy(partCol).parquet(stageDir)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val old = s.conf.getOption(key)
    s.conf.set(key, "dynamic")
    try Tables.readParquet(s, stageDir)
      .write.mode("overwrite").partitionBy(partCol).parquet(liveDir)
    finally old match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
    delete(s, stageDir)
  }
}
