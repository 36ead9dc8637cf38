package graft.sources

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.Dfs

/** Snapshot versioning (SURVEY.md S14/O4): the reference rotates
  * `current/` + timestamped `archive/` copies (`app/app.py:365-386`) and
  * derives versions from `_delta_log` filenames
  * (`azuredatalake.py:266-274`). Here: monotonically versioned parquet
  * directories `v=NNNNNN` under one root — append-only, time-travelable,
  * concurrency-safe enough for a single writer (a real deployment puts a
  * transaction log in front; the read path is identical).
  *
  * Every listing, move and delete goes through the Hadoop `FileSystem`
  * resolved from `root` ([[Dfs]]), so `file:`, `hdfs:` and `s3a:` roots
  * work like bare local paths. A version is read with the Spark schema
  * in one data file's parquet footer ([[Dfs.readParquet]]), so building
  * a read frame runs no schema-inference job.
  */
object SnapshotStore {

  /** The FileSystem owning `root`, configured from the active session
    * when there is one (the read-only entry points take no session).
    */
  private def fsOf(root: String): FileSystem =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(spark) => Dfs.fs(spark, root)
      case None => new Path(root).getFileSystem(new Configuration())
    }

  private def versionsOf(root: String): Seq[Long] =
    Dfs
      .listDirs(fsOf(root), new Path(root))
      .map(_.getName)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong)
      .sorted

  /** O4: current max version (-1 when empty). */
  def maxVersion(root: String): Long = versionsOf(root).lastOption.getOrElse(-1L)

  /** S14: write the next version (the "archive + replace current"
    * rotation collapses to an append of version N+1).
    *
    * Publication is ATOMIC: data is written to a `_tmp_v=N` staging dir
    * (invisible to [[versionsOf]]) and renamed into place — readers can
    * never observe a partially-written version, and a crashed writer
    * leaves only staging junk that the next write overwrites.
    */
  def write(df: DataFrame, root: String): Long = {
    val next = maxVersion(root) + 1
    val staging = s"${root}/_tmp_v=$next"
    df.write.mode("overwrite").parquet(staging) // overwrite clears a crashed writer's leftovers
    Dfs.move(Dfs.fs(df.sparkSession, root), new Path(staging), new Path(s"$root/v=$next"))
    next
  }

  /** Retention: delete all but the newest `keep` versions (always
    * keeping at least the latest). Returns the versions actually and
    * FULLY removed — a version whose directory could not be deleted
    * completely (open handle, permissions) is excluded, still listed by
    * [[maxVersion]]/readers, and retried by the next vacuum, rather than
    * being reported gone while a partial directory lingers.
    */
  def vacuum(root: String, keep: Int): Seq[Long] = {
    val fs = fsOf(root)
    versionsOf(root)
      .dropRight(math.max(keep, 1))
      .filter { v =>
        val dir = new Path(s"$root/v=$v")
        Try(fs.delete(dir, true)) // a partial failure returns false or throws
        !fs.exists(dir)
      }
  }

  /** W1/O1: latest snapshot (the reference's sort-by-mtime-take-newest,
    * `app/app.py:176-178`, made deterministic by explicit versions).
    */
  def readLatest(spark: SparkSession, root: String): Option[DataFrame] =
    versionsOf(root).lastOption.map(readVersion(spark, root, _))

  /** Time travel: read an explicit version. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    Dfs.readParquet(spark, Seq(s"$root/v=$version"))

  /** The previous version relative to latest — the diff input pair. */
  def readPrevious(spark: SparkSession, root: String): Option[DataFrame] = {
    val vs = versionsOf(root)
    if (vs.length < 2) None else Some(readVersion(spark, root, vs(vs.length - 2)))
  }
}
