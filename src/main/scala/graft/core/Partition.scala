package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}

/** A path plus the partition-column values accumulated while descending a
  * partitioned directory tree.
  *
  * Semantics match the reference dataclass
  * (/root/reference/src/fsql/partition.py:10-21): `expandBy` extends the url
  * and the column map, and raises on a duplicate column name.
  */
final case class Partition(url: String, columns: Map[String, String],
    meta: Option[FileMeta] = None) {

  /** Extend this partition one path level down.
    *
    * @param urlSuffix path fragment to append (dir name + "/", or a file name)
    * @param keyVal    parsed (column, value) for this level; None when the
    *                  level carries no column (plain file under a terminal dir)
    */
  def expandBy(urlSuffix: String, keyVal: Option[(String, String)]): Partition =
    keyVal match {
      case None => copy(url = url + urlSuffix)
      case Some((k, v)) =>
        if (columns.contains(k))
          throw new IllegalArgumentException(
            s"duplicate partition key '$k': existing=${columns(k)}, new=$v (url=$url$urlSuffix)")
        Partition(url + urlSuffix, columns + (k -> v), meta)
    }

  def withMeta(m: Option[FileMeta]): Partition = copy(meta = m)

  /** The Hadoop status discovery's listing already paid for, so consumers
    * open or scan this file without a stat call; None for a generated
    * (never-listed) name. */
  def fileStatus: Option[FileStatus] =
    meta.map(m => new FileStatus(m.size, false, 1, 0, m.modificationTime, new Path(url)))
}

/** File metadata captured during discovery's terminal-directory listing, so
  * downstream consumers (the Catalyst FileIndex) never re-stat files one RPC
  * at a time — at millions of files that serial driver loop is the scan-path
  * bottleneck. None for generated (never-listed) file names. */
final case class FileMeta(size: Long, modificationTime: Long)

object Partition {
  def root(url: String): Partition = {
    val normalized = if (url.endsWith("/")) url else url + "/"
    Partition(normalized, Map.empty)
  }
}
