package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting the calls graft and Spark make on it: the
  * requests an object store would bill (LIST, HEAD, GET, PUT, and the copy
  * and delete a rename costs). Registered for `file:` by the harness's
  * `core-site.xml`; the counts are process-wide. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    lists.incrementAndGet(); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = { statuses.incrementAndGet(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val lists = new AtomicLong
  val statuses = new AtomicLong
  val opens = new AtomicLong
  /** create, rename, delete and mkdirs */
  val writes = new AtomicLong

  def snapshot: FsCalls = FsCalls(lists.get, statuses.get, opens.get, writes.get)
}

/** Filesystem calls by kind. */
final case class FsCalls(list: Long, status: Long, open: Long, write: Long) {
  def -(o: FsCalls): FsCalls = FsCalls(list - o.list, status - o.status, open - o.open, write - o.write)
  def +(o: FsCalls): FsCalls = FsCalls(list + o.list, status + o.status, open + o.open, write + o.write)
  def total: Long = list + status + open + write
}

object FsCalls {
  val zero: FsCalls = FsCalls(0, 0, 0, 0)
}
