package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file:` file system of traced runs: the stock [[LocalFileSystem]]
  * with every namespace call of a traced op counted and timed. It only delegates, so a
  * traced run writes the same files as an untraced one. It extends
  * LocalFileSystem rather than wrapping it because Hadoop and Spark cast
  * `FileSystem.getLocal` results to that class.
  */
class CountingFileSystem extends LocalFileSystem {
  private val k = CountingFileSystem

  /** Counts only while an op runs traced ([[Timing.tracing]]), so the
    * untraced half of each op pair runs as a plain delegate and the
    * tracing overhead covers this instrument too.
    */
  private def counted[T](c: CountingFileSystem.Counter)(body: => T): T =
    if (!Timing.tracing) body
    else {
      val t0 = System.nanoTime()
      try body
      finally { c.calls.incrementAndGet(); c.nanos.addAndGet(System.nanoTime() - t0) }
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(k.create)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(k.create)(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(k.open)(super.open(f, bufferSize))

  override def rename(src: Path, dst: Path): Boolean =
    counted(k.rename)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(k.delete)(super.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    counted(k.list)(super.listStatus(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(k.list)(super.listLocatedStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    counted(k.status)(super.getFileStatus(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(k.mkdirs)(super.mkdirs(f, permission))
}

object CountingFileSystem {
  final class Counter(val name: String) {
    val calls = new AtomicLong
    val nanos = new AtomicLong
  }
  val create = new Counter("create")
  val open = new Counter("open")
  val rename = new Counter("rename")
  val delete = new Counter("delete")
  val list = new Counter("list")
  val status = new Counter("status")
  val mkdirs = new Counter("mkdirs")
  val all: Seq[Counter] = Seq(create, open, rename, delete, list, status, mkdirs)
  /** Namespace calls, whose time is `fs.meta_s`; create and open are the
    * data-path calls.
    */
  val meta: Seq[Counter] = Seq(rename, delete, list, status, mkdirs)
}
