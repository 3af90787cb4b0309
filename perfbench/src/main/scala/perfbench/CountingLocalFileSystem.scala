package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting the calls made to it. Hadoop keeps
  * no per-operation statistics for `file:` paths, so traced runs
  * install this class as `fs.file.impl`; every method delegates to
  * `LocalFileSystem` unchanged. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = {
    ops.incrementAndGet(List); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    ops.incrementAndGet(Status); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ops.incrementAndGet(Read); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(Write)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    ops.incrementAndGet(Write); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    ops.incrementAndGet(Write); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    ops.incrementAndGet(Write); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  private val List = 0
  private val Status = 1
  private val Read = 2
  private val Write = 3
  private val ops = new AtomicLongArray(4)

  /** Calls so far: directory listings, status lookups (including
    * existence checks), opens for read, and mutations (create, rename,
    * delete, mkdirs). */
  def snapshot(): Map[String, Long] = Map(
    "list" -> ops.get(List), "status" -> ops.get(Status),
    "read" -> ops.get(Read), "write" -> ops.get(Write))
}
