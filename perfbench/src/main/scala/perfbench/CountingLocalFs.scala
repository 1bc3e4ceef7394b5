package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with operation counts. Hadoop's `file` scheme
  * statistics count bytes but not operations, so the session maps
  * `fs.file.impl` to this subclass; behaviour is unchanged. Counts are
  * kept for all threads and for the calling thread (the driver-side
  * metadata work of a layer call).
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { read(); super.listStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }
}

object CountingLocalFs {
  val readOps = new AtomicLong()
  val writeOps = new AtomicLong()
  private val threadOps = ThreadLocal.withInitial[Array[Long]](() => Array(0L))

  private def read(): Unit = { readOps.incrementAndGet(); threadOps.get()(0) += 1 }
  private def write(): Unit = { writeOps.incrementAndGet(); threadOps.get()(0) += 1 }

  /** Operations issued by the calling thread so far. */
  def threadCount: Long = threadOps.get()(0)
}
