package perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file:` filesystem with metadata operation counters. Hadoop's
  * statistics for the local filesystem count bytes but not operations, so a
  * traced run installs this class as `fs.file.impl`; it only counts, then
  * delegates. Program code that uses java.nio directly is not seen. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { readOps.increment(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { readOps.increment(); super.listStatus(f) }
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] = { readOps.increment(); super.listStatus(f, filter) }
  override def getFileStatus(f: Path): FileStatus = { readOps.increment(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writeOps.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writeOps.increment(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writeOps.increment(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writeOps.increment(); super.mkdirs(f, permission) }
}

object CountingLocalFileSystem {
  val readOps = new LongAdder
  val writeOps = new LongAdder
}
