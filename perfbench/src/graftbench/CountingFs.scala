package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with a count of metadata and open/create calls
  * (the local file system's own `Statistics` count no read or write ops).
  * Installed as `fs.file.impl`; executors share the driver JVM in local
  * mode, so the count covers task-side calls too.
  */
class CountingFs extends LocalFileSystem {
  private def tick(): Unit = CountingFs.ops.incrementAndGet()

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { tick(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = { tick(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { tick(); super.getFileStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { tick(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { tick(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { tick(); super.mkdirs(f, permission) }
}

object CountingFs {
  val ops = new AtomicLong()
}
