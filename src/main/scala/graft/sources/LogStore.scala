package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The one publish protocol behind every metadata log: write the bytes to
  * a hidden temp file beside the destination, then move it into place, so
  * a reader never observes a partial file.
  *
  *  - [[putIfAbsent]] publishes a log entry that must not already exist
  *    (manifests, coordinator snapshots, transaction stamps, consumer
  *    offsets). It checks the destination, then renames with
  *    `FileSystem.rename`. On HDFS-class stores that rename refuses an
  *    existing destination atomically; on the local FS the check and the
  *    rename are two syscalls, exactly what `FileContext.rename` does
  *    there, so same-process writers still serialize on the caller's lock.
  *    `FileContext.rename` is avoided on purpose: without the native Hadoop
  *    library it forks `readlink` per path it resolves.
  *  - [[replace]] publishes a file that is rewritten in place (checkpoint,
  *    stream ledger, catalog sidecars) with an overwriting
  *    `FileContext.rename`.
  *
  * Either way the temp file is gone when the call returns, failed or not.
  * Temp names start with `.tmp-` (the prefix debris sweeps look for) and
  * never end in `.json`, so log listings cannot mistake one for an entry.
  */
private[graft] object LogStore {

  private def tempFor(dst: Path): Path =
    new Path(dst.getParent,
      s".tmp-${dst.getName}-${java.util.UUID.randomUUID().toString.take(8)}")

  private def writeTemp(fs: FileSystem, dst: Path, bytes: Array[Byte]): Path = {
    fs.mkdirs(dst.getParent)
    val tmp = tempFor(dst)
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    tmp
  }

  /** Publish `bytes` at `dst` unless it exists; a present destination is a
    * [[VersionedTable.ConcurrentWriteException]] carrying `conflict`. Any
    * other I/O failure propagates as itself.
    */
  def putIfAbsent(fs: FileSystem, dst: Path, bytes: Array[Byte],
                  conflict: => String): Unit = {
    def lost() = new VersionedTable.ConcurrentWriteException(conflict, null)
    val tmp = writeTemp(fs, dst, bytes)
    try {
      if (fs.exists(dst)) throw lost()
      if (!fs.rename(tmp, dst)) {
        if (fs.exists(dst)) throw lost()
        throw new java.io.IOException(s"rename $tmp -> $dst failed")
      }
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  /** Publish `bytes` at `dst`, replacing what is there. */
  def replace(fs: FileSystem, conf: Configuration, dst: Path,
              bytes: Array[Byte]): Unit = {
    val tmp = writeTemp(fs, dst, bytes)
    try FileContext.getFileContext(fs.getUri, conf)
      .rename(tmp, dst, Options.Rename.OVERWRITE)
    catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }
}
