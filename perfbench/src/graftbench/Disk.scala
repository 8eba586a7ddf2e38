package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** File sizes under table roots, for space amplification. */
object Disk {
  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** Every byte under the roots: data, checksums, logs, old versions. */
  def bytes(roots: String*): Long = roots.flatMap(files).map(Files.size).sum

  /** Data-file bytes of overwrite-mode output directories. */
  def liveBytes(roots: String*): Long =
    roots.flatMap(files).filter(isData).map(Files.size).sum

  /** Data-file bytes of the latest snapshot of each versioned table. */
  def liveTableBytes(spark: SparkSession, roots: String*): Long = roots.map { r =>
    val vt = graft.sources.VersionedTable(spark, r)
    vt.latestVersion.toSeq.flatMap(v => vt.manifestOf(v).dataDirs).map { d =>
      val dir = if (d.startsWith("/") || d.contains(":")) d else s"$r/$d"
      liveBytes(dir.stripPrefix("file:"))
    }.sum
  }.sum
}
